"""Columnar span emission: one Arrow batch of pages in → Arrow batches of
output rows out, for ``DataFrame.mapInArrow``.

It computes what ``extract.extract_page`` computes, over columns of the
whole batch, with no Python object per block:

  segment  per page: decode; then one ``ocs_segment_batch`` call
           (``_segment.c`` through ``native.Segmenter.segment_batch``)
           segments every page, counts the binary-payload test, and
           writes one row of block columns per kept block (page, tag,
           depth, n_tags, visible and link chars, ".!?" count, a
           lone-surrogate flag) plus its normalized text (the text half of
           ``normalize_block``) into one batch codepoint buffer.  A block
           with "&" is rebuilt in Python from C's chunk records
           (``segment.amp_block``, the per-chunk unescape of
           ``_segment_fused``), and every page C leaves to Python, or
           every page when the library does not load, is segmented by
           ``segment.segment()``: each builds the same columns, so
           everything below runs one path.
  vote     the F4 filter as a mask, then ``vote.vote_features`` on the
           feature columns; the stopword hits lower the batch text once
           (``vote.stop_hits_joined``).  If the vote raises, the pages
           are voted one by one with ``vote_block``, so a failing page is
           one error row.
  emit     per output batch, over the gathered codepoints of every
           accepted block: the numeric half of ``normalize_block``
           (``_block_numbers``: ``char_micros`` over the batch, block and
           page confs as exact integer means of micro-units, so the
           order of no sum matters), and the spans as flat Arrow columns
           whose nesting is list offsets per row, the
           record-plus-repetition layout of Dremel:

  blocks   offsets of the accepted blocks; texts sliced from the batch
           UTF-8 buffer (``_utf8`` / ``_slices``), the page text their
           "\\n"-join (``binary_join``)
  words    non-space runs of the concatenated block texts (codepoint masks)
  glyphs   non-space codepoints; ``p2 = quantize6((1-p1)*0.5)`` over the
           whole array; the alternative char looked up once per unique
           codepoint through ``extract._alt_char``
  ids      ``pc.binary_join_element_wise`` + ``utf8_lpad`` for ``%04d``

``Block``, ``vote_block``, ``normalize_block`` and ``extract.extract_page``
/ ``extract_batch`` remain the scalar specification and the
single-process oracle; tests/test_columnar_equiv.py proves the two paths
equal row for row (and the batched block confs equal ``normalize_block``'s),
test_vote_equiv.py the column vote equal ``vote_block``'s, and
test_batch_columns.py the batch pass's columns equal ``segment()``'s
blocks plus ``normalize_block``'s text half.  The oracle runs no compiled
code, so those comparisons check ``_segment.c`` against Python.  A page
with a lone surrogate in an accepted block is one error row, with
``extract_page``'s error.
Like the rest of the kernel this module imports no pyspark: the caller
passes the Arrow output schema.
"""

from __future__ import annotations

import codecs
import threading
from itertools import groupby
from operator import itemgetter
from typing import Iterable, Iterator, Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ocrd_calamari_spark.config import (
    ACCEPT_THRESHOLD,
    ENSEMBLE,
    MIN_VISIBLE_CHARS,
    ExtractConfig,
)
from ocrd_calamari_spark.kernel import native
from ocrd_calamari_spark.kernel.decode import decode_html
from ocrd_calamari_spark.kernel.extract import (
    _BINARY_PAYLOAD,
    _CTRL_FRACTION_LIMIT,
    _alt_char,
    _looks_binary,
)
from ocrd_calamari_spark.kernel.fastpath import (
    char_micros,
    codepoints,
    mean6,
    normalize_text,
    quantize6,
)
from ocrd_calamari_spark.kernel.segment import (
    _TAG_CLASS,
    Block,
    amp_block,
    segment,
)
from ocrd_calamari_spark.kernel.vote import (
    profile_index,
    stop_hits_joined,
    tag_base,
    vote_block,
    vote_features,
)

# An output batch is cut once the spans (blocks + words + glyphs) emitted
# since the last cut reach this many, so one input batch of big glyph pages
# stays far below Arrow's int32 list and string offsets (a glyph costs ~30
# bytes of ids and alternatives).  A single page is never split.
MAX_BATCH_SPANS = 1 << 21

LINEAGE_COLS = ("_src_file", "_src_row", "_part_id")
# accumulator names of the two entries of page_counts()
_PATH_COUNTERS = ("segment_native", "segment_fallback")
# Pages the batch pass segmented in this process: [by the compiled
# segmenter, by the Python fallback]; read through page_counts().
# Process-wide on purpose: the accumulators report per worker process, as
# deltas over a task.
_PAGE_COUNTS = [0, 0]
_COUNTS_LOCK = threading.Lock()
# the block columns of one input batch: the ``ocs_segment_batch`` row
# columns, then each text's span [lo, hi) in the batch codepoint buffer and
# the index of the "\n"-terminated piece of that buffer that holds it
_COLS = native.ROW_COLS + ("lo", "hi", "piece")


def page_counts() -> tuple[int, int]:
    """Pages the batch pass segmented in this process so far: (native,
    fallback).

    A function, not the list, is what callers hold: cloudpickle ships a
    closure's module-level values by copy, but a module function by
    reference, so a map function on a worker reads the live counts."""
    with _COUNTS_LOCK:
        return _PAGE_COUNTS[0], _PAGE_COUNTS[1]


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _decode(html) -> tuple:
    """(decoded page or None, raw_charset, error) of one payload."""
    try:
        if html is None:
            raise ValueError("null html payload")
        decoded, raw = decode_html(bytes(html))
    except Exception as exc:  # error row, never a task failure
        return None, False, _error(exc)
    return decoded, raw, None


def _values(column: pa.Array) -> list:
    """The Python values of a string or binary column (None for null),
    without a pyarrow Scalar per value as ``to_pylist`` makes."""
    return column.to_numpy(zero_copy_only=False).tolist()


def _as_str(cps: np.ndarray) -> str:
    return codecs.decode(memoryview(cps), native._CODEC, "surrogatepass")


def _has_surrogate(text: str) -> bool:
    try:
        text.encode("utf-8")
    except UnicodeEncodeError:
        return True
    return False


class _Texts:
    """Block texts built in Python (blocks with "&", pages left to
    Python), appended to the batch codepoint buffer as more
    "\\n"-terminated pieces."""

    def __init__(self, base_len: int, base_pieces: int):
        self.texts: list = []
        self.base_pieces = base_pieces
        self.at = base_len

    def add(self, raw_text: str) -> tuple:
        """The text half of ``normalize_block`` of ``raw_text``: (lo, hi,
        piece, ".!?" count, flags) of the normalized text."""
        text = normalize_text(raw_text)
        lo = self.at
        self.at += len(text) + 1
        self.texts.append(text)
        piece = self.base_pieces + len(self.texts) - 1
        punct = text.count(".") + text.count("!") + text.count("?")
        flags = native.F_SURR if _has_surrogate(text) else 0
        return lo, lo + len(text), piece, punct, flags

    def pieces(self) -> int:
        return self.base_pieces + len(self.texts)

    def codepoints(self) -> np.ndarray:
        if not self.texts:
            return np.empty(0, np.uint32)
        data = ("\n".join(self.texts) + "\n").encode(native._CODEC,
                                                     "surrogatepass")
        return np.frombuffer(data, np.uint32)


def _rebuild_amp(cols: dict, amp: np.ndarray, pages: list, texts: _Texts,
                 errors: list) -> None:
    """Fill in the rows of the blocks with "&" from their chunk records
    (``segment.amp_block``, as ``segment()`` rebuilds them).  A block that
    unescapes to no visible char keeps vis 0, so the F4 mask drops it as
    ``segment()`` does."""
    for r, recs in groupby(amp.tolist(), key=itemgetter(0)):
        i = int(cols["page"][r])
        if errors[i] is not None:
            continue
        try:
            raw, vis, link = amp_block(pages[i], (rec[1:] for rec in recs))
            (cols["lo"][r], cols["hi"][r], cols["piece"][r],
             cols["punct"][r], surr) = texts.add(raw)
        except Exception as exc:  # error row, never a task failure
            errors[i] = _error(exc)
            continue
        cols["vis"][r], cols["link"][r] = vis, link
        cols["flags"][r] |= surr


def _python_rows(pages: list, todo: list, tag_id: dict, texts: _Texts,
                 errors: list) -> dict:
    """The block columns of the pages in ``todo``, segmented in Python
    (``segment()``)."""
    rows = []
    for i in todo:
        try:
            blocks = segment(pages[i])
        except Exception as exc:  # error row, never a task failure
            errors[i] = _error(exc)
            continue
        for b in blocks:
            lo, hi, piece, punct, flags = texts.add(b.raw_text)
            rows.append((i, tag_id[b.tag], b.depth, b.n_tags, b.visible_len(),
                         b.n_link_chars, punct, flags, lo, hi, piece))
    out = np.array(rows, np.int64).reshape(len(rows), len(_COLS))
    return dict(zip(_COLS, out.T))


def _segment_batch(pages: list, errors: list):
    """Block columns of every page of a batch: (columns, codepoint buffer,
    its number of "\\n"-terminated pieces, tag names).  ``pages`` holds
    the decoded pages, None where ``errors`` has the page's error already;
    a page whose segmenting fails gets its error there, and so does a
    binary payload.  Adds the pages segmented by each path to
    ``page_counts()``."""
    n = len(pages)
    text = np.empty(0, np.uint32)
    status = np.full(n, native.P_PYTHON, np.int8)
    cols = {k: np.empty(0, np.int64) for k in _COLS}
    amp = np.empty((0, native.AMP_REC), np.int32)
    seg = native.load()
    tags = seg.tags if seg is not None else tuple(_TAG_CLASS)
    if seg is not None:
        try:
            res = seg.segment_batch([p or "" for p in pages],
                                    _CTRL_FRACTION_LIMIT)
        except MemoryError:
            res = None
        if res is not None:
            rows, toff, text, amp, status = res
            cols = {k: rows[:, j].astype(np.int64)
                    for j, k in enumerate(native.ROW_COLS)}
            cols["lo"], cols["hi"] = toff[:-1], toff[1:] - 1
            cols["piece"] = np.arange(len(rows), dtype=np.int64)
    texts = _Texts(len(text), len(cols["page"]))
    if len(amp):
        _rebuild_amp(cols, amp, pages, texts, errors)
    native_pages = 0
    todo = []
    for i in range(n):
        if errors[i] is not None:
            continue
        if status[i] == native.P_OK:
            native_pages += 1
        elif status[i] == native.P_BINARY or _looks_binary(pages[i]):
            errors[i] = _error(ValueError(_BINARY_PAYLOAD))
        else:
            todo.append(i)
    with _COUNTS_LOCK:
        _PAGE_COUNTS[0] += native_pages
        _PAGE_COUNTS[1] += len(todo)
    if todo:
        more = _python_rows(pages, todo, {t: k for k, t in enumerate(tags)},
                            texts, errors)
        cols = {k: np.concatenate([cols[k], more[k]]) for k in _COLS}
        order = np.argsort(cols["page"], kind="stable")
        cols = {k: v[order] for k, v in cols.items()}
    if texts.texts:
        text = np.concatenate([text, texts.codepoints()])
    return cols, text, texts.pieces(), tags


def _blocks_at(cols: dict, cps: np.ndarray, tags, rows) -> list:
    """``Block`` objects of some rows, for ``vote_block``: the normalized
    text stands in for the raw text, which gives the same vote (the scorers
    read the visible count, the ".!?" count and the " "-split tokens, and
    only spaces differ)."""
    out = []
    for r in rows:
        text = _as_str(cps[cols["lo"][r]:cols["hi"][r]])
        out.append(Block(pos=0, tag=tags[cols["tag"][r]],
                         depth=int(cols["depth"][r]), chunks=[text],
                         n_link_chars=int(cols["link"][r]),
                         n_tags=int(cols["n_tags"][r]), _raw=text,
                         _vis=int(cols["vis"][r])))
    return out


def _vote(cols: dict, cps: np.ndarray, n_pieces: int, tags, langs: list,
          voter: str, errors: list) -> tuple[np.ndarray, np.ndarray]:
    """The F4 filter and the vote of every candidate block of an input
    batch in one ``vote_features`` call: (rows of the accepted blocks,
    their fused votes).  If that call raises, the pages are voted one by
    one with ``vote_block``, and a page that raises gets its error in
    ``errors``."""
    ok_page = np.array([e is None for e in errors], dtype=bool)
    page = cols["page"]
    cand = np.flatnonzero((cols["vis"] >= max(MIN_VISIBLE_CHARS, 1))
                          & ok_page[page])
    try:
        f = {"vis": cols["vis"][cand], "n_tags": cols["n_tags"][cand],
             "n_link": cols["link"][cand], "depth": cols["depth"][cand],
             "base": tag_base(tags)[cols["tag"][cand]],
             "n_punct": cols["punct"][cand]}
        f = {k: v.astype(np.float64) for k, v in f.items()}
        if "readability" in ENSEMBLE:
            f["hits"] = np.zeros(len(cand))
            if len(cand):
                # the whole buffer lowered once; a piece no row holds
                # (the placeholder of a block with "&") is empty
                prof = np.zeros(n_pieces, np.int64)
                prof[cols["piece"]] = profile_index(langs)[page]
                hits = stop_hits_joined(_as_str(cps), prof)
                f["hits"] = hits[cols["piece"][cand]].astype(np.float64)
        accept, fused = vote_features(f, ENSEMBLE, voter, ACCEPT_THRESHOLD)
    except Exception:
        accept = np.zeros(len(cand), dtype=bool)
        fused = np.zeros(len(cand))
        at = 0
        for p, group in groupby(page[cand].tolist()):
            k = len(list(group))
            try:
                votes = [vote_block(b, langs[p], ENSEMBLE, voter,
                                    ACCEPT_THRESHOLD)
                         for b in _blocks_at(cols, cps, tags, cand[at:at + k])]
            except Exception as exc:
                errors[p] = _error(exc)
                votes = [(False, 0.0)] * k
            accept[at:at + k] = [a for a, _ in votes]
            fused[at:at + k] = [v for _, v in votes]
            at += k
    return cand[accept], fused[accept]


def _surrogate_errors(cols: dict, cps: np.ndarray, acc: np.ndarray,
                      errors: list) -> None:
    """A lone surrogate (utf-7 "+2AA-" decodes to one) in an accepted
    block fails its page alone, with the error ``extract_page`` raises on
    the first such block (``normalize_block``'s ``codepoints``)."""
    flagged = acc[(cols["flags"][acc] & native.F_SURR) != 0]
    for p in np.unique(cols["page"][flagged]).tolist():
        if errors[p] is not None:
            continue
        for r in acc[cols["page"][acc] == p].tolist():
            try:
                codepoints(_as_str(cps[cols["lo"][r]:cols["hi"][r]]))
            except Exception as exc:
                errors[p] = _error(exc)
                break


def _block_numbers(cps: np.ndarray, blk_off: np.ndarray,
                   blk_fused) -> tuple[np.ndarray, np.ndarray]:
    """The numeric half of ``normalize_block`` for every block of a batch.

    ``cps``: the codepoints of the block texts back to back; block b is
    ``cps[blk_off[b]:blk_off[b + 1]]`` with fused vote ``blk_fused[b]``.
    Returns p1 per codepoint (int32) and each block's conf (int64), both
    in micro-units.

    p1 is ``char_micros`` over ``np.repeat`` of each block's ``0.70 +
    0.30 * fused``.  A block's conf is ``mean6`` of its p1 sum, one
    ``np.add.reduceat`` over the block offsets: integers, so the result is
    ``normalize_block``'s whatever order the sum runs in.  Every block
    holds at least one codepoint (the F4 filter keeps blocks with visible
    chars), so no offset repeats, where reduceat would not give 0.  The
    int64 sums stay below 2^51: an output batch holds fewer than 2^31
    codepoints (``_utf8``'s bound) of at most 999,000 each.
    """
    lens = np.diff(blk_off)
    base = 0.70 + 0.30 * np.asarray(blk_fused, dtype=np.float64)
    k = char_micros(cps, np.repeat(base, lens))
    sums = np.add.reduceat(k, blk_off[:-1], dtype=np.int64)
    return k, mean6(sums, lens)


def _ids(prefix, sep: str, nums: np.ndarray) -> pa.Array:
    """``"%s<sep>%04d" % (prefix, num)`` elementwise (``%04d`` widens past
    9999 exactly like ``utf8_lpad``, which never truncates)."""
    digits = pc.utf8_lpad(pa.array(nums, pa.int64()).cast(pa.string()), 4, "0")
    return pc.binary_join_element_wise(prefix, digits, sep)


def _struct(arrays: list, list_type: pa.ListType) -> pa.StructArray:
    return pa.StructArray.from_arrays(arrays, fields=list(list_type.value_type))


def _lists(per_row: np.ndarray, values: pa.Array, list_type, null) -> pa.Array:
    """One list per row from per-row counts (error rows masked null)."""
    offsets = np.zeros(len(per_row) + 1, dtype=np.int32)
    np.cumsum(per_row, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values, type=list_type,
                                    mask=null)


def _utf8(cps: np.ndarray) -> tuple[pa.Buffer, np.ndarray]:
    """The UTF-8 bytes of ``cps`` plus the byte offset of each codepoint
    (and of the end), for string arrays that slice it without copying: a
    codepoint starts at every byte that is not a continuation byte."""
    data = _as_str(cps).encode("utf-8")
    if len(data) >= 1 << 31:
        raise OverflowError("span text of one output batch exceeds 2 GiB")
    byte_off = np.empty(len(cps) + 1, dtype=np.int32)
    byte_off[:-1] = np.flatnonzero(
        (np.frombuffer(data, np.uint8) & 0xC0) != 0x80)
    byte_off[-1] = len(data)
    return pa.py_buffer(data), byte_off


def _slices(data: pa.Buffer, offsets: np.ndarray) -> pa.StringArray:
    """String i = data[offsets[i]:offsets[i+1]]."""
    return pa.StringArray.from_buffers(len(offsets) - 1,
                                       pa.py_buffer(offsets), data)


def _gather(cps: np.ndarray, lo: np.ndarray,
            lens: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """The spans ``cps[lo[b]:lo[b] + lens[b]]`` back to back, and their
    offsets in the result."""
    off = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    idx = np.repeat(lo - off[:-1], lens)
    idx += np.arange(off[-1])
    return cps[idx], off


def _alts(cps: np.ndarray, chars: pa.Array, p1: np.ndarray, cutoff: float,
          list_type: pa.ListType) -> pa.ListArray:
    """Ranked alternatives per glyph: the char itself with ``p1``, then its
    confusion/case alternative with ``p2 = quantize6((1-p1)*0.5)`` where
    one exists and ``p2 >= cutoff`` (``extract_page``'s per-glyph rule)."""
    p2 = quantize6((1.0 - p1) * 0.5)
    uniq, inv = np.unique(cps, return_inverse=True)
    alt_u = [_alt_char(chr(c)) for c in uniq.tolist()]
    two = np.array([a is not None for a in alt_u], dtype=bool)[inv] & (p2 >= cutoff)
    # the primary at off[g], the second (if any) right after it
    off = np.zeros(len(cps) + 1, dtype=np.int32)
    np.cumsum(1 + two.astype(np.int32), out=off[1:])
    second = off[:-1][two] + 1
    order = np.empty(off[-1], dtype=np.int64)
    order[off[:-1]] = np.arange(len(cps))
    order[second] = len(cps) + np.arange(len(second))
    text = pa.concat_arrays([
        chars,
        pa.array([a or "" for a in alt_u], pa.string()).take(inv[two]),
    ]).take(order)
    conf = np.empty(off[-1], dtype=np.float64)
    conf[off[:-1]] = p1
    conf[second] = p2[two]
    index = np.ones(off[-1], dtype=np.int32)
    index[second] = 2
    return pa.ListArray.from_arrays(
        pa.array(off),
        _struct([text, pa.array(conf), pa.array(index)], list_type),
        type=list_type,
    )


def _record_batch(rows: dict, blk_row: np.ndarray, blk_lo: np.ndarray,
                  blk_len: np.ndarray, blk_fused: np.ndarray,
                  batch_cps: np.ndarray, level: str, cutoff: float,
                  schema: pa.Schema, url: pa.Array,
                  lineage: list) -> pa.RecordBatch:
    """One output batch: ``rows`` holds per row its error, n_blocks,
    overwrote and raw_charset; block b (in row order) belongs to row
    ``blk_row[b]`` and its text is ``batch_cps[blk_lo[b]:][:blk_len[b]]``."""
    n_rows = len(rows["error"])
    failed = np.array([e is not None for e in rows["error"]], dtype=bool)
    null = pa.array(failed)
    n_blk = np.array([k or 0 for k in rows["n_blocks"]], dtype=np.int64)
    # flat codepoints of all block texts, back to back (no separator)
    cps, blk_off = _gather(batch_cps, blk_lo, blk_len)
    p1_k, blk_conf = _block_numbers(cps, blk_off, blk_fused)
    row_first = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(n_blk, out=row_first[1:])
    # a row's conf: mean6 of its block confs, as a difference of their
    # running sum (a row may have no block: 0, or null on error)
    conf_sum = np.zeros(len(blk_conf) + 1, np.int64)
    np.cumsum(blk_conf, out=conf_sum[1:])
    page_conf = mean6(conf_sum[row_first[1:]] - conf_sum[row_first[:-1]],
                      np.maximum(n_blk, 1))
    # a block's doc offset: the chars and "\n" separators of the blocks
    # before it in its row
    blk_first = row_first[blk_row]
    blk_no = np.arange(len(blk_len)) - blk_first
    blk_start = (blk_off[:-1] - blk_off[blk_first] + blk_no).astype(np.int32)
    blk_id = _ids("blk", "", blk_no)
    data, byte_off = _utf8(cps)
    blk_text = _slices(data, byte_off[blk_off])
    t_blocks = schema.field("blocks").type
    t_words = schema.field("words").type
    t_glyphs = schema.field("glyphs").type
    blocks = _struct(
        [blk_id, pa.array(blk_start),
         pa.array(blk_start + blk_len.astype(np.int32)), blk_text,
         pa.array(blk_conf / 1e6)],
        t_blocks,
    )
    n_word = np.zeros(n_rows, dtype=np.int64)
    n_glyph = np.zeros(n_rows, dtype=np.int64)
    words = pa.array([], t_words.value_type)
    glyphs = pa.array([], t_glyphs.value_type)

    if level != "block" and len(blk_len):
        # block text is single-space separated with no edge spaces, so a
        # word is a maximal non-space run inside one block
        solid = cps != 32
        first = np.zeros(len(cps), dtype=bool)
        first[blk_off[:-1]] = True
        last = np.zeros(len(cps), dtype=bool)
        last[blk_off[1:] - 1] = True
        ws = np.flatnonzero(solid & (first | np.r_[True, ~solid[:-1]]))
        we = np.flatnonzero(solid & (last | np.r_[~solid[1:], True])) + 1
        w_blk = np.searchsorted(blk_off, ws, side="right") - 1
        w_no = np.arange(len(ws)) - np.searchsorted(ws, blk_off[:-1])[w_blk]
        w_at = blk_start[w_blk] - blk_off[w_blk]  # cps index → doc offset
        # words and the gaps between them tile cps[ws[0]:we[-1]]; keep
        # the words (even slots)
        bounds = np.empty(2 * len(ws), dtype=np.int64)
        bounds[0::2], bounds[1::2] = ws, we
        word_text = _slices(data, byte_off[bounds]).take(
            np.arange(0, len(bounds) - 1, 2))
        blk_id_w = blk_id.take(w_blk)
        word_id = _ids(blk_id_w, "_word", w_no)
        words = _struct(
            [blk_id_w, word_id, pa.array((ws + w_at).astype(np.int32)),
             pa.array((we + w_at).astype(np.int32)), word_text],
            t_words,
        )
        n_word = np.bincount(blk_row[w_blk], minlength=n_rows)

        if level == "glyph":
            gp = np.flatnonzero(solid)
            g_word = np.searchsorted(ws, gp, side="right") - 1
            g_blk = w_blk[g_word]
            g_start = (gp + w_at[g_word]).astype(np.int32)
            alts = _alts(cps[gp], _slices(data, byte_off).take(gp),
                         p1_k[gp] / 1e6, cutoff,
                         t_glyphs.value_type.field("alts").type)
            glyphs = _struct(
                [_ids(word_id.take(g_word), "_glyph", gp - ws[g_word]),
                 blk_id.take(g_blk), pa.array(g_start), pa.array(g_start + 1),
                 alts],
                t_glyphs,
            )
            n_glyph = np.bincount(blk_row[g_blk], minlength=n_rows)

    columns = {
        "url": url,
        "text": pc.binary_join(_lists(n_blk, blk_text, pa.list_(pa.string()),
                                      null), "\n"),
        "conf": pa.array(page_conf / 1e6, mask=failed),
        "n_blocks": pa.array(rows["n_blocks"], pa.int32()),
        "blocks": _lists(n_blk, blocks, t_blocks, null),
        "words": _lists(n_word, words, t_words, null),
        "glyphs": _lists(n_glyph, glyphs, t_glyphs, null),
        "overwrote": pa.array(rows["overwrote"], pa.bool_()),
        "raw_charset": pa.array(rows["raw_charset"], pa.bool_()),
        "error": pa.array(rows["error"], pa.string()),
    }
    columns.update(zip(LINEAGE_COLS, lineage))
    arrays = []
    for f in schema:
        a = columns[f.name]
        arrays.append(a if a.type == f.type else a.cast(f.type))
    return pa.RecordBatch.from_arrays(arrays, schema=schema)


def extract_arrow(batch: pa.RecordBatch, cfg: ExtractConfig,
                  schema: pa.Schema) -> Iterator[pa.RecordBatch]:
    """One Arrow batch of pages → output batches typed by ``schema``.

    Columns required: url, html, text, lang (schema.KERNEL_INPUT_COLS).
    The lineage columns pass through unchanged when present and are null
    otherwise.  Rows keep their input order; a new output batch starts
    whenever ``MAX_BATCH_SPANS`` spans have been emitted.
    """
    names = batch.schema.names
    n = batch.num_rows
    if n == 0:
        return
    overwrote = [bool(t) for t in _values(batch.column("text"))]
    langs = _values(batch.column("lang"))
    pages, raw, errors = map(list, zip(*map(_decode,
                                            _values(batch.column("html")))))
    cols, cps, n_pieces, tags = _segment_batch(pages, errors)
    pages = None  # the columns and cps hold what is still needed
    acc, fused = _vote(cols, cps, n_pieces, tags, langs, cfg.voter, errors)
    _surrogate_errors(cols, cps, acc, errors)
    ok_page = np.array([e is None for e in errors], dtype=bool)
    keep = ok_page[cols["page"][acc]]
    acc, fused = acc[keep], fused[keep]
    blk_page = cols["page"][acc]
    blk_lo = cols["lo"][acc]
    blk_len = cols["hi"][acc] - blk_lo
    n_blocks = np.bincount(blk_page, minlength=n)
    # spans per page: blocks, words (one more than the spaces of a block)
    # and glyphs (its non-space chars, ``vis``)
    vis = cols["vis"][acc]
    spans = n_blocks.copy()
    if cfg.textequiv_level != "block":
        spans += np.bincount(blk_page, blk_len - vis + 1, n).astype(np.int64)
        if cfg.textequiv_level == "glyph":
            spans += np.bincount(blk_page, vis, n).astype(np.int64)
    n_blocks = [k if ok else None
                for k, ok in zip(n_blocks.tolist(), ok_page.tolist())]
    lo = 0
    pending = 0
    for i, s in enumerate(spans.tolist()):
        pending += s
        if pending >= MAX_BATCH_SPANS or i == n - 1:
            rows = i + 1 - lo
            b0, b1 = np.searchsorted(blk_page, [lo, i + 1]).tolist()
            lineage = [
                batch.column(c).slice(lo, rows) if c in names
                else pa.nulls(rows, schema.field(c).type)
                for c in LINEAGE_COLS
            ]
            yield _record_batch(
                {"error": errors[lo:i + 1], "n_blocks": n_blocks[lo:i + 1],
                 "overwrote": overwrote[lo:i + 1],
                 "raw_charset": raw[lo:i + 1]},
                blk_page[b0:b1] - lo, blk_lo[b0:b1], blk_len[b0:b1],
                fused[b0:b1], cps, cfg.textequiv_level,
                cfg.glyph_conf_cutoff, schema,
                batch.column("url").slice(lo, rows), lineage)
            lo = i + 1
            pending = 0


def arrow_map_fn(cfg: ExtractConfig, schema: pa.Schema,
                 accs: Optional[dict] = None):
    """Build the ``mapInArrow`` iterator function.

    ``schema``: the Arrow form of ``schema.FLAT_OUTPUT_SCHEMA``.  ``accs``:
    optional accumulators (docs, failed, overwrote, raw_charset), added
    per output batch from its Arrow null and true counts, and
    segment_native / segment_fallback when the dict holds them: the pages
    each segmenter ran on (``page_counts()`` deltas).  Config and
    schema are captured once per task, before the batch loop.
    """

    def _fn(batches: Iterable[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        seen = page_counts()
        for batch in batches:
            for out in extract_arrow(batch, cfg, schema):
                if accs is not None:
                    accs["docs"].add(out.num_rows)
                    accs["failed"].add(out.num_rows
                                       - out.column("error").null_count)
                    for name in ("overwrote", "raw_charset"):
                        accs[name].add(pc.sum(out.column(name)).as_py() or 0)
                    now = page_counts()
                    for k, name in enumerate(_PATH_COUNTERS):
                        if name in accs:
                            accs[name].add(now[k] - seen[k])
                    seen = now
                yield out

    return _fn
