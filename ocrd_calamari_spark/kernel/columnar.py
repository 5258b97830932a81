"""Columnar span emission: one Arrow batch of pages in → Arrow batches of
output rows out, for ``DataFrame.mapInArrow``.

It computes what ``extract.extract_page`` computes, in four stages.  Per
page: decode → segment, with the binary-payload test counted in the
compiled segmenter's pass (``segment(..., reject_binary=True)``), down to
the candidate blocks.  Once per input batch: the vote of every candidate
block in one ``vote.vote_blocks`` call (numpy scores, ≡ ``vote_block``
per block; if it raises, the pages are voted one by one with
``vote_block``, so a failing page is one error row).  Per page: the
accepted blocks through the text half of ``normalize_block`` (strip and
collapse spaces).  Once per output batch, over the concatenated
codepoints of every kept block: the numeric half of ``normalize_block``
(the ``char_p1`` gather and quantize, block confs, then page confs,
``_block_numbers``) and the span emission.  The scalar path builds one
dict per span (and a list of alternative dicts per glyph) that pandas
then converts to Arrow.  Here each level is a set of flat numpy/Arrow
columns over the whole batch — starts, ends, ids, texts, confidences —
and the nesting is Arrow list offsets per row, the flat
record-plus-repetition layout of Dremel:

  blocks   Python lists per block (a few dozen per page)
  words    non-space runs of the concatenated block texts (codepoint masks)
  glyphs   non-space codepoints; ``p2 = quantize6((1-p1)*0.5)`` over the
           whole array; the alternative char looked up once per unique
           codepoint through ``extract._alt_char``
  ids      ``pc.binary_join_element_wise`` + ``utf8_lpad`` for ``%04d``

``extract.extract_page`` / ``extract_batch`` remain the scalar
specification and the single-process oracle, with ``vote_block`` and
``normalize_block`` inside them; tests/test_columnar_equiv.py proves the
two paths equal row for row (and the batched block confs equal
``normalize_block``'s, test_vote_equiv.py the batched vote equal
``vote_block``'s), the way test_fastpath_equiv.py pairs
``textproc`` with ``fastpath``.  A page the batch stage would fail on (a
lone surrogate in a kept block) is caught per page, so it stays one
error row.  Like the rest of the kernel this module imports no pyspark:
the caller passes the Arrow output schema.
"""

from __future__ import annotations

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
from ocrd_calamari_spark.kernel.decode import decode_html
from ocrd_calamari_spark.kernel.extract import _alt_char
from ocrd_calamari_spark.kernel.fastpath import (
    _MULTISPACE_RE,
    _jitter_lut_05,
    codepoints,
    quantize6,
)
from ocrd_calamari_spark.kernel.segment import page_counts, segment
from ocrd_calamari_spark.kernel.vote import vote_block, vote_blocks

# An output batch is cut once the spans (blocks + words + glyphs) emitted
# since the last cut reach this many, so one input batch of big glyph pages
# stays far below Arrow's int32 list and string offsets (a glyph costs ~30
# bytes of ids and alternatives).  A single page is never split.
MAX_BATCH_SPANS = 1 << 21

LINEAGE_COLS = ("_src_file", "_src_row", "_part_id")
# accumulator names of the two entries of segment.page_counts()
_PATH_COUNTERS = ("segment_native", "segment_fallback")


class _Pending:
    """Rows and spans of the pages extracted since the last cut."""

    def __init__(self):
        self.text: list = []
        self.n_blocks: list = []
        self.overwrote: list = []
        self.raw_charset: list = []
        self.error: list = []
        # one entry per block of the ok rows, in output order
        self.blk_text: list = []
        self.blk_fused: list = []
        self.blk_start: list = []
        self.blk_no: list = []
        self.spans = 0

    def add_page(self, blocks, votes, prior_text, raw, error,
                 cfg: ExtractConfig) -> None:
        """Add one page from its candidate blocks and their votes (the
        fused vote of each accepted block, None for a rejected one), or an
        error row when ``error`` is set.  The numbers (p1 and the confs)
        follow once per batch in ``_record_batch``.  The blocks are
        committed only once the whole page succeeded, so an exception part
        way through leaves an error row and no partial spans."""
        if error is None:
            try:
                texts, fused_confs = [], []
                for blk, fused in zip(blocks, votes):
                    if fused is None:
                        continue
                    # the text half of normalize_block
                    text = _MULTISPACE_RE.sub(" ", blk.raw_text.strip(" "))
                    if text:
                        texts.append(text)
                        fused_confs.append(fused)
                page = "\n".join(texts)
                try:
                    page.encode("utf-8")
                except UnicodeEncodeError:
                    # A lone surrogate (utf-7 "+2AA-" decodes to one) would
                    # fail the batch's single codepoints call; it fails this
                    # page alone, with the error extract_page raises on the
                    # first such block.
                    for text in texts:
                        codepoints(text)
                    raise
            except Exception as exc:  # error row, never a task failure
                error = _error(exc)
        if error is not None:
            self._row(None, None, prior_text, raw, error)
            return
        pos, starts = 0, []
        for text in texts:
            starts.append(pos)
            pos += len(text) + 1  # "\n" separator
        n = len(texts)
        self._row(page, n, prior_text, raw, None)
        self.blk_text += texts
        self.blk_fused += fused_confs
        self.blk_start += starts
        self.blk_no += range(n)
        self.spans += n
        if cfg.textequiv_level != "block":
            spaces = sum(t.count(" ") for t in texts)
            chars = pos - n  # every char of every block
            self.spans += spaces + n  # words
            if cfg.textequiv_level == "glyph":
                self.spans += chars - spaces

    def _row(self, text, n_blocks, prior_text, raw, error) -> None:
        self.text.append(text)
        self.n_blocks.append(n_blocks)
        self.overwrote.append(bool(prior_text))
        self.raw_charset.append(raw)
        self.error.append(error)


def _error(exc: Exception) -> str:
    return f"{type(exc).__name__}: {exc}"


def _candidates(html) -> tuple:
    """Decode and segment one page: (raw_charset, the blocks the vote sees,
    error), the blocks None on an error row."""
    raw = False
    try:
        if html is None:
            raise ValueError("null html payload")
        decoded, raw = decode_html(bytes(html))
        blocks = [b for b in segment(decoded, reject_binary=True)
                  if b.visible_len() >= MIN_VISIBLE_CHARS]  # the F4 filter
    except Exception as exc:  # error row, never a task failure
        return raw, None, _error(exc)
    return raw, blocks, None


def _vote_pages(pages: list, langs: list, voter: str, errors: list) -> list:
    """The vote of every candidate block of an input batch, in one
    ``vote_blocks`` call: per page, the fused vote of each block or None
    for a rejected one.  If that call raises, the pages are voted one by
    one with ``vote_block``, and a page that raises gets its error in
    ``errors``."""
    flat, flat_lang, sizes = [], [], []
    for blocks, lang in zip(pages, langs):
        k = len(blocks) if blocks else 0
        flat += blocks or ()
        flat_lang += [lang] * k
        sizes.append(k)
    try:
        accept, fused = vote_blocks(flat, flat_lang, ENSEMBLE, voter,
                                    ACCEPT_THRESHOLD)
    except Exception:
        out = []
        for i, (blocks, lang) in enumerate(zip(pages, langs)):
            try:
                votes = [vote_block(b, lang, ENSEMBLE, voter, ACCEPT_THRESHOLD)
                         for b in blocks or ()]
            except Exception as exc:
                errors[i] = _error(exc)
                votes = []
            out.append([f if a else None for a, f in votes])
        return out
    votes = [f if a else None for a, f in zip(accept, fused)]
    out, at = [], 0
    for k in sizes:
        out.append(votes[at:at + k])
        at += k
    return out


def _block_numbers(cps: np.ndarray, blk_off: np.ndarray,
                   blk_fused: list) -> tuple[np.ndarray, list]:
    """The numeric half of ``normalize_block`` for every block of a batch.

    ``cps``: the codepoints of the block texts back to back; block b is
    ``cps[blk_off[b]:blk_off[b + 1]]`` with fused vote ``blk_fused[b]``.
    Returns p1 per codepoint and each block's conf.

    p1 is ``char_p1``'s gather, clip and quantize, in place, over
    ``np.repeat`` of each block's Python float ``0.70 + 0.30 * fused``.
    Each block's conf is ``normalize_block``'s own expression over its
    slice: the sum is numpy's pairwise ``.sum()``, which no sequential
    form reproduces at a quantize6 half boundary.
    """
    p1 = _jitter_lut_05()[cps]
    base = np.array([0.70 + 0.30 * f for f in blk_fused], dtype=np.float64)
    np.subtract(np.repeat(base, np.diff(blk_off)), p1, out=p1)
    np.clip(p1, 0.5, 0.999, out=p1)
    np.multiply(p1, 1e6, out=p1)
    np.add(p1, 0.5, out=p1)
    np.floor(p1, out=p1)
    np.divide(p1, 1e6, out=p1)
    off = blk_off.tolist()
    conf = [float(quantize6(np.float64(p1[lo:hi].sum()) / (hi - lo)))
            for lo, hi in zip(off, off[1:])]
    return p1, conf


def _page_confs(blk_conf: list, n_blocks: list) -> list:
    """``extract_page``'s row conf: quantize6 of the mean block conf, summed
    block by block in page order (None for an error row)."""
    out, at = [], 0
    for n in n_blocks:
        if not n:
            out.append(None if n is None else 0.0)
            continue
        conf_sum = 0.0
        for c in blk_conf[at:at + n]:
            conf_sum += c
        at += n
        out.append(quantize6(conf_sum / n))
    return out


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


def _utf8(big: str, cps: np.ndarray) -> tuple[pa.Buffer, np.ndarray]:
    """``big`` as utf-8 bytes plus the byte offset of each codepoint (and
    of the end), for string arrays that slice it without copying."""
    nbytes = (1 + (cps >= 0x80).astype(np.int64) + (cps >= 0x800)
              + (cps >= 0x10000))
    byte_off = np.zeros(len(cps) + 1, dtype=np.int64)
    np.cumsum(nbytes, out=byte_off[1:])
    if byte_off[-1] >= 1 << 31:
        raise OverflowError("span text of one output batch exceeds 2 GiB")
    return pa.py_buffer(big.encode("utf-8")), byte_off.astype(np.int32)


def _slices(data: pa.Buffer, offsets: np.ndarray) -> pa.StringArray:
    """String i = data[offsets[i]:offsets[i+1]]."""
    return pa.StringArray.from_buffers(len(offsets) - 1,
                                       pa.py_buffer(offsets), data)


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


def _record_batch(p: _Pending, level: str, cutoff: float, schema: pa.Schema,
                  url: pa.Array, lineage: list) -> pa.RecordBatch:
    n_rows = len(p.text)
    null = pa.array([e is not None for e in p.error], pa.bool_())
    n_blk = np.array([k or 0 for k in p.n_blocks], dtype=np.int64)
    blk_row = np.repeat(np.arange(n_rows), n_blk)
    blk_len = np.fromiter(map(len, p.blk_text), np.int64, len(p.blk_text))
    blk_off = np.zeros(len(blk_len) + 1, dtype=np.int64)
    np.cumsum(blk_len, out=blk_off[1:])
    # flat codepoints of all block texts, back to back (no separator)
    big = "".join(p.blk_text)
    cps = codepoints(big)
    p1, blk_conf = _block_numbers(cps, blk_off, p.blk_fused)
    blk_start = np.array(p.blk_start, dtype=np.int32)
    blk_id = _ids("blk", "", np.array(p.blk_no, dtype=np.int64))
    t_blocks = schema.field("blocks").type
    t_words = schema.field("words").type
    t_glyphs = schema.field("glyphs").type
    blocks = _struct(
        [blk_id, pa.array(blk_start), pa.array(blk_start + blk_len.astype(np.int32)),
         pa.array(p.blk_text, pa.string()), pa.array(blk_conf, pa.float64())],
        t_blocks,
    )
    n_word = np.zeros(n_rows, dtype=np.int64)
    n_glyph = np.zeros(n_rows, dtype=np.int64)
    words = pa.array([], t_words.value_type)
    glyphs = pa.array([], t_glyphs.value_type)

    if level != "block" and p.blk_text:
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
        w_at = blk_start[w_blk] - blk_off[w_blk]  # big index → doc offset
        data, byte_off = _utf8(big, cps)
        # words and the gaps between them tile big[ws[0]:we[-1]]; keep
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
                         p1[gp], cutoff,
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
        "text": pa.array(p.text, pa.string()),
        "conf": pa.array(_page_confs(blk_conf, p.n_blocks), pa.float64()),
        "n_blocks": pa.array(p.n_blocks, pa.int32()),
        "blocks": _lists(n_blk, blocks, t_blocks, null),
        "words": _lists(n_word, words, t_words, null),
        "glyphs": _lists(n_glyph, glyphs, t_glyphs, null),
        "overwrote": pa.array(p.overwrote, pa.bool_()),
        "raw_charset": pa.array(p.raw_charset, pa.bool_()),
        "error": pa.array(p.error, pa.string()),
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
    prior = batch.column("text").to_pylist()
    lang = batch.column("lang").to_pylist()
    raw, pages, errors = map(list, zip(*map(_candidates,
                                            batch.column("html").to_pylist())))
    votes = _vote_pages(pages, lang, cfg.voter, errors)
    lo = 0
    pending = _Pending()
    for i in range(n):
        pending.add_page(pages[i], votes[i], prior[i], raw[i], errors[i], cfg)
        pages[i] = None  # its blocks are no longer needed
        if pending.spans >= MAX_BATCH_SPANS or i == n - 1:
            rows = i + 1 - lo
            lineage = [
                batch.column(c).slice(lo, rows) if c in names
                else pa.nulls(rows, schema.field(c).type)
                for c in LINEAGE_COLS
            ]
            yield _record_batch(pending, cfg.textequiv_level,
                                cfg.glyph_conf_cutoff, schema,
                                batch.column("url").slice(lo, rows), lineage)
            lo = i + 1
            pending = _Pending()


def arrow_map_fn(cfg: ExtractConfig, schema: pa.Schema,
                 accs: Optional[dict] = None):
    """Build the ``mapInArrow`` iterator function.

    ``schema``: the Arrow form of ``schema.FLAT_OUTPUT_SCHEMA``.  ``accs``:
    optional accumulators (docs, failed, overwrote, raw_charset), added
    per output batch from its Arrow null and true counts, and
    segment_native / segment_fallback when the dict holds them: the pages
    each segmenter ran on (``segment.page_counts()`` deltas).  Config and
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
