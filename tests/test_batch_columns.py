"""The batch pass (``ocs_segment_batch`` through ``columnar._segment_batch``)
≡ ``segment()`` plus the text half of ``normalize_block``, page for page:
every kept block's tag, depth, n_tags, visible and link chars, ".!?"
count, lone-surrogate flag and normalized text.  Checked on generated
pages, on hypothesis HTML (rawtext, misnesting, ``<div/>``, entities) and
on a seeded sample with entities and non-Latin text, which ``gen_pages``
never emits.  Also here: the UTF-8 offsets of the emitted text, the
forced-fallback run at glyph level, the native path of a batch without
"&" building no Python object per block, the oracle running no compiled
code, and the compile flags in the library's cache key."""

import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import example, given, settings, strategies as st

from ocrd_calamari_spark.config import LEVELS, ExtractConfig
from ocrd_calamari_spark.gen import gen_pages
from ocrd_calamari_spark.kernel import columnar, native, segment as seg_mod
from ocrd_calamari_spark.kernel.decode import decode_html
from ocrd_calamari_spark.kernel.extract import (
    _BINARY_PAYLOAD,
    _CTRL_FRACTION_LIMIT,
    _looks_binary,
)
from ocrd_calamari_spark.kernel.fastpath import _MULTISPACE_RE
from ocrd_calamari_spark.kernel.segment import segment

from test_columnar_equiv import (
    SCHEMA,
    Acc,
    _PARA,
    _SURROGATE_PAGE,
    arrow_input,
    assert_equivalent,
    oracle_rows,
    pages_frame,
    same,
)

SEG = native.load()
needs_native = pytest.mark.skipif(
    SEG is None, reason="compiled segmenter unavailable (no cc, or the build "
                        "or load failed)")


def spec_rows(page: str):
    """Per kept block of ``segment()``: the batch columns it implies, or the
    page's error (a binary payload's, as ``extract_page`` raises it)."""
    try:
        if _looks_binary(page):
            raise ValueError(_BINARY_PAYLOAD)
        blocks = segment(page)
    except Exception as exc:
        return columnar._error(exc)
    rows = []
    for b in blocks:
        text = _MULTISPACE_RE.sub(" ", b.raw_text.strip(" "))
        rows.append((b.tag, b.depth, b.n_tags, b.visible_len(),
                     b.n_link_chars, text.count(".") + text.count("!")
                     + text.count("?"), columnar._has_surrogate(text), text))
    return rows


def batch_rows(pages: list):
    """The same per page from one ``_segment_batch`` call over all pages
    (rows with no visible char are not blocks)."""
    errors = [None] * len(pages)
    cols, cps, n_pieces, tags = columnar._segment_batch(list(pages), errors)
    assert len(cps) == 0 or cps[-1] == 10
    assert int(np.count_nonzero(cps == 10)) == n_pieces
    out = [[] for _ in pages]
    for r in range(len(cols["page"])):
        if cols["vis"][r] == 0:
            continue
        text = columnar._as_str(cps[cols["lo"][r]:cols["hi"][r]])
        out[cols["page"][r]].append((
            tags[cols["tag"][r]], int(cols["depth"][r]),
            int(cols["n_tags"][r]), int(cols["vis"][r]),
            int(cols["link"][r]), int(cols["punct"][r]),
            bool(cols["flags"][r] & native.F_SURR), text))
    return [e if e is not None else rows for e, rows in zip(errors, out)]


def check_pages(pages: list, monkeypatch=None):
    want = [spec_rows(p) for p in pages]
    assert batch_rows(pages) == want
    if SEG is not None:
        # the C pass itself took every page that has no "&"
        status = SEG.segment_batch(pages, _CTRL_FRACTION_LIMIT)[4]
        assert all(s == native.P_OK for s in status.tolist())
    if monkeypatch is not None:  # the same columns without the library
        with monkeypatch.context() as m:
            m.setattr(native, "load", lambda: None)
            assert batch_rows(pages) == want


def corpus_pages(n, seed):
    return [decode_html(bytes(h))[0]
            for h, case in zip(*gen_pages(n, seed=seed)[["html", "case"]]
                               .values.T)
            if case != "poison"]


@pytest.mark.parametrize("seed", (1, 7))
def test_corpus_columns(seed, monkeypatch):
    check_pages(corpus_pages(400, seed), monkeypatch)


_SNIPPETS = [
    "<p>", "</p>", "<div>", "</div>", "<DIV>", "<div/>", "<p/>", "<a>",
    "</a>", '<a href="x">', "<li>", "</li>", "<td>", "<nav>", "</nav>",
    "<script>", "</script>", "<style>", "</style>", "</scrİpt>", "<br>",
    "<!-- c -->", "<custom-el>", "</custom-el>", "&amp;", "&nbsp;", "&#65;",
    "&#x3a3;", "&lt;p&gt;", "&", " ", "  ", "\n", "\t", "\x0b", "　",
    "word", "The", "and", "x.y!z?", "Σς", "ΟΔΟΣ", "中文字", "Привет",
    "\ud800", "\U0001d49c", "ſ", "ß",
]


@settings(max_examples=300, deadline=None)
@given(parts=st.lists(st.lists(st.sampled_from(_SNIPPETS), max_size=60),
                      min_size=1, max_size=6))
@example(parts=[["<div/>", "hello", "<p>", "a&amp;b", "</p>"]])
@example(parts=[["<p>", "<a>", "&nbsp;", "</a>", "&#32;", "</p>"]])
def test_hypothesis_columns(parts):
    pages = ["<html><body>" + "".join(p) + "</body></html>" for p in parts]
    want = [spec_rows(p) for p in pages]
    assert batch_rows(pages) == want


def entity_pages(n: int, seed: int) -> list:
    """Pages with named and numeric entities (in text, in attribute values
    and inside <a>), CJK, Cyrillic and Greek with a final sigma."""
    rng = random.Random(seed)
    words = (_PARA.split(" ") + ["中文的内容", "это", "текст", "ΟΔΟΣ",
                                 "ὁδός", "λόγος.", "Straße", "café"])
    ents = ["&nbsp;", "&amp;", "&lt;", "&gt;", "&quot;", "&#8212;",
            "&#x41;", "&#65;", "&eacute;", "&copy", "&bogus;", "&#0;",
            "&#xD800;", "& ", "&#10;", "&#9;"]
    pages = []
    for _ in range(n):
        blocks = []
        for _ in range(rng.randint(1, 6)):
            parts = []
            for _ in range(rng.randint(3, 40)):
                w = rng.choice(words)
                r = rng.random()
                if r < 0.2:
                    w += rng.choice(ents)
                elif r < 0.3:
                    href = f"?a=1&amp;b={rng.randint(0, 9)}"
                    w = f'<a href="{href}">{w}{rng.choice(ents)}</a>'
                parts.append(w)
            tag = rng.choice(["p", "li", "div", "h2", "td"])
            blocks.append(f"<{tag}>{' '.join(parts)}</{tag}>")
        pages.append(f"<html><body><article>{''.join(blocks)}"
                     "</article></body></html>")
    return pages


def test_entity_and_script_sample_columns(monkeypatch):
    pages = entity_pages(150, seed=13)
    assert sum("&" in p for p in pages) > 100
    want = [spec_rows(p) for p in pages]
    assert batch_rows(pages) == want
    with monkeypatch.context() as m:
        m.setattr(native, "load", lambda: None)
        assert batch_rows(pages) == want
    # the utf-7 lone surrogate page: the flag is set on its blocks
    page = decode_html(_SURROGATE_PAGE)[0]
    rows = batch_rows([page])[0]
    assert [r[6] for r in rows] == [True, True]
    assert rows == spec_rows(page)


@pytest.mark.parametrize("level", LEVELS)
def test_entity_sample_matches_oracle(level):
    """Engine ≡ oracle row for row on the entity sample, the lone-surrogate
    page among it."""
    htmls = [p.encode("utf-8", "surrogatepass") for p in entity_pages(60, 5)]
    htmls.insert(7, _SURROGATE_PAGE)
    rows = assert_equivalent(pages_frame(htmls, langs=["en", "de", "fr"] * 20
                                         + ["en"]),
                             ExtractConfig(textequiv_level=level))
    assert rows[7]["error"].startswith("UnicodeEncodeError")
    assert sum(r["error"] is None for r in rows) == 60


@pytest.mark.parametrize("voter", ("confidence_voter_default_ctc",
                                   "sequence_voter"))
def test_tie_and_threshold_pages_match_oracle(voter):
    """Pages with a block at a half-micro score tie or at the vote
    threshold (test_vote_equiv's tie and threshold blocks, as HTML),
    beside a plain paragraph: the rows equal the oracle's at every
    level."""
    tie = "<p>" + "y" * 255 + "<a>y</a></p>"  # link 1 - 1.2/256
    at_threshold = "<div>" + "y" * 35 + "<a>" + "y" * 25 + "</a><br></div>"
    htmls = [f"<html><body>{b}<p>{_PARA}</p></body></html>".encode()
             for b in (tie, at_threshold)]
    for level in LEVELS:
        rows = assert_equivalent(pages_frame(htmls), ExtractConfig(
            textequiv_level=level, voter=voter))
        assert [r["n_blocks"] for r in rows] == [2, 2]


@needs_native
def test_pages_over_capacity_go_to_python(monkeypatch):
    """A page whose tables would pass the buffer bound is left to Python and
    gets the Python segmenter's columns in its place in the batch."""
    pages = corpus_pages(50, 3)
    want = [spec_rows(p) for p in pages]
    needs = sorted({SEG._per_tag * (p.count("<") + 1) for p in pages})
    monkeypatch.setattr(native, "_MAX_INTS", needs[-3])
    status = SEG.segment_batch(pages, _CTRL_FRACTION_LIMIT)[4]
    left = int(np.count_nonzero(status == native.P_PYTHON))
    assert 2 <= left < len(pages)
    before = columnar.page_counts()
    assert batch_rows(pages) == want
    after = columnar.page_counts()
    assert after[1] - before[1] == left
    assert after[0] - before[0] == len(pages) - left


# ---------------------------------------------------------------------------
# The native path builds no Python object per block
# ---------------------------------------------------------------------------
@needs_native
@pytest.mark.parametrize("level", ("block", "glyph"))
def test_native_batch_without_amp_has_no_per_block_python(level, monkeypatch):
    pdf = gen_pages(300, seed=4)
    assert not any(b"&" in h for h in pdf["html"] if h is not None)
    cfg = ExtractConfig(textequiv_level=level)
    want = pa.Table.from_batches(
        list(columnar.arrow_map_fn(cfg, SCHEMA)([arrow_input(pdf)])))
    calls = []

    def forbidden(name):
        def fn(*args, **kwargs):
            calls.append(name)
            raise AssertionError(f"{name} ran on the native path")
        return fn

    monkeypatch.setattr(seg_mod.Block, "__init__", forbidden("Block"))
    for name in ("_segment_fused", "segment_spec"):
        monkeypatch.setattr(seg_mod, name, forbidden(name))
    for name in ("segment", "vote_block", "_rebuild_amp",
                 "_python_rows", "_blocks_at"):
        monkeypatch.setattr(columnar, name, forbidden(name))
    got = pa.Table.from_batches(
        list(columnar.arrow_map_fn(cfg, SCHEMA)([arrow_input(pdf)])))
    assert calls == []
    assert got.equals(want)


# ---------------------------------------------------------------------------
# The oracle runs no compiled code
# ---------------------------------------------------------------------------
def test_oracle_runs_no_compiled_code(monkeypatch):
    """``extract_batch`` segments in Python: with ``native.load`` raising,
    it returns the same rows over generated pages and over the entity
    sample, and the batch pass's page counters do not move.  So every
    oracle comparison checks ``_segment.c`` against independent Python."""
    htmls = [p.encode("utf-8", "surrogatepass") for p in entity_pages(60, 5)]
    frames = (gen_pages(200, seed=7), pages_frame(htmls))
    cfg = ExtractConfig(textequiv_level="glyph")
    want = [oracle_rows(pdf, cfg) for pdf in frames]

    def refuse():
        raise AssertionError("the oracle loaded the compiled segmenter")

    monkeypatch.setattr(native, "load", refuse)
    before = columnar.page_counts()
    for pdf, rows in zip(frames, want):
        assert same(oracle_rows(pdf, cfg), rows)
    assert columnar.page_counts() == before


# ---------------------------------------------------------------------------
# UTF-8 offsets of the emitted text
# ---------------------------------------------------------------------------
@given(st.text(alphabet=st.characters(blacklist_categories=("Cs",)),
               max_size=60))
def test_utf8_offsets_slice_each_codepoint(text):
    cps = np.frombuffer(text.encode("utf-32-le"), np.uint32)
    data, off = columnar._utf8(cps)
    assert data.to_pybytes() == text.encode("utf-8")
    assert off.dtype == np.int32 and len(off) == len(text) + 1
    got = [data.to_pybytes()[a:b].decode("utf-8")
           for a, b in zip(off[:-1].tolist(), off[1:].tolist())]
    assert got == list(text)


# ---------------------------------------------------------------------------
# Forced fallback at glyph level, and the library's cache key
# ---------------------------------------------------------------------------
def test_forced_fallback_rows_equal_native_at_glyph(tmp_path, monkeypatch):
    """``test_forced_fallback_rows_equal_native`` at glyph level, on fewer
    pages: the rows of the fused Python segmenter equal the native run's."""
    from ocrd_calamari_spark.sources.warc import records_to_batch, write_warc

    pages = gen_pages(240, seed=7)
    batches = []
    for k in range(2):
        path = str(tmp_path / f"part-{k:02d}.warc.gz")
        write_warc(pages.iloc[k::2], path, compress=True)
        with open(path, "rb") as f:
            batches.append(records_to_batch(path, f.read()))

    def run():
        accs = {k: Acc() for k in ("docs", "failed", "overwrote",
                                   "raw_charset", "segment_native",
                                   "segment_fallback")}
        fn = columnar.arrow_map_fn(ExtractConfig(textequiv_level="glyph"),
                                   SCHEMA, accs)
        return pa.Table.from_batches(list(fn(iter(batches)))), accs

    got, accs = run()
    segmented = accs["segment_native"].value + accs["segment_fallback"].value
    assert accs["docs"].value == 240
    assert 240 >= segmented >= got.column("error").null_count > 180
    if SEG is not None:
        assert accs["segment_fallback"].value == 0
    monkeypatch.setattr(native, "load", lambda: None)
    fallback, fb_accs = run()
    assert fallback.equals(got)
    assert fb_accs["segment_native"].value == 0
    assert fb_accs["segment_fallback"].value == segmented


def test_compile_flags_key_the_library(tmp_path, monkeypatch):
    if shutil.which("cc") is None:
        pytest.skip("no cc on PATH: the compiled segmenter cannot build")
    monkeypatch.setattr(native, "_cache_dir", lambda: str(tmp_path))
    lib = native.build()
    monkeypatch.setattr(native, "CFLAGS", native.CFLAGS + ("-DOCS_FLAGS",))
    other = native.build()
    assert other != lib and os.path.exists(other)
