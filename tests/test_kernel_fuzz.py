"""Kernel fuzzing: extract_page and the columnar mapInArrow function must
NEVER raise — any bytes payload yields either a valid row (all span
invariants hold) or an error row (ignore_errors semantics, reference
recognize.py:606-609).  This is the per-row safety property that protects
128 MB scan splits from single poisoned documents."""

import pyarrow as pa
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.kernel import columnar, extract
from ocrd_calamari_spark.kernel.extract import extract_page
from ocrd_calamari_spark.schema import FLAT_OUTPUT_SCHEMA

CFG = ExtractConfig(textequiv_level="word")


def check_row(row):
    if row["error"] is not None:
        assert row["text"] is None and row["blocks"] is None
        return
    text = row["text"]
    assert "\n".join(b["text"] for b in row["blocks"]) == text
    for b in row["blocks"]:
        assert text[b["start"]:b["end"]] == b["text"]
        assert b["text"] == b["text"].strip(" ")
        assert "  " not in b["text"]
    for w in row["words"]:
        assert text[w["start"]:w["end"]] == w["text"]


@settings(max_examples=300, deadline=None)
@given(payload=st.binary(min_size=0, max_size=2048))
def test_arbitrary_bytes_never_raise(payload):
    check_row(extract_page("u", payload, None, "en", CFG))


@settings(max_examples=300, deadline=None)
@given(
    frag=st.text(
        alphabet="<>/ab p&;\"'=!-\x00é\n", min_size=0, max_size=300
    ),
    lang=st.sampled_from(["en", "de", "fr", None, "xx"]),
)
def test_tag_soup_never_raises(frag, lang):
    payload = f"<html><body>{frag}</body></html>".encode("utf-8", "replace")
    check_row(extract_page("u", payload, None, lang, CFG))


@settings(max_examples=100, deadline=None)
@given(
    payload=st.binary(min_size=0, max_size=512),
    level=st.sampled_from(["block", "word", "glyph"]),
    cutoff=st.floats(min_value=0.0, max_value=0.49),
    voter=st.sampled_from(["confidence_voter_default_ctc", "sequence_voter"]),
)
def test_all_configs_never_raise(payload, level, cutoff, voter):
    cfg = ExtractConfig(textequiv_level=level, glyph_conf_cutoff=cutoff,
                        voter=voter)
    row = extract_page("u", payload, "prior", "de", cfg)
    assert row["overwrote"] is True
    if row["error"] is None and level == "block":
        assert row["words"] == [] and row["glyphs"] == []


# --- the columnar mapInArrow path (kernel/columnar.py) ----------------------

SCHEMA = to_arrow_schema(FLAT_OUTPUT_SCHEMA)
_SPAN_COLS = ("blocks", "words", "glyphs")
_PARA = ("The archive of the crawl is a record of the content and of the "
         "quality of the story as it was on the table.")


def run_arrow(payloads, cfg, prior=None):
    n = len(payloads)
    batch = pa.RecordBatch.from_pydict(
        {"url": [f"u{i}" for i in range(n)], "html": payloads,
         "text": [prior] * n, "lang": ["de"] * n},
        schema=pa.schema([("url", pa.string()), ("html", pa.binary()),
                          ("text", pa.string()), ("lang", pa.string())]),
    )
    out = list(columnar.arrow_map_fn(cfg, SCHEMA)([batch]))
    for b in out:
        assert b.schema.equals(SCHEMA)
        for c in _SPAN_COLS:
            col = b.column(c)
            # no spans outside the rows' lists: nothing half-emitted
            assert len(col.values) == len(col.flatten())
    rows = [r for b in out for r in b.to_pylist()]
    assert [r["url"] for r in rows] == [f"u{i}" for i in range(n)]
    return rows


def check_arrow_row(row, level):
    check_row(row)
    if row["error"] is not None:
        assert row["words"] is None and row["glyphs"] is None
        assert row["conf"] is None and row["n_blocks"] is None
        return
    text = row["text"]
    assert row["n_blocks"] == len(row["blocks"])
    if level == "block":
        assert row["words"] == [] and row["glyphs"] == []
    for g in row["glyphs"]:
        assert text[g["start"]:g["end"]] == g["alts"][0]["text"]
        assert [a["index"] for a in g["alts"]] in ([1], [1, 2])


@settings(max_examples=200, deadline=None)
@given(
    payloads=st.lists(st.one_of(st.none(), st.binary(max_size=1024)),
                      min_size=1, max_size=6),
    level=st.sampled_from(["block", "word", "glyph"]),
    cutoff=st.sampled_from([0.0, 0.001, 0.3]),
)
def test_arrow_map_fn_arbitrary_bytes_never_raise(payloads, level, cutoff):
    cfg = ExtractConfig(textequiv_level=level, glyph_conf_cutoff=cutoff)
    for row in run_arrow(payloads, cfg, prior="prior"):
        assert row["overwrote"] is True
        check_arrow_row(row, level)


@settings(max_examples=60, deadline=None)
@given(
    pages=st.lists(st.lists(st.booleans(), min_size=1, max_size=4),
                   min_size=1, max_size=6),
    level=st.sampled_from(["block", "word", "glyph"]),
)
def test_exception_mid_page_becomes_error_row(pages, level):
    """A page whose k-th block raises inside the kernel becomes an error
    row; the blocks, words and glyphs built for its first k-1 blocks are
    rolled back and the other rows are untouched.  The fault is injected
    into the column vote (``columnar.vote_features``, which raises when
    its features hold the visible count of a faulty block), so the pages
    are voted one by one, and into ``vote_block``, which that per-page
    vote and the scalar path call per block."""
    payloads = [
        ("<html><body><article>" + "".join(
            f"<p>{_PARA}{' BOOM' if boom else ''}</p>" for boom in page
        ) + "</article></body></html>").encode()
        for page in pages
    ]
    cfg = ExtractConfig(textequiv_level=level)
    clean = run_arrow(payloads, cfg)

    real = columnar.vote_block
    real_features = columnar.vote_features
    batched = []
    boom_vis = len((_PARA + " BOOM").replace(" ", ""))

    def exploding(blk, *args):
        if "BOOM" in blk.raw_text:
            raise RuntimeError("boom")
        return real(blk, *args)

    def exploding_features(f, *args):
        batched.append(len(f["vis"]))
        if boom_vis in f["vis"].tolist():
            raise RuntimeError("boom")
        return real_features(f, *args)

    mp = pytest.MonkeyPatch()
    try:
        mp.setattr(columnar, "vote_features", exploding_features)
        mp.setattr(columnar, "vote_block", exploding)
        mp.setattr(extract, "vote_block", exploding)
        rows = run_arrow(payloads, cfg)
        scalar = [extract.extract_page(f"u{i}", p, None, "de", cfg)
                  for i, p in enumerate(payloads)]
    finally:
        mp.undo()
    assert batched  # the batched vote ran
    for page, row, ok, spec in zip(pages, rows, clean, scalar):
        check_arrow_row(row, level)
        if any(page):
            assert row["error"] == "RuntimeError: boom"
            assert all(row[c] is None for c in _SPAN_COLS)
        else:
            assert row == ok
        assert {k: row[k] for k in spec} == spec
