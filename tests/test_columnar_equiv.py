"""Columnar span emission (kernel/columnar.py) ≡ the scalar specification
(kernel/extract.py), row for row and exactly: the Arrow rows of the
``mapInArrow`` function against ``extract_batch`` at every textequiv level.
"Exactly" means an error row's ``None`` span list is not ``[]``, an int is
not a float, and every float matches bit for bit.  The batched block
confs, the stage the columnar path runs in another form, are pinned on
their own against ``normalize_block`` as well."""

import math

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import assume, example, given, settings, strategies as st
from pyspark.sql.pandas.types import to_arrow_schema

from ocrd_calamari_spark.config import LEVELS, ExtractConfig
from ocrd_calamari_spark.gen import gen_pages
from ocrd_calamari_spark.kernel import columnar
from ocrd_calamari_spark.kernel.extract import _OUT_COLS, extract_batch
from ocrd_calamari_spark.kernel.fastpath import codepoints, normalize_block
from ocrd_calamari_spark.schema import FLAT_OUTPUT_SCHEMA, KERNEL_INPUT_COLS

SCHEMA = to_arrow_schema(FLAT_OUTPUT_SCHEMA)
CUTOFFS = (0.0, 0.001, 0.3)

# content-dense paragraph the voters accept, for hand-built pages
_PARA = ("The archive of the crawl is a record of the content and of the "
         "quality of the story as it was on the table.")


def html_page(*paragraphs: str, charset: str = "utf-8") -> bytes:
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    return (f'<html><head><meta charset="{charset}"></head><body>'
            f"<article>{body}</article></body></html>").encode(charset)


def pages_frame(htmls, priors=None, langs=None) -> pd.DataFrame:
    n = len(htmls)
    return pd.DataFrame({
        "url": [f"https://edge.example/{i}" for i in range(n)],
        "html": list(htmls),
        "text": list(priors) if priors is not None else [None] * n,
        "lang": list(langs) if langs is not None else ["en"] * n,
    })


def arrow_input(pdf: pd.DataFrame) -> pa.RecordBatch:
    schema = pa.schema([("url", pa.string()), ("html", pa.binary()),
                        ("text", pa.string()), ("lang", pa.string())])
    return pa.RecordBatch.from_pandas(pdf[KERNEL_INPUT_COLS], schema=schema,
                                      preserve_index=False)


def fast_batches(pdf: pd.DataFrame, cfg: ExtractConfig) -> list:
    return list(columnar.arrow_map_fn(cfg, SCHEMA)([arrow_input(pdf)]))


def fast_rows(pdf: pd.DataFrame, cfg: ExtractConfig) -> list[dict]:
    return [r for b in fast_batches(pdf, cfg) for r in b.to_pylist()]


def oracle_rows(pdf: pd.DataFrame, cfg: ExtractConfig) -> list[dict]:
    """``extract_batch`` rows, with pandas' NaN coercion of the nullable
    scalar columns undone (an error row's conf and n_blocks are None in
    ``extract_page``; the frame turns them and their column into floats)."""
    rows = extract_batch(pdf, cfg).to_dict("records")
    for r in rows:
        r["conf"] = None if r["conf"] is None or math.isnan(r["conf"]) else r["conf"]
        nb = r["n_blocks"]
        r["n_blocks"] = None if nb is None or math.isnan(nb) else int(nb)
    return rows


def same(a, b) -> bool:
    if type(a) is not type(b):
        return False
    if isinstance(a, float):
        return a.hex() == b.hex()
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(same(a[k], b[k]) for k in a)
    if isinstance(a, list):
        return len(a) == len(b) and all(map(same, a, b))
    return a == b


def assert_equivalent(pdf: pd.DataFrame, cfg: ExtractConfig) -> list[dict]:
    got, want = fast_rows(pdf, cfg), oracle_rows(pdf, cfg)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for col in _OUT_COLS:
            assert same(g[col], w[col]), (w["url"], col, str(g[col])[:200],
                                          str(w[col])[:200])
    return got


def test_comparator_is_exact():
    assert not same(None, [])
    assert not same(1, 1.0)
    assert not same(0.0, -0.0)
    assert not same([{"conf": 0.1}], [{"conf": math.nextafter(0.1, 1.0)}])
    assert same([{"a": [1, None]}], [{"a": [1, None]}])


@pytest.mark.parametrize("level", LEVELS)
@pytest.mark.parametrize("seed", (1, 7, 23))
def test_generated_pages_match(level, seed):
    rows = assert_equivalent(gen_pages(120, seed=seed),
                             ExtractConfig(textequiv_level=level))
    assert any(r["error"] is not None for r in rows)  # poison rows present


@pytest.mark.parametrize("level", LEVELS)
def test_big_page_matches(level):
    """A ~1 MB page (~840k glyphs).  Compared on the Arrow side: the oracle
    rows are typed by the output schema and the tables must be equal, which
    still tells a null list from an empty one and compares every double by
    value; ``to_pylist`` over this many glyphs would take ~40 s."""
    pdf = gen_pages(60, seed=3, big_page_every=50)
    assert (pdf["case"] == "skew_big").sum() == 1
    cfg = ExtractConfig(textequiv_level=level)
    got = pa.Table.from_batches(fast_batches(pdf, cfg)).select(_OUT_COLS)
    want = pa.Table.from_pylist(
        oracle_rows(pdf, cfg),
        schema=pa.schema([SCHEMA.field(c) for c in _OUT_COLS]),
    )
    assert got.equals(want)


EDGE_PAGES = [
    None,                                            # null payload
    b"",                                             # empty payload
    bytes(range(32)) * 8,                            # poison: control chars
    b"\xff\xfe" + bytes(range(1, 9)) * 64,           # poison with raw_charset
    html_page(),                                     # valid page, no blocks
    html_page("   "),                                # whitespace only
    html_page(_PARA + " l1o0 ſ S5 Straße ßß groß "
              "İstanbul ǅ Σς ﬁ æon cœur 中文 \U0001d49c"),
    html_page("Café résumé " + _PARA, charset="latin-1"),
    html_page(_PARA.replace(" ", "   ") + "  \t   ", _PARA),
]


@pytest.mark.parametrize("cutoff", CUTOFFS)
@pytest.mark.parametrize("level", LEVELS)
def test_edge_pages_match(level, cutoff):
    n = len(EDGE_PAGES)
    pdf = pages_frame(EDGE_PAGES, priors=["stale", None, ""] * (n // 3),
                      langs=["en", "de", None] * (n // 3))
    rows = assert_equivalent(pdf, ExtractConfig(textequiv_level=level,
                                                glyph_conf_cutoff=cutoff))
    assert rows[0]["error"] == "ValueError: null html payload"
    assert rows[0]["blocks"] is None and rows[4]["blocks"] == []
    assert rows[3]["error"] is not None and rows[3]["raw_charset"] is True
    if level == "glyph":
        glyphs = rows[6]["glyphs"]
        seconds = sum(len(g["alts"]) == 2 for g in glyphs)
        assert (seconds == 0) == (cutoff == 0.3)
        sharp = [g["alts"] for g in glyphs if g["alts"][0]["text"] == "ß"]
        assert sharp and all(a[1]["text"] == "SS" for a in sharp if len(a) == 2)


# utf-7 "+2AA-" decodes to a lone surrogate (U+D800), which utf-32 cannot
# encode; the second paragraph carries another at a different offset
_SURROGATE_PAGE = (
    b'<html><head><meta charset="utf-7"></head><body><article><p>'
    + _PARA.encode() + b" +2AA- </p><p>x +3AA- " + _PARA.encode()
    + b"</p></article></body></html>"
)


@pytest.mark.parametrize("level", LEVELS)
def test_lone_surrogate_page_fails_alone(level):
    pdf = pages_frame([html_page(_PARA), _SURROGATE_PAGE,
                       html_page(_PARA, _PARA)])
    cfg = ExtractConfig(textequiv_level=level)
    want = oracle_rows(pdf, cfg)
    assert [r["error"] is None for r in want] == [True, False, True]
    assert want[1]["error"].startswith("UnicodeEncodeError: 'utf-32-le'")
    got = assert_equivalent(pdf, cfg)
    assert got[1]["blocks"] is None and got[2]["n_blocks"] == 2


@pytest.mark.parametrize("level", LEVELS)
def test_ids_widen_past_four_digits(level):
    pdf = pages_frame([
        html_page(_PARA, "x" * 10_050),                   # 10k-char word
        html_page(" ".join(["ab"] * 10_020) + "."),       # 10k words
        html_page(*[f"Paragraph {k}." for k in range(10_010)]),  # 10k blocks
    ])
    rows = assert_equivalent(pdf, ExtractConfig(textequiv_level=level))
    assert rows[2]["blocks"][-1]["block_id"] == "blk10009"
    if level != "block":
        assert rows[1]["words"][-1]["word_id"] == "blk0000_word10019"
    if level == "glyph":
        assert rows[0]["glyphs"][-1]["glyph_id"] == "blk0001_word0000_glyph10049"


_FRAGMENT = st.text(
    alphabet="<>/ab p&;\"'=!-\x00é\nl1o0ſS5ßİ中 ", min_size=0, max_size=200)


@settings(max_examples=150, deadline=None)
@given(
    frags=st.lists(_FRAGMENT, min_size=1, max_size=5),
    level=st.sampled_from(LEVELS),
    cutoff=st.sampled_from(CUTOFFS),
    voter=st.sampled_from(["confidence_voter_default_ctc", "sequence_voter"]),
)
def test_hypothesis_html_matches(frags, level, cutoff, voter):
    htmls = [html_page(_PARA, f) if k % 2 else
             f"<html><body>{f}</body></html>".encode("utf-8", "replace")
             for k, f in enumerate(frags)]
    assert_equivalent(pages_frame(htmls), ExtractConfig(
        textequiv_level=level, glyph_conf_cutoff=cutoff, voter=voter))


_CONF_ALPHABET = "abcdefgzABZ019.,!?ſßéü中\U0001d49c"
_FUSED = st.floats(min_value=0.0, max_value=1.0).map(lambda x: round(x, 6))
_ANY_BLOCK = st.tuples(
    st.text(alphabet=_CONF_ALPHABET + "   ", max_size=600), _FUSED)


@settings(max_examples=300, deadline=None)
@given(blocks=st.lists(_ANY_BLOCK, min_size=1, max_size=8))
# blocks whose exact mean sits on a half-micro tie (once a float sum
# rounded some of them down): alone, and at an offset inside the batch
# array
@example(blocks=[("ac" * 65, 0.5)])
@example(blocks=[("xyz", 0.25), ("ac" * 65, 0.5), ("ac" * 300, 0.5)])
def test_batched_block_conf_matches_normalize_block(blocks):
    texts, fused, p1s, confs = [], [], [], []
    for raw, f in blocks:
        text, p1, conf = normalize_block(raw, f)
        if text:
            texts.append(text)
            fused.append(f)
            p1s.append(p1)
            confs.append(conf)
    assume(texts)
    off = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum([len(t) for t in texts], out=off[1:])
    p1, got = columnar._block_numbers(codepoints("".join(texts)), off, fused)
    assert [c.hex() for c in (got / 1e6).tolist()] == [c.hex() for c in confs]
    assert (p1 / 1e6).tobytes() == np.concatenate(p1s).tobytes()


def test_output_schema_and_lineage_passthrough():
    pdf = gen_pages(40, seed=5)
    batch = arrow_input(pdf)
    lineage = {
        "_src_file": pa.array([f"f{i % 3}" for i in range(40)]),
        "_src_row": pa.array(np.arange(40, dtype=np.int64)),
        "_part_id": pa.array(np.arange(40, dtype=np.int32) % 7),
    }
    for name, arr in lineage.items():
        batch = batch.append_column(name, arr)
    out = list(columnar.arrow_map_fn(ExtractConfig(), SCHEMA)([batch]))
    assert len(out) == 1 and out[0].schema.equals(SCHEMA)
    for name, arr in lineage.items():
        assert out[0].column(name).equals(arr)
    bare = fast_batches(pdf, ExtractConfig())
    assert all(bare[0].column(c).null_count == 40 for c in lineage)


@pytest.mark.parametrize("level", LEVELS)
def test_bounded_output_batches_equal_unsplit(level, monkeypatch):
    """The per-batch numeric stage does not depend on where the cut falls;
    at a limit of 1 span every batch ends at its first page with a block."""
    pdf = gen_pages(80, seed=11)
    cfg = ExtractConfig(textequiv_level=level)
    whole = fast_batches(pdf, cfg)
    assert len(whole) == 1
    for limit in (40, 1):
        monkeypatch.setattr(columnar, "MAX_BATCH_SPANS", limit)
        parts = fast_batches(pdf, cfg)
        assert len(parts) > 4
        if limit == 1:
            assert [sum(1 for k in b.column("n_blocks").to_pylist() if k)
                    for b in parts[:-1]] == [1] * (len(parts) - 1)
        assert all(b.schema.equals(SCHEMA) for b in parts)
        assert pa.Table.from_batches(parts).equals(pa.Table.from_batches(whole))


class Acc:
    def __init__(self):
        self.value = 0

    def add(self, v):
        self.value += v


def test_accumulators_count_from_arrow():

    pdf = gen_pages(120, seed=2)
    accs = {k: Acc() for k in ("docs", "failed", "overwrote", "raw_charset")}
    list(columnar.arrow_map_fn(ExtractConfig(), SCHEMA, accs)([arrow_input(pdf)]))
    want = extract_batch(pdf, ExtractConfig())
    assert accs["docs"].value == 120
    assert accs["failed"].value == want["error"].notna().sum() > 0
    assert accs["overwrote"].value == want["overwrote"].sum() > 0
    assert accs["raw_charset"].value == want["raw_charset"].sum() > 0


def test_forced_fallback_rows_equal_native(tmp_path, monkeypatch):
    """``warc_ingest``-shaped input (``gen_pages(seed=7)`` as gzip WARC
    archives split by ``records_to_batch``, block level): with the native
    loader patched to return None, every page runs the fused Python
    segmenter, the rows equal the native run's, and the two segment
    counters say which path ran on how many pages."""
    from ocrd_calamari_spark.kernel import native
    from ocrd_calamari_spark.sources.warc import records_to_batch, write_warc

    pages = gen_pages(2000, seed=7)
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
        fn = columnar.arrow_map_fn(ExtractConfig(), SCHEMA, accs)
        return pa.Table.from_batches(list(fn(iter(batches)))), accs

    got, accs = run()
    segmented = accs["segment_native"].value + accs["segment_fallback"].value
    ok_rows = got.column("error").null_count
    assert accs["docs"].value == 2000
    assert 2000 >= segmented >= ok_rows > 1500
    if native.load() is not None:
        assert accs["segment_fallback"].value == 0
    monkeypatch.setattr(native, "load", lambda: None)
    fallback, fb_accs = run()
    assert fallback.equals(got)
    assert fb_accs["segment_native"].value == 0
    assert fb_accs["segment_fallback"].value == segmented
