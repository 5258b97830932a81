"""Kernel-level tests for decode, segmentation, voting and page extraction
(no Spark session)."""

import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.kernel import columnar
from ocrd_calamari_spark.kernel.decode import decode_html, sniff_charset
from ocrd_calamari_spark.kernel.extract import extract_page
from ocrd_calamari_spark.kernel.segment import segment
from ocrd_calamari_spark.kernel.vote import fuse_votes
from ocrd_calamari_spark.schema import FLAT_OUTPUT_SCHEMA


CFG = ExtractConfig()
CFG_GLYPH = ExtractConfig(textequiv_level="glyph")


def page(body: str, charset="utf-8", declare=True) -> bytes:
    meta = f'<meta charset="{charset}">' if declare else ""
    return f"<html><head>{meta}</head><body>{body}</body></html>".encode(charset)


class TestDecode:
    def test_declared_charset(self):
        assert sniff_charset(b'<meta charset="utf-8">') == "utf-8"

    def test_utf8_no_declaration(self):
        text, raw = decode_html("<p>héllo</p>".encode("utf-8"))
        assert "héllo" in text and raw is False

    def test_latin1_fallback_flags_raw(self):
        text, raw = decode_html("<p>café</p>".encode("latin-1"))
        assert "café" in text and raw is True

    def test_declared_latin1_not_raw(self):
        payload = '<meta charset="iso-8859-1"><p>café</p>'.encode("latin-1")
        text, raw = decode_html(payload)
        assert "café" in text and raw is False


class TestSegment:
    def test_drops_boilerplate_subtrees(self):
        blocks = segment(
            "<nav><p>menu</p></nav><script>var x=1;</script>"
            "<p>real content here</p><footer><p>legal</p></footer>"
        )
        assert [b.raw_text for b in blocks] == ["real content here"]

    def test_document_order(self):
        blocks = segment("<p>one</p><p>two</p><p>three</p>")
        assert [b.raw_text for b in blocks] == ["one", "two", "three"]
        assert [b.pos for b in blocks] == [0, 1, 2]

    def test_whitespace_mapped_not_collapsed(self):
        blocks = segment("<p>a\n\tb  c</p>")
        assert blocks[0].raw_text == "a  b  c"

    def test_link_chars_counted(self):
        blocks = segment('<p>ab <a href="/x">link</a></p>')
        assert blocks[0].n_link_chars == 4
        assert blocks[0].raw_text == "ab link"

    def test_nested_blocks_attach_text_to_innermost(self):
        blocks = segment("<div>outer <p>inner</p></div>")
        texts = {b.tag: b.raw_text.strip() for b in blocks}
        assert texts["div"] == "outer" and texts["p"] == "inner"

    def test_entities_converted(self):
        blocks = segment("<p>a &amp; b &lt;c&gt;</p>")
        assert blocks[0].raw_text == "a & b <c>"


class TestVoter:
    def test_confidence_voter_mean(self):
        ok, conf = fuse_votes([0.9, 0.6, 0.3], "confidence_voter_default_ctc", 0.5)
        assert ok is True and conf == 0.6

    def test_confidence_voter_reject(self):
        ok, _ = fuse_votes([0.4, 0.4, 0.4], "confidence_voter_default_ctc", 0.5)
        assert ok is False

    def test_sequence_voter_majority(self):
        ok, conf = fuse_votes([0.9, 0.8, 0.1], "sequence_voter", 0.5)
        assert ok is True and conf == pytest.approx(0.85)

    def test_sequence_voter_minority_rejects(self):
        ok, _ = fuse_votes([0.9, 0.2, 0.1], "sequence_voter", 0.5)
        assert ok is False


class TestExtractPage:
    def test_plain_extraction_invariants(self):
        html = page("<article><p>This is the main content of the page, long "
                    "enough to pass filters.</p><p>And a second paragraph "
                    "with more content in it.</p></article>")
        row = extract_page("u", html, None, "en", CFG_GLYPH)
        assert row["error"] is None
        assert row["n_blocks"] == 2
        # A3: "\n"-join of block texts == document text (recognize.py:743-747)
        assert "\n".join(b["text"] for b in row["blocks"]) == row["text"]
        for b in row["blocks"]:
            assert row["text"][b["start"]:b["end"]] == b["text"]
        for w in row["words"]:
            assert row["text"][w["start"]:w["end"]] == w["text"]
        for g in row["glyphs"]:
            assert g["alts"][0]["index"] == 1
            assert row["text"][g["start"]:g["end"]] == g["alts"][0]["text"]

    def test_block_level_emits_no_words_or_glyphs(self):
        # ≈ test_recognize.py:116-117 (word level ⇒ no glyphs)
        html = page("<p>Sufficiently long content paragraph for extraction.</p>")
        row = extract_page("u", html, None, "en", CFG)
        assert row["words"] == [] and row["glyphs"] == []

    def test_word_level_emits_words_not_glyphs(self):
        html = page("<p>Sufficiently long content paragraph for extraction.</p>")
        row = extract_page("u", html, None, "en", ExtractConfig(textequiv_level="word"))
        assert len(row["words"]) > 0 and row["glyphs"] == []

    def test_glyph_count_scales(self):
        # ≈ test_recognize.py:139-140: glyph level ⇒ >= 100 glyphs
        body = "".join(
            f"<p>Paragraph number {i} with plenty of textual content inside.</p>"
            for i in range(5)
        )
        row = extract_page("u", page(body), None, "en", CFG_GLYPH)
        assert len(row["glyphs"]) >= 100

    def test_tiny_block_skipped(self):
        row = extract_page("u", page("<p>tiny.</p>"), None, "en", CFG)
        assert row["n_blocks"] == 0 and row["text"] == ""
        # both sides of config.MIN_VISIBLE_CHARS (8), through the scalar
        # spec and the columnar map, which repeats the filter
        htmls = [page("<p>Abcdefgh</p>"), page("<p>Abcdefg</p>")]
        batch = pa.RecordBatch.from_pydict(
            {"url": ["8", "7"], "html": htmls, "text": [None, None],
             "lang": ["en", "en"]},
            schema=pa.schema([("url", pa.string()), ("html", pa.binary()),
                              ("text", pa.string()), ("lang", pa.string())]),
        )
        map_fn = columnar.arrow_map_fn(CFG, to_arrow_schema(FLAT_OUTPUT_SCHEMA))
        fast = [r for b in map_fn([batch]) for r in b.to_pylist()]
        spec = [extract_page(u, h, None, "en", CFG)
                for u, h in zip(["8", "7"], htmls)]
        for kept, dropped in (spec, fast):
            assert (kept["n_blocks"], kept["text"]) == (1, "Abcdefgh")
            assert (dropped["n_blocks"], dropped["text"]) == (0, "")

    def test_overwrite_flag(self):
        html = page("<p>Fresh extracted content paragraph, long enough.</p>")
        row = extract_page("u", html, "stale prior text", "en", CFG)
        assert row["overwrote"] is True
        assert row["text"] != "stale prior text"  # ≈ test_recognize.py:61

    def test_poison_yields_error_row_not_exception(self):
        row = extract_page("u", bytes(range(32)) * 8, None, "en", CFG)
        assert row["error"] is not None and row["text"] is None

    def test_null_payload_is_error_row(self):
        row = extract_page("u", None, None, "en", CFG)
        assert row["error"] is not None

    def test_whitespace_normalization(self):
        html = page("<p>   leading and   doubled  spaces inside the block   </p>")
        row = extract_page("u", html, None, "en", CFG)
        t = row["blocks"][0]["text"]
        assert not t.startswith(" ") and not t.endswith(" ") and "  " not in t
        assert t == "leading and doubled spaces inside the block"

    def test_link_farm_rejected_article_kept(self):
        farm = " ".join(f'<a href="/t/{k}">tag link {k}</a>' for k in range(20))
        html = page(f'<div class="farm">{farm}</div>'
                    "<article><p>The genuine article content is here and it "
                    "is long enough to score well.</p></article>")
        row = extract_page("u", html, None, "en", CFG)
        assert row["n_blocks"] >= 1
        assert "genuine article content" in row["text"]
        assert "tag link" not in row["text"]

    def test_glyph_cutoff_filters_alternatives(self):
        html = page("<p>Sufficiently long content paragraph for extraction.</p>")
        row_lo = extract_page("u", html, None, "en",
                              ExtractConfig(textequiv_level="glyph",
                                            glyph_conf_cutoff=0.001))
        row_hi = extract_page("u", html, None, "en",
                              ExtractConfig(textequiv_level="glyph",
                                            glyph_conf_cutoff=0.3))
        n_lo = sum(len(g["alts"]) for g in row_lo["glyphs"])
        n_hi = sum(len(g["alts"]) for g in row_hi["glyphs"])
        assert n_hi < n_lo
        # texts identical — cutoff only prunes ranked alternatives
        assert row_lo["text"] == row_hi["text"]

    def test_determinism(self):
        html = page("<p>Deterministic content paragraph long enough to keep.</p>")
        r1 = extract_page("u", html, None, "en", CFG_GLYPH)
        r2 = extract_page("u", html, None, "en", CFG_GLYPH)
        assert r1 == r2

    def test_config_validation(self):
        with pytest.raises(ValueError):
            ExtractConfig(voter="nope")
        with pytest.raises(ValueError):
            ExtractConfig(textequiv_level="line")
        with pytest.raises(ValueError):
            ExtractConfig(glyph_conf_cutoff=0.7)
