"""Query registry backing __spark_entry__.py (driver correctness harness).

Five extraction entries over the same engine the job runs (``extract_df``):
four run on pages synthesized from the driver's ``documents.parquet`` and
are checked row by row; ``extract_golden_diff`` runs the frozen golden
corpus and has the one DuckDB oracle, which reads the committed golden
parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import extract_df


# ---------------------------------------------------------------------------
# Synthetic pages from the documents table — deterministic, Spark-side
# (format via concat of literals; no Python row loop).
# ---------------------------------------------------------------------------
_PAGE_HEAD = (
    '<html><head><meta charset="utf-8"><title>doc</title></head><body>'
    '<header><div class="logo">Example</div><nav><ul>'
    + "".join(f'<li><a href="/s/{k}">menu item {k} padding</a></li>' for k in range(6))
    + "</ul></nav></header>"
    '<aside><p><a href="/ad">sponsored offer</a> <a href="/ad2">another ad</a></p></aside>'
)
_PAGE_FOOT = (
    '<footer><p><a href="/imprint">Imprint</a> · <a href="/privacy">Privacy</a>'
    "</p></footer></body></html>"
)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap each documents.text row into a boilerplated HTML page —
    the deterministic extraction workload over driver-provided data."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    html = F.concat(
        F.lit(_PAGE_HEAD),
        F.lit("<article><h1>Document "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></article>"),
        F.lit(_PAGE_FOOT),
    ).cast("binary")
    return docs.select(
        F.concat(
            F.lit("https://host"),
            F.lpad((F.col("doc_id") % 40).cast("string"), 2, "0"),
            F.lit(".example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.expr(
            "timestamp '2024-06-01 00:00:00' + make_interval(0,0,0, cast(doc_id % 30 as int),0,0,0)"
        ).alias("warc_ts"),
        html.alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.col("lang").alias("lang"),
    )


# ---------------------------------------------------------------------------
# Extraction-family queries (non-SQL-expressible → rows-only checks)
# ---------------------------------------------------------------------------
def q_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = extract_df(
        pages_from_documents(spark, sf_dir),
        ExtractConfig(),
        with_lineage=False,
    )
    return out.select(
        "url", "text", "conf", "n_blocks", "error"
    ).orderBy("url")


def q_extract_word_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = extract_df(
        pages_from_documents(spark, sf_dir),
        ExtractConfig(textequiv_level="word"),
        with_lineage=False,
    )
    # explode word spans; verify invariant text[start:end]==word JVM-side
    w = out.where(F.col("error").isNull()).select(
        "url", "text", F.explode_outer("words").alias("w")
    )
    return w.select(
        "url",
        F.col("w.word_id").alias("word_id"),
        F.col("w.start").alias("start"),
        F.col("w.end").alias("end"),
        F.col("w.text").alias("word_text"),
        (
            F.expr("substring(text, w.start + 1, w.end - w.start)")
            == F.col("w.text")
        ).alias("span_ok"),
    )


def q_extract_sequence_voter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voter variant (sequence_voter ≈ majority vote) through the driver —
    A5 enum coverage (reference ocrd-tool.json:32-37)."""
    out = extract_df(
        pages_from_documents(spark, sf_dir),
        ExtractConfig(voter="sequence_voter"),
        with_lineage=False,
    )
    return out.select("url", "text", "conf", "n_blocks", "error").orderBy("url")


def q_extract_glyph_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glyph level with ranked alternatives (W1) through the driver."""
    # deterministic subset by key — LIMIT without ORDER BY would pick
    # partition-order-dependent rows
    pages = pages_from_documents(spark, sf_dir).where(
        F.element_at(F.split(F.col("url"), "/d/"), 2).cast("long") < 100
    )
    out = extract_df(
        pages,
        ExtractConfig(textequiv_level="glyph", glyph_conf_cutoff=0.01),
        with_lineage=False,
    )
    g = out.where(F.col("error").isNull()).select(
        "url", F.explode_outer("glyphs").alias("g")
    )
    return g.select(
        "url",
        F.col("g.glyph_id").alias("glyph_id"),
        F.col("g.start").alias("start"),
        F.col("g.end").alias("end"),
        F.size("g.alts").alias("n_alts"),
        F.element_at("g.alts", 1)["text"].alias("top_text"),
    ).orderBy("url", "start")


_GOLDEN_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "golden",
    "pages_golden.parquet",
)


def q_extract_golden_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible byte-identity certificate for the extraction kernel.

    Runs the full Spark extraction pipeline over the frozen golden corpus
    (gen_pages(400, seed=42) — exactly the input scripts/make_golden.py fed
    the single-process oracle) and returns the scalar output columns; the
    DuckDB oracle reads the committed golden parquet directly.  Equal
    frames certify Spark-output == frozen-oracle byte-identity of
    url/text/conf/n_blocks/overwrote/raw_charset/error — the stronger
    golden contract the four rows-only extraction entries cannot surface
    (≈ reference test/test_recognize.py fixture assertions).

    ``sf_dir`` is unused by design: the certificate corpus is pinned by
    (N=400, seed=42) so the comparison target never drifts with scale
    factor.
    """
    from ocrd_calamari_spark.gen import gen_pages
    from ocrd_calamari_spark.schema import PAGES_SCHEMA

    pdf = gen_pages(400, seed=42)[["url", "warc_ts", "html", "text", "lang"]]
    df = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    out = extract_df(
        df,
        ExtractConfig(textequiv_level="word"),
        with_lineage=False,
    )
    return out.select(
        "url",
        "text",
        "conf",
        F.col("n_blocks").cast("double").alias("n_blocks"),
        "overwrote",
        "raw_charset",
        "error",
    ).orderBy("url")


GOLDEN_DIFF_SQL = f"""
SELECT url, text, conf, n_blocks, overwrote, raw_charset, error
FROM read_parquet('{_GOLDEN_PARQUET}')
ORDER BY url
"""



# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
QUERIES = {
    "extract_golden_diff": q_extract_golden_diff,
    "extract_pages": q_extract_pages,
    "extract_word_spans": q_extract_word_spans,
    "extract_sequence_voter": q_extract_sequence_voter,
    "extract_glyph_spans": q_extract_glyph_spans,
}

ORACLES = {
    "extract_golden_diff": GOLDEN_DIFF_SQL,
}
