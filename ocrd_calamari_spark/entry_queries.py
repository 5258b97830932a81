"""Query registry backing __spark_entry__.py (driver correctness harness).

Each query is implemented Spark-first (DataFrame API / built-in functions)
and, where SQL-expressible, paired with a DuckDB oracle string over the same
parquet views.  Column names AND types are aligned on both sides (explicit
casts — Spark length() is INT, DuckDB's is BIGINT).

Floating-point parity strategy: money sums go through DECIMAL(18,2) (exact,
order-independent) then cast to double; averages are computed as exact-sum /
count; similarity scores are rounded after ranking.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.functions.dedup import exact_duplicates
from ocrd_calamari_spark.functions.text import (
    lang_id_sql,
    quality_score_sql,
    token_count_sql,
)
from ocrd_calamari_spark.pipeline import extract_df


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Scan-parallelism floor (guide §6): each fixture table is ONE parquet
    # file, so at the default 128 MB maxPartitionBytes every map stage
    # before the first exchange runs on ≤2 scan splits — measured 29 s of
    # trigram shingling on 2 of 32 cores at sf1.0.  The
    # floor derives from the session's core count (never a constant), and
    # at production scale — thousands of splits — it is a no-op: Spark
    # takes max(bytes/minPartitionNum, openCost) capped by
    # maxPartitionBytes, so it can only SPLIT small inputs finer, never
    # coarsen large ones.
    spark.conf.set(
        "spark.sql.files.minPartitionNum",
        str(2 * spark.sparkContext.defaultParallelism),
    )
    # InferFiltersFromGenerate synthesizes a `size(arr) > 0` filter under
    # every explode and predicate-pushdown then sinks it below
    # repartitions onto the scan — re-evaluating the full gram/shingle
    # expression on the ≤2 scan splits (measured: 29 s of trigram
    # shingling on 2 of 32 cores; 2.9 s gram stages in clean_pipeline).  The inferred filter only pre-drops rows whose
    # array is empty — explode drops them anyway — so excluding the rule
    # trades a no-op pruning for not re-running heavy expressions at the
    # scan; that trade is scale-independent (the duplicated evaluation
    # costs MORE at larger inputs, never less).
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tw(spark: SparkSession, sf_dir: str, name: str = "documents") -> DataFrame:
    """``_t`` plus an up-front hash repartition on doc_id.

    The fixture table is ONE small parquet file; even under the
    minPartitionNum floor, openCostInBytes floors the split size, so the
    5.9 MB documents file still scans as ~2 splits — and every heavy
    per-row map (explode + md5/xxhash per gram) before the first exchange
    then runs on 2 of N cores (measured: a hashed-ngram weighting query
    took 14.1 s isolated at sf1.0, almost all in the 2-task scan stage).
    The narrow-input exchange costs ~25 MB; at production scale the scan
    has thousands of splits and this repartition is a no-op-grade
    overhead (CLAUDE.md round-4 note)."""
    return _t(spark, sf_dir, name).repartition(
        4 * spark.sparkContext.defaultParallelism, "doc_id"
    )


def _psort(df: DataFrame, *cols) -> DataFrame:
    """Presentation total-order sort WITHOUT the range-exchange sampling
    pass.

    ``orderBy`` plans a rangepartitioning Exchange whose RangePartitioner
    must first SAMPLE the child RDD to pick boundaries — a separate job
    that re-executes everything above the last materialized shuffle
    (measured at sf1.0 on a 114M-row pair aggregation: it ran twice,
    36 s + 23 s — event-log stages 24/28, guide §1.1/§7.2).
    Registry outputs are presentation-sized (≤ ~10^5 rows at any bench
    SF), so shuffling the RESULT to one partition and sorting it there
    yields the identical totally-ordered output with one execution and
    no sampling job.  At production scale these presentation sorts are
    not part of the pipeline at all (callers consume unordered)."""
    return df.repartition(1).sortWithinPartitions(*cols)


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


def pages_from_documents(
    spark: SparkSession, sf_dir: str, pre_partitions: int | None = None
) -> DataFrame:
    """Wrap each documents.text row into a boilerplated HTML page —
    the deterministic extraction workload over driver-provided data.

    ``pre_partitions``: repartition the (tiny) documents rows BEFORE
    building the html payloads so page synthesis parallelizes even though
    the source is a single parquet file."""
    docs = _t(spark, sf_dir, "documents")
    if pre_partitions:
        docs = docs.repartition(pre_partitions, "doc_id")
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


# ---------------------------------------------------------------------------
# Relational operators (SQL-expressible, DuckDB-oracled)
# ---------------------------------------------------------------------------


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.expr(f"cast({token_count_sql('text')} as bigint)").alias("n_tokens"),
        F.col("n_chars"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id, CAST({token_count_sql('text')} AS BIGINT) AS n_tokens, n_chars
FROM documents
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.expr(quality_score_sql("text")).alias("quality")
    )


QUALITY_SQL = f"""
SELECT doc_id, {quality_score_sql('text')} AS quality FROM documents
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _tw(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.expr(lang_id_sql("text")).alias("lang_pred")
    )


LANG_ID_SQL = f"""
SELECT doc_id, {lang_id_sql('text')} AS lang_pred FROM documents
"""


# shared literals for the injected foreign paragraphs — both engines
# embed THESE strings (same discipline as _PAGE_HEAD/_PAGE_FOOT); each is
# dense in its language's lang_id marker words
_MIX_DE = ("Der Hund und die Katze ist der Freund und der Nachbar"
           " und die Idee ist der Anfang.")
_MIX_FR = ("Le chat et les amis est le debut des histoires et le reve"
           " est le chemin des idees.")


def q_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language-mixing report: paragraphs are lang-id'd
    independently (the shared marker heuristic, functions/text.py:
    lang_id_sql) and each doc reports paragraph count, distinct real
    languages, the dominant language and its basis-point share — the
    monolingual-curation screen (a doc-level lang label hides embedded
    foreign paragraphs; mixed docs poison per-language mixture budgets
    and n-gram LMs).  Foreign paragraphs are injected deterministically
    (every 11th ≡ 4 German, ≡ 8 French).  Scale shape: paragraph
    explode collapses map-side to (doc, lang, count) — fan-in per doc
    is its paragraph count; the dominance window runs over (doc, ≤4
    langs) groups; exact integer share math."""
    from ocrd_calamari_spark.functions.text import lang_id_sql

    d = _tw(spark, sf_dir, "documents").select("doc_id", "text")
    eff = (
        F.when(
            F.col("doc_id") % 11 == 4,
            F.concat(F.col("text"), F.lit("\n" + _MIX_DE)),
        )
        .when(
            F.col("doc_id") % 11 == 8,
            F.concat(F.col("text"), F.lit("\n" + _MIX_FR)),
        )
        .otherwise(F.col("text"))
    )
    paras = (
        d.select("doc_id", F.explode(F.split(eff, "\n")).alias("para"))
        .where(F.length("para") > 0)
    )
    cnts = (
        paras.select(
            "doc_id",
            F.expr(lang_id_sql("para")).alias("plang"),
        )
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cnts.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_paras"),
        F.count(F.when(F.col("plang") != "und", True))
        .cast("long")
        .alias("n_langs"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), "plang")
    dom = (
        cnts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("plang").alias("dominant_lang"),
            F.col("c").alias("_dc"),
        )
    )
    return (
        tot.join(dom, "doc_id")
        .select(
            "doc_id",
            "n_paras",
            "n_langs",
            "dominant_lang",
            F.expr("div(_dc * 10000, n_paras)").alias("dominant_bp"),
            (F.col("n_langs") >= 2).alias("is_mixed"),
        )
        .transform(_psort, "doc_id")
    )


def _lang_mix_sql() -> str:
    from ocrd_calamari_spark.functions.text import lang_id_sql

    return f"""
WITH eff AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 4 THEN text || chr(10) || '{_MIX_DE}'
              WHEN doc_id % 11 = 8 THEN text || chr(10) || '{_MIX_FR}'
              ELSE text END AS text
  FROM documents
), paras AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS para FROM eff
), det AS (
  SELECT doc_id, {lang_id_sql('para')} AS plang
  FROM paras WHERE length(para) > 0
), cnts AS (
  SELECT doc_id, plang, CAST(COUNT(*) AS BIGINT) AS c
  FROM det GROUP BY 1, 2
), tot AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_paras,
         CAST(SUM(CASE WHEN plang <> 'und' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_langs
  FROM cnts GROUP BY doc_id
), dom AS (
  SELECT doc_id, plang AS dominant_lang, c AS dc FROM (
    SELECT doc_id, plang, c,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY c DESC, plang) AS rn
    FROM cnts
  ) WHERE rn = 1
)
SELECT t.doc_id, t.n_paras, t.n_langs, d.dominant_lang,
       (d.dc * 10000) // t.n_paras AS dominant_bp,
       t.n_langs >= 2 AS is_mixed
FROM tot t JOIN dom d USING (doc_id) ORDER BY t.doc_id
"""


LANG_MIX_SQL = _lang_mix_sql()


# ---------------------------------------------------------------------------
# Exact-dup queries: deterministic dups are injected by unioning copies.
# ---------------------------------------------------------------------------
_DUP_SAMPLE_K = 2  # size-3 groups below get truncated → cap path exercised


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-group reporting in its BOUNDED form: exact n_dups, member list
    capped at the sample_k smallest ids (enforced pre-buffer via window
    rank — round-3 verdict #3).  doc_id<25 duplicated once and doc_id<5
    twice, so the fixture holds both size-2 (uncut) and size-3
    (truncated) groups."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.where(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    trips = d.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dups).unionByName(trips)
    # doc_ids is array<bigint>; the driver canonicalizer sorts columns and
    # cannot hash lists — project the (already-sorted) array to a CSV string
    # so every output column is scalar and the md5 fingerprint oracles in
    # DuckDB exactly.
    return (
        exact_duplicates(corpus, sample_k=_DUP_SAMPLE_K)
        .select(
            "fp",
            "n_dups",
            F.concat_ws(
                ",", F.transform("doc_ids", lambda x: x.cast("string"))
            ).alias("doc_ids"),
        )
        .orderBy("fp")
    )


EXACT_DUP_GROUPS_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id < 25
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id, text FROM documents WHERE doc_id < 5
), ranked AS (
  SELECT doc_id, substr(md5(text), 1, 16) AS fp,
         row_number() OVER (PARTITION BY substr(md5(text), 1, 16)
                            ORDER BY doc_id) AS rn
  FROM corpus
)
SELECT fp,
       COUNT(*) AS n_dups,
       string_agg(CASE WHEN rn <= {_DUP_SAMPLE_K}
                       THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id) AS doc_ids
FROM ranked
GROUP BY 1
HAVING COUNT(*) > 1
ORDER BY fp
"""


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
    DuckDB oracle reads the committed golden parquet directly.  hash_match
    in CORRECTNESS_r0N therefore certifies Spark-output == frozen-oracle
    byte-identity of url/text/conf/n_blocks/overwrote/raw_charset/error in
    the driver's own file — the stronger golden contract the four rows-only
    extraction entries cannot surface (≈ reference test/test_recognize.py
    fixture assertions).

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


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-window chunking: split each document into 64-token chunks
    with stride 48 (16-token overlap) — sequence + slice + posexplode,
    all JVM-side; the per-example preprocessing step before tokenization."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tokens = F.split(F.col("text"), " ")
    # token array bound as a lambda variable — inlining `tokens` in the
    # per-chunk lambda re-splits the text once per chunk (see
    # functions/text.py:word_ngrams)
    chunks = F.element_at(
        F.transform(
            F.array(tokens),
            lambda t: F.transform(
                F.sequence(F.lit(1), F.greatest(F.size(t), F.lit(1)),
                           F.lit(48)),
                lambda s: F.concat_ws(" ", F.slice(t, s, 64)),
            ),
        ),
        1,
    )
    out = d.select(
        "doc_id", F.posexplode(chunks).alias("chunk_no", "chunk_text")
    )
    return out.select(
        "doc_id",
        F.col("chunk_no").cast("bigint").alias("chunk_no"),
        "chunk_text",
        F.expr(token_count_sql("chunk_text")).cast("bigint").alias("n_tokens"),
    ).orderBy("doc_id", "chunk_no")


CHUNK_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_no,
       array_to_string(tokens[s : s + 63], ' ') AS chunk_text,
       CAST(length(array_to_string(tokens[s : s + 63], ' '))
            - length(replace(array_to_string(tokens[s : s + 63], ' '), ' ', ''))
            + 1 AS BIGINT) AS n_tokens
FROM (
  SELECT doc_id, tokens, g.s AS s,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY g.s) - 1 AS i
  FROM toks, LATERAL (
    SELECT unnest(range(1, greatest(len(tokens), 1) + 1, 48)) AS s
  ) g
)
ORDER BY doc_id, chunk_no
"""


def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (duplicate
    2-gram fraction, top-2-gram coverage) — one shuffle-free JVM map; the
    top-gram count is a sorted-run aggregate() fold, no per-doc groupBy.

    The fixture table is ONE parquet file (≤2 scan splits), so the
    heavy-per-row HOF map is re-parallelized up front — at production
    scale the scan itself is thousands of splits and this repartition
    disappears (measured: 6.8 s → 1.7 s at sf0.1 on 32 cores)."""
    from ocrd_calamari_spark.functions.text import repetition_stats

    d = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .repartition(4 * spark.sparkContext.defaultParallelism, "doc_id")
    )
    out = repetition_stats(d, "doc_id", "text", n=2)
    quant = lambda c: (F.floor(F.col(c) * F.lit(1e4) + F.lit(0.5))
                       / F.lit(1e4)).cast("double").alias(c)
    return out.select(
        "doc_id", "n_tokens", "n_grams", "n_distinct_grams",
        "top_gram_count", quant("dup_ngram_frac"), quant("top_ngram_frac"),
    ).transform(_psort, "doc_id")


REPETITION_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), g AS (
  SELECT doc_id, len(t) AS n_tokens,
         list_transform(generate_series(1, greatest(len(t) - 1, 1)),
                        i -> array_to_string(t[i : i + 1], ' ')) AS grams
  FROM toks
), e AS (
  SELECT doc_id, n_tokens, len(grams) AS n_grams,
         len(list_distinct(grams)) AS n_distinct_grams,
         unnest(grams) AS gr
  FROM g
), pergram AS (
  SELECT doc_id, n_tokens, n_grams, n_distinct_grams, gr, COUNT(*) AS c
  FROM e GROUP BY ALL
)
SELECT doc_id,
       CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       CAST(max(n_grams) AS BIGINT) AS n_grams,
       CAST(max(n_distinct_grams) AS BIGINT) AS n_distinct_grams,
       CAST(max(c) AS BIGINT) AS top_gram_count,
       CAST(floor((max(n_grams) - max(n_distinct_grams)) * 1e0
                  / max(n_grams) * 1e4 + 5e-1) / 1e4 AS DOUBLE)
         AS dup_ngram_frac,
       CAST(floor(max(c) * 1e0 / max(n_grams) * 1e4 + 5e-1) / 1e4 AS DOUBLE)
         AS top_ngram_frac
FROM pergram GROUP BY doc_id ORDER BY doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any 8-gram
    with the eval set.  Fixture: docs with doc_id % 97 == 0 ARE the
    benchmark; docs with doc_id % 10 == 3 get the benchmark's doc-0 lead
    8-gram spliced in (the planted leak the scan must find).  Benchmark
    grams broadcast; the corpus text never shuffles."""
    from ocrd_calamari_spark.functions.dedup import decontaminate

    # single-file fixture → re-parallelize before the per-row gram explode
    # (real tables scan as many splits; see q_repetition_quality)
    d = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .repartition(4 * spark.sparkContext.defaultParallelism, "doc_id")
    )
    benchmark = d.where(F.col("doc_id") % 97 == 0)
    leak = benchmark.where(F.col("doc_id") == 0).select(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).alias("_leak")
    )
    corpus = (
        d.where(F.col("doc_id") % 97 != 0)
        .crossJoin(F.broadcast(leak))
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 3,
                F.concat("text", F.lit(" "), "_leak"),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    out = decontaminate(corpus, benchmark, "doc_id", "text", n=8)
    return out.select("doc_id", "n_leaked_ngrams", "contaminated").transform(_psort, 
        "doc_id"
    )


DECONTAMINATE_SQL = """
WITH leak AS (
  SELECT array_to_string(string_split(text, ' ')[1:8], ' ') AS l
  FROM documents WHERE doc_id = 0
), corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 10 = 3 THEN text || ' ' || (SELECT l FROM leak)
              ELSE text END AS text
  FROM documents WHERE doc_id % 97 <> 0
), bench_g AS (
  SELECT DISTINCT unnest(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
           i -> array_to_string(string_split(text, ' ')[i : i + 7], ' ')))
         AS g
  FROM documents WHERE doc_id % 97 = 0
), doc_g AS (
  SELECT DISTINCT doc_id, unnest(list_transform(
           generate_series(1, greatest(len(string_split(text, ' ')) - 7, 1)),
           i -> array_to_string(string_split(text, ' ')[i : i + 7], ' ')))
         AS g
  FROM corpus
), hits AS (
  SELECT doc_id, COUNT(*) AS n
  FROM doc_g JOIN bench_g USING (g) GROUP BY doc_id
)
SELECT c.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_leaked_ngrams,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
ORDER BY c.doc_id
"""


def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decontaminate's LARGE-catalog form on the same planted-leak
    fixture: the catalog gram set ships as a 128 KiB Bloom bitset
    instead of a broadcast hash table, corpus grams pre-filter through
    it vectorized, and one exact verify join removes the false
    positives — answers identical to the exact intersection, so it
    shares decontaminate's oracle."""
    from ocrd_calamari_spark.functions.dedup import bloom_decontaminate

    d = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .repartition(4 * spark.sparkContext.defaultParallelism, "doc_id")
    )
    benchmark = d.where(F.col("doc_id") % 97 == 0)
    leak = benchmark.where(F.col("doc_id") == 0).select(
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)).alias("_leak")
    )
    corpus = (
        d.where(F.col("doc_id") % 97 != 0)
        .crossJoin(F.broadcast(leak))
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 10 == 3,
                F.concat("text", F.lit(" "), "_leak"),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    out = bloom_decontaminate(corpus, benchmark, "doc_id", "text", n=8)
    return out.select("doc_id", "n_leaked_ngrams", "contaminated").orderBy(
        "doc_id"
    )


def q_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quota sampling: keep the 3 highest-quality docs per host
    (C4/RefinedWeb-style domain caps so megasites cannot dominate the
    corpus).  One window per host; at 10^12 rows the host hash is the
    shuffle key and the quota bounds each partition's retained rows."""
    d = _t(spark, sf_dir, "documents")
    host = F.concat(
        F.lit("host"), F.lpad((F.col("doc_id") % 40).cast("string"), 2, "0")
    )
    from ocrd_calamari_spark.functions.text import quality_score

    scored = d.select(
        host.alias("host"), "doc_id", quality_score("text").alias("q")
    )
    w = Window.partitionBy("host").orderBy(F.desc("q"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 3)
        .orderBy("host", "rank")
    )


def _domain_quota_sql() -> str:
    from ocrd_calamari_spark.functions.text import quality_score_sql

    return f"""
WITH scored AS (
  SELECT 'host' || lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0') AS host,
         doc_id, {quality_score_sql('text')} AS q
  FROM documents
), ranked AS (
  SELECT host, doc_id, q,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY q DESC, doc_id)
           AS rank
  FROM scored
)
SELECT host, doc_id, q, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3 ORDER BY host, rank
"""


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: a delta keeps only docs byte-new vs the
    prior run's fingerprint catalog AND unclaimed by a smaller delta id.
    Fixture: catalog = docs 0..249; delta = docs 250.. PLUS recrawled
    copies of docs 0..19 (ids +3000000, dropped via the catalog) and a
    second copy of doc 250 (id +4000000, dropped within-delta) — both
    drop paths exercised.  Only (fp, id) pairs shuffle; text rides a
    final semi-join."""
    from ocrd_calamari_spark.functions.dedup import dedup_against_catalog
    from ocrd_calamari_spark.functions.text import fingerprint

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    catalog = (
        d.where(F.col("doc_id") < 250)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    recrawls = d.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), "text"
    )
    within_dup = d.where(F.col("doc_id") == 250).select(
        (F.col("doc_id") + 4000000).alias("doc_id"), "text"
    )
    delta = (
        d.where(F.col("doc_id") >= 250)
        .unionByName(recrawls)
        .unionByName(within_dup)
    )
    kept = dedup_against_catalog(delta, catalog, "doc_id", "text")
    return kept.select(
        "doc_id",
        F.substring(F.md5(F.col("text").cast("binary")), 1, 16).alias("fp"),
    ).orderBy("doc_id")


INCREMENTAL_DEDUP_SQL = """
WITH catalog AS (
  SELECT DISTINCT substr(md5(text), 1, 16) AS fp
  FROM documents WHERE doc_id < 250
), delta AS (
  SELECT doc_id, text FROM documents WHERE doc_id >= 250
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 4000000, text FROM documents WHERE doc_id = 250
), fps AS (
  SELECT doc_id, text, substr(md5(text), 1, 16) AS fp FROM delta
), reps AS (
  SELECT fp, min(doc_id) AS doc_id FROM fps GROUP BY fp
), new_reps AS (
  SELECT r.doc_id FROM reps r ANTI JOIN catalog c ON r.fp = c.fp
)
SELECT f.doc_id, f.fp
FROM fps f SEMI JOIN new_reps n ON f.doc_id = n.doc_id
ORDER BY f.doc_id
"""


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain boilerplate-LINE removal (CCNet-style paragraph dedup):
    a line that occurs in ≥ 50 % of a domain's documents is boilerplate
    (headers, nav menus, copyright footers); each document is rebuilt
    from its surviving lines in order.  The statistical complement of the
    kernel's DOM-structural block classifier (SURVEY §2.2): the kernel
    votes per PAGE from tag structure, this op votes per DOMAIN from
    cross-page repetition — the two catch different boilerplate.

    Fixture: documents.text wrapped in deterministic domain header / nav /
    copyright lines (same doc_id % 40 domain scheme as the pages table),
    so the op provably strips all three and returns the body byte-exact.

    All JVM; exact integer threshold (df·2 ≥ docs, no float cutoff) and
    md5 line hashes, so the DuckDB oracle matches byte-for-byte.  At
    100 TB: lines shuffle once as (domain, line_hash, doc) triples with
    map-side partial aggregation; the per-domain doc-count side is
    domain-cardinality and broadcast; reassembly shuffles each document's
    surviving lines once, keyed by doc_id — text crosses the wire exactly
    twice (df pass ships only hashes), which is the CCNet lower bound."""
    from ocrd_calamari_spark.functions.text import strip_boilerplate_lines

    docs = _tw(spark, sf_dir, "documents").select("doc_id", "text")
    dom = F.lpad((F.col("doc_id") % 40).cast("string"), 2, "0")
    page_text = F.concat(
        F.lit("Welcome to host"), dom, F.lit("\n"),
        F.lit("Home | About | Contact\n"),
        F.col("text"),
        F.lit("\nCopyright host"), dom,
    )
    corpus = docs.select(
        "doc_id", dom.alias("domain"), page_text.alias("text")
    )
    return strip_boilerplate_lines(corpus).transform(_psort, "doc_id")


BOILERPLATE_LINES_SQL = r"""
WITH docs AS (
  SELECT doc_id,
         lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0') AS domain,
         'Welcome to host' || lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0')
         || chr(10) || 'Home | About | Contact' || chr(10) || text
         || chr(10) || 'Copyright host'
         || lpad(CAST(doc_id % 40 AS VARCHAR), 2, '0') AS page_text
  FROM documents
), split_docs AS (
  SELECT doc_id, domain, string_split(page_text, chr(10)) AS parts
  FROM docs
), lines AS (
  SELECT doc_id, domain,
         generate_subscripts(parts, 1) - 1 AS line_no,
         unnest(parts) AS line
  FROM split_docs
), per_dom AS (
  SELECT domain, COUNT(DISTINCT doc_id) AS _docs FROM lines GROUP BY domain
), df_line AS (
  SELECT domain, md5(line) AS _h, COUNT(DISTINCT doc_id) AS _df
  FROM lines GROUP BY domain, md5(line)
), flagged AS (
  SELECT l.doc_id, l.line_no, l.line,
         (d._df * 2 >= p._docs) AS _boiler
  FROM lines l
  JOIN df_line d ON l.domain = d.domain AND md5(l.line) = d._h
  JOIN per_dom p ON l.domain = p.domain
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN _boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       COALESCE(string_agg(CASE WHEN NOT _boiler THEN line END, chr(10)
                           ORDER BY line_no), '') AS clean_text
FROM flagged GROUP BY doc_id ORDER BY doc_id
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing plan: documents (+1 EOS each) concatenated in
    doc_id order and cut into 512-token training sequences — per doc, its
    global start offset and the sequence ids it spans.  The global running
    offset comes from the DISTRIBUTED prefix sum (range-bucket subtotals →
    broadcast bases → within-bucket window), not a single-partition
    global-order window; the oracle computes the same offsets with a plain
    SQL window (correct in DuckDB, a funnel on a cluster)."""
    from ocrd_calamari_spark.functions.text import packed_offsets

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = d.select(
        "doc_id",
        (F.expr(token_count_sql("text")) + 1).cast("long").alias("_w"),
    )
    o = packed_offsets(t, "doc_id", "_w", n_buckets=32)
    seq = F.lit(512).cast("long")
    last_tok = F.col("_start_offset") + F.col("_w") - 2  # last CONTENT token
    return o.select(
        "doc_id",
        (F.col("_w") - 1).alias("n_tokens"),
        F.col("_start_offset").alias("start_offset"),
        F.floor(F.col("_start_offset") / seq).cast("long").alias("seq_first"),
        F.floor(last_tok / seq).cast("long").alias("seq_last"),
        (F.floor(last_tok / seq) - F.floor(F.col("_start_offset") / seq) + 1)
        .cast("long").alias("n_seqs"),
    ).transform(_psort, "doc_id")


def _pack_sequences_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, CAST({token_count_sql('text')} AS BIGINT) AS tok
  FROM documents
), o AS (
  SELECT doc_id, tok,
         COALESCE(SUM(tok + 1) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_offset
  FROM t
)
SELECT doc_id,
       tok AS n_tokens,
       CAST(start_offset AS BIGINT) AS start_offset,
       CAST(start_offset // 512 AS BIGINT) AS seq_first,
       CAST((start_offset + tok - 1) // 512 AS BIGINT) AS seq_last,
       CAST((start_offset + tok - 1) // 512
            - start_offset // 512 + 1 AS BIGINT) AS n_seqs
FROM o ORDER BY doc_id
"""


def q_prepare_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data prep pipeline in one plan: exact dedup
    (keep min-id representative) → quality filter → language allowlist →
    per-lang doc/token/quality budget.  Every stage is an engine operator
    the driver also checks individually; this query proves they compose —
    and the whole thing is one Catalyst plan (dedup semi-join + scan-level
    pushdown of the lang filter), not a chain of materializations."""
    from ocrd_calamari_spark.functions.dedup import distinct_by_text

    d = _t(spark, sf_dir, "documents")
    kept = distinct_by_text(d)
    scored = kept.withColumn("q", F.expr(quality_score_sql("text"))).withColumn(
        "tok", F.expr(token_count_sql("text"))
    )
    filt = scored.where(
        (F.col("q") >= 0.5) & F.col("lang").isin("en", "de", "fr")
    )
    return (
        filt.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("bigint").alias("sum_tokens"),
            # per-doc q is already floor-quantized to 4 decimals; summing
            # as DECIMAL keeps the aggregate order-independent and exact
            F.sum(F.col("q").cast("decimal(18,4)"))
            .cast("double").alias("sum_quality"),
        )
        .orderBy("lang")
    )


def _prepare_corpus_sql() -> str:
    return f"""
WITH kept AS (
  SELECT min(doc_id) AS doc_id
  FROM documents GROUP BY substr(md5(text), 1, 16)
), base AS (
  SELECT d.lang,
         {quality_score_sql('text')} AS q,
         {token_count_sql('text')} AS tok
  FROM documents d JOIN kept k ON d.doc_id = k.doc_id
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS sum_tokens,
       CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE) AS sum_quality
FROM base
WHERE q >= 5e-1 AND lang IN ('en', 'de', 'fr')
GROUP BY lang ORDER BY lang
"""


PREPARE_CORPUS_SQL = _prepare_corpus_sql()


# ---------------------------------------------------------------------------
# More relational shapes (all DuckDB-oracled)
# ---------------------------------------------------------------------------


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade with exact per-stage drop accounting in
    ONE corpus scan (functions/text.py:quality_funnel): every signal
    computed once in a single projection, first-failing CASE cascade,
    5-row agg of doc and token counts.  Shared-SQL signals, hash-exact
    vs the identically-cascaded DuckDB twin."""
    from ocrd_calamari_spark.functions.text import quality_funnel

    return quality_funnel(
        _t(spark, sf_dir, "documents")
    ).orderBy("stage_no")


def _funnel_sql() -> str:
    from ocrd_calamari_spark.functions.text import (
        FUNNEL_STAGE_NAMES, funnel_stage_sql, token_count_sql)

    name = "CASE stage_no " + " ".join(
        f"WHEN {i + 1} THEN '{n}'"
        for i, n in enumerate(FUNNEL_STAGE_NAMES)
    ) + " END"
    return f"""
WITH staged AS (
  SELECT {funnel_stage_sql('text')} AS stage_no,
         CAST({token_count_sql('text')} AS BIGINT) AS _nt
  FROM documents
)
SELECT CAST(stage_no AS BIGINT) AS stage_no, {name} AS stage,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(_nt) AS BIGINT) AS n_tokens
FROM staged GROUP BY stage_no ORDER BY stage_no
"""


QUALITY_FUNNEL_SQL = _funnel_sql()


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl snapshot diff: classify every url as added /
    removed / changed / unchanged between the previous crawl and the
    current one — the CDC step that decides what a refresh pipeline
    re-extracts.  The previous snapshot is derived deterministically from
    the current (every 11th url didn't exist yet → added; every 5th ≡ 1
    carried an older revision → changed; 40 synthetic urls have since
    been deleted → removed).  Scale shape: both sides reduce to
    (doc_id, 16-byte fingerprint) BEFORE the full-outer join — text never
    shuffles, and the join is the only exchange."""
    from ocrd_calamari_spark.functions.text import fingerprint

    d = _t(spark, sf_dir, "documents")
    cur = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    prev_live = (
        d.where(F.col("doc_id") % 11 != 0)
        .select(
            "doc_id",
            fingerprint(
                F.when(
                    F.col("doc_id") % 5 == 1,
                    F.concat(F.col("text"), F.lit(" legacy-revision")),
                ).otherwise(F.col("text"))
            ).alias("fp_prev"),
        )
    )
    prev_gone = d.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        fingerprint(F.col("text")).alias("fp_prev"),
    )
    prev = prev_live.unionByName(prev_gone)
    out = cur.join(prev, "doc_id", "full").select(
        "doc_id",
        F.when(F.col("fp_prev").isNull(), "added")
        .when(F.col("fp").isNull(), "removed")
        .when(F.col("fp") != F.col("fp_prev"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return out.orderBy("doc_id")


def _snapshot_diff_sql() -> str:
    from ocrd_calamari_spark.functions.text import fingerprint_sql_duckdb

    fp_text = fingerprint_sql_duckdb("text")
    fp_old = fingerprint_sql_duckdb(
        "CASE WHEN doc_id % 5 = 1 THEN text || ' legacy-revision' "
        "ELSE text END"
    )
    return f"""
WITH cur AS (
  SELECT doc_id, {fp_text} AS fp FROM documents
), prev AS (
  SELECT doc_id, {fp_old} AS fp_prev
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, {fp_text} AS fp_prev
  FROM documents WHERE doc_id < 40
)
SELECT COALESCE(cur.doc_id, prev.doc_id) AS doc_id,
       CASE WHEN prev.fp_prev IS NULL THEN 'added'
            WHEN cur.fp IS NULL THEN 'removed'
            WHEN cur.fp <> prev.fp_prev THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id
ORDER BY doc_id
"""


def q_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style canonical-text exact dedup
    (functions/dedup.py:normalized_duplicates): lowercase, strip
    punctuation, collapse whitespace, THEN hash — catching trivial
    variants (case flips, punctuation noise) that raw exact dedup
    misses, with no candidate-pair stage.  Variants are injected for the
    first 50 docs (uppercased + trailing '!!').  Scale shape: rows
    reduce to (id, 16-byte fingerprint) before the one exchange; text
    never shuffles."""
    from ocrd_calamari_spark.functions.dedup import normalized_duplicates

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.unionByName(variants)
    return normalized_duplicates(corpus, "doc_id", "text").orderBy("doc_id")


NORMALIZED_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, upper(text) || ' !!'
  FROM documents WHERE doc_id < 50
), n AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM corpus
)
SELECT doc_id,
       CAST(min(doc_id) OVER (PARTITION BY norm) AS BIGINT) AS rep_id,
       CAST(count(*) OVER (PARTITION BY norm) AS BIGINT) AS n_members,
       doc_id <> min(doc_id) OVER (PARTITION BY norm) AS is_dup
FROM n ORDER BY doc_id
"""


def q_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-cleaning pipeline as ONE plan — the interop
    flagship: soft-404 screen → mojibake screen → length/token floor →
    normalized first-occurrence dedup → per-language accounting, each
    stage the registry's own operator semantics (first-failing
    attribution like quality_funnel).  Fixture: the soft404 + mojibake
    damage injections plus upper-cased '!!' normalized-dup variants for
    doc_id%7==0, so every stage provably drops rows.  Scale shape: all
    four stage predicates fuse into the scan-side codegen projection,
    reducing each row to compact (doc, lang, stage, tokc, 16-byte norm
    fp) BEFORE anything moves — text never shuffles; the dedup window
    hash-partitions on the fp and the two per-lang aggs are
    dimension-sized.  The stage-count agg and the survivor window each
    read the staged projection (two scans of the source — at corpus
    scale persist the staged frame instead if the storage tier makes
    re-scan the costlier side; both are row-local-cheap)."""
    d = _tw(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    variants = d.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.unionByName(variants)
    from ocrd_calamari_spark.functions.text import (
        _MOJI_LATIN, _MOJI_PUNCT, _MOJI_REPL, token_count_sql)

    eff = (
        F.when(
            F.col("doc_id") % 23 == 5,
            F.lit(
                "Error 404: Page Not Found. The requested URL was rejected."
            ),
        )
        .when(
            F.col("doc_id") % 23 == 9,
            F.lit(
                "Access Denied. Please enable JavaScript and complete the"
                " CAPTCHA to continue."
            ),
        )
        .when(
            F.col("doc_id") % 19 == 3,
            F.concat(F.col("text"), F.lit(_MOJI_BAD_SUFFIX)),
        )
        .when(
            F.col("doc_id") % 19 == 9,
            F.concat(
                F.col("text"),
                F.expr(
                    f"repeat('{_MOJI_REPL}', cast(doc_id % 4 + 1 as int))"
                ),
            ),
        )
        .otherwise(F.col("text"))
    )
    staged = corpus.select("doc_id", "lang", eff.alias("text"))
    low = F.lower(F.col("text"))
    soft404 = (
        (F.instr(low, "page not found") > 0)
        | (F.instr(low, "access denied") > 0)
        | (F.instr(low, "enable javascript") > 0)
        | (F.instr(low, "captcha") > 0)
    )
    moji = (
        (F.length("text") - F.length(F.replace(F.col("text"),
                                               F.lit(_MOJI_REPL))) > 0)
        | (F.length("text") - F.length(F.replace(F.col("text"),
                                                 F.lit(_MOJI_PUNCT))) > 0)
        | (F.length("text") - F.length(F.replace(F.col("text"),
                                                 F.lit(_MOJI_LATIN))) > 0)
    )
    tokc = F.expr(token_count_sql("text")).cast("long")
    lowq = (tokc < 10) | (F.length("text") > 20000)
    from ocrd_calamari_spark.functions.dedup import NORMALIZE_FOR_DEDUP_SQL

    staged = staged.select(
        "doc_id",
        "lang",
        tokc.alias("tokc"),
        F.when(soft404, F.lit(1))
        .when(moji, F.lit(2))
        .when(lowq, F.lit(3))
        .otherwise(F.lit(0))
        .alias("stage"),
        F.substring(
            F.md5(
                F.expr(NORMALIZE_FOR_DEDUP_SQL.format(t="text"))
                .cast("binary")
            ), 1, 16,
        ).alias("norm"),
    )
    from pyspark.sql import Window

    filt = staged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_raw"),
        F.sum((F.col("stage") == 1).cast("long")).alias("n_soft404"),
        F.sum((F.col("stage") == 2).cast("long")).alias("n_mojibake"),
        F.sum((F.col("stage") == 3).cast("long")).alias("n_lowq"),
    )
    surv = staged.where(F.col("stage") == 0)
    w = Window.partitionBy("norm")
    surv = surv.withColumn("rep", F.min("doc_id").over(w))
    ded = surv.groupBy("lang").agg(
        F.sum((F.col("doc_id") != F.col("rep")).cast("long")).alias("n_dup"),
        F.sum((F.col("doc_id") == F.col("rep")).cast("long")).alias(
            "n_kept"
        ),
        F.sum(
            F.when(F.col("doc_id") == F.col("rep"), F.col("tokc"))
            .otherwise(F.lit(0))
        ).cast("long").alias("kept_tokens"),
    )
    return (
        filt.join(ded, "lang", "left")
        .select(
            "lang",
            "n_raw",
            "n_soft404",
            "n_mojibake",
            "n_lowq",
            F.coalesce("n_dup", F.lit(0)).cast("long").alias("n_dup"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
        )
        .transform(_psort, "lang")
    )


# one shared literal for the injected encoding damage — Spark query and
# DuckDB oracle both embed THIS string (same discipline as the soft-404
# templates): 'â€' ×2 (double-encoded U+2019/U+201C punctuation) and
# 'Ã' ×1 (double-encoded Latin-1 letter), zero replacement chars.
_MOJI_BAD_SUFFIX = " Itâ€™s a â€œbrokenÃ© page."

CLEAN_PIPELINE_SQL = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, lang, upper(text) || ' !!' AS text
  FROM documents WHERE doc_id % 7 = 0
), eff AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 23 = 5 THEN
                'Error 404: Page Not Found. The requested URL was rejected.'
              WHEN doc_id % 23 = 9 THEN
                'Access Denied. Please enable JavaScript and complete the'
                || ' CAPTCHA to continue.'
              WHEN doc_id % 19 = 3 THEN text || '{_MOJI_BAD_SUFFIX}'
              WHEN doc_id % 19 = 9 THEN
                text || repeat(chr(65533), CAST(doc_id % 4 + 1 AS INTEGER))
              ELSE text END AS text
  FROM corpus
), staged AS (
  SELECT doc_id, lang,
         CAST(length(text) - length(replace(text, ' ', '')) + 1
              AS BIGINT) AS tokc,
         CASE WHEN contains(lower(text), 'page not found')
                OR contains(lower(text), 'access denied')
                OR contains(lower(text), 'enable javascript')
                OR contains(lower(text), 'captcha') THEN 1
              WHEN length(text) - length(replace(text, chr(65533), '')) > 0
                OR length(text) - length(replace(text, 'â€', '')) > 0
                OR length(text) - length(replace(text, 'Ã', '')) > 0 THEN 2
              WHEN (length(text) - length(replace(text, ' ', '')) + 1) < 10
                OR length(text) > 20000 THEN 3
              ELSE 0 END AS stage,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM eff
), filt AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_raw,
         CAST(sum(CASE WHEN stage = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_soft404,
         CAST(sum(CASE WHEN stage = 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_mojibake,
         CAST(sum(CASE WHEN stage = 3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lowq
  FROM staged GROUP BY lang
), surv AS (
  SELECT lang, doc_id, tokc,
         min(doc_id) OVER (PARTITION BY norm) AS rep
  FROM staged WHERE stage = 0
), ded AS (
  SELECT lang,
         CAST(sum(CASE WHEN doc_id <> rep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup,
         CAST(sum(CASE WHEN doc_id = rep THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
         CAST(sum(CASE WHEN doc_id = rep THEN tokc ELSE 0 END) AS BIGINT)
           AS kept_tokens
  FROM surv GROUP BY lang
)
SELECT f.lang, f.n_raw, f.n_soft404, f.n_mojibake, f.n_lowq,
       COALESCE(d.n_dup, 0) AS n_dup,
       COALESCE(d.n_kept, 0) AS n_kept,
       COALESCE(d.kept_tokens, 0) AS kept_tokens
FROM filt f LEFT JOIN ded d USING (lang) ORDER BY f.lang
"""


def q_mojibake_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage (mojibake) screen: counts of U+FFFD replacement
    characters, double-encoded punctuation ('â€'), and double-encoded
    Latin-1 letters ('Ã') per document
    (functions/text.py:mojibake_scores) — the hygiene gate run before
    any quality scoring (ftfy's detection catalog, counted exactly).
    Damage is injected deterministically (every 19th ≡ 3 a
    double-encoded suffix, ≡ 9 a run of 1-4 replacement chars).  Scale
    shape: pure row-local map — three replace/length pairs in codegen,
    zero shuffles beyond the scan."""
    from ocrd_calamari_spark.functions.text import (
        _MOJI_REPL, mojibake_scores)

    d = _tw(spark, sf_dir, "documents").select("doc_id", "text")
    eff = (
        F.when(
            F.col("doc_id") % 19 == 3,
            F.concat(F.col("text"), F.lit(_MOJI_BAD_SUFFIX)),
        )
        .when(
            F.col("doc_id") % 19 == 9,
            F.concat(
                F.col("text"),
                F.expr(
                    f"repeat('{_MOJI_REPL}',"
                    " cast(doc_id % 4 + 1 as int))"
                ),
            ),
        )
        .otherwise(F.col("text"))
    )
    return mojibake_scores(d.select("doc_id", eff.alias("text"))).transform(_psort, 
        "doc_id"
    )


MOJIBAKE_SQL = f"""
WITH corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 19 = 3 THEN text || '{_MOJI_BAD_SUFFIX}'
              WHEN doc_id % 19 = 9 THEN
                text || repeat(chr(65533),
                               CAST(doc_id % 4 + 1 AS INTEGER))
              ELSE text END AS text
  FROM documents
), c AS (
  SELECT doc_id,
         CAST(length(text) - length(replace(text, chr(65533), ''))
              AS BIGINT) AS n_repl,
         CAST((length(text) - length(replace(text, 'â€', ''))) // 2
              AS BIGINT) AS n_punct,
         CAST(length(text) - length(replace(text, 'Ã', ''))
              AS BIGINT) AS n_latin
  FROM corpus
)
SELECT doc_id, n_repl, n_punct, n_latin,
       (n_repl > 0 OR n_punct > 0 OR n_latin > 0) AS is_mojibake
FROM c ORDER BY doc_id
"""


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: every doc gets a seeded
    portable hash; shard = hash mod N, position = hash-order rank WITHIN
    the shard.  This is the training-data writer's layout (N shard files,
    each internally hash-ordered; readers interleave shards round-robin)
    — and deliberately NOT a global row_number, whose single-task
    global-order window is exactly what a 10^12-row shuffle cannot do.
    Scale shape: one hash-partition exchange on `shard`; the per-shard
    sort is the sink's sortWithinPartitions, each task bounded by
    corpus/N.  Reordering is a pure function of (seed, doc_id): stable
    under reruns and cluster size."""
    from ocrd_calamari_spark.functions.dedup import PORTABLE_TOKEN_HASH_SQL

    d = _t(spark, sf_dir, "documents").select("doc_id")
    h = F.expr(
        PORTABLE_TOKEN_HASH_SQL.format(
            t="concat('shuf42:', cast(doc_id as string))"
        )
    )
    keyed = d.select(
        "doc_id", h.alias("_h"), F.pmod(h, F.lit(16)).alias("shard")
    )
    w = Window.partitionBy("shard").orderBy("_h", "doc_id")
    return (
        keyed.withColumn("pos", (F.row_number().over(w) - 1).cast("bigint"))
        .select("doc_id", F.col("shard").cast("bigint").alias("shard"), "pos")
        .orderBy("shard", "pos")
    )


GLOBAL_SHUFFLE_SQL = """
WITH h AS (
  SELECT doc_id,
         ('0x' || substr(md5('shuf42:' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT AS h
  FROM documents
)
SELECT doc_id, CAST(h % 16 AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 16 ORDER BY h, doc_id) - 1
            AS BIGINT) AS pos
FROM h ORDER BY shard, pos
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact paragraph dedup, FIRST-occurrence-wins (the CCNet
    cross-shard paragraph pass): every repeat of a paragraph anywhere in
    the corpus is removed, documents rebuilt byte-exact from survivors.
    Complements `boilerplate_lines` (per-DOMAIN df threshold — a paragraph
    must repeat within its domain): this is the global exact-paragraph
    rule.  Fixture:
    docs share an intro paragraph per doc_id%5 group and a closing one per
    doc_id%3 group; both collapse to their first global occurrence.

    Scale shape: paragraphs shuffle once into md5-hash partitions for the
    first-occurrence rank (group size = dup multiplicity), survivors
    shuffle once more keyed by doc_id for reassembly — text crosses the
    wire exactly twice, the same CCNet lower bound as boilerplate_lines;
    the rank ships (hash, doc, idx) and is a streaming row_number, never
    a buffered aggregate."""
    d = _tw(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.select(
        "doc_id",
        F.concat(
            F.lit("Shared intro paragraph number "),
            (F.col("doc_id") % 5).cast("string"), F.lit("\n"),
            F.col("text"), F.lit("\nCommon closing paragraph "),
            (F.col("doc_id") % 3).cast("string"),
        ).alias("text"),
    )
    from ocrd_calamari_spark.functions.text import dedup_paragraphs_global

    return dedup_paragraphs_global(corpus).transform(_psort, "doc_id")


PARAGRAPH_DEDUP_SQL = """
WITH corpus AS (
  SELECT doc_id,
         'Shared intro paragraph number ' || CAST(doc_id % 5 AS VARCHAR)
         || chr(10) || text || chr(10)
         || 'Common closing paragraph ' || CAST(doc_id % 3 AS VARCHAR)
           AS text
  FROM documents
), paras AS (
  SELECT doc_id, generate_subscripts(ps, 1) - 1 AS idx, unnest(ps) AS para
  FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM corpus)
), kept AS (
  SELECT doc_id, idx, para FROM (
    SELECT doc_id, idx, para,
           row_number() OVER (PARTITION BY md5(para)
                              ORDER BY doc_id, idx) AS rn
    FROM paras
  ) WHERE rn = 1
), totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras FROM paras GROUP BY 1
), rebuilt AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(para, chr(10) ORDER BY idx) AS new_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_paras,
       t.n_paras - COALESCE(r.n_kept, 0) AS n_removed,
       COALESCE(r.new_text, '') AS new_text
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY doc_id
"""


def q_exact_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-k uniform sample: the 64 docs with the lowest
    seeded portable hash — the eval-set carve (a Bernoulli sample has
    an expected size only; an eval set needs EXACTLY k, reproducibly).
    Scale shape: orderBy+limit plans as TakeOrdered (per-partition
    top-k, k-row merge — never a global sort);
    membership is a pure function of (seed, doc_id): corpus growth only
    ever swaps items whose hash crosses the k-th order statistic, it
    never reshuffles the rest."""
    from ocrd_calamari_spark.functions.dedup import PORTABLE_TOKEN_HASH_SQL

    d = _t(spark, sf_dir, "documents")
    h = F.expr(
        PORTABLE_TOKEN_HASH_SQL.format(
            t="concat('sample7:', cast(doc_id as string))"
        )
    )
    return (
        d.select("doc_id", h.alias("h"))
        .orderBy("h", "doc_id")
        .limit(64)
        .select("doc_id", "h")
    )


EXACT_SAMPLE_SQL = """
SELECT doc_id,
       ('0x' || substr(md5('sample7:' || CAST(doc_id AS VARCHAR)), 1, 15))
         ::BIGINT AS h
FROM documents
ORDER BY h, doc_id LIMIT 64
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------
# The correctness harness behind __spark_entry__.py samples the first ~50
# keys; all 27 entries fall inside that sample, so their order carries no
# meaning.
QUERIES = {
    "repetition_quality": q_repetition_quality,
    "decontaminate": q_decontaminate,
    "domain_quota": q_domain_quota,
    "incremental_dedup": q_incremental_dedup,
    "pack_sequences": q_pack_sequences,
    "boilerplate_lines": q_boilerplate_lines,
    "extract_golden_diff": q_extract_golden_diff,
    "bloom_decontaminate": q_bloom_decontaminate,
    "quality_funnel": q_quality_funnel,
    "snapshot_diff": q_snapshot_diff,
    "normalized_dedup": q_normalized_dedup,
    "global_shuffle": q_global_shuffle,
    "paragraph_dedup": q_paragraph_dedup,
    "exact_sample": q_exact_sample,
    "chunk_documents": q_chunk_documents,
    "exact_dup_groups": q_exact_dup_groups,
    "extract_pages": q_extract_pages,
    "extract_word_spans": q_extract_word_spans,
    "extract_sequence_voter": q_extract_sequence_voter,
    "extract_glyph_spans": q_extract_glyph_spans,
    "token_stats": q_token_stats,
    "quality_scores": q_quality_scores,
    "lang_id": q_lang_id,
    "prepare_corpus": q_prepare_corpus,
    "mojibake_detect": q_mojibake_detect,
    "clean_pipeline": q_clean_pipeline,
    "lang_mix": q_lang_mix,
}

ORACLES = {
    "normalized_dedup": NORMALIZED_DEDUP_SQL,
    "mojibake_detect": MOJIBAKE_SQL,
    "clean_pipeline": CLEAN_PIPELINE_SQL,
    "lang_mix": LANG_MIX_SQL,
    "global_shuffle": GLOBAL_SHUFFLE_SQL,
    "paragraph_dedup": PARAGRAPH_DEDUP_SQL,
    "exact_sample": EXACT_SAMPLE_SQL,
    "extract_golden_diff": GOLDEN_DIFF_SQL,
    "quality_funnel": QUALITY_FUNNEL_SQL,
    "bloom_decontaminate": DECONTAMINATE_SQL,
    "snapshot_diff": _snapshot_diff_sql(),
    "token_stats": TOKEN_STATS_SQL,
    "quality_scores": QUALITY_SQL,
    "lang_id": LANG_ID_SQL,
    "chunk_documents": CHUNK_SQL,
    "exact_dup_groups": EXACT_DUP_GROUPS_SQL,
    "prepare_corpus": PREPARE_CORPUS_SQL,
    "repetition_quality": REPETITION_SQL,
    "decontaminate": DECONTAMINATE_SQL,
    "domain_quota": _domain_quota_sql(),
    "incremental_dedup": INCREMENTAL_DEDUP_SQL,
    "pack_sequences": _pack_sequences_sql(),
    "boilerplate_lines": BOILERPLATE_LINES_SQL,
}
