"""Text analysis over document tables — language ID, quality scoring,
token counting, fingerprinting, repetition signals, the quality-filter
funnel and the mojibake screen.

All functions return JVM-side Column expressions or DataFrames
(whole-stage codegen, no Python in the loop).  The scoring expressions
are written with length/replace/greatest/case arithmetic only — no
regexp — so every count is an exact integer.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# Token counting.  The SQL variant assumes single-space-separated text
# (true for the synthetic documents table); the robust variant handles
# arbitrary whitespace.
# ---------------------------------------------------------------------------
def token_count_sql(col: str = "text") -> str:
    """Spark SQL: token count for single-space-separated text."""
    return f"length({col}) - length(replace({col}, ' ', '')) + 1"


def token_count(col) -> Column:
    """Robust token count (Spark-side): split on whitespace runs.

    Empty / whitespace-only text counts 0 (``split('')`` returns [''],
    size 1 — the raw expression over-counts blank docs by one, which
    would let them through min-length filters)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


# ---------------------------------------------------------------------------
# Quality scoring: length, punctuation density, mean token length.
# Built only from length/replace arithmetic → byte-identical across engines.
# ---------------------------------------------------------------------------
def _count_char_sql(col: str, ch: str) -> str:
    return f"length({col}) - length(replace({col}, '{ch}', ''))"


def quality_score_sql(col: str = "text") -> str:
    """Spark SQL: crude quality in [0,~1.5]: sentence-punct density +
    capped mean token length signal + length signal."""
    n_tok = token_count_sql(col)
    n_punct = f"({_count_char_sql(col, '.')} + {_count_char_sql(col, '!')} + {_count_char_sql(col, '?')})"
    # e-notation literals (4e-1, not 0.4): Spark parses plain decimal
    # literals as DECIMAL; e-notation keeps every op in IEEE doubles.
    # floor(x*1e4+5e-1)/1e4 rounds half up at 4 decimals.
    score = (
        f"  least(1e0, length({col}) / 5e2) * 4e-1"
        f"+ least(1e0, {n_punct} * 1e1 / ({n_tok})) * 3e-1"
        f"+ least(1e0, (length({col}) * 1e0 / ({n_tok})) / 8e0) * 3e-1"
    )
    return f"cast(floor(({score}) * 1e4 + 5e-1) / 1e4 as double)"


def quality_score(col: str = "text") -> Column:
    return F.expr(quality_score_sql(col))


# ---------------------------------------------------------------------------
# Language ID: stopword-marker hit counting, argmax over language profiles.
# The n-gram-heuristic analogue of the reference's per-language model
# selection (MODEL env, test/test_recognize.py:13).
# ---------------------------------------------------------------------------
_LANG_MARKERS = {
    "en": [" the ", " and ", " of ", " is "],
    "de": [" der ", " die ", " und ", " ist "],
    "fr": [" le ", " les ", " des ", " est "],
}


def _marker_hits_sql(col: str, marker: str) -> str:
    pad = f"concat(' ', {col}, ' ')"
    return (
        f"(length({pad}) - length(replace({pad}, '{marker}', '')))"
        f" / {len(marker)}"
    )


def lang_score_sql(col: str, lang: str) -> str:
    parts = " + ".join(_marker_hits_sql(col, m) for m in _LANG_MARKERS[lang])
    return f"({parts})"


def lang_id_sql(col: str = "text") -> str:
    """Shared SQL: argmax language over marker-hit scores ('und' = unknown)."""
    en, de, fr = (lang_score_sql(col, l) for l in ("en", "de", "fr"))
    return (
        f"case"
        f" when {en} >= {de} and {en} >= {fr} and {en} > 0 then 'en'"
        f" when {de} >= {fr} and {de} > 0 then 'de'"
        f" when {fr} > 0 then 'fr'"
        f" else 'und' end"
    )


def lang_id(col: str = "text") -> Column:
    return F.expr(lang_id_sql(col))


# ---------------------------------------------------------------------------
# Document fingerprinting
# ---------------------------------------------------------------------------
def fingerprint(col) -> Column:
    """Stable 64-bit hex fingerprint (md5 prefix) — exact-dup key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(F.md5(c.cast("binary")), 1, 16)
    return f"substr(md5({col}), 1, 16)"


# ---------------------------------------------------------------------------
# Repetition signals (Gopher/C4-style quality filters)
# ---------------------------------------------------------------------------
def word_ngrams(col, n: int = 2) -> Column:
    """Array of space-joined word n-grams (single-space tokenization, as
    ``token_count_sql``).  A document shorter than n yields one truncated gram."""
    c = F.col(col) if isinstance(col, str) else col
    tokens = F.split(c, " ")

    # bind the token array as a lambda variable (single-element outer
    # transform): inlining `tokens` in the per-gram lambda re-splits the
    # document once PER GRAM — O(len²) per row
    def _grams(t):
        idx = F.sequence(F.lit(1), F.greatest(F.size(t) - n + 1, F.lit(1)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))

    return F.element_at(F.transform(F.array(tokens), _grams), 1)


def repetition_stats(df, id_col: str = "doc_id", text_col: str = "text",
                     n: int = 2):
    """Gopher-style repetition quality signals per document, all JVM HOFs:

    - ``dup_ngram_frac``: fraction of n-gram occurrences that repeat an
      earlier occurrence (1 - distinct/total) — boilerplate/looping text
      scores high;
    - ``top_ngram_frac``: share of the single most frequent n-gram
      (the "top 2-gram coverage" filter) — computed as the longest equal
      run of the SORTED gram array via one aggregate() fold, so there is
      no per-document groupBy or explode: one row in, one row out.

    Counts are exact integers (cross-engine safe); fractions are exact
    IEEE divisions of those integers.  At 10^12 rows this is a pure map —
    no shuffle, no Python.
    """
    grams = word_ngrams(text_col, n)
    zero = F.lit(0).cast("long")
    acc0 = F.struct(
        F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")
    )

    def _merge(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_count = F.aggregate(
        F.array_sort(grams), acc0, _merge, lambda acc: acc["best"]
    )
    n_grams = F.size(grams).cast("long")
    n_distinct = F.size(F.array_distinct(grams)).cast("long")
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        n_grams.alias("n_grams"),
        n_distinct.alias("n_distinct_grams"),
        top_count.alias("top_gram_count"),
        ((n_grams - n_distinct).cast("double") / n_grams.cast("double"))
        .alias("dup_ngram_frac"),
        (top_count.cast("double") / n_grams.cast("double"))
        .alias("top_ngram_frac"),
    )


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-slice token packing for LLM training
# (documents + EOS concatenated in a global order, cut into fixed-length
# sequences) — built on a DISTRIBUTED prefix sum, because the naive
# global-order window (`Window.orderBy(...)` with no partition) funnels
# the whole table through ONE task.
# ---------------------------------------------------------------------------
def packed_offsets(df, order_col: str, weight_col: str,
                   n_buckets: int = 64):
    """Exclusive running sum of ``weight_col`` in ``order_col`` order,
    as a ``_start_offset`` column — the distributed prefix-sum pattern:

    1. range-bucket rows by ``order_col`` (floor division by a width
       derived from one max() aggregate);
    2. per-bucket subtotals (tiny: ``n_buckets`` rows) get an exclusive
       prefix sum on a single partition — bounded by construction;
    3. the bases broadcast back and a within-bucket window adds the
       local exclusive cumsum.

    Equivalent to ``sum(weight) over (order by order_col rows unbounded
    preceding to 1 preceding)`` but every unbounded-size operation is
    partitioned; only the ``n_buckets``-row subtotal table is ever
    single-task.  ``order_col`` must be unique (it is the tie-break).
    """
    from pyspark.sql import Window

    r = df.agg(F.min(order_col).alias("lo"),
               F.max(order_col).alias("m")).collect()[0]
    if r["m"] is None:  # empty input: zero rows, but keep the output schema
        return df.withColumn("_start_offset", F.lit(0).cast("long"))
    # width over the RANGE (max - min), not max alone: order values
    # clustered far from zero (epoch-micros ids ~1.7e15) would otherwise
    # all land in the last bucket and the within-bucket window becomes
    # the single-task global sort this function exists to avoid
    lo = int(r["lo"])
    width = max(1, (int(r["m"]) - lo + n_buckets) // n_buckets)
    b = df.withColumn(
        "_bkt",
        F.floor((F.col(order_col) - F.lit(lo)) / F.lit(width)).cast("long"),
    )
    subtotals = b.groupBy("_bkt").agg(
        F.sum(weight_col).cast("long").alias("_sub")
    )
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bases = subtotals.select(
        "_bkt",
        F.coalesce(F.sum("_sub").over(wb), F.lit(0)).alias("_base"),
    )
    wi = (
        Window.partitionBy("_bkt").orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        b.join(F.broadcast(bases), "_bkt")
        .withColumn(
            "_start_offset",
            (F.col("_base")
             + F.coalesce(F.sum(weight_col).over(wi), F.lit(0))).cast("long"),
        )
        .drop("_bkt", "_base")
    )


def funnel_stage_sql(
    text_col: str = "text",
    min_tokens: int = 10,
    max_chars: int = 20000,
    min_quality: str = "5e-1",
) -> str:
    """Spark SQL: FIRST-FAILING-stage number for the
    standard quality funnel (1 too_short, 2 too_long, 3 lang_unknown,
    4 low_quality, 5 kept).  ``min_quality`` is an e-notation string
    literal on purpose (a DOUBLE, not a DECIMAL, comparison)."""
    toks = token_count_sql(text_col)
    return (
        f"case"
        f" when ({toks}) < {min_tokens} then 1"
        f" when length({text_col}) > {max_chars} then 2"
        f" when ({lang_id_sql(text_col)}) = 'und' then 3"
        f" when ({quality_score_sql(text_col)}) < {min_quality} then 4"
        f" else 5 end"
    )


FUNNEL_STAGE_NAMES = (
    "too_short", "too_long", "lang_unknown", "low_quality", "kept"
)


def quality_funnel(
    df,
    text_col: str = "text",
    min_tokens: int = 10,
    max_chars: int = 20000,
    min_quality: str = "5e-1",
) -> "DataFrame":
    """Per-stage drop accounting for the quality-filter cascade, fused
    into ONE corpus scan: (stage_no, stage, n_docs, n_tokens) with
    first-failing-stage attribution.  The production alternative — one
    pass per filter — scans the corpus k times and still can't
    attribute a doc to the FIRST filter that rejected it without extra
    bookkeeping; here every signal (token count, length, language ID,
    quality score) is computed once in a single projection, the CASE
    cascade assigns the stage, and a 5-row aggregation yields exact doc
    and token counts per stage.  All signals are length/replace/case
    arithmetic, so the stage counts are exact integers.

    Scale shape: one scan, map-side partial agg onto ≤ 5 groups, a
    5-row exchange.  n_tokens per stage is the number pipeline owners
    actually watch (token mass removed per filter), integer-exact.
    """
    stage_no = funnel_stage_sql(text_col, min_tokens, max_chars,
                                min_quality)
    name = "case stage_no " + " ".join(
        f"when {i + 1} then '{n}'"
        for i, n in enumerate(FUNNEL_STAGE_NAMES)
    )
    return (
        df.select(
            F.expr(stage_no).alias("stage_no"),
            F.expr(f"cast({token_count_sql(text_col)} as bigint)").alias(
                "_nt"
            ),
        )
        .groupBy("stage_no")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("_nt").cast("bigint").alias("n_tokens"),
        )
        .select(
            F.col("stage_no").cast("bigint").alias("stage_no"),
            F.expr(f"{name} end").alias("stage"),
            "n_docs",
            "n_tokens",
        )
    )


# Mojibake tells (public knowledge — the ftfy/UnicodeDammit failure
# catalog): UTF-8 bytes re-decoded as cp1252/latin-1 turn every
# U+2018-U+201D punctuation mark into an 'â€x' triple and every Latin-1
# accented letter into an 'Ãx' pair, while a lossy decode leaves
# U+FFFD replacement characters.  Counting those three markers is the
# standard cheap screen; a real fixer (ftfy) would then re-encode.
_MOJI_REPL = "�"
_MOJI_PUNCT = "â€"  # 'â€' — prefix of all double-encoded punctuation
_MOJI_LATIN = "Ã"        # 'Ã'  — prefix of double-encoded Latin-1 letters


def mojibake_scores(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, n_repl, n_punct, n_latin, is_mojibake) — per-document
    encoding-damage screen: counts of U+FFFD replacement characters,
    double-encoded punctuation marker 'â€' (the cp1252 rendering of any
    UTF-8 U+20xx punctuation's first two bytes), and double-encoded
    Latin-1 letter marker 'Ã'.  A nonzero count in any class flags the
    document — the pre-quality-filter hygiene gate every webtext
    pipeline runs before scoring (damaged text would otherwise fail
    downstream filters for the WRONG reason and poison n-gram stats).

    Scale shape: a pure row-local map — three replace/length pairs in
    whole-stage codegen, zero shuffles beyond the scan; exact integer
    counts by length-delta (len(s) - len(replace(s, marker, ''))),
    in codepoints.
    """
    t = F.col(text_col)

    def _count(marker: str) -> "F.Column":
        delta = F.length(t) - F.length(F.replace(t, F.lit(marker)))
        return (delta / len(marker)).cast("bigint")

    n_repl = _count(_MOJI_REPL)
    n_punct = _count(_MOJI_PUNCT)
    n_latin = _count(_MOJI_LATIN)
    return df.select(
        F.col(id_col),
        n_repl.alias("n_repl"),
        n_punct.alias("n_punct"),
        n_latin.alias("n_latin"),
        ((n_repl > 0) | (n_punct > 0) | (n_latin > 0)).alias("is_mojibake"),
    )
