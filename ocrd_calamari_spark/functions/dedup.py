"""Deduplication at corpus scale: exact and normalized-text fingerprints,
and dedup of a crawl delta against a prior fingerprint catalog.

Scale design: every stage is a composition of built-in DataFrame ops —
hashing in the JVM (codegen), with only (fingerprint, id) pairs
shuffling; document text never crosses an exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ocrd_calamari_spark.functions.text import fingerprint


# ---------------------------------------------------------------------------
# Exact dedup: hash-groupBy (map-side partial agg; only hashes shuffle).
# ---------------------------------------------------------------------------
def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     sample_k: int | None = None) -> DataFrame:
    """Groups of byte-identical documents: (fp, n_dups, doc_ids).

    ``sample_k`` bounds the reporting form for corpus scale: ``n_dups``
    stays exact, but ``doc_ids`` carries only the ``sample_k`` smallest
    member ids.  The bound is enforced BEFORE the aggregation buffer (a
    spillable window rank over fp, the same shuffle key the groupBy
    reuses — one exchange total), so a 10^9-copy boilerplate page never
    materializes a group-sized array anywhere.
    ``sample_k=None`` keeps the full-membership form — only safe when
    group sizes are known bounded; ``distinct_by_text`` remains the
    production dedup pass either way.
    """
    pairs = df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    if sample_k is None:
        return (
            pairs.groupBy("fp")
            .agg(
                F.count("*").alias("n_dups"),
                F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            )
            .where(F.col("n_dups") > 1)
        )
    w = Window.partitionBy("fp").orderBy(id_col)
    ranked = pairs.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(
                F.collect_list(  # nulls skipped → ≤ sample_k per buffer
                    F.when(F.col("_rn") <= sample_k, F.col(id_col))
                )
            ).alias("doc_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def distinct_by_text(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per identical-text group — the
    standard exact-dedup pass (shuffles only (fp, id))."""
    keep = (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="leftsemi")


NORMALIZE_FOR_DEDUP_SQL = "trim(regexp_replace(lower({t}), '[^a-z0-9]+', ' '))"
# C4-style canonicalization: case-fold, strip punctuation, collapse
# whitespace.  Spark regexp_replace is replace-all.  ASCII-safe by construction ([^a-z0-9] collapses
# anything else), so JVM-vs-UTF8 lower() corner cases cannot diverge.


def normalized_duplicates(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Canonical-text exact dedup: normalize (NORMALIZE_FOR_DEDUP_SQL),
    fingerprint, group — catches case/punctuation/whitespace variants that
    raw fingerprints miss, with no candidate-pair or verify stage.
    Reference position: the reference normalizes recognized text before
    comparison too (`recognize.py` TextEquiv whitespace rules); this is the
    corpus-scale analogue.

    Output: one row per input doc — (id, rep_id, n_members, is_dup) where
    rep_id is the min-id member of the doc's normalized-identity group.

    Scale shape: rows reduce to (id, 16-byte fp) BEFORE the single
    exchange (text never shuffles); group stats come from a window over
    fp, whose partition size is the dup multiplicity — bounded by data
    semantics, and safe even for a mega-group because the window computes
    only min/count (streaming aggregates, no buffering of members).
    """
    norm = F.expr(NORMALIZE_FOR_DEDUP_SQL.format(t=text_col))
    slim = df.select(
        F.col(id_col),
        F.substring(F.md5(norm.cast("binary")), 1, 16).alias("_fp"),
    )
    w = Window.partitionBy("_fp")
    return (
        slim.withColumn("rep_id", F.min(id_col).over(w).cast("long"))
        .withColumn("n_members", F.count("*").over(w).cast("long"))
        .withColumn("is_dup", F.col(id_col) != F.col("rep_id"))
        .drop("_fp")
    )



# ---------------------------------------------------------------------------
# Incremental dedup: a new crawl delta against a prior run's fingerprint
# catalog — the production shape where the corpus already exists and each
# crawl only contributes its novel documents.
# ---------------------------------------------------------------------------
def dedup_against_catalog(
    delta: DataFrame,
    catalog_fps: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rows of ``delta`` that are new: not byte-identical to any document
    in the prior catalog (``catalog_fps``: one ``fp`` column of
    ``fingerprint()`` values) nor to a smaller-id row within the delta.

    Only (fp, id) pairs shuffle — the delta's text rides a final
    semi-join on the surviving ids, so document payloads never enter the
    dedup shuffles (at 100 TB the catalog is a fingerprint table ~1/4000
    the corpus size; the anti-join is fp-partitioned on both sides).
    """
    fps = delta.select(F.col(id_col), fingerprint(text_col).alias("fp"))
    reps = fps.groupBy("fp").agg(F.min(id_col).alias(id_col))
    new_reps = reps.join(catalog_fps.select("fp"), "fp", "left_anti")
    return delta.join(new_reps.select(id_col), id_col, "leftsemi")


