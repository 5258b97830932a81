"""Deduplication at corpus scale: exact, MinHash+LSH, SimHash, n-gram
Jaccard.

Scale design: every stage is a composition of built-in DataFrame ops —
shingling/hashing via higher-order functions (JVM, codegen), candidate
generation via band-bucket shuffles that only move (key, id) pairs, and the
quadratic verify step restricted to LSH candidate pairs.  No Python UDFs.

Cache lifetime: minhash/simhash cache their compact signature/banded-key
tables (``persist()``, MEMORY_AND_DISK) because self-joins reference them
twice; the cache lives until the caller's session releases it
(``spark.catalog.clearCache()`` or unpersist) — a long-lived driver that
runs many dedups should clear between jobs (bench.py and
scripts/check_oracles.py do).
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
    materializes a group-sized array anywhere (round-3 verdict #3).
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
# whitespace.  Spark regexp_replace is replace-all; the DuckDB twin needs
# the explicit 'g' flag.  ASCII-safe by construction ([^a-z0-9] collapses
# anything else), so JVM-vs-UTF8 lower() corner cases cannot diverge.


def normalized_duplicates(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Canonical-text exact dedup: normalize (NORMALIZE_FOR_DEDUP_SQL),
    fingerprint, group — catches case/punctuation/whitespace variants that
    raw fingerprints miss, without MinHash's candidate-verify machinery.
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
# Shingling + MinHash signatures — pure higher-order functions.
# ---------------------------------------------------------------------------
def word_shingles(text_col, k: int = 3):
    """Array of k-word shingles (hashed to i64 so only 8B/shingle moves).

    The token array is BOUND as a lambda variable via a single-element
    outer transform: the naive form embeds the split() tree inside the
    per-shingle lambda, so every shingle re-tokenizes the document —
    O(len²) per row, measured as 120 core-seconds of the jaccard posting
    build at sf1.0 (r06).  A lambda variable is evaluated once per row.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    tokens = F.split(F.trim(F.lower(c)), r"\s+")

    def _shingles(t):
        idx = F.sequence(F.lit(1), F.greatest(F.size(t) - k + 1, F.lit(1)))
        return F.transform(
            idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(t, i, k)))
        )

    return F.element_at(F.transform(F.array(tokens), _shingles), 1)


def minhash_signature(shingles_col, n_hashes: int = 64):
    """MinHash signature: per hash-seed j, min over shingles of
    xxhash64(shingle, j).  Seeds are literal ints → deterministic.

    Single-pass fold: one traversal of the shingle array updating all
    n_hashes minima at once.  (The naive form — n_hashes independent
    array_min(transform(...)) expressions — re-evaluates the shingle
    expression per seed because Catalyst inlines collapsed projections;
    measured 30× slower.)
    """
    c = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col
    return F.aggregate(
        c,
        F.expr(
            f"array_repeat(cast(9223372036854775807 as bigint), {n_hashes})"
        ),
        lambda acc, s: F.zip_with(
            acc,
            F.expr(f"sequence(0, {n_hashes - 1})"),
            lambda m, j: F.least(m, F.xxhash64(s, j)),
        ),
    )


def _minhash_sig_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    shingle_k: int,
) -> DataFrame:
    """(id, sig) signature table for the banded-LSH paths.

    Kept as the single-pass ``minhash_signature`` fold: an r06 A/B at
    sf1.0 measured the fold at 1.7 s isolated (after the word_shingles
    lambda-binding fix) vs 2.4 s for an exploded 64-column
    ``min(xxhash64(g, j))`` codegen aggregate and 3.0 s for a
    (id, seed)-exploded groupBy — the interpreted-HOF overhead is
    smaller than an extra aggregation pass once the shingle input is no
    longer re-tokenized per element.  (The naive per-seed
    ``array_min(transform(...))`` form measured 86.8 s — Catalyst
    re-evaluates the shingle expression per seed; see
    minhash_signature's docstring.)
    """
    return df.select(
        F.col(id_col),
        minhash_signature(
            word_shingles(text_col, shingle_k), n_hashes
        ).alias("sig"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    min_band_matches: int = 1,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH.

    shingle → minhash → split signature into ``bands`` bands → band-key
    bucket join.  Only (band_key, id) pairs shuffle; the O(n²) blowup is
    confined to same-bucket groups (self-join on band_key with id< id).

    ``min_band_matches``: require a pair to collide in at least this many
    bands.  With many narrow bands (the recall-biased regime, e.g. 32
    bands × 2 rows), SINGLETON collisions from low-similarity pairs
    dominate the candidate set — measured 3,976 → 318 candidates (12×)
    at bands=32 on the sf0.1 fixture — while a true pair at the
    threshold similarity collides in ~s²·bands ≫ 2 bands, so the miss
    probability stays negligible (s=0.7, 32×2: P(≤1 match) ≈ 1.2e-8 vs
    4e-10 at ≥1; both are «1/pairs).  Default 1 preserves the classic
    any-band OR semantics."""
    banded = _banded_keys(
        _minhash_sig_table(df, id_col, text_col, n_hashes, shingle_k),
        id_col, n_hashes, bands,
    )
    # The self-join references banded twice; cache it so the expensive
    # signature pass runs once (compact: 3 scalar cols per (doc, band)).
    banded = banded.persist()
    return _bucket_pairs(banded, id_col, ["band", "key"],
                         min_matches=min_band_matches)


def _banded_keys(sig_df: DataFrame, id_col: str, n_hashes: int,
                 bands: int) -> DataFrame:
    """(id, band, key): one bucket key per signature band."""
    rows = n_hashes // bands
    return sig_df.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(",", F.transform(
                            F.slice(F.col("sig"), b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ))
                    ).alias("key"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _bucket_pairs(bucketed: DataFrame, id_col: str,
                  bucket_cols: list[str],
                  min_matches: int = 1) -> DataFrame:
    """Distinct within-bucket id pairs via self-join (id_a < id_b).

    A self-join distributes the per-bucket quadratic blowup across tasks —
    a collect_list + in-row pair explosion would build O(bucket²) arrays in
    single rows, which dies on skewed buckets.  The joined input must be
    cheap to scan twice (cached or materialized) or its lineage recomputes.

    ``min_matches`` > 1 keeps only pairs sharing at least that many
    buckets (the count aggregate costs the same shuffle the distinct
    already paid; the filter happens post-aggregation).
    """
    left, right = bucketed.alias("l"), bucketed.alias("r")
    cond = (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    for c in bucket_cols:
        cond = cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    pairs = left.join(right, cond).select(
        F.col(f"l.{id_col}").alias("id_a"),
        F.col(f"r.{id_col}").alias("id_b"),
    )
    if min_matches <= 1:
        return pairs.distinct()
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_m"))
        .where(F.col("_m") >= min_matches)
        .drop("_m")
    )


def shingle_table(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", shingle_k: int = 3) -> DataFrame:
    """(id, sh): distinct hashed k-shingle set per document."""
    return df.select(
        F.col(id_col),
        F.array_distinct(word_shingles(text_col, shingle_k)).alias("sh"),
    )


def jaccard_on_pairs(pairs: DataFrame, shingles: DataFrame,
                     id_col: str = "doc_id",
                     threshold: float = 0.8) -> DataFrame:
    """Exact Jaccard for (id_a, id_b) pairs given a shingle table.

    ``pairs`` is small (LSH candidates) → AQE broadcasts it on both joins,
    so the shingle table streams through without shuffling its arrays.
    """
    a = shingles.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = shingles.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard (array_intersect /
    array_union on hashed shingle sets) — quadratic work only on candidates.

    Scale-critical: the corpus is semi-join-pruned to ids that appear in
    ``candidates`` BEFORE shingling, so only candidate documents re-shingle
    and only their shingle arrays ever shuffle.  Without the prune, every
    document's full hashed-shingle array shuffles through both verify joins
    even when candidates are 0.01% of rows — a 100 TB killer (and 47% of
    the sf0.1 bench suite in round 1).  The candidate-id set comes out of a
    shuffle, so AQE sizes it at runtime and picks a broadcast semi-join when
    it is small (the expected case).
    """
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = shingle_table(
        df.join(cand_ids, id_col, "left_semi"), id_col, text_col, shingle_k
    )
    return jaccard_on_pairs(candidates, sh, id_col, threshold)


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    min_band_matches: int = 1,
) -> DataFrame:
    """Near-dup pairs: banded-LSH candidates verified by exact Jaccard.

    Two corpus scans by design: pass 1 folds shingles into signatures
    inline (shingle arrays are never materialized — persisting them costs
    more than recomputing: they are larger than the text itself), pass 2
    re-shingles ONLY the semi-join-pruned candidate documents.  The one
    cached intermediate is the compact (id, band, key) table inside
    ``minhash_lsh_candidates``, which the pair self-join reads twice.

    ``min_band_matches``: see minhash_lsh_candidates — in the
    many-narrow-bands regime, 2 cuts the candidate (and verify) volume
    ~12× at a «1/pairs recall cost.
    """
    # candidates feed the verify three times (both id projections + the
    # pair join) — tiny table, cache it
    cands = minhash_lsh_candidates(df, id_col, text_col, n_hashes, bands,
                                   shingle_k, min_band_matches).persist()
    return ngram_jaccard_pairs(df, cands, id_col, text_col, shingle_k,
                               threshold)


def minhash_band_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """The persistable LSH artifact: (id, band, key) band-bucket rows.

    This is what an incremental pipeline WRITES once per corpus snapshot
    (3 scalar cols × bands rows per doc ≈ a few hundred bytes — ~10⁻³ of
    the text) so the next crawl batch can be near-dup-checked WITHOUT
    re-reading or re-signaturing the existing corpus
    (``incremental_minhash_dedup``).  Identical math to the index built
    inline by ``minhash_lsh_candidates``.
    """
    return _banded_keys(
        _minhash_sig_table(df, id_col, text_col, n_hashes, shingle_k),
        id_col, n_hashes, bands,
    )


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    index_df: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    min_band_matches: int = 1,
) -> DataFrame:
    """Near-dup pairs INVOLVING a new batch — new-vs-indexed plus
    new-vs-new — against a PERSISTED band index: the production
    incremental-crawl shape (``incremental_dedup`` is the exact-hash
    sibling).  The indexed corpus is never re-signatured: its band keys
    come from ``index_df`` (built here from ``corpus_df`` when None — a
    small-fixture convenience), and its text is touched only for the
    semi-join-pruned candidate docs in the verify stage.

    Scale shape: the new batch's band keys probe the index with a plain
    equi-join on (band, key) — per-batch work ∝ batch size, never corpus
    size; new-vs-new pairs reuse the banded self-join.  Id spaces must
    be disjoint (pairs are emitted id_a < id_b).

    Returns (id_a, id_b, jaccard) with exact verified Jaccard ≥
    ``threshold``.
    """
    if index_df is None:
        index_df = minhash_band_index(corpus_df, id_col, text_col,
                                      n_hashes, bands, shingle_k)
    new_banded = minhash_band_index(new_df, id_col, text_col, n_hashes,
                                    bands, shingle_k).persist()
    probe = index_df.select(F.col(id_col).alias("_ia"), "band", "key")
    hits = new_banded.select(
        F.col(id_col).alias("_ib"), "band", "key"
    ).join(probe, ["band", "key"]).select(
        F.least("_ia", "_ib").alias("id_a"),
        F.greatest("_ia", "_ib").alias("id_b"),
    )
    if min_band_matches <= 1:
        cross = hits.distinct()
    else:
        cross = (
            hits.groupBy("id_a", "id_b")
            .agg(F.count("*").alias("_m"))
            .where(F.col("_m") >= min_band_matches)
            .select("id_a", "id_b")
        )
    intra = _bucket_pairs(new_banded, id_col, ["band", "key"],
                          min_matches=min_band_matches)
    cands = cross.unionByName(intra).distinct().persist()
    union_corpus = corpus_df.select(F.col(id_col), F.col(text_col)) \
        .unionByName(new_df.select(F.col(id_col), F.col(text_col)))
    return ngram_jaccard_pairs(union_corpus, cands, id_col, text_col,
                               shingle_k, threshold)


def _portable_hash(col) -> "F.Column":
    """The cross-engine 60-bit md5 hash (PORTABLE_TOKEN_HASH_SQL) as a
    Column expression — DuckDB reproduces it bit-for-bit."""
    return F.conv(
        F.substring(F.md5(col.cast("binary")), 1, 15), 16, 10
    ).cast("long")


def minhash_recall_audit(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 8,
    shingle_k: int = 3,
    min_bucket: int = 4,
) -> DataFrame:
    """Measured LSH candidate recall vs EXACT Jaccard, per similarity
    bucket: before trusting a
    (bands × rows) operating point on a new corpus, measure where on the
    S-curve its misses actually land (the analytic 1-(1-J^r)^b curve
    assumes independent uniform hashes; real shingle distributions and
    small shingle sets deviate).

    Everything is built on the PORTABLE md5 hash — shingle hashes AND
    the per-seed minhash mixes — so a SQL engine reproduces signatures,
    band keys, candidate pairs, and buckets bit-for-bit: the audit
    itself is hash-exact oracle-checkable, unlike the xxhash64
    production path it models.

    Ground truth is the inverted-index counting join (work ∝ shared
    shingles, never all-pairs — ``jaccard_index_dedup``'s economics);
    buckets are exact integer math: ``bucket = (inter*10) div union``
    (J ∈ [bucket/10, (bucket+1)/10)), pairs kept where
    ``inter*10 ≥ min_bucket*union``.  Returns
    (bucket, n_pairs, n_hit, recall_bp) with
    ``recall_bp = (n_hit*10000) div n_pairs``.

    Scale shape: signature fold and band keys are per-row maps; only
    (i64 hash, id) postings, (id, band, key) rows, and (id_a, id_b)
    pairs shuffle; the final agg is ≤ 10 groups.  At corpus scale run
    it on a hash-sampled slice — recall is a property of the operating
    point, not the corpus size.
    """
    rows = n_hashes // bands
    tokens = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")

    # token array bound as a lambda variable — inlining `tokens` in the
    # per-shingle lambda re-splits the text once per shingle (see
    # word_shingles, r06)
    def _sh(t):
        idx = F.sequence(
            F.lit(1), F.greatest(F.size(t) - shingle_k + 1, F.lit(1))
        )
        return F.transform(
            idx,
            lambda i: _portable_hash(
                F.concat_ws(" ", F.slice(t, i, shingle_k))
            ),
        )

    sh = F.array_distinct(F.element_at(F.transform(F.array(tokens), _sh), 1))
    # one cached compact table feeds sizes, postings, and signatures;
    # lifetime follows the module cache contract (header docstring) —
    # long-lived drivers clear between jobs, as bench/check_oracles do
    shdf = df.select(F.col(id_col), sh.alias("sh")).persist()

    # --- exact truth: counting join on portable shingle hashes ---
    sizes = shdf.select(F.col(id_col), F.size("sh").cast("long").alias("n"))
    postings = shdf.select(F.col(id_col), F.explode("sh").alias("h"))
    inter = (
        postings.select(F.col(id_col).alias("id_a"), "h")
        .join(postings.select(F.col(id_col).alias("id_b"), "h"), "h")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    truth = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a", "id_b", "inter",
            (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("uni"),
        )
        .where(F.col("inter") * 10 >= F.lit(min_bucket) * F.col("uni"))
        .select(
            "id_a", "id_b",
            F.expr("div(inter * 10, uni)").alias("bucket"),
        )
    )

    # --- LSH candidates from portable-hash signatures ---
    sig = F.aggregate(
        F.col("sh"),
        F.expr(
            f"array_repeat(cast(9223372036854775807 as bigint), {n_hashes})"
        ),
        lambda acc, h: F.zip_with(
            acc,
            F.expr(f"sequence(0, {n_hashes - 1})"),
            lambda m, j: F.least(
                m,
                _portable_hash(
                    F.concat(h.cast("string"), F.lit(":"), j.cast("string"))
                ),
            ),
        ),
    )
    banded = (
        shdf.select(F.col(id_col), sig.alias("sig"))
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band"),
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows + 1, rows),
                                lambda x: x.cast("string"),
                            ),
                        ).alias("key"),
                    ),
                )
            ).alias("bk"),
        )
        .select(id_col, F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key"))
        .persist()
    )
    cand = _bucket_pairs(banded, id_col, ["band", "key"])

    return (
        truth.join(cand.withColumn("_hit", F.lit(1)), ["id_a", "id_b"],
                   "left")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            "bucket", "n_pairs", "n_hit",
            F.expr("div(n_hit * 10000, n_pairs)").alias("recall_bp"),
        )
        .orderBy("bucket")
    )


def _jaccard_packed_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_k: int,
) -> DataFrame:
    """Fast path of ``jaccard_index_dedup`` for the exact (no max_df, no
    prefix-filter) configuration — same output, restructured per the
    r06 measurement (event-log stages, sf1.0: 59.7 s isolated):

    - **(id, set-size) packed into one long** (``id<<32 | n``): the pair
      aggregation keys on the two packed longs, so per-doc sizes ride the
      16-byte group key for free and the two post-aggregation size joins
      of the general path (2 × 114M broadcast probes at sf1.0) disappear.
      Precondition 0 ≤ id < 2^31, enforced with an in-plan raise_error
      branch (an id space wider than 31 bits — 10^12-doc corpora — swaps
      the pack for a (id, n) struct; one-line change, same plan shape).
    - **explode_outer + explicit IS NOT NULL** instead of explode: the
      inferred ``size(sh) > 0`` filter of a bare explode is pushed below
      the corpus repartition onto the ≤2-split parquet scan and
      re-evaluates the full shingling expression there — measured 29 s
      on 2 of 32 cores (guide §4.4's duplicated-evaluation trap, filter
      flavor).  The arrays here are never empty (greatest(n-k+1, 1)), so
      outer ≡ inner; the residual null-g filter keeps null-text docs out
      of the postings exactly as explode did.
    - **Lossless size-ratio prune in the join condition**: a pair can
      only reach jaccard ≥ t if min(n_a,n_b) ≥ t·max(n_a,n_b) (best case
      inter = min, union = max), so sub-ratio pairs are dropped BEFORE
      the pair shuffle; the epsilon relaxation only ever keeps more.
    - **Explicit pair repartition (8 × defaultParallelism) under the
      aggregation**: AQE's parallelism-first coalescing targets
      defaultParallelism-many partitions, which at sf1.0 put 3.3M groups
      in each of 35 tasks — 10.4 GB of hash-agg spill and 52 s of GC per
      pass.  The pair stream repartitions by the group key into
      core-count-scaled partitions instead (REPARTITION_BY_NUM is exempt
      from AQE coalescing), shuffling raw 16-byte pairs (map-side partial
      aggregation only reduced 127M → 114.5M rows — 1.11× — so skipping
      it costs nothing).
    """
    spark = df.sparkSession
    mask32 = F.lit(4294967295)
    sh = shingle_table(df, id_col, text_col, shingle_k)
    p = F.expr(
        f"CASE WHEN {id_col} >= 0 AND {id_col} < 2147483648 "
        f"THEN shiftleft({id_col}, 32) + size(sh) "
        "ELSE CAST(raise_error('jaccard packed path requires "
        "0 <= id < 2^31') AS BIGINT) END"
    )
    # persist the 50k-row ARRAY table, not the 2.6M-row posting table:
    # the self-join still reads the shingle pass twice from cache (an
    # A/B at sf1.0 measured 9.2 s cached vs 13.1 s recomputed), but the
    # columnar cache build pays per-row machinery — caching before the
    # explode makes that 50× fewer rows for the same bytes; each side
    # re-runs only the cheap explode
    sh = sh.persist()
    postings = (
        sh.select(p.alias("p"), F.explode_outer("sh").alias("g"))
        .where(F.col("g").isNotNull())
    )
    a = postings.select(F.col("p").alias("pa"), "g")
    b = postings.select(F.col("p").alias("pb"), F.col("g").alias("gb"))
    na = F.col("pa").bitwiseAND(mask32)
    nb = F.col("pb").bitwiseAND(mask32)
    prune = (
        F.least(na, nb).cast("double")
        >= F.lit(float(threshold)) * F.greatest(na, nb).cast("double")
        - F.lit(1e-9)
    )
    pairs = (
        a.join(b, (F.col("g") == F.col("gb"))
               # p orders by (id, n) lexicographically and ids are unique
               # per shingle group, so pa < pb  ⟺  id_a < id_b
               & (F.col("pa") < F.col("pb")) & prune)
        .select("pa", "pb")
    )
    n_pair_parts = 8 * spark.sparkContext.defaultParallelism
    agg = (
        pairs.repartition(n_pair_parts, "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union_n = (
        F.col("pa").bitwiseAND(mask32) + F.col("pb").bitwiseAND(mask32)
        - F.col("inter")
    )
    out = agg.select(
        F.shiftrightunsigned("pa", 32).alias("id_a"),
        F.shiftrightunsigned("pb", 32).alias("id_b"),
        "inter",
        union_n.alias("union_n"),
        (F.col("inter") / union_n).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)
    return out


def jaccard_index_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_k: int = 2,
    max_df: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via an inverted index — the
    non-approximate member of the dedup family (vs minhash/simhash).

    Algorithm: explode each document's distinct hashed k-shingles into a
    posting table (shingle, id); self-join postings on the shingle so every
    shared shingle yields one pair row; ``groupBy(id_a, id_b).count()`` IS
    the intersection size — no array re-intersection, no second corpus
    scan.  Join per-doc set sizes and compute
    ``jaccard = inter / (n_a + n_b - inter)`` (one integer division,
    IEEE-exact, bit-identical across engines).

    Scale design: work is Σ_g C(df_g, 2) pair rows — proportional to how
    often shingles are SHARED, never all-pairs.  The shuffles move only
    (i64 shingle hash, id) and (id_a, id_b) tuples, 16 B rows.  The known
    killer is stop-shingles (boilerplate n-grams with huge df contribute
    df² pairs): ``max_df`` drops shingles whose document frequency exceeds
    the cap from BOTH intersection and union (sizes are recomputed from the
    filtered postings), so the result stays a true Jaccard over the reduced
    shingle space — the standard PPJoin-family df-pruning trade: exact for
    rare-shingle similarity, blind to similarity carried only by
    ubiquitous n-grams.  Default ``None`` = fully exact.
    """
    if max_df is None and not prefix_filter:
        return _jaccard_packed_join(df, id_col, text_col, threshold,
                                    shingle_k)
    postings = (
        shingle_table(df, id_col, text_col, shingle_k)
        .select(F.col(id_col), F.explode("sh").alias("g"))
    )
    if max_df is not None:
        # blocklist of stop-shingles is tiny by construction → AQE
        # broadcasts the anti-join
        stop = (
            postings.groupBy("g").count()
            .where(F.col("count") > max_df).select("g")
        )
        postings = postings.join(stop, "g", "left_anti")
    postings = postings.persist()
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("n"))
    a = postings.select(F.col(id_col).alias("id_a"), "g")
    b = postings.select(F.col(id_col).alias("id_b"), "g")
    if prefix_filter:
        # PPJoin-family prefix filtering (Xiao et al., WWW'08), LOSSLESS:
        # under ANY global total order of shingles, a pair with
        # jaccard ≥ t must share an element among each side's first
        # n - ceil(t·n) + 1 shingles.  (If none of A's first
        # n_a - ceil(t·n_a) + 1 elements were shared, A would have at
        # most ceil(t·n_a) - 1 < t·n_a ≤ |A∩B| shared elements —
        # contradiction.)  Ordering RARE-FIRST (df asc, hash asc) puts
        # low-df shingles in the prefixes.  Default OFF: the filter's
        # win requires a Zipf shingle-df distribution (real web text),
        # where rare prefixes make candidates ≈ true pairs; on the
        # near-UNIFORM-df synthetic fixture it was a measured 3-6× LOSS
        # (candidates only 1.15M → 414k while the candidate-driven
        # verify multiplies each candidate by its full posting list —
        # BENCH.md A/B note).  Result is identical either way, pinned by
        # the prefix-on/off equality test in test_functions.py.
        gdf = postings.groupBy("g").agg(F.count("*").alias("_df"))
        w = Window.partitionBy(id_col).orderBy("_df", "g")
        ranked = (
            postings.join(gdf, "g")
            .withColumn("_r", F.row_number().over(w))
        )
        n_by_doc = sizes.select(F.col(id_col), F.col("n").alias("_n"))
        # ceil over the TRUE t·n, never the float overshoot: when t·n is
        # mathematically an integer, the double product can land a hair
        # ABOVE it and float-ceil then adds 1, shrinking the prefix below
        # the lossless bound (drops qualifying pairs — e.g. t=0.07,
        # n=100: ceil(7.000000000000001)=8).  Subtracting an epsilon far
        # above double multiply error (~1e-11 abs at n=10^6) but far
        # below 1 errs only toward a LONGER prefix, which is always
        # lossless (just prunes less).
        ceil_tn = F.ceil(F.col("_n") * F.lit(threshold) - F.lit(1e-6))
        prefix = (
            ranked.join(n_by_doc, id_col)
            .where(F.col("_r") <= F.col("_n") - ceil_tn + F.lit(1))
            .select(F.col(id_col), "g")
        )
        pa = prefix.select(F.col(id_col).alias("id_a"), "g")
        pb = prefix.select(F.col(id_col).alias("id_b"), "g")
        cands = (
            pa.join(pb, "g")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # count full intersections for candidates only: attach A's full
        # postings to each candidate pair, match them against B's on g
        inter = (
            cands.join(a, "id_a")
            .join(b, ["id_b", "g"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        inter = (
            a.join(b, "g")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
    out = (
        inter
        .join(sizes.select(F.col(id_col).alias("id_a"),
                           F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "inter",
            (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("union_n"),
            (F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
             ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph — the step
# after pair generation that production dedup actually needs (keep ONE
# representative per cluster, not per pair).
# ---------------------------------------------------------------------------
def connected_components(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """(doc_id, component) for every node in ``pairs`` (id_a, id_b);
    component = the minimum doc_id reachable through the pair graph.

    Algorithm: min-label propagation with pointer jumping — each round
    takes the min label over {self} ∪ neighbors, then follows one label
    indirection (label ← label(label)), which makes long chains collapse
    in O(log n) rounds instead of O(diameter).  Labels decrease
    monotonically and stay inside the component, so the fixpoint is the
    component minimum.

    Scale shape: only compact (node, label) and (a, b) id pairs ever
    shuffle — never documents; the symmetric edge table is built once and
    persisted (each round joins it twice).  Convergence is checked with a
    scalar count per round (no data collect); near-dup graphs are
    clique-like (diameter 1–2 after LSH), so 2–3 rounds is typical.

    The RETURNED DataFrame is persisted (its lineage is the whole
    iteration chain — recomputing it on every downstream action would
    re-run the loop): the caller owns the unpersist, or clears the cache
    between jobs like bench.py / scripts/check_oracles.py do.
    """
    e = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    labels = (
        edges.groupBy("a").agg(F.min("b").alias("_nbr"))
        .select(F.col("a").alias("node"),
                F.least("a", "_nbr").alias("label"))
        .persist()
    )
    try:
        for _ in range(max_iters):
            nbr_min = (
                edges.join(labels, edges["b"] == labels["node"])
                .groupBy("a").agg(F.min("label").alias("_nl"))
                .select(F.col("a").alias("node"), "_nl")
            )
            stepped = (
                labels.join(nbr_min, "node")
                .select("node", F.least("label", "_nl").alias("label"))
            )
            ptr = stepped.select(F.col("node").alias("_pn"),
                                 F.col("label").alias("_pl"))
            jumped = (
                stepped.join(ptr, stepped["label"] == ptr["_pn"], "left")
                .select(
                    "node",
                    F.least("label", F.coalesce("_pl", "label")).alias("label"),
                )
                .persist()
            )
            changed = (
                jumped.withColumnRenamed("label", "_new")
                .join(labels, "node")
                .where(F.col("_new") < F.col("label"))
                .count()
            )
            labels.unpersist()
            labels = jumped
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds"
            )
    finally:
        edges.unpersist()
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("component"))


# ---------------------------------------------------------------------------
# Benchmark decontamination: flag training documents sharing any n-gram
# with an evaluation set (the leakage scan every LLM data pipeline runs
# before training).
# ---------------------------------------------------------------------------
def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Per-corpus-document count of DISTINCT n-grams that also occur in
    the benchmark set, plus a contaminated flag.

    Scale shape: the benchmark gram set is small (eval suites are KBs–MBs
    against a 100 TB corpus) → distinct grams broadcast; the corpus side
    explodes to (id, gram), inner-joins the broadcast, and aggregates
    counts — only (id, gram) pairs for MATCHING grams ever reach the
    aggregation, and the corpus text itself never shuffles (the final
    flag join is a broadcast of the tiny hit table onto corpus ids).
    Grams travel as xxhash64 i64s, not strings — an 8-token gram is
    ~50 bytes, the hash is 8; a 2^-64 collision flags one extra doc,
    the standard trade every production decontamination pipeline makes.
    """
    from ocrd_calamari_spark.functions.text import word_ngrams

    gram_hashes = F.array_distinct(
        F.transform(word_ngrams(text_col, n), lambda g: F.xxhash64(g))
    )
    bench_grams = F.broadcast(
        benchmark.select(F.explode(gram_hashes).alias("_g")).distinct()
    )
    doc_grams = corpus.select(
        F.col(id_col), F.explode_outer(gram_hashes).alias("_g")
    )
    hits = (
        doc_grams.join(bench_grams, "_g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_leaked_ngrams"))
    )
    return (
        corpus.select(id_col)
        .join(F.broadcast(hits), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_leaked_ngrams", F.lit(0)).cast("bigint")
            .alias("n_leaked_ngrams"),
        )
        .withColumn("contaminated", F.col("n_leaked_ngrams") > 0)
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: the LARGE-catalog variant of decontaminate.
# When the contamination catalog is itself web-scale (dedup against a prior
# 10^9-gram corpus rather than a KB-sized eval suite), broadcasting even the
# hashed gram set is gigabytes.  A Bloom filter at ~m/n bits per gram is the
# standard compaction: build it distributed, OR the per-partition bitsets on
# the driver (bounded: n_partitions x m/8 bytes), broadcast m/8 bytes, and
# pre-filter corpus grams vectorized before ONE exact verify join that
# removes the false positives — the final answer is exactly the plain
# intersection's.
# ---------------------------------------------------------------------------
_BLOOM_K = 6  # probes per key; fp ~ (1 - e^(-k*n/m))^k


def _bloom_positions(h1, h2, m_bits: int):
    """k double-hashed probe positions (Kirsch-Mitzenmacher h1 + i*h2),
    shared by the build and membership paths so bit layouts agree.
    numpy uint64 wraparound arithmetic — deterministic everywhere."""
    import numpy as np

    a = h1.astype("uint64")
    b = h2.astype("uint64")
    return [
        ((a + np.uint64(i) * b) % np.uint64(m_bits)) for i in range(_BLOOM_K)
    ]


def build_bloom(hashes: DataFrame, m_bits: int) -> bytes:
    """Distributed Bloom-filter build over (h1, h2) hash pairs: each
    partition folds its rows into one m/8-byte bitset inside
    ``mapInPandas`` (numpy bincount over probe positions), the driver ORs
    the per-partition bitsets.  Driver memory is n_partitions x m/8
    bytes; callers coalesce wide inputs first (the queries use <= 32)."""
    import numpy as np

    n_bytes = m_bits // 8

    def fold(batches):
        import pandas as pd

        bits = np.zeros(n_bytes, dtype=np.uint8)
        for b in batches:
            for pos in _bloom_positions(
                b["h1"].to_numpy(), b["h2"].to_numpy(), m_bits
            ):
                byte_idx = (pos // np.uint64(8)).astype(np.int64)
                mask = np.left_shift(
                    np.uint8(1), (pos % np.uint64(8)).astype(np.uint8)
                )
                np.bitwise_or.at(bits, byte_idx, mask)
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = hashes.mapInPandas(fold, "bits binary").collect()
    acc = np.zeros(n_bytes, dtype=np.uint8)
    for row in parts:
        acc |= np.frombuffer(row.bits, dtype=np.uint8)
    return acc.tobytes()


def bloom_member_filter(df: DataFrame, bloom_bytes: bytes,
                        m_bits: int) -> DataFrame:
    """Rows of ``df`` whose (h1, h2) key tests positive in the filter —
    vectorized probe over the broadcast bitset (may keep false positives;
    never drops a true member)."""
    import numpy as np

    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(bloom_bytes)
    cols = df.columns
    schema = df.schema

    def probe(batches):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        for b in batches:
            hit = np.ones(len(b), dtype=bool)
            if len(b):
                for pos in _bloom_positions(
                    b["h1"].to_numpy(), b["h2"].to_numpy(), m_bits
                ):
                    byte_idx = (pos // np.uint64(8)).astype(np.int64)
                    mask = np.left_shift(
                        np.uint8(1), (pos % np.uint64(8)).astype(np.uint8)
                    )
                    hit &= (bits[byte_idx] & mask) != 0
            yield b[hit][cols]

    return df.mapInPandas(probe, schema)


def bloom_decontaminate(
    corpus: DataFrame,
    catalog: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """``decontaminate`` for a LARGE contamination catalog: identical
    output (per-doc count of distinct n-grams shared with the catalog +
    contaminated flag), but nothing catalog-sized is ever broadcast —
    only the m/8-byte Bloom bitset ships to executors.  Corpus grams are
    pre-filtered through the bitset (Arrow-vectorized probe), and the
    surviving sliver takes ONE exact hash-equi join against the
    catalog's gram hashes, which removes Bloom false positives — the
    result is bit-identical to the exact intersection.
    """
    from ocrd_calamari_spark.functions.text import word_ngrams

    def gram_hashes(df):
        h1 = F.explode(
            F.array_distinct(
                F.transform(word_ngrams(text_col, n), lambda g: F.xxhash64(g))
            )
        )
        return df.select(F.col(id_col), h1.alias("h1")).withColumn(
            "h2", F.xxhash64("h1")
        )

    cat = gram_hashes(catalog).select("h1", "h2").distinct()
    bloom = build_bloom(cat.coalesce(32), m_bits)
    doc_grams = gram_hashes(corpus)
    survivors = bloom_member_filter(doc_grams, bloom, m_bits)
    hits = (
        survivors.join(cat.select("h1"), "h1")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_leaked_ngrams"))
    )
    return (
        corpus.select(id_col)
        .join(F.broadcast(hits), id_col, "left")
        .select(
            id_col,
            F.coalesce("n_leaked_ngrams", F.lit(0)).cast("bigint")
            .alias("n_leaked_ngrams"),
        )
        .withColumn("contaminated", F.col("n_leaked_ngrams") > 0)
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


# ---------------------------------------------------------------------------
# SimHash: 64-bit signature; near-dups = small Hamming distance.
# ---------------------------------------------------------------------------
# Cross-engine 60-bit token hash: identical in Spark
# (conv(md5 hex prefix)) and DuckDB (('0x'||substr(md5,1,15))::BIGINT).
# 15 hex chars = 60 bits, so bits 60-63 are always 0 — every simhash built
# on it has those bits unset in BOTH engines (all tokens vote -1 there),
# which also keeps the signature strictly positive (no sign-bit games).
PORTABLE_TOKEN_HASH_SQL = (
    "cast(conv(substring(md5(cast({t} as binary)), 1, 15), 16, 10) as bigint)"
)
PORTABLE_TOKEN_HASH_DUCKDB = "('0x' || substr(md5({t}), 1, 15))::BIGINT"


def simhash(text_col: str, token_hash: str = "xxhash64({t})") -> "F.Column":
    """64-bit SimHash from token hashes, entirely in JVM expressions.

    Single pass over the token-hash array: the fold accumulates 64 signed
    bit-sums (+1 if bit i of the token hash is set, else -1), the finish
    lambda packs sign bits into one i64.  Written as a SQL expression
    because shiftright with a *column* shift amount is SQL-only.

    ``token_hash``: SQL template for the per-token hash ({t} = token).
    Default xxhash64 (fastest); pass ``PORTABLE_TOKEN_HASH_SQL`` for the
    md5-based hash DuckDB can reproduce bit-for-bit (oracle parity).
    """
    return F.expr(
        f"""
        aggregate(
          transform(array_distinct(split(trim(lower({text_col})), ' +')),
                    t -> {token_hash.format(t='t')}),
          array_repeat(cast(0 as bigint), 64),
          (acc, h) -> zip_with(acc, sequence(0, 63),
                               (a, i) -> a + (shiftright(h, i) & 1) * 2 - 1),
          acc -> aggregate(
                   zip_with(acc, sequence(0, 63),
                            (s, i) -> if(s > 0, shiftleft(cast(1 as bigint), i),
                                         cast(0 as bigint))),
                   cast(0 as bigint), (x, y) -> x | y)
        )
        """
    )


def simhash_near_dupes(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       token_hash: str = "xxhash64({t})") -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ k.

    Blocking: split the 64-bit signature into 4 × 16-bit chunks; any pair
    within Hamming ≤ 3 shares at least one exact chunk (pigeonhole — exact
    recall, not probabilistic) → join per chunk, verify with
    bit_count(xor)."""
    # Cache the per-doc signature (2 scalar cols) so the simhash fold runs
    # once: the chunk self-join below references it twice.
    sigs = df.select(
        F.col(id_col), simhash(text_col, token_hash).alias("sig")
    ).persist()
    # shiftright with a column shift amount is SQL-only → expr
    chunks = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), i -> struct("
                "i as chunk_no, shiftright(sig, i * 16) & 65535 as chunk))"
            )
        ).alias("c"),
    ).select(id_col, "sig", F.col("c.chunk_no").alias("chunk_no"),
             F.col("c.chunk").alias("chunk"))
    # Self-join, not collect_list + in-row explosion: simhash chunk buckets
    # are heavy-tailed (hundreds of near-identical short docs share a
    # 16-bit chunk), and a join spreads the per-bucket quadratic work
    # across tasks instead of building O(bucket²) arrays in single rows.
    l, r = chunks.alias("l"), chunks.alias("r")
    # exactly-once emission (r06): a pair sharing k chunks used to be
    # emitted k times and collapsed by a .distinct() — two extra
    # aggregation passes over the 27.4M-row pair stream at sf1.0, plus
    # the orderBy resample re-running the final distinct.  The
    # first-shared-chunk residual (no EARLIER chunk equal, evaluated
    # from the two sigs already carried by the join) emits each
    # qualifying pair exactly once, so the distinct disappears; both
    # sigs are in hand, so it costs a ≤3-element exists() per matched
    # row.
    first_match = F.expr(
        "l.chunk_no = 0 OR NOT exists(sequence(0, l.chunk_no - 1), "
        "c -> (shiftright(l.sig, c * 16) & 65535) = "
        "(shiftright(r.sig, c * 16) & 65535))"
    )
    return (
        l.join(
            r,
            (F.col("l.chunk_no") == F.col("r.chunk_no"))
            & (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
            & first_match,
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.sig").bitwiseXOR(F.col("r.sig"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        # materialize an exchange below the caller's presentation
        # orderBy: with the distinct gone, the range sort's sampling
        # pass would otherwise re-execute the whole chunk join (guide
        # §7.2); a hash repartition of the compact pair rows gives the
        # sampler shuffle files to re-read instead
        .repartition(
            8 * df.sparkSession.sparkContext.defaultParallelism,
            "id_a", "id_b",
        )
    )


# ---------------------------------------------------------------------------
# Cluster representative selection: keep the BEST member of each dup
# cluster (quality argmax), not the arbitrary min-id — the rep choice
# that decides final corpus quality once near-dup clusters exist.
# ---------------------------------------------------------------------------
def keep_best(
    members: "DataFrame",
    id_col: str = "doc_id",
    comp_col: str = "component",
    score_col: str = "score",
) -> "DataFrame":
    """``members`` (id, component, score) -> the same rows plus ``kept``
    (true for exactly one row per component: the max-score member, ties
    broken toward the LOWER id).

    The argmax is a ``max_by`` aggregation over a (score, -id) struct —
    lexicographic struct max == score desc / id asc — so it partial-
    aggregates map-side and never materializes a cluster in one buffer:
    a 10^9-member mega-cluster costs one 2-field struct per partition,
    where a per-component ``row_number`` window would sort all 10^9 rows
    in a single task.  The kept-id table is component-cardinality; the
    flag returns via one component-key join (broadcast when small —
    AQE decides).
    """
    best = members.groupBy(comp_col).agg(
        F.max_by(
            id_col,
            F.struct(
                F.col(score_col).alias("s"),
                (-F.col(id_col)).alias("negid"),
            ),
        ).alias("_keep_id")
    )
    return (
        members.join(best, comp_col)
        .withColumn("kept", F.col(id_col) == F.col("_keep_id"))
        .drop("_keep_id")
    )


def containment_join(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.9,
    shingle_k: int = 3,
    max_df: int | None = None,
) -> DataFrame:
    """Directed shingle-CONTAINMENT join: emit (id_sub, id_sup) whenever
    ``|sub ∩ sup| / |sub| >= threshold`` — the one-sided Jaccard that
    catches a document QUOTED or WRAPPED inside another (boilerplate
    frame around a syndicated article), where symmetric Jaccard stays
    low because the union is dominated by the larger doc.

    Same inverted-index counting join as ``jaccard_index_dedup`` (work ∝
    Σ_g C(df_g, 2), only 16 B posting/pair tuples shuffle, one pair scan
    yields BOTH directions); the containment ratio is one integer
    division, IEEE-exact across engines.  ``max_df`` is the same
    REQUIRED-at-corpus-scale stop-shingle cap (SCALE.md) — with it the
    ratio is containment over the reduced shingle space.
    """
    postings = (
        shingle_table(df, id_col, text_col, shingle_k)
        .select(F.col(id_col), F.explode("sh").alias("g"))
    )
    if max_df is not None:
        stop = (
            postings.groupBy("g").count()
            .where(F.col("count") > max_df).select("g")
        )
        postings = postings.join(stop, "g", "left_anti")
    postings = postings.persist()
    sizes = postings.groupBy(id_col).agg(F.count("*").alias("n"))
    a = postings.select(F.col(id_col).alias("id_a"), "g")
    b = postings.select(F.col(id_col).alias("id_b"), "g")
    inter = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    # both directions from ONE pair scan: an explode fan-out, not a
    # self-union — unioning two selects over `inter` re-evaluates the
    # whole posting join + pair aggregation twice (plan-verified)
    directed = inter.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("id_sub"),
                         F.col("id_b").alias("id_sup")),
                F.struct(F.col("id_b").alias("id_sub"),
                         F.col("id_a").alias("id_sup")),
            )
        ).alias("_d"),
        "inter",
    ).select("_d.id_sub", "_d.id_sup", "inter")
    return (
        directed.join(
            sizes.select(F.col(id_col).alias("id_sub"),
                         F.col("n").alias("n_sub")),
            "id_sub",
        )
        .select(
            "id_sub", "id_sup", "inter", "n_sub",
            (F.col("inter") / F.col("n_sub")).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )
