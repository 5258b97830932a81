"""Dataset profiling and deterministic splitting — the audit/quality ops a
training-data pipeline runs before and after every transformation.

All JVM-side; no Python in the data path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def profile_columns(
    df: DataFrame, cols: list[str], exact: bool = True
) -> DataFrame:
    """Per-column data-quality profile: (column_name, n_nulls, n_distinct).

    One single-pass aggregate over the table, then a ``stack`` unpivot of
    the 1-row result — the scan happens once no matter how many columns
    are profiled.

    Scale note: ``exact=True`` uses ``count(distinct)``; multiple distinct
    aggregates make Catalyst EXPAND the input (one replica per distinct
    column), so at 100 TB profile with ``exact=False`` —
    ``approx_count_distinct`` (HyperLogLog++) keeps the pass single-replica
    and the per-column state a few KB.  Exact is the oracle-checkable
    default for audit-scale tables.
    """
    if not cols:
        raise ValueError("profile_columns needs at least one column")
    if len(set(cols)) != len(cols):
        raise ValueError(f"duplicate column names: {cols}")
    bad = [c for c in cols if "'" in c or "`" in c]
    if bad:
        # the stack() expression is built by interpolation; quote chars
        # would break out of the literal/backtick context
        raise ValueError(f"column names may not contain quotes: {bad}")
    distinct = F.countDistinct if exact else F.approx_count_distinct
    aggs = []
    for c in cols:
        aggs.append(
            F.coalesce(
                F.sum(F.col(c).isNull().cast("bigint")), F.lit(0)
            ).cast("bigint").alias(f"{c}__n")
        )
        aggs.append(distinct(F.col(c)).cast("bigint").alias(f"{c}__d"))
    row = df.agg(*aggs)
    stack = ", ".join(f"'{c}', `{c}__n`, `{c}__d`" for c in cols)
    return row.selectExpr(
        f"stack({len(cols)}, {stack}) as (column_name, n_nulls, n_distinct)"
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, int] | None = None,
    hash_sql: str | None = None,
) -> DataFrame:
    """Deterministic train/valid/test assignment by id hash.

    ``weights`` maps split name → integer percent (must sum to 100); a
    document's split is decided by ``hash(id) % 100`` against cumulative
    thresholds, so membership is a pure function of the id: stable across
    runs, cluster sizes, row order, and incremental corpus growth (new
    docs don't reshuffle old ones — the property random-split lacks).

    ``hash_sql``: SQL template with ``{t}`` = the id-as-string expression;
    default xxhash64 (fast); pass the portable md5 template when an
    external system must reproduce the assignment.  The expression MUST
    map into [0, 100) (keep the ``pmod(..., 100)`` wrap) — values
    outside the range match no threshold and would leave ``split`` NULL.
    """
    weights = weights or {"train": 98, "valid": 1, "test": 1}
    if sum(weights.values()) != 100:
        raise ValueError(f"split weights must sum to 100: {weights}")
    if any(w <= 0 for w in weights.values()):
        # a negative weight can still sum to 100 while silently making a
        # later split unreachable (cumulative thresholds go non-monotone)
        raise ValueError(f"split weights must all be positive: {weights}")
    # pmod, not abs(...) % — ANSI abs(Long.MIN_VALUE) overflows
    hash_sql = hash_sql or "pmod(xxhash64(cast({t} as string)), 100)"
    h = F.expr(hash_sql.format(t=id_col))
    expr = None
    acc = 0
    for name, pct in weights.items():
        acc += pct
        cond = h < F.lit(acc)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def histogram_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: dict[str, float] | None = None,
) -> DataFrame:
    """EXACT per-group type-1 (lower) quantiles of an integer column via
    a value histogram — the bounded-state percentile for 10^12-row
    groups.

    The sort-based exact percentile shuffles every row; here the shuffle
    ships (group, value, partial-count) AFTER map-side combine, so its
    volume is group-cardinality x value-grid cardinality, independent of
    row count.  The cumulative window then runs over the tiny histogram,
    and quantile q is the smallest value whose cumulative count reaches
    ceil(q * n) — the classic type-1 definition, integer-exact, so the
    result hash-matches a plain window-function oracle.  (For unbounded
    REAL-valued columns, pre-bucket with floor(x / w) * w — same plan,
    grid-exact answers.)
    """
    from pyspark.sql import Window

    if qs is None:
        qs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    h = df.groupBy(group_col, value_col).agg(F.count("*").alias("_c"))
    w = Window.partitionBy(group_col).orderBy(value_col)
    h = h.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy(group_col))
    )
    aggs = [
        F.min(
            F.when(
                F.col("_cum") >= F.ceil(F.lit(q) * F.col("_n")),
                F.col(value_col),
            )
        ).alias(name)
        for name, q in qs.items()
    ]
    return h.groupBy(group_col).agg(*aggs)


def weighted_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "weight",
    den: int = 1000,
    hash_sql: str | None = None,
) -> DataFrame:
    """Per-document weighted Bernoulli sampling: keep a row iff
    ``hash(id) % den < weight`` — deterministic importance resampling
    (the classifier-score-proportional subsampling step of quality-
    pruned corpora, with a rate per DOCUMENT rather than per source).

    Membership is a pure function of the id and its weight: retries,
    resume, cluster size, and corpus growth never reshuffle the kept
    set, and E[kept] = mean(weight)/den exactly.  Row-local map+filter —
    no shuffle, no state; weights must be ints in [0, den] (den keeps
    everything, 0 drops).

    ``hash_sql``: SQL template ({t} = id-as-string expression); default
    xxhash64 (fast); pass the portable md5 template when an external
    system must reproduce the sample.
    """
    # no abs() wrapper: pmod of a negative long is already in [0, den),
    # and under ANSI mode abs(Long.MIN_VALUE) THROWS ArithmeticException
    # — a 2^-64-per-row landmine that a 10^12-row job would step on
    tmpl = hash_sql or "xxhash64({t})"
    h = F.expr(
        "pmod(" + tmpl.format(t=f"cast({id_col} as string)") + f", {den})"
    )
    return df.withColumn("_h", h).where(
        F.col("_h") < F.col(weight_col)
    ).drop("_h")


def skew_report(
    df: DataFrame,
    key_col: str,
    top_k: int = 10,
) -> DataFrame:
    """Hot-key diagnostic for a prospective join/aggregation key: the
    ``top_k`` heaviest keys with exact share and skew multipliers —
    what you run BEFORE a 100 TB shuffle to decide whether the key
    needs salting / AQE skew handling.

    Output per hot key: ``n`` (rows), ``share_bp`` (basis points of all
    rows, floor-quantized), ``mult_x100`` (multiple of the mean group
    size, x100 floor-quantized), ``rank``.  All integers — exact at any
    scale, no float drift.

    Scale shape: per-key counts partial-aggregate map-side (the shuffle
    carries key-cardinality rows, not input rows); the totals are a
    1-row broadcast crossJoin; top-k is a TakeOrdered (O(k) per
    partition, no global sort).  Ties break on the key value so the
    report is deterministic.
    """
    from pyspark.sql import Window

    counts = df.groupBy(key_col).agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("_tot"), F.count("*").alias("_nkeys")
    )
    top = (
        counts.crossJoin(F.broadcast(totals))
        .orderBy(F.desc("n"), F.asc(key_col))
        .limit(top_k)
    )
    w = Window.orderBy(F.desc("n"), F.asc(key_col))
    return top.select(
        F.col(key_col),
        F.col("n").cast("bigint").alias("n"),
        F.floor(F.col("n") * 10000 / F.col("_tot"))
        .cast("bigint").alias("share_bp"),
        F.floor(F.col("n") * 100 * F.col("_nkeys") / F.col("_tot"))
        .cast("bigint").alias("mult_x100"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bucket_width: int = 1,
) -> DataFrame:
    """Per-group two-sample Kolmogorov-Smirnov drift of an integer
    column's distribution vs the REST of the corpus — the
    distribution-shift monitor a refresh pipeline runs per domain /
    per crawl-batch before quality thresholds calibrated on old data
    are trusted on new data (`domain_divergence` is the token-content
    sibling; this is the numeric-marginal one).

    KS = max_v |F_g(v) - F_rest(v)| evaluated on the merged value grid.
    Everything stays integer until ONE final division: with cum_g /
    cum_rest the cumulative counts and n_g / n_rest the group sizes,
    the per-point statistic is the cross-multiplied

        num(v) = |cum_g(v) * n_rest  -  cum_rest(v) * n_g|

    (DECIMAL(18,0) operands -> exact DECIMAL products at 10^12 rows),
    maximized per group, then ks = num / (n_g * n_rest) as one IEEE
    division — order-independent, partitioning-invariant, hash-exact.
    ``at_v`` reports the grid value attaining the max (ties -> min v),
    i.e. WHERE the distributions diverge most.

    Scale shape: the corpus reduces to a (group, bucket, count)
    histogram with map-side combine — shuffle volume is group-count x
    grid-size, independent of row count (``bucket_width`` sets the
    grid; same contract as `histogram_quantiles`).  The corpus-marginal
    cumulative runs as a single-partition window over the GRID (bounded
    by quantization, never data rows);
    per-group cumulatives window over (group, grid) partitions; grid
    and totals broadcast.
    """
    from pyspark.sql import Window

    w = int(bucket_width)
    v = (F.floor(F.col(value_col) / w) * w).cast("bigint")
    h = (
        df.select(F.col(group_col).alias("g"), v.alias("v"))
        .groupBy("g", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    tv = h.groupBy("v").agg(F.sum("c").alias("c_all"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    grid = tv.select(
        "v", F.sum("c_all").over(wv).alias("cum_all")
    )
    tot = h.agg(F.sum("c").alias("n"))
    gs = h.groupBy("g").agg(F.sum("c").alias("n_g"))
    wg = Window.partitionBy("g").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    dec = "decimal(18,0)"
    nums = (
        gs.crossJoin(F.broadcast(grid))
        .join(h, ["g", "v"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        .withColumn("cum_g", F.sum("c").over(wg))
        .crossJoin(F.broadcast(tot))
        .select(
            "g", "n_g", "v", "n",
            F.abs(
                F.col("cum_g").cast(dec)
                * (F.col("n") - F.col("n_g")).cast(dec)
                - (F.col("cum_all") - F.col("cum_g")).cast(dec)
                * F.col("n_g").cast(dec)
            ).alias("num"),
        )
    )
    m = nums.groupBy("g", "n_g", "n").agg(F.max("num").alias("num"))
    return (
        m.join(nums.select("g", "v", "num"), ["g", "num"])
        .groupBy("g", "n_g", "n", "num")
        .agg(F.min("v").alias("at_v"))
        .select(
            F.col("g").alias("domain"),
            F.col("n_g").cast("bigint").alias("n_docs"),
            # single-group guard: a group covering the WHOLE corpus has
            # an empty "rest" — the denominator n_g*(n-n_g) is 0 and the
            # statistic is undefined; emit 0 (no drift vs nothing) so an
            # all-one-domain slice never yields NaN/Inf (same n=n_g CASE
            # in the DuckDB twin — structurally identical guards)
            F.when(F.col("n") == F.col("n_g"), F.lit(0.0))
            .otherwise(
                F.col("num").cast("double")
                / (
                    F.col("n_g").cast("double")
                    * (F.col("n") - F.col("n_g")).cast("double")
                )
            ).alias("ks"),
            F.col("at_v").alias("at_v"),
        )
    )
