"""Structured Streaming ingestion for incremental crawls.

The reference is bounded batch (SURVEY.md §2.9 — no streaming operators
anywhere), but the 10^12-row production shape ingests crawl deltas
incrementally.  The same extraction kernel runs unchanged under
``readStream``: mapInArrow is streaming-compatible, and the checkpoint
location gives exactly-once file-source progress tracking (the streaming
twin of the batch manifest in pipeline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import extraction_map_fn
from ocrd_calamari_spark.schema import (
    FLAT_OUTPUT_SCHEMA, KERNEL_INPUT_COLS, OUTPUT_SCHEMA, PAGES_SCHEMA,
)

def read_pages_stream(spark: SparkSession, in_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of pages parquet drops (schema fixed, no inference)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(in_dir)
    )


def extract_stream(pages: DataFrame, cfg: ExtractConfig | None = None) -> DataFrame:
    """Streaming extraction: the batch map function over streaming
    micro-batches.  No lineage columns go in, so they come back null and
    are dropped."""
    out_cols = [f.name for f in OUTPUT_SCHEMA.fields if f.name != "lineage"]
    return (
        pages.select(*KERNEL_INPUT_COLS)
        .mapInArrow(extraction_map_fn(cfg or ExtractConfig()),
                    FLAT_OUTPUT_SCHEMA)
        .select(*out_cols)
    )


def start_extraction_stream(
    spark: SparkSession,
    in_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    cfg: ExtractConfig | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the extraction pipeline as a stream.

    ``available_now=True`` processes the current backlog then stops —
    the incremental-batch deployment mode (run per crawl drop, exactly-once
    via checkpoint).  False = continuous micro-batches.
    """
    out = extract_stream(read_pages_stream(spark, in_dir), cfg)
    writer = (
        out.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_url_dedup(pages: DataFrame, n_groups: int = 256,
                       ttl_seconds: float | None = None,
                       _clock=None) -> DataFrame:
    """Custom stateful streaming operator: cross-micro-batch URL dedup via
    ``applyInPandasWithState`` — first sighting of a url passes through,
    repeats (recrawls within the stream) are dropped.

    State = (hash, first-seen processing ts) of xxhash64(url) per
    hash-group (bounded groups so state partitions evenly; at crawl scale
    the group count becomes the state store's shuffle partition multiple).
    State survives restarts through the streaming checkpoint.

    ``ttl_seconds`` bounds the state over an UNBOUNDED crawl stream: with
    the default ``None`` the seen-set grows with every distinct url ever
    observed (exact forever-dedup — the state store eventually becomes the
    corpus).  With a TTL, a url is emitted at most once per ``ttl_seconds``
    recrawl window: entries older than the window are evicted on every
    group invocation.  Emitting does NOT refresh the window — a url that
    keeps recrawling re-emits once per window rather than being suppressed
    indefinitely.

    Eviction is data-path only, deliberately: the group key is a bounded
    url-hash bucket (``n_groups`` of them), so under any live crawl every
    group keeps receiving rows and evicts every micro-batch — total state
    ≤ urls-per-window + one stale window on a group that stops receiving
    data entirely (impossible under uniform hashing unless the stream
    itself stops).  A ``ProcessingTimeTimeout`` sweep was MEASURED and
    rejected: any registered processing-time timer makes
    ``trigger(availableNow=True)`` queries spin empty micro-batches
    without terminating (~1/s, even with no expired timer), breaking the
    run-per-crawl-drop deployment mode this pipeline uses.

    ``_clock``: test hook — a picklable ``() -> float`` epoch-seconds
    source shipped to the workers inside the state function's closure
    (processing-time eviction can't be driven deterministically from the
    driver otherwise).  Default: ``time.time``.

    State-schema note: this version stores (seen, first_ts) ARRAYS (the
    earlier schema was the bare seen array).  Spark's state-store schema
    check rejects restarting an OLD checkpoint under the new schema —
    drain the old query and discard its checkpoint (the state is a dedup
    cache, not data; re-seeding costs one recrawl window of duplicates).
    Same migration story as sessionize_stream's schema note below.
    """
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "url string, warc_ts timestamp, lang string, grp bigint"
    state_schema = "seen array<long>, first_ts array<long>"
    ttl_ms = None if ttl_seconds is None else max(1, int(ttl_seconds * 1000))
    now_fn = _clock if _clock is not None else time.time

    import hashlib

    def _stable_hash(u: str) -> int:
        # process-independent (unlike builtin hash(), which varies with
        # PYTHONHASHSEED) — state must mean the same thing after a restart.
        # Masked to 63 bits: the state column is a signed long; an unmasked
        # top bit silently wraps negative on the state round-trip and the
        # re-computed (positive) hash never matches it again.
        return int.from_bytes(hashlib.md5(u.encode()).digest()[:8], "big") & 0x7FFFFFFFFFFFFFFF

    def _dedup(key, pdfs, state):
        now_ms = int(now_fn() * 1000)
        if state.exists:
            hashes, stamps = state.get
            if ttl_ms is not None:
                cutoff = now_ms - ttl_ms
                seen = {h: t for h, t in zip(hashes, stamps) if t >= cutoff}
            else:
                seen = dict(zip(hashes, stamps))
        else:
            seen = {}
        for pdf in pdfs:
            h = pdf["url"].map(_stable_hash)
            # first occurrence wins within the batch too (~duplicated),
            # not just across batches
            fresh = ~h.isin(seen.keys()) & ~h.duplicated()
            for hv in h[fresh]:
                seen[hv] = now_ms
            if fresh.any():
                out = pdf.loc[fresh, ["url", "warc_ts", "lang"]].copy()
                out["grp"] = key[0]
                yield out
        if seen:
            state.update((list(seen.keys()), list(seen.values())))
        elif state.exists:
            state.remove()

    grouped = pages.select(
        "url", "warc_ts", "lang",
        F.pmod(F.xxhash64("url"), F.lit(n_groups)).alias("grp"),
    ).groupBy("grp")
    return grouped.applyInPandasWithState(
        _dedup, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def sessionize_stream(events: DataFrame, gap_seconds: int = 1800,
                      watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator: event-time session windows with
    a ``gap_seconds`` inactivity gap, via ``applyInPandasWithState`` +
    EventTimeTimeout.

    State per user = ALL sessions not yet watermark-final (arrays of
    (start, last, n)).  Each call interval-merges buffered sessions with
    the batch's events (gap rule on sorted starts), so out-of-order but
    within-watermark events extend a session backward or form their own
    earlier session instead of being folded into the newest one.  A
    session is emitted exactly when ``last + gap`` falls behind the
    watermark — either on a data batch or through the event-time timeout
    (without which trailing sessions would never emit).  This is the
    stateful-streaming twin of the batch ``sessionize`` query: identical
    gap semantics for every event the watermark admits.

    State-schema note: this version stores ARRAYS of open sessions (the
    earlier single-session scalar schema folded late events incorrectly).
    Spark's state-store schema check rejects restarting an OLD checkpoint
    under the new schema — discard the checkpoint and reprocess (or drain
    the old query first); there is no in-place migration.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = ("user_id bigint, session_start timestamp, "
                  "session_end timestamp, n_events int")
    state_schema = "starts array<long>, lasts array<long>, ns array<int>"
    gap_us = gap_seconds * 1_000_000

    def _emit(key, sessions):
        return pd.DataFrame(
            {
                "user_id": [key] * len(sessions),
                "session_start": [pd.Timestamp(s * 1000) for s, _, _ in sessions],
                "session_end": [pd.Timestamp(l * 1000) for _, l, _ in sessions],
                "n_events": [n for _, _, n in sessions],
            }
        )

    def _split_by_watermark(sessions, state, key):
        """Emit watermark-final sessions; keep the rest in state."""
        wm_us = state.getCurrentWatermarkMs() * 1000
        closed = [s for s in sessions if s[1] + gap_us < wm_us]
        open_ = [s for s in sessions if s[1] + gap_us >= wm_us]
        if open_:
            state.update((
                [s for s, _, _ in open_],
                [l for _, l, _ in open_],
                [n for _, _, n in open_],
            ))
            # wake when the earliest open session becomes final
            # (must be strictly beyond the current watermark)
            next_ms = min(l for _, l, _ in open_) // 1000 + gap_seconds * 1000
            state.setTimeoutTimestamp(max(next_ms, state.getCurrentWatermarkMs() + 1))
        else:
            state.remove()
        if closed:
            yield _emit(key, closed)

    def _sessionize(key, pdfs, state):
        sessions = []
        if state.exists:
            starts, lasts, ns = state.get
            sessions = [list(t) for t in zip(starts, lasts, ns)]
        if not state.hasTimedOut:
            # drop NULL timestamps explicitly: the watermark predicate
            # does not filter them, and NaT would otherwise become the
            # -2^63 ns sentinel — a below-any-watermark "session" whose
            # emit overflows the datetime range and kills the stream
            ts_all = (
                pd.concat([pdf["ts"] for pdf in pdfs])
                .dropna().sort_values()
            )
            for ts in ts_all:
                t = int(pd.Timestamp(ts).value // 1000)
                sessions.append([t, t, 1])
        # interval-merge by gap over start-sorted sessions
        sessions.sort(key=lambda s: (s[0], s[1]))
        merged = []
        for s in sessions:
            if merged and s[0] - merged[-1][1] <= gap_us:
                merged[-1][1] = max(merged[-1][1], s[1])
                merged[-1][2] += s[2]
            else:
                merged.append(s)
        yield from _split_by_watermark(merged, state, key[0])

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize, out_schema, state_schema, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def hourly_host_stats_stream(
    pages: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Windowed streaming aggregation with late-data handling: docs per
    (host, 1h event-time window).  The watermark bounds state for
    out-of-order crawl timestamps."""
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", "1 hour").alias("w"),
            F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length("html")).alias("bytes_in"),
        )
        .select(F.col("w.start").alias("hour_start"), "host", "n_docs", "bytes_in")
    )


def stateful_neardup_dedup(docs: DataFrame, id_col: str = "url",
                           text_col: str = "text", max_hamming: int = 3,
                           ttl_seconds: float | None = None,
                           _clock=None) -> DataFrame:
    """Cross-micro-batch NEAR-duplicate detection — the streaming twin of
    ``simhash_near_dupes`` (template-churn recrawls where the byte-exact
    ``stateful_url_dedup`` misses).

    Banding: the 64-bit SimHash (computed JVM-side, one fold) splits into
    4 x 16-bit chunks; any pair within Hamming <= 3 shares at least one
    exact chunk (pigeonhole — exact recall, like the batch operator), so
    each doc routes to 4 state groups keyed by (band, chunk) and a doc is
    a near-dup iff ANY of its groups holds a prior signature within
    ``max_hamming``.  Output is one row per (doc, band) with the band's
    verdict; ``neardup_kept`` gives the per-doc AND — run it inside
    ``foreachBatch`` (a doc's 4 band rows always land in the same
    micro-batch, so the batch-side groupBy is complete) or on the sink.

    Within-batch determinism: each group scans its rows sorted by
    ``id_col``, so of a same-batch dup pair the LOWER id is fresh in
    every band and the higher id is flagged — the same min-id-kept
    convention as the batch dedup family (unsorted scans could flag each
    member in a different band and drop BOTH).

    State per group = (sig, first-seen ts) arrays; group cardinality is
    bounded by construction (4 x 2^16 keys) and each group holds the
    sigs sharing one 16-bit chunk (~n/2^16 per band under uniform
    hashing — the Hamming scan per row is over that sliver, not the
    corpus).  ``ttl_seconds`` bounds state on endless streams exactly as
    in ``stateful_url_dedup`` (eviction on every group invocation; no
    processing-time timers — they break availableNow termination, see
    that docstring).  Signatures are content hashes, so state survives
    restarts meaningfully (no PYTHONHASHSEED hazard).
    """
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ocrd_calamari_spark.functions.dedup import simhash

    out_schema = f"{id_col} string, band int, dup boolean"
    state_schema = "sigs array<long>, first_ts array<long>"
    ttl_ms = None if ttl_seconds is None else max(1, int(ttl_seconds * 1000))
    now_fn = _clock if _clock is not None else time.time
    k = max_hamming
    MASK64 = (1 << 64) - 1

    def _scan(key, pdfs, state):
        import pandas as pd

        now_ms = int(now_fn() * 1000)
        if state.exists:
            sigs, stamps = state.get
            if ttl_ms is not None:
                cutoff = now_ms - ttl_ms
                kept = [(s, t) for s, t in zip(sigs, stamps) if t >= cutoff]
                seen = dict(kept)
            else:
                seen = dict(zip(sigs, stamps))
        else:
            seen = {}
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(id_col, kind="mergesort")
            out_dup = []
            for sig in pdf["_sig"]:
                sig = int(sig)
                dup = any(
                    (((sig ^ s) & MASK64).bit_count()) <= k for s in seen
                )
                out_dup.append(dup)
                if sig not in seen:
                    seen[sig] = now_ms
            out = pdf[[id_col]].copy()
            out["band"] = int(key[0]) >> 16
            out["dup"] = out_dup
            yield out
        if seen:
            state.update((list(seen.keys()), list(seen.values())))
        elif state.exists:
            state.remove()

    sig = simhash(text_col)
    banded = (
        docs.select(F.col(id_col), sig.alias("_sig"))
        .select(
            id_col, "_sig",
            F.explode(
                F.array(*[
                    (F.lit(i * 65536)
                     + (F.shiftrightunsigned("_sig", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF)))).cast("long")
                    for i in range(4)
                ])
            ).alias("band_key"),
        )
    )
    return banded.groupBy("band_key").applyInPandasWithState(
        _scan, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )


def neardup_kept(banded: DataFrame, id_col: str = "url") -> DataFrame:
    """Per-doc verdict over ``stateful_neardup_dedup`` band rows: a doc
    is kept iff NO band flagged it.  Batch-side aggregation — call on a
    ``foreachBatch`` DataFrame or a drained sink, where every doc's 4
    band rows are present."""
    return (
        banded.groupBy(id_col)
        .agg((F.max(F.col("dup").cast("int")) == 0).alias("kept"))
    )


def join_page_link_streams(
    pages: DataFrame,
    links: DataFrame,
    watermark: str = "1 hour",
    max_lag: str = "30 minutes",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: crawl pages arriving on one
    stream enriched with link records arriving (possibly later) on
    another — the two-feed shape of a crawler whose fetcher and link
    extractor publish independently.

    Both sides carry event-time watermarks and the join condition bounds
    the link's timestamp inside [page_ts, page_ts + max_lag], so Spark
    can size the join state: each side buffers only rows younger than
    watermark + lag, then drops them — bounded state on endless streams
    (an UNconstrained stream-stream join must buffer both streams
    forever).  Output columns: url, page ts, link href, link ts.

    ``pages``: (url, warc_ts, ...); ``links``: (url, link_ts, href).
    """
    p = (
        pages.select("url", "warc_ts")
        .withWatermark("warc_ts", watermark)
    )
    l = (
        links.select(
            F.col("url").alias("l_url"), "link_ts", "href"
        )
        .withWatermark("link_ts", watermark)
    )
    return p.join(
        l,
        F.expr(
            f"""
            url = l_url AND
            link_ts >= warc_ts AND
            link_ts <= warc_ts + interval {max_lag}
            """
        ),
    ).select("url", "warc_ts", "href", "link_ts")
