"""Spark orchestration: read → prune → size the map stage → mapInArrow → write.

Two plans share the one ``mapInArrow`` function, chosen by the input frame:
  - pages (parquet / Iceberg): scan → map, with one url-hash repartition
    in between unless an unfiltered scan has enough splits for the
    stage's width;
  - WARC archives (binaryFile rows, recognised by their ``content``
    column): scan → map, where the map splits each archive into its
    records and extracts them in the same task — one Python stage, no
    shuffle, and resume chunks of whole archive files.

The whole reference concurrency layer (ocrd_calamari/recognize.py:400-703 —
mp queues, fill locks, dummy batches, spawn contexts) is replaced by this
declarative plan; Spark owns batching, backpressure and worker lifecycle
(SURVEY.md §3.4, §4).

Scale features (BASELINE.json north_rule):
  - partition pruning predicates on ``warc_ts`` reach the scan
  - one wave of Python tasks on pages: a task per core, or an
    unfiltered scan's own byte-balanced splits when there are at least
    that many; a resume chunk filtered above the scan is sized by AQE
    from the bytes that survive; the repartition key is the url alone,
    which spreads a Zipf-skewed host evenly and is deterministic (resume
    must be stable)
  - per-partition lineage (snapshot_id, file, part_id) on every output row
  - chunked checkpoint manifest → kill-and-resume without duplicate work
  - docs/sec + failure counts from the written output (exact, replayable)
"""

from __future__ import annotations

import collections
import dataclasses
import json
import os
import sys
import time
import zipimport

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ocrd_calamari_spark.config import KERNEL_SEMANTICS, ExtractConfig
from ocrd_calamari_spark.kernel import native
from ocrd_calamari_spark.kernel.columnar import LINEAGE_COLS, arrow_map_fn
from ocrd_calamari_spark.schema import (
    FLAT_OUTPUT_SCHEMA,
    KERNEL_INPUT_COLS,
    OUTPUT_SCHEMA,
)
from ocrd_calamari_spark.sources.warc import records_to_batch

# ---------------------------------------------------------------------------
# Source (S1/S2): Iceberg table in prod, parquet locally.  Iceberg gives
# snapshot pinning + partition pruning natively; the parquet path mirrors it
# closely enough for tests (no Iceberg jars in this sandbox).
# ---------------------------------------------------------------------------
def read_pages(
    spark: SparkSession,
    source: str,
    snapshot_id: int | None = None,
    since=None,
    until=None,
) -> DataFrame:
    """Load the pages table with snapshot pinning + time-partition pruning.

    ``source``: ``iceberg:<catalog.db.table>``, ``warc:<path glob>``
    (Common-Crawl-style archives, sources/warc.py), or a parquet path.
    A ``warc:`` source comes back as its binaryFile frame (path, content,
    …), one row per archive, which ``extract_df`` splits inside its map.
    An archive has no ``warc_ts`` column to prune on, so ``since`` /
    ``until`` with a ``warc:`` source raise ValueError.
    """
    if source.startswith("warc:") and (since is not None
                                       or until is not None):
        raise ValueError("since/until prune on warc_ts, which a warc: "
                         "source (whole archive files) does not have")
    if source.startswith("iceberg:"):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        df = reader.load(source[len("iceberg:"):])
    elif source.startswith("warc:"):
        df = spark.read.format("binaryFile").load(source[len("warc:"):])
    else:
        df = spark.read.parquet(source)
    # Partition predicates: Catalyst pushes these to the scan
    # (days(warc_ts) partitioning on the Iceberg side).
    if since is not None:
        df = df.where(F.col("warc_ts") >= F.lit(since))
    if until is not None:
        df = df.where(F.col("warc_ts") < F.lit(until))
    return df


# ---------------------------------------------------------------------------
# Extraction plan
# ---------------------------------------------------------------------------
def _is_archives(df: DataFrame) -> bool:
    """A binaryFile frame of WARC archives rather than a pages frame."""
    return "content" in df.columns


def _scan_splits(df: DataFrame) -> int | None:
    """The number of scan splits, or None unless every split reaches the
    map whole.

    Counted only when the physical plan is a file scan under projections:
    then each split carries its full byte-balanced share of rows, and
    counting them plans and lists files but runs no job.  A row filter
    above the scan (a computed-``_part_id`` chunk keeps 1/n_chunks of each
    split), an Exchange, a join or a cache gives None; building the RDD of
    a plan with an Exchange would run its shuffle stages under AQE.  A
    filter on partition columns prunes files inside the scan and leaves no
    Filter node.
    """
    node = df._jdf.queryExecution().sparkPlan()
    while node.nodeName() == "Project":
        node = node.child()
    if node.getClass().getSimpleName() not in ("FileSourceScanExec",
                                                "BatchScanExec"):
        return None
    return df.rdd.getNumPartitions()


def _pages_batches(batches):
    """Pages batches pass through; an archive batch (binaryFile rows,
    recognised by its ``content`` column) becomes one pages batch per
    archive, carrying the row's ``_part_id`` to every record."""
    for batch in batches:
        names = batch.schema.names
        if "content" not in names:
            yield batch
            continue
        paths = batch.column("path")
        content = batch.column("content")
        part = batch.column("_part_id") if "_part_id" in names else None
        for i in range(batch.num_rows):
            pages = records_to_batch(
                paths[i].as_py(), content[i].as_py(),
                None if part is None else part[i].as_py())
            if pages.num_rows:
                yield pages


def _archive_stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class _StatGuardedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches()`` re-reads the
    archive's directory only when its ``(st_mtime_ns, st_size)`` changed;
    a failed ``stat`` counts as a change."""

    _zip_stat: tuple[int, int] | None = None

    def invalidate_caches(self):
        stat = _archive_stat(self.archive)
        if stat is None or stat != self._zip_stat:
            self._zip_stat = stat
            super().invalidate_caches()


def guard_zip_importers() -> None:
    """Stat-guard every plain ``zipimporter`` in ``sys.path_importer_cache``.

    PySpark calls ``importlib.invalidate_caches()`` before every Python
    task (``worker_util.setup_spark_files``).  On CPython 3.11 and 3.12
    each cached ``zipimporter`` then re-reads its archive's whole
    directory: the paths inside ``pyspark.zip``, the py4j zip and the
    spark-core jar, 130-375 ms per task on a 4-core host.  Guarded, an
    unchanged archive keeps its directory, and one that really changes
    (a re-shipped ``--py-files`` zip) is still re-read.  CPython 3.13
    only drops the directory on invalidation and re-reads it lazily; the
    guard keeps it there as well.

    Idempotent and cheap (about 0.1 ms the first time, under 10 µs
    after): the map function calls it at the start of every task.  The
    first task in each worker still pays once, because Spark invalidates
    before the map function runs.  The stat is taken at the swap, after
    that invalidation in the same task, so it describes the archive the
    importer now reads from.
    """
    for importer in sys.path_importer_cache.values():
        if type(importer) is zipimport.zipimporter:
            importer.__class__ = _StatGuardedZipImporter
            importer._zip_stat = _archive_stat(importer.archive)


def extraction_map_fn(cfg: ExtractConfig, accs: dict | None = None):
    """The one ``mapInArrow`` function of the engine (``extract_df``):
    columnar extraction plus lineage passthrough.  Its input is pages
    batches or binaryFile archive batches, which it splits into records
    first (``_pages_batches``).

    Lineage columns (_src_file, _src_row, _part_id) ride along the input
    batch and leave as the same Arrow arrays, sliced but not copied — the
    keyed re-association the reference does through a shared Manager dict
    (recognize.py:662-693) is free here because input and output of a
    batch stay aligned per url.  Absent lineage columns come back null.

    ``accs``: optional dict of SparkContext accumulators (docs, failed,
    overwrote, raw_charset) updated per batch — the live-metrics channel the
    north_star asks for (exact counters still come from the committed
    output; accumulators can overcount on task retry, which is why they are
    the dashboard, not the ledger).
    """
    extract = arrow_map_fn(cfg, to_arrow_schema(FLAT_OUTPUT_SCHEMA), accs)

    def _fn(batches):
        guard_zip_importers()
        return extract(_pages_batches(batches))

    return _fn


def make_accumulators(spark: SparkSession) -> dict:
    """Live job counters (≈ the reference's warning-log counting contract,
    test/test_recognize.py:47-52, :73-75)."""
    sc = spark.sparkContext
    return {name: sc.accumulator(0)
            for name in ("docs", "failed", "overwrote", "raw_charset",
                         "segment_native", "segment_fallback")}


def with_part_id(df: DataFrame, n_buckets: int) -> DataFrame:
    """Deterministic work-unit id: pmod(xxhash64(url), n_buckets), or on
    an archive frame pmod(xxhash64(_metadata.file_path), n_buckets).

    JVM-side xxhash64 — stable across runs/retries, the resume key.
    NOTE: on pages this computed id cannot prune the scan; prefer a
    storage-aligned bucket column (``bucket_col`` in run_extraction) so
    each resume chunk reads only its own files.  On archives the whole
    file is the unit, and Spark evaluates a predicate over ``_metadata``
    while it lists the files, so a chunk's filter on this id opens only
    the chunk's own archives.
    """
    key = "_metadata.file_path" if _is_archives(df) else "url"
    return df.withColumn(
        "_part_id", F.pmod(F.xxhash64(F.col(key)), F.lit(n_buckets)).cast("int")
    )


# Output codec for every parquet the engine writes.  zstd over the default
# snappy: ~25-35% smaller text-heavy parquet at comparable encode speed —
# at 100 TB of output that difference is tens of TB of storage and scan
# I/O for every downstream reader.  Read-side is codec-agnostic.
OUTPUT_COMPRESSION = "zstd"


def write_bucketed_staging(df: DataFrame, path: str, n_buckets: int,
                           url_col: str = "url") -> None:
    """One-pass staging write partitioned by the resume bucket — the
    parquet stand-in for Iceberg's ``bucket(N, url)`` partition transform
    (SCALE.md input layout).  A table laid out this way lets
    ``run_extraction(..., bucket_col='bucket')`` prune each chunk to its
    own partition directories instead of re-scanning the full source per
    chunk (64 chunks × 100 TB otherwise)."""
    (
        df.withColumn(
            "bucket",
            F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int"),
        )
        .write.mode("overwrite")
        .option("compression", OUTPUT_COMPRESSION)
        .partitionBy("bucket")
        .parquet(path)
    )


def extract_df(
    df: DataFrame,
    cfg: ExtractConfig | None = None,
    *,
    snapshot_id: int | None = None,
    with_lineage: bool = True,
    accumulators: dict | None = None,
    lineage_cols: tuple[str, str] = ("_metadata.file_path",
                                     "_metadata.row_index"),
) -> DataFrame:
    """The core logical plan: pages DataFrame → extraction output DataFrame.

    Column-prunes to exactly the kernel inputs (+ lineage cols) before the
    UDF so the scan reads only url/html/text/lang.

    On a pages frame the stage sizes itself.  A bare file scan
    (projections only, no row filter above it) that yields at least one
    split per core (``defaultParallelism``) runs map-only: Spark sizes
    those splits by bytes, and kernel cost follows the html bytes.  A
    bare scan with fewer splits is hash-repartitioned by url to one task
    per core; the url key spreads even a Zipf-skewed host over every
    task.  Any other frame, such as a computed-``_part_id`` resume chunk
    that keeps a fraction of every split, is repartitioned by url
    without a width, so AQE sizes the stage from the bytes that survive
    the filter, coalescing down from ``spark.sql.shuffle.partitions``
    (or ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).

    ``lineage_cols``: (file, row-position) metadata expressions.  The
    default ``_metadata.*`` exists only on Spark file sources (parquet/
    orc/csv); Iceberg DSv2 scans expose ``_file`` / ``_pos`` instead —
    run_extraction selects the right pair from the source scheme.

    An archive frame (``read_pages(spark, "warc:…")``, recognised by its
    ``content`` column) runs map-only: the map splits each archive into
    its records and extracts them in the same task.  Record lineage
    (file, record index) comes from the splitter, ``part_id`` from the
    frame's ``_part_id`` when present, else pmod(xxhash64(url), 1<<14)
    after the map.  ``lineage_cols`` is ignored there: parallelism is the
    scan's file splits, because a repartition would shuffle whole
    archives.
    """
    cfg = cfg or ExtractConfig()
    native.load()  # compile once here, so local workers find it cached
    archives = _is_archives(df)
    if archives:
        sel = df.select(*[c for c in ("path", "content", "_part_id")
                          if c in df.columns])
    else:
        cols = list(KERNEL_INPUT_COLS)
        sel = df
        if with_lineage:
            if "_part_id" not in sel.columns:
                sel = with_part_id(sel, 1 << 14)
            sel = sel.withColumn("_src_file", F.expr(lineage_cols[0]))
            sel = sel.withColumn("_src_row", F.expr(lineage_cols[1]))
            cols = cols + list(LINEAGE_COLS)
        sel = sel.select(*cols)
        cores = sel.sparkSession.sparkContext.defaultParallelism
        splits = _scan_splits(sel)
        if splits is None:
            sel = sel.repartition(F.col("url"))
        elif splits < cores:
            sel = sel.repartition(cores, F.col("url"))
    mapped = sel.mapInArrow(
        extraction_map_fn(cfg, accumulators),
        FLAT_OUTPUT_SCHEMA,
    )
    if archives and not with_lineage:
        mapped = mapped.withColumns({
            f.name: F.lit(None).cast(f.dataType)
            for f in FLAT_OUTPUT_SCHEMA.fields if f.name in LINEAGE_COLS})
    elif archives and "_part_id" not in df.columns:
        mapped = with_part_id(mapped, 1 << 14)
    out_cols = [f.name for f in OUTPUT_SCHEMA.fields if f.name != "lineage"]
    return mapped.select(
        *out_cols,
        F.struct(
            F.lit(snapshot_id).cast("long").alias("snapshot_id"),
            F.col("_src_file").alias("file"),
            F.col("_src_row").cast("long").alias("row_index"),
            F.col("_part_id").cast("int").alias("part_id"),
        ).alias("lineage"),
    )


# ---------------------------------------------------------------------------
# Checkpoint manifest + chunked resume (north_rule: "resumable from
# checkpoint with per-partition lineage").  One chunk = a set of _part_id
# buckets, written to its own partition dir and committed to the manifest
# only after the write succeeds; a restart deletes uncommitted chunk dirs
# and processes only the remaining buckets — no duplicate work.
# ---------------------------------------------------------------------------
def _w(v) -> str:
    """Canonical string form of a since/until bound for manifest
    comparison: None → 'none'; anything timestamp-parseable →
    'YYYY-MM-DD HH:MM:SS[.ffffff]' via pandas, so semantically identical
    bounds of different types (datetime(2024,1,1) vs '2024-01-01')
    compare EQUAL on resume instead of raising a spurious mismatch;
    unparseable values fall back to str(v).  The resume guard also runs
    the manifest-recorded side through this, so manifests written before
    the canonicalization still compare correctly."""
    if v is None:
        return "none"
    try:
        import pandas as pd

        return str(pd.Timestamp(v))
    except Exception:
        return str(v)


class Manifest:
    def __init__(self, root: str):
        self.dir = os.path.join(root, "_manifest")
        os.makedirs(self.dir, exist_ok=True)

    def completed(self) -> dict:
        """chunk_id → manifest record.  A record written before records
        carried ``kernel_semantics`` reads as id 0, the kernel of that
        time."""
        out = {}
        for name in sorted(os.listdir(self.dir)):
            if name.startswith("chunk_") and name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    rec = json.load(f)
                rec.setdefault("kernel_semantics", 0)
                out[rec["chunk_id"]] = rec
        return out

    def commit(self, rec: dict) -> None:
        path = os.path.join(self.dir, "chunk_%05d.json" % rec["chunk_id"])
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
            # fsync BEFORE the rename: without it a power loss can leave
            # the renamed name pointing at zero-length/torn content
            # (rename-atomicity covers the namespace, not the data),
            # which would make every later resume die in json.load
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # atomic on POSIX ≈ Iceberg snapshot commit
        dfd = os.open(self.dir, os.O_RDONLY)  # make the rename durable too
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


def run_extraction(
    spark: SparkSession,
    source: str,
    out_dir: str,
    cfg: ExtractConfig | None = None,
    *,
    n_buckets: int = 64,
    n_chunks: int = 4,
    snapshot_id: int | None = None,
    since=None,
    until=None,
    bucket_col: str | None = None,
    stop_after_chunks: int | None = None,  # test hook: simulate a kill
) -> dict:
    """Resumable chunked extraction job.  Returns a metrics dict
    (docs/sec, failure counts — BASELINE.json north_star).

    ``bucket_col``: name of a PHYSICAL bucket column in the source —
    a parquet ``partitionBy('bucket')`` dir column (write_bucketed_staging)
    or Iceberg's ``bucket(N, url)`` partition value.  When set, the chunk
    predicate filters on that column and PRUNES the scan to the chunk's
    own files; the computed-``_part_id`` fallback is correct but re-reads
    the full source once per chunk (64× at production defaults).
    ``n_buckets`` must equal the physical bucket count in that case.

    A ``warc:`` source buckets whole archive files by their path
    (``with_part_id``; manifest ``bucket_scheme`` ``"_warc_file"``): each
    chunk opens only its own archives, and every record of a file lands
    in the file's chunk.
    """
    import shutil

    cfg = cfg or ExtractConfig()
    config = dataclasses.asdict(cfg)
    manifest = Manifest(out_dir)
    done = manifest.completed()
    # Resume guard: every completed chunk must have been written by a run
    # with the same identity, or the output silently mixes two jobs.
    # A different bucket count or scheme reinterprets completed part ids
    # (Iceberg's murmur3 bucket(N, url) and the computed
    # pmod(xxhash64(url)) put the same url in different buckets); a
    # different source, time window or snapshot mixes corpora; a
    # different config mixes levels, voters or cutoffs, and a different
    # kernel id the rows of two kernels.  Each would pass to complete=True.  A key missing from an older record, or a run
    # without a pinned snapshot, is not compared.  since/until compare in
    # _w's canonical form on both sides (older manifests hold raw values),
    # so equivalent bounds of different types match.
    if bucket_col is not None:
        bucket_scheme = bucket_col
    elif source.startswith("warc:"):
        bucket_scheme = "_warc_file"
    else:
        bucket_scheme = "_computed"
    identity = {
        "n_buckets": n_buckets,
        "bucket_scheme": bucket_scheme,
        "source": source,
        "since": _w(since),
        "until": _w(until),
        "snapshot_id": snapshot_id,
        "config": config,
        "kernel_semantics": KERNEL_SEMANTICS,
    }
    # Unlike the other keys, a missing kernel id is not skipped (completed()
    # reads it as 0): such a record was written by the kernel before
    # records carried an id, so its rows came from that kernel whatever
    # this run asks for, and skipping it would complete over mixed output.
    for rec in done.values():
        for key, want in identity.items():
            got = rec.get(key)
            if got is not None and key in ("since", "until"):
                got = _w(got)
            if got is not None and want is not None and got != want:
                raise ValueError(
                    f"resume mismatch: manifest written with {key}={got!r}, "
                    f"run requested {key}={want!r}"
                )
    done_parts = {p for rec in done.values() for p in rec["part_ids"]}

    data_dir = os.path.join(out_dir, "data")
    # clean any dir not committed to the manifest (died mid-write)
    if os.path.isdir(data_dir):
        committed = {"chunk=%d" % cid for cid in done}
        for name in os.listdir(data_dir):
            if name.startswith("chunk=") and name not in committed:
                shutil.rmtree(os.path.join(data_dir, name))

    pages = read_pages(spark, source, snapshot_id=snapshot_id, since=since, until=until)
    if bucket_col is not None:
        if bucket_col not in pages.columns:
            raise ValueError(f"bucket_col {bucket_col!r} not in source "
                             f"columns {pages.columns}")
        # Guard: a physical bucket outside range(n_buckets) would never be
        # selected by any chunk and its rows would be SILENTLY dropped.
        # The distinct on a partition-dir / Iceberg-partition column is
        # metadata-priced (no row data read), paid once per job.
        seen = {
            r[0] for r in pages.select(bucket_col).distinct().collect()
        }

        def _in_range(b) -> bool:
            try:
                return b is not None and 0 <= int(b) < n_buckets
            except (TypeError, ValueError):
                return False  # unparsable partition value == bad

        bad = {b for b in seen if not _in_range(b)}
        if bad:
            raise ValueError(
                f"bucket_col {bucket_col!r} has values outside "
                f"range(n_buckets={n_buckets}): {sorted(bad, key=str)[:8]} — "
                f"rows there would be silently skipped"
            )
        # physical partition value → the chunk isin() prunes at the scan
        pages = pages.withColumn("_part_id", F.col(bucket_col).cast("int"))
    else:
        pages = with_part_id(pages, n_buckets)
    if source.startswith("iceberg:"):
        lineage_cols = ("_file", "_pos")  # Iceberg DSv2 metadata columns
    else:
        lineage_cols = ("_metadata.file_path", "_metadata.row_index")

    remaining = [p for p in range(n_buckets) if p not in done_parts]
    chunk_size = max(1, -(-len(remaining) // n_chunks)) if remaining else 1
    groups = [remaining[i:i + chunk_size] for i in range(0, len(remaining), chunk_size)]

    t0 = time.monotonic()
    n_rows_total = 0
    chunks_done = 0
    next_chunk_id = (max(done) + 1) if done else 0
    accs = make_accumulators(spark)
    for gi, group in enumerate(groups):
        if stop_after_chunks is not None and chunks_done >= stop_after_chunks:
            break
        chunk_id = next_chunk_id + gi
        subset = pages.where(F.col("_part_id").isin(group))
        result = extract_df(
            subset, cfg, snapshot_id=snapshot_id, accumulators=accs,
            lineage_cols=lineage_cols,
        )
        chunk_dir = os.path.join(data_dir, "chunk=%d" % chunk_id)
        result.write.mode("overwrite").option(
            "compression", OUTPUT_COMPRESSION
        ).parquet(chunk_dir)
        # exact counters + per-file lineage ranges in ONE column-pruned
        # scan of the committed chunk (a separate global agg would read
        # the chunk twice per commit — on the crash-window-critical path
        # between write and manifest commit)
        per_file = (
            spark.read.parquet(chunk_dir)
            .groupBy(F.col("lineage.file").alias("file"))
            .agg(
                F.count("*").alias("rows"),
                F.sum(F.col("error").isNotNull().cast("long"))
                .alias("failed"),
                F.sum(F.col("overwrote").cast("long")).alias("overwrote"),
                F.sum(F.col("raw_charset").cast("long")).alias("raw"),
                F.min("lineage.row_index").alias("lo"),
                F.max("lineage.row_index").alias("hi"),
            )
            .collect()
        )
        # per-file row ranges — the "(snapshot-id, file, row-range)"
        # lineage record the north_star requires per completed partition
        file_ranges = [
            {"file": r["file"], "row_lo": r["lo"], "row_hi": r["hi"]}
            for r in per_file
        ]
        chunk_rows = sum(r["rows"] for r in per_file)
        manifest.commit(
            {
                "chunk_id": chunk_id,
                "part_ids": group,
                **identity,
                "rows": chunk_rows,
                "failed": sum(r["failed"] or 0 for r in per_file),
                "overwrote": sum(r["overwrote"] or 0 for r in per_file),
                "raw_charset": sum(r["raw"] or 0 for r in per_file),
                "files": file_ranges,
            }
        )
        n_rows_total += chunk_rows
        chunks_done += 1

    elapsed = time.monotonic() - t0
    all_recs = manifest.completed().values()
    return {
        "rows_this_run": n_rows_total,
        "chunks_this_run": chunks_done,
        "elapsed_sec": elapsed,
        "docs_per_sec": (n_rows_total / elapsed) if elapsed > 0 else None,
        "rows_total": sum(r["rows"] for r in all_recs),
        "failed_total": sum(r["failed"] for r in all_recs),
        "overwrote_total": sum(r["overwrote"] for r in all_recs),
        "raw_charset_total": sum(r["raw_charset"] for r in all_recs),
        "accumulators": {name: acc.value for name, acc in accs.items()},
        "complete": len({p for r in all_recs for p in r["part_ids"]}) == n_buckets,
    }


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, "data"))


def validate_output(spark: SparkSession, out_dir: str) -> dict:
    """Integrity audit of a job's output against its manifest: per
    committed chunk, the parquet rows on disk must equal the recorded
    count.  Catches silent data loss or duplication from interrupted
    compactions, partial restores, or manual tampering — the check a
    100 TB operator runs before pointing consumers at the output (cheap:
    parquet count() is footer metadata, no row data is read).

    Returns {"chunks", "rows", "mismatches": {chunk_id: (manifest,
    actual)}, "missing": [chunk_id...], "orphans": [chunk_id...],
    "config_mismatches": [chunk_id...], "semantics_mismatches":
    [chunk_id...], "ok"}.

    ``config_mismatches``: chunks whose recorded ``ExtractConfig`` differs
    from the one most chunks hold (ties: the lowest chunk id's) — rows made
    at another level, voter or cutoff.  Records without a config (written
    before it was recorded) are not compared.

    ``semantics_mismatches``: chunks whose rows another kernel made — the
    record's ``kernel_semantics`` is not ``KERNEL_SEMANTICS`` (a record
    without one reads as id 0, see ``Manifest.completed``).

    ``orphans``: chunk dirs on disk with NO manifest record — the exact
    artifact a crash between parquet write and manifest commit leaves
    behind.  read_output would serve their (possibly partial) rows even
    though no record accounts for them; run_extraction cleans them on
    resume, but a standalone audit must surface them, not pass them.
    """
    from pyspark.errors import AnalysisException

    manifest = Manifest(out_dir)
    data_dir = os.path.join(out_dir, "data")
    mismatches: dict[int, tuple[int, int]] = {}
    missing: list[int] = []
    total = 0
    recs = manifest.completed()
    orphans = sorted(
        int(name.split("=", 1)[1])
        for name in (os.listdir(data_dir) if os.path.isdir(data_dir) else [])
        if name.startswith("chunk=")
        and name.split("=", 1)[1].isdigit()
        and int(name.split("=", 1)[1]) not in recs
    )
    for cid, rec in recs.items():
        chunk_dir = os.path.join(data_dir, "chunk=%d" % cid)
        if not os.path.isdir(chunk_dir):
            missing.append(cid)
            continue
        try:
            actual = spark.read.parquet(chunk_dir).count()
        except AnalysisException:
            # a dir whose every data file vanished is unreadable —
            # that IS the loss this audit exists to catch.  Anything
            # else (dead session, permissions, transient FS) re-raises:
            # reporting an infrastructure failure as 100% data loss
            # would trigger needless re-extraction
            actual = 0
        total += actual
        if actual != rec["rows"]:
            mismatches[cid] = (rec["rows"], actual)
    configs = {cid: json.dumps(rec["config"], sort_keys=True)
               for cid, rec in sorted(recs.items()) if "config" in rec}
    # Counter keeps first-seen order, so max() breaks a tie by chunk id
    counts = collections.Counter(configs.values())
    usual = max(counts, key=counts.get) if counts else None
    config_mismatches = [cid for cid, c in configs.items() if c != usual]
    semantics_mismatches = [cid for cid, rec in sorted(recs.items())
                            if rec["kernel_semantics"] != KERNEL_SEMANTICS]
    return {
        "chunks": len(recs),
        "rows": total,
        "mismatches": mismatches,
        "missing": missing,
        "orphans": orphans,
        "config_mismatches": config_mismatches,
        "semantics_mismatches": semantics_mismatches,
        "ok": (not mismatches and not missing and not orphans
               and not config_mismatches and not semantics_mismatches),
    }


def compact_output(spark: SparkSession, out_dir: str) -> dict:
    """Compact a completed job's output: rewrite each chunk dir to one
    file (small-files remediation — a chunked job writes one file per
    task per chunk; at 100 TB the downstream readers want ~512 MB files,
    not hundreds of thousands of shards).

    Crash-safe by construction: the rewrite lands in an
    UNDERSCORE-prefixed sibling dir (Spark's listing ignores ``_``-paths,
    so a leftover tmp can never pollute partition discovery or duplicate
    rows on read), the old chunk dir is removed only after the tmp carries
    a ``_SUCCESS`` marker, and a recovery pass at function start finishes
    or discards any interrupted swap — every chunk is always either old,
    new, or (transiently) complete-tmp-with-marker.  Only manifest-recorded
    chunks are touched (same source of truth as resume).
    """
    import shutil

    manifest = Manifest(out_dir)
    data_dir = os.path.join(out_dir, "data")
    stats = {"chunks": 0, "files_before": 0, "files_after": 0}

    def _tmp_of(cid: int) -> str:
        return os.path.join(data_dir, "_chunk_%d.compact.tmp" % cid)

    for chunk_id in sorted(manifest.completed()):
        chunk_dir = os.path.join(data_dir, "chunk=%d" % chunk_id)
        tmp_dir = _tmp_of(chunk_id)
        # recovery: a leftover tmp is either complete (has _SUCCESS →
        # finish the swap; its content equals the old chunk's) or partial
        # (discard).  The old chunk is only ever deleted after _SUCCESS
        # exists, so rows are never lost.
        if os.path.isdir(tmp_dir):
            if os.path.exists(os.path.join(tmp_dir, "_SUCCESS")):
                if os.path.isdir(chunk_dir):
                    shutil.rmtree(chunk_dir)
                os.replace(tmp_dir, chunk_dir)
            else:
                shutil.rmtree(tmp_dir)
        if not os.path.isdir(chunk_dir):
            continue
        before = [f for f in os.listdir(chunk_dir) if f.endswith(".parquet")]
        if len(before) <= 1:
            continue
        (
            spark.read.parquet(chunk_dir)
            .coalesce(1)
            .write.mode("overwrite").option(
                "compression", OUTPUT_COMPRESSION
            ).parquet(tmp_dir)
        )
        # explicit check, not assert: under `python -O` asserts vanish and
        # a marker-less write would delete the only copy of the chunk
        if not os.path.exists(os.path.join(tmp_dir, "_SUCCESS")):
            raise RuntimeError(
                f"compaction rewrite of chunk {chunk_id} produced no "
                f"_SUCCESS marker in {tmp_dir}; old chunk left untouched"
            )
        shutil.rmtree(chunk_dir)
        os.replace(tmp_dir, chunk_dir)
        stats["chunks"] += 1
        stats["files_before"] += len(before)
        stats["files_after"] += len(
            [f for f in os.listdir(chunk_dir) if f.endswith(".parquet")]
        )
    return stats

