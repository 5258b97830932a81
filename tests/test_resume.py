"""Checkpoint/resume: kill after k chunks, restart, outputs identical and no
duplicate work (BASELINE.json north_rule: 'resumable from checkpoint with
per-partition lineage')."""

import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import Manifest, read_output, run_extraction


@pytest.fixture(scope="module")
def out_single(spark, pages_parquet, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("single"))
    metrics = run_extraction(spark, pages_parquet, d, n_buckets=16, n_chunks=4)
    assert metrics["complete"]
    return d, metrics


def test_manifest_counts_segment_paths(out_single):
    """The manifest's accumulators say which segmenter ran on the Python
    workers: every page that reached segment() is counted once, and with
    a loadable compiled segmenter none fell back."""
    from ocrd_calamari_spark.kernel import native

    _, metrics = out_single
    acc = metrics["accumulators"]
    segmented = acc["segment_native"] + acc["segment_fallback"]
    assert acc["docs"] >= segmented >= acc["docs"] - acc["failed"] > 0
    if native.load() is not None:
        assert acc["segment_fallback"] == 0


class TestResume:
    def test_kill_and_resume_identical(self, spark, pages_parquet, out_single,
                                       tmp_path_factory):
        d2 = str(tmp_path_factory.mktemp("resumed"))
        # run 1: killed after 2 of 4 chunks
        m1 = run_extraction(spark, pages_parquet, d2, n_buckets=16, n_chunks=4,
                            stop_after_chunks=2)
        assert m1["chunks_this_run"] == 2 and not m1["complete"]
        # run 2: resumes remaining buckets only
        m2 = run_extraction(spark, pages_parquet, d2, n_buckets=16, n_chunks=4)
        assert m2["complete"]
        # no duplicate work: resumed run processed only the remainder
        assert m1["rows_this_run"] + m2["rows_this_run"] == m2["rows_total"]

        d1, m_single = out_single
        a = (read_output(spark, d1).select("url", "text", "conf")
             .toPandas().set_index("url").sort_index())
        b = (read_output(spark, d2).select("url", "text", "conf")
             .toPandas().set_index("url").sort_index())
        assert a.equals(b)

    def test_no_duplicate_urls(self, spark, out_single):
        d, _ = out_single
        out = read_output(spark, d)
        assert out.count() == out.select("url").distinct().count()

    def test_manifest_partition_lineage(self, spark, out_single):
        d, _ = out_single
        recs = Manifest(d).completed()
        parts = sorted(p for r in recs.values() for p in r["part_ids"])
        assert parts == list(range(16))  # every bucket exactly once
        out = read_output(spark, d)
        with_lineage = out.where(F.col("lineage.file").isNotNull()
                                 & F.col("lineage.row_index").isNotNull()).count()
        assert with_lineage == out.count()
        # manifest carries per-file row ranges (north_star: row-range)
        for rec in recs.values():
            assert rec["files"], rec["chunk_id"]
            for fr in rec["files"]:
                assert fr["row_lo"] is not None and fr["row_hi"] >= fr["row_lo"]

    def test_metrics_counters(self, out_single):
        _, metrics = out_single
        assert metrics["docs_per_sec"] is None or metrics["docs_per_sec"] > 0
        assert metrics["failed_total"] > 0  # poison fixtures present
        assert metrics["overwrote_total"] > 0
        assert metrics["raw_charset_total"] > 0


class TestMidWriteKill:
    def test_uncommitted_chunk_dir_cleaned_on_resume(self, spark, pages_parquet,
                                                     tmp_path_factory):
        """A job killed MID-WRITE leaves a chunk dir with no manifest entry;
        the restart must delete it and reprocess those buckets exactly once."""
        import os

        d = str(tmp_path_factory.mktemp("midkill"))
        m1 = run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                            stop_after_chunks=2)
        # simulate a crash during chunk 2's write: orphan dir, no manifest
        orphan = os.path.join(d, "data", "chunk=2")
        os.makedirs(orphan)
        with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
            f.write(b"NOT A PARQUET FILE")  # partial garbage
        m2 = run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4)
        assert m2["complete"]
        out = read_output(spark, d)
        assert out.count() == out.select("url").distinct().count()
        assert m1["rows_this_run"] + m2["rows_this_run"] == m2["rows_total"]


class TestPartitionPruning:
    def test_since_until_prunes_and_completes(self, spark, pages_parquet,
                                              tmp_path_factory):
        """Time-window pruning through the full resumable pipeline (the
        days(warc_ts) partition-pruning path on Iceberg)."""
        from datetime import datetime

        d = str(tmp_path_factory.mktemp("pruned"))
        m = run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=2,
                           since="2024-06-05 00:00:00",
                           until="2024-06-15 00:00:00")
        assert m["complete"]
        out = read_output(spark, d)
        n = out.count()
        assert 0 < n < 300  # strict subset of the 300-row corpus
        # all output rows belong to the window (join back to input)
        src = spark.read.parquet(pages_parquet).select("url", "warc_ts")
        joined = out.join(src, "url")
        lo = datetime(2024, 6, 5)
        hi = datetime(2024, 6, 15)
        bad = joined.where((F.col("warc_ts") < F.lit(lo)) |
                           (F.col("warc_ts") >= F.lit(hi))).count()
        assert bad == 0


class TestBucketColResume:
    """Storage-aligned resume: the source is physically partitioned by the
    bucket column (write_bucketed_staging ≈ Iceberg bucket(N, url)), chunks
    filter on it, and the output matches the computed-_part_id path."""

    @pytest.fixture(scope="class")
    def bucketed_src(self, spark, pages_parquet, tmp_path_factory):
        from ocrd_calamari_spark.pipeline import write_bucketed_staging

        d = str(tmp_path_factory.mktemp("bsrc") / "staging")
        write_bucketed_staging(spark.read.parquet(pages_parquet), d,
                               n_buckets=8)
        return d

    def test_bucketed_kill_and_resume(self, spark, bucketed_src, out_single,
                                      tmp_path_factory):
        d = str(tmp_path_factory.mktemp("bres"))
        m1 = run_extraction(spark, bucketed_src, d, n_buckets=8, n_chunks=4,
                            bucket_col="bucket", stop_after_chunks=2)
        assert not m1["complete"]
        m2 = run_extraction(spark, bucketed_src, d, n_buckets=8, n_chunks=4,
                            bucket_col="bucket")
        assert m2["complete"]
        assert m1["rows_this_run"] + m2["rows_this_run"] == m2["rows_total"]
        out = read_output(spark, d)
        assert out.count() == out.select("url").distinct().count() == 300
        # byte-identical per url to the computed-_part_id single run
        d1, _ = out_single
        a = (read_output(spark, d1).select("url", "text", "conf")
             .toPandas().set_index("url").sort_index())
        b = (out.select("url", "text", "conf")
             .toPandas().set_index("url").sort_index())
        assert a.equals(b)

    def test_missing_bucket_col_raises(self, spark, pages_parquet,
                                       tmp_path_factory):
        d = str(tmp_path_factory.mktemp("nocol"))
        with pytest.raises(ValueError, match="bucket_col"):
            run_extraction(spark, pages_parquet, d, n_buckets=8,
                           bucket_col="bucket")

    def test_bucket_cardinality_mismatch_raises(self, spark, bucketed_src,
                                                tmp_path_factory):
        """Staging bucketed 8-ways + n_buckets=4 would silently drop
        buckets 4-7 on the FIRST run — must fail fast instead."""
        d = str(tmp_path_factory.mktemp("card"))
        with pytest.raises(ValueError, match="outside"):
            run_extraction(spark, bucketed_src, d, n_buckets=4,
                           bucket_col="bucket")


class TestValidateOutput:
    def test_detects_loss_and_passes_clean(self, spark, pages_parquet,
                                           tmp_path_factory):
        import glob
        import os

        from ocrd_calamari_spark.pipeline import validate_output

        d = str(tmp_path_factory.mktemp("val"))
        m = run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=2)
        assert m["complete"]
        rep = validate_output(spark, d)
        assert rep["ok"] and rep["rows"] == m["rows_total"]
        # tamper: drop one parquet file from a chunk → mismatch flagged
        victim = sorted(glob.glob(os.path.join(d, "data", "chunk=0",
                                               "*.parquet")))[0]
        os.remove(victim)
        rep2 = validate_output(spark, d)
        assert not rep2["ok"] and 0 in rep2["mismatches"]
        man, actual = rep2["mismatches"][0]
        assert actual < man
        # tamper harder: remove a whole chunk dir → reported missing
        import shutil

        shutil.rmtree(os.path.join(d, "data", "chunk=1"))
        rep3 = validate_output(spark, d)
        assert 1 in rep3["missing"]


class TestSchemaEvolution:
    def test_extra_source_columns_are_tolerated(self, spark, pages_pdf,
                                                tmp_path_factory):
        """A 100 TB table GROWS columns over its lifetime (new crawl
        metadata, quality scores...).  The engine projects exactly its
        kernel inputs, so a source with extra columns must run
        unchanged — a SELECT * anywhere in the read path would break
        here."""
        import pandas as pd

        wide = pages_pdf.copy()
        wide["crawl_batch"] = 7
        wide["quality_hint"] = 0.5
        d = tmp_path_factory.mktemp("wide")
        src = str(d / "pages_wide.parquet")
        from ocrd_calamari_spark.gen import write_pages_parquet

        # write_pages_parquet enforces the narrow schema — write directly
        wide.to_parquet(src, coerce_timestamps="us")
        out = str(d / "out")
        m = run_extraction(spark, src, out, n_buckets=8, n_chunks=2)
        assert m["complete"]
        res = read_output(spark, out)
        assert res.count() == res.select("url").distinct().count() == len(wide)


class TestManifestGuards:
    def test_n_buckets_mismatch_fails_fast(self, spark, pages_parquet,
                                           tmp_path_factory):
        """Resuming under a different bucket count would reinterpret
        completed bucket ids — must error, not silently skip/duplicate."""
        d = str(tmp_path_factory.mktemp("guard"))
        run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                       stop_after_chunks=1)
        with pytest.raises(ValueError, match="n_buckets=8"):
            run_extraction(spark, pages_parquet, d, n_buckets=16, n_chunks=4)

    def test_snapshot_mismatch_fails_fast(self, spark, pages_parquet,
                                          tmp_path_factory):
        d = str(tmp_path_factory.mktemp("snapguard"))
        run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                       snapshot_id=11, stop_after_chunks=1)
        with pytest.raises(ValueError, match="snapshot"):
            run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                           snapshot_id=22)

    def test_bucket_scheme_mismatch_fails_fast(self, spark, pages_parquet,
                                               tmp_path_factory):
        """Same n_buckets, different partitioning SCHEME: a physical
        bucket_col (murmur3-style values) and the computed
        pmod(xxhash64(url)) fallback assign urls to different part ids —
        resuming across them would silently skip/duplicate rows even
        though the n_buckets guard passes."""
        from ocrd_calamari_spark.pipeline import write_bucketed_staging

        src = str(tmp_path_factory.mktemp("schemesrc") / "staging")
        write_bucketed_staging(spark.read.parquet(pages_parquet), src,
                               n_buckets=8)
        d = str(tmp_path_factory.mktemp("schemeguard"))
        run_extraction(spark, src, d, n_buckets=8, n_chunks=4,
                       bucket_col="bucket", stop_after_chunks=1)
        # resume WITHOUT bucket_col: computed-_part_id scheme → must raise
        with pytest.raises(ValueError, match="bucket_scheme"):
            run_extraction(spark, src, d, n_buckets=8, n_chunks=4)
        # resume WITH the same scheme still works
        m = run_extraction(spark, src, d, n_buckets=8, n_chunks=4,
                           bucket_col="bucket")
        assert m["complete"]


def _uncoalesced(width: int) -> dict:
    """Session settings for chunks of ``width`` url-hash partitions that
    AQE leaves uncoalesced: the settings an operator sizes a chunk with."""
    return {"spark.sql.shuffle.partitions": str(width),
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}


class TestCompaction:
    def test_compact_preserves_rows_and_reduces_files(self, spark,
                                                      spark_conf,
                                                      pages_parquet,
                                                      tmp_path_factory):
        import os

        from ocrd_calamari_spark.pipeline import compact_output

        d = str(tmp_path_factory.mktemp("compact"))
        spark_conf(_uncoalesced(8))  # 8 files per chunk
        run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4)
        before = (read_output(spark, d)
                  .select("url", "text", "conf").toPandas()
                  .set_index("url").sort_index())
        stats = compact_output(spark, d)
        assert stats["chunks"] > 0
        assert stats["files_after"] < stats["files_before"]
        after = (read_output(spark, d)
                 .select("url", "text", "conf").toPandas()
                 .set_index("url").sort_index())
        assert before.equals(after)  # byte-identical content
        data = os.path.join(d, "data")
        for name in os.listdir(data):
            if name.startswith("chunk="):
                files = [f for f in os.listdir(os.path.join(data, name))
                         if f.endswith(".parquet")]
                assert len(files) == 1
        # idempotent: second pass is a no-op
        assert compact_output(spark, d)["chunks"] == 0

    def test_crash_recovery_and_no_partition_pollution(self, spark,
                                                       spark_conf,
                                                       pages_parquet,
                                                       tmp_path_factory):
        """Interrupted compaction must be recoverable and a leftover tmp
        must never pollute partition discovery (underscore prefix)."""
        import os
        import shutil

        from ocrd_calamari_spark.pipeline import compact_output

        d = str(tmp_path_factory.mktemp("crash"))
        spark_conf(_uncoalesced(4))
        run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4)
        data = os.path.join(d, "data")
        n0 = read_output(spark, d).count()

        # crash case A: complete tmp written (_SUCCESS), old chunk deleted,
        # rename never happened → recovery must finish the swap
        chunk0 = os.path.join(data, "chunk=0")
        tmp0 = os.path.join(data, "_chunk_0.compact.tmp")
        spark.read.parquet(chunk0).coalesce(1).write.mode(
            "overwrite").parquet(tmp0)
        shutil.rmtree(chunk0)
        # crash case B: partial tmp (no _SUCCESS) next to a live chunk
        tmp1 = os.path.join(data, "_chunk_1.compact.tmp")
        os.makedirs(tmp1)
        with open(os.path.join(tmp1, "part-0.parquet"), "wb") as f:
            f.write(b"partial garbage")
        # underscore tmp dirs are invisible to the reader even pre-recovery:
        # the mid-crash dataset is exactly the 3 intact chunks (no
        # duplicated rows, no 'chunk=N.compact.tmp' string partitions)
        mid = read_output(spark, d)
        n_chunk0 = spark.read.parquet(tmp0).count()
        assert mid.count() == n0 - n_chunk0
        compact_output(spark, d)
        out = read_output(spark, d)
        assert out.count() == n0
        assert out.select("url").distinct().count() == n0
        assert not os.path.isdir(tmp0) and not os.path.isdir(tmp1)
        assert dict(out.dtypes).get("url") == "string"


class TestResumeCorpusGuards:
    def test_resume_with_different_source_raises(self, spark, pages_parquet,
                                                 tmp_path_factory, pages_pdf):
        """A resume pointed at a DIFFERENT source path must refuse: the
        bucketing checks all pass, so without the guard the output would
        silently mix corpora (half old buckets, half new) and still
        report complete."""
        import os

        from ocrd_calamari_spark.gen import write_pages_parquet

        d = str(tmp_path_factory.mktemp("srcguard"))
        run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                       stop_after_chunks=1)
        other = os.path.join(str(tmp_path_factory.mktemp("othersrc")),
                             "pages.parquet")
        write_pages_parquet(pages_pdf, other)
        with pytest.raises(ValueError, match="source"):
            run_extraction(spark, other, d, n_buckets=8, n_chunks=4)

    def test_resume_with_different_window_raises(self, spark, pages_parquet,
                                                 tmp_path_factory):
        d = str(tmp_path_factory.mktemp("winguard"))
        run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                       stop_after_chunks=1, since="2024-01-01")
        with pytest.raises(ValueError, match="since"):
            run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                           since="2024-02-01")

    def test_resume_with_equivalent_window_type_passes(
            self, spark, pages_parquet, tmp_path_factory):
        """A semantically identical bound of a different type (datetime
        vs its string literal) must NOT trip the window guard — bounds
        compare through a canonical timestamp form (ADVICE r03)."""
        from datetime import datetime

        d = str(tmp_path_factory.mktemp("wineq"))
        run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                       stop_after_chunks=1, since="2024-01-01")
        m = run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=4,
                           since=datetime(2024, 1, 1))
        assert m["complete"]

    def test_orphan_chunk_dir_fails_the_audit(self, spark, pages_parquet,
                                              tmp_path_factory):
        """A chunk dir with no manifest record (the crash artifact between
        parquet write and manifest commit) must FAIL validate_output —
        read_output would serve its rows while no record accounts for
        them."""
        import os
        import shutil

        from ocrd_calamari_spark.pipeline import validate_output

        d = str(tmp_path_factory.mktemp("orphan"))
        m = run_extraction(spark, pages_parquet, d, n_buckets=8, n_chunks=2)
        assert m["complete"]
        # forge the crash artifact: copy a committed chunk to an
        # uncommitted id
        src = os.path.join(d, "data", "chunk=0")
        shutil.copytree(src, os.path.join(d, "data", "chunk=99"))
        rep = validate_output(spark, d)
        assert rep["orphans"] == [99] and not rep["ok"]

    def test_cli_rejects_zero_buckets(self):
        import pytest as _pytest

        from ocrd_calamari_spark.job import parse_args

        base = ["--source", "x", "--out", "y"]
        for extra in (["--buckets", "0"], ["--chunks", "0"],
                      ["--voter", "bogus"], ["--glyph-conf-cutoff", "0.5"],
                      ["--glyph-conf-cutoff", "nan"],
                      ["--source", "warc:x", "--since", "2024-06-01"],
                      ["--source", "warc:x", "--until", "2024-07-01"]):
            with _pytest.raises(SystemExit):
                parse_args(base + extra)
