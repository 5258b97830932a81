"""Physical-plan assertions: the optimizations SURVEY.md §4 promises must
actually appear in the plans — filter pushdown to the scan, column pruning
to exactly the kernel inputs, map-side partial aggregation in the
quality funnel, and no spurious exchanges in the map-only pipeline."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.config import ExtractConfig
from ocrd_calamari_spark.pipeline import (
    _scan_splits, extract_df, read_pages, with_part_id, write_bucketed_staging,
)

SF = "/root/testdata/sf0.01"


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


class TestScanPushdown:
    def test_filter_pushed_to_parquet(self, spark):
        d = spark.read.parquet(f"{SF}/documents.parquet")
        q = d.where((F.col("lang") == "en") & F.col("n_chars").between(100, 400)) \
             .select("doc_id", "n_chars")
        plan = plan_of(q)
        assert "PushedFilters" in plan
        assert "lang" in plan.split("PushedFilters")[1].split("\n")[0]

    def test_column_pruning_on_documents(self, spark):
        d = spark.read.parquet(f"{SF}/documents.parquet")
        q = d.select("doc_id")
        plan = plan_of(q)
        rs = plan.split("ReadSchema:")[1].split("\n")[0]
        assert "doc_id" in rs and "text" not in rs

    def test_extraction_scan_prunes_to_kernel_columns(self, spark, pages_parquet):
        df = read_pages(spark, pages_parquet)
        out = extract_df(df, ExtractConfig(), with_lineage=False)
        plan = plan_of(out)
        rs = plan.split("ReadSchema:")[1].split("\n")[0]
        # exactly the kernel inputs — warc_ts and the test-only `case`
        # column must NOT be read
        for col in ("url", "html", "text", "lang"):
            assert col in rs
        assert "warc_ts" not in rs and "case" not in rs

    def test_time_predicate_reaches_scan(self, spark, pages_parquet):
        df = read_pages(spark, pages_parquet, since="2024-06-10")
        plan = plan_of(df.select("url"))
        assert "PushedFilters" in plan
        assert "warc_ts" in plan.split("PushedFilters")[1].split("\n")[0]


class TestJoinAndAggStrategies:
    def test_warc_plan_is_one_fused_map_stage(self, spark, pages_pdf,
                                              tmp_path):
        """binaryFile → record split + kernel in one mapInArrow: no
        pandas reader, no shuffle of records."""
        from ocrd_calamari_spark.sources.warc import write_warc

        write_warc(pages_pdf.head(10), str(tmp_path / "a.warc"))
        out = extract_df(read_pages(spark, "warc:" + str(tmp_path)),
                         ExtractConfig())
        plan = plan_of(out, "simple")
        assert "Exchange" not in plan
        assert plan.count("MapInArrow") == 1
        assert "MapInPandas" not in plan

    def test_few_splits_repartition_once_by_url(self, spark, pages_parquet):
        """One scan split against local[4]: one Exchange to one task per
        core, keyed on the url alone (no host term)."""
        out = extract_df(read_pages(spark, pages_parquet), ExtractConfig())
        plan = plan_of(out, "simple")
        assert plan.count("Exchange") == 1
        assert re.search(r"hashpartitioning\(url#\d+, 4\)", plan)
        assert "parse_url" not in plan

    @pytest.fixture
    def four_files(self, pages_pdf, tmp_path):
        """The pages as 4 files: 4 scan splits, one per core."""
        from ocrd_calamari_spark.gen import write_pages_parquet

        for k in range(4):
            write_pages_parquet(pages_pdf.iloc[k::4],
                                str(tmp_path / f"part-{k}.parquet"))
        return str(tmp_path)

    def test_enough_splits_run_map_only(self, spark, four_files):
        """4 scan splits against local[4]: the map runs on them without a
        shuffle."""
        df = read_pages(spark, four_files)
        assert df.rdd.getNumPartitions() >= 4
        plan = plan_of(extract_df(df, ExtractConfig()), "simple")
        assert "Exchange" not in plan
        assert "MapInArrow" in plan

    def test_filtered_chunk_repartitions_for_aqe(self, spark, four_files):
        """A computed-_part_id resume chunk (run_extraction without
        bucket_col) keeps a fraction of every split's rows, so its 4 splits
        do not count: one url-hash Exchange without a width, which AQE
        sizes from the surviving bytes (spark.sql.shuffle.partitions = 8
        before coalescing)."""
        pages = with_part_id(read_pages(spark, four_files), 64)
        chunk = pages.where(F.col("_part_id").isin(list(range(16))))
        plan = plan_of(extract_df(chunk, ExtractConfig()), "simple")
        assert plan.count("Exchange") == 1
        assert re.search(
            r"hashpartitioning\(url#\d+, 8\), REPARTITION_BY_COL", plan)

    def test_split_count_only_on_bare_scans(self, spark, pages_parquet,
                                            tmp_path):
        """A chunk predicate on a partition column (bucket_col) prunes
        files inside the scan and its splits count; a row filter, an
        Exchange or an aggregate above the scan gives None."""
        df = read_pages(spark, pages_parquet)
        staged = str(tmp_path / "bucketed")
        write_bucketed_staging(df, staged, 4)
        pruned = (spark.read.parquet(staged)
                  .withColumn("_part_id", F.col("bucket").cast("int"))
                  .where(F.col("_part_id").isin([0, 1])))
        assert _scan_splits(pruned.select("url", "html")) >= 1
        assert _scan_splits(df.select("url", "html")) >= 1
        for other in (with_part_id(df, 64).where(F.col("_part_id") < 8),
                      df.repartition(3),
                      df.groupBy("url").agg(F.max("html").alias("html"))):
            assert _scan_splits(other) is None

    def test_sizing_runs_no_job(self, spark, pages_parquet):
        """Sizing the stage plans the query but launches no Spark job, on a
        bare scan and on inputs with a row filter, an Exchange or an
        aggregate (AQE would run their shuffle stages to build an RDD)."""
        sc = spark.sparkContext
        df = read_pages(spark, pages_parquet)
        frames = (with_part_id(df, 64).where(F.col("_part_id") < 8),
                  df.repartition(3),
                  df.groupBy("url").agg(F.max("html").alias("html"),
                                        F.max("text").alias("text"),
                                        F.max("lang").alias("lang")))
        sc.setJobGroup("extract_df-sizing", "plan only")
        try:
            extract_df(df, ExtractConfig())
            for frame in frames:
                extract_df(frame, ExtractConfig(), with_lineage=False)
            jobs = sc.statusTracker().getJobIdsForGroup("extract_df-sizing")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(jobs) == []


class TestBucketedResumePruning:
    """Storage-aligned resume buckets (SCALE.md input layout): when the
    source is physically partitioned by the bucket column, each chunk's
    isin() predicate must prune the scan to that chunk's own files — not
    re-read the full table once per chunk."""

    @pytest.fixture(scope="class")
    def bucketed_dir(self, spark, pages_parquet, tmp_path_factory):
        from ocrd_calamari_spark.pipeline import write_bucketed_staging

        d = str(tmp_path_factory.mktemp("bucketed") / "staging")
        write_bucketed_staging(spark.read.parquet(pages_parquet), d,
                               n_buckets=8)
        return d

    def test_chunk_filter_prunes_files(self, spark, bucketed_dir):
        src = spark.read.parquet(bucketed_dir)
        total = len(src.inputFiles())
        pages = src.withColumn("_part_id", F.col("bucket").cast("int"))
        group = [0, 1]  # one chunk = 2 of 8 buckets
        subset = pages.where(F.col("_part_id").isin(group))
        # runtime proof: the executed scan touches only the chunk's files
        # (inputFiles() reports the unfiltered relation, so count the files
        # actually read)
        read_files = (subset.select(F.input_file_name().alias("f"))
                      .distinct().count())
        assert read_files < total
        assert read_files <= total * len(group) / 8 + 1
        plan = plan_of(subset.select("url"))
        pf = plan.split("PartitionFilters:")[1].split("\n")[0]
        assert "bucket" in pf  # predicate reached the partition pruner

    def test_computed_part_id_does_not_prune(self, spark, pages_parquet):
        # the documented contrast: a computed bucket cannot prune
        from ocrd_calamari_spark.pipeline import with_part_id

        src = spark.read.parquet(pages_parquet)
        pages = with_part_id(src, 8)
        subset = pages.where(F.col("_part_id").isin([0, 1]))
        assert len(subset.inputFiles()) == len(src.inputFiles())


class TestRound4NewOpPlans:
    def test_quality_funnel_is_one_scan_one_exchange(self, spark):
        """The fused filter cascade reads the corpus once and exchanges
        only the <= 5 stage groups: exactly one Exchange (the partial ->
        final agg boundary), two HashAggregates, no Python."""
        from ocrd_calamari_spark.functions.text import quality_funnel

        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(quality_funnel(d), "simple")
        assert plan.count("Exchange") == 1
        assert plan.count("HashAggregate") == 2
        assert "Python" not in plan


class TestRound4LateOpPlans:
    def test_normalized_dedup_ships_fingerprints_not_text(self, spark):
        """Canonical-text dedup must reduce rows to (id, 16-byte fp)
        BEFORE its one exchange: exactly one Exchange (the fp window's
        hash partitioning), and no Python evaluator."""
        from ocrd_calamari_spark.functions.dedup import normalized_duplicates

        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(normalized_duplicates(d), "simple")
        assert plan.count("Exchange") == 1
        assert "Python" not in plan
