"""Physical-plan assertions: the optimizations SURVEY.md §4 promises must
actually appear in the plans — filter pushdown to the scan, column pruning
to exactly the kernel inputs, broadcast joins for small dims, map-side
partial aggregation, and no spurious exchanges in the map-only pipeline."""

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

    def test_whole_stage_codegen_on_relational_path(self, spark):
        from ocrd_calamari_spark.entry_queries import q_token_stats

        plan = plan_of(q_token_stats(spark, SF), "simple")
        assert "*(" in plan  # WholeStageCodegen span marker


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


class TestCustomJoinPlans:
    def test_asof_join_has_no_join_node(self, spark):
        """The as-of join is union + window — no join operator at all, so
        no key×key blowup exists in the plan (one Exchange on the key)."""
        from ocrd_calamari_spark.entry_queries import q_asof_join

        plan = plan_of(q_asof_join(spark, SF), "simple")
        assert "Join" not in plan
        assert "Window" in plan

    def test_range_join_is_equi_not_nested_loop(self, spark):
        """The bucketized range join must plan as an EQUI join (hash/merge,
        broadcastable) — never BroadcastNestedLoopJoin, which is the
        quadratic default for raw BETWEEN theta joins."""
        from ocrd_calamari_spark.entry_queries import q_range_join

        plan = plan_of(q_range_join(spark, SF), "simple")
        assert "BroadcastNestedLoopJoin" not in plan
        assert ("BroadcastHashJoin" in plan or "SortMergeJoin" in plan
                or "ShuffledHashJoin" in plan)


class TestPipelineOperatorPlans:
    def test_pack_sequences_big_window_is_partitioned(self, spark):
        """The corpus-side running offset must be a window PARTITIONED by
        the range bucket — a global-order (unpartitioned) window over the
        big side funnels the whole table through one task.  The only
        allowed unpartitioned window is the n_buckets-row subtotal prefix."""
        from ocrd_calamari_spark.entry_queries import q_pack_sequences

        plan = plan_of(q_pack_sequences(spark, SF), "simple")
        # the weight cumsum window carries the bucket partition key
        assert "windowspecdefinition(_bkt" in plan

    def test_decontaminate_broadcasts_benchmark_grams(self, spark):
        """The eval-gram set must broadcast — corpus text never shuffles
        for the leak scan."""
        from ocrd_calamari_spark.entry_queries import q_decontaminate

        plan = plan_of(q_decontaminate(spark, SF), "simple")
        assert "BroadcastHashJoin" in plan


class TestSketchPlans:
    def test_kmv_plan_has_no_unbounded_collect(self, spark):
        """Regression pin for the bounded KMV form: the plan must carry
        NO collect_set (the O(distinct)-per-group aggregate the round-2
        verdict flagged) — only spillable operators (hash-distinct,
        window rank) ahead of the final ≤k-row collect_list."""
        from ocrd_calamari_spark.functions.sketch import kmv_distinct_estimate

        df = spark.createDataFrame([(1, "a")], ["g", "v"])
        plan = kmv_distinct_estimate(df, "g", "v", k=8)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "collect_set" not in plan
        assert "collect_list" in plan
        assert "Window" in plan


class TestNewOperatorPlans:
    def test_jaccard_index_is_equi_joins_only(self, spark):
        """The exact Jaccard similarity join must be posting-list equi
        joins + hash aggregates — never a cartesian/nested-loop pair
        enumeration over documents."""
        from ocrd_calamari_spark.functions.dedup import jaccard_index_dedup

        d = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        out = jaccard_index_dedup(d, threshold=0.5, shingle_k=3)
        plan = plan_of(out, "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        spark.catalog.clearCache()  # release the operator's posting cache

    def test_inverted_index_capped_bounds_posting_buffers(self, spark):
        """Regression pin for the bounded inverted index (mirror of the
        KMV pin at TestSketchPlans): with a finite max_df the plan must
        gate collect_list behind the df-count pass — the df aggregation
        itself is count-only, and the posting aggregation sits after the
        df<=cap join, so no aggregation buffer exceeds max_df elements
        regardless of token skew."""
        from ocrd_calamari_spark.functions.text import inverted_index

        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        plan = inverted_index(df, max_df=7)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "collect_list" in plan
        assert "<= 7" in plan          # the df gate exists
        assert "Join" in plan          # postings gated through the join
        assert "collect_set" not in plan
        # and the registry query runs the capped form, not the exact one
        from ocrd_calamari_spark.entry_queries import (
            _INDEX_MAX_DF,
            q_inverted_index,
        )

        qplan = plan_of(q_inverted_index(spark, SF), "simple")
        assert f"<= {_INDEX_MAX_DF}" in qplan

    def test_bpe_pairs_take_ordered_and_divergence_broadcasts(self, spark):
        """bpe_pair_counts' top-k must compile to TakeOrderedAndProject
        (per-partition heaps — no global sort of the pair table);
        domain_divergence's corpus totals must ride a broadcast (the
        1-row cross join must never shuffle the present-pairs side)."""
        from ocrd_calamari_spark.functions.text import (
            bpe_pair_counts,
            domain_divergence,
        )

        d = spark.read.parquet(f"{SF}/documents.parquet")
        bplan = plan_of(bpe_pair_counts(d), "simple")
        assert "TakeOrderedAndProject" in bplan
        dplan = plan_of(domain_divergence(d), "simple")
        assert "BroadcastNestedLoopJoin" in dplan or "BroadcastExchange" in dplan
        assert "CartesianProduct" not in dplan

    def test_zorder_layout_is_range_partitioned(self, spark):
        """The layout write must be a RANGE exchange on the Morton key
        (balanced files even under skew), with the key itself evaluated
        JVM-side (no BatchEvalPython)."""
        from ocrd_calamari_spark.functions.layout import zorder_layout

        d = spark.read.parquet(f"{SF}/events.parquet").select(
            "event_id", "user_id", F.hour("ts").alias("h")
        )
        plan = plan_of(zorder_layout(d, "user_id", "h", bits=8, n_files=8),
                       "simple")
        assert "rangepartitioning" in plan.lower()
        assert "BatchEvalPython" not in plan

    def test_bm25_broadcasts_stats_not_corpus(self, spark):
        """df/totals are broadcast; the corpus-side tf/dl aggregates have
        map-side partial aggregation (partial_count before the exchange)."""
        from ocrd_calamari_spark.functions.text import bm25_scores

        d = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        plan = plan_of(bm25_scores(d, ["join", "filter"]), "formatted")
        assert "BroadcastHashJoin" in plan
        assert "partial_count" in plan


class TestBucketedJoin:
    def test_bucketed_tables_join_with_zero_exchanges(self, spark, tmp_path):
        """Two tables written with write_bucketed_table on the same key
        and bucket count must SortMergeJoin with NO Exchange anywhere —
        the co-located big-big join layout (at 100 TB this removes the
        full shuffle of both sides on every repeated key join)."""
        from pyspark.sql import functions as F

        from ocrd_calamari_spark.functions.joins import write_bucketed_table

        a = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
        b = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb"))
        spark.sql("DROP TABLE IF EXISTS bk_a")
        spark.sql("DROP TABLE IF EXISTS bk_b")
        write_bucketed_table(a, "bk_a", str(tmp_path / "a"), 8, "k",
                             sort_by="k")
        write_bucketed_table(b, "bk_b", str(tmp_path / "b"), 8, "k",
                             sort_by="k")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("bk_a").join(spark.table("bk_b"), "k")
            plan = plan_of(j, "simple")
            assert "Exchange" not in plan
            assert "SortMergeJoin" in plan
            assert "Bucketed: true" in plan
            assert j.count() == 5000
            # the same data joined WITHOUT bucket metadata (plain parquet
            # read) shuffles both sides — the negative control
            pa = spark.read.parquet(str(tmp_path / "a"))
            pb = spark.read.parquet(str(tmp_path / "b"))
            nplan = plan_of(pa.join(pb, "k"), "simple")
            assert "Exchange" in nplan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.sql("DROP TABLE IF EXISTS bk_a")
            spark.sql("DROP TABLE IF EXISTS bk_b")


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

    def test_intra_doc_span_dedup_is_zero_shuffle_map(self, spark):
        """Within-document repeated-span removal is per-doc array algebra
        inside one projection: scan → project, no Exchange of any kind,
        no Python evaluator (the round-4 rewrite dropped the window +
        distinct + anti-join form's three doc_id shuffles; measured
        7.9 s -> 0.4 s at sf0.1)."""
        from ocrd_calamari_spark.functions.text import dedup_spans_in_doc

        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(dedup_spans_in_doc(d), "simple")
        assert "Exchange" not in plan
        assert "Python" not in plan

    def test_tf_cosine_join_is_equi_joins_only(self, spark):
        """The cosine pair join must stay an equi-join on the term (the
        a.id < b.id predicate is a residual, not a join strategy change)
        with map-side partial aggregation of the dot products."""
        from ocrd_calamari_spark.functions.dedup import tf_cosine_join

        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(tf_cosine_join(d, max_df=100), "simple")
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "partial_sum" in plan_of(tf_cosine_join(d, max_df=100))


class TestShardAssignPlan:
    def test_global_rank_window_is_partitioned(self, spark):
        """shard_assign's global rank must ride the distributed prefix
        sum: every big-side window carries the range-bucket partition
        key; the only unpartitioned window is the subtotal-table prefix
        (n_buckets rows, bounded by construction)."""
        from ocrd_calamari_spark.entry_queries import q_shard_assign

        plan = plan_of(q_shard_assign(spark, SF), "simple")
        assert "windowspecdefinition(_bkt" in plan


class TestContainmentJoinPlan:
    def test_pair_aggregation_appears_once(self, spark):
        """Both containment directions must fan out of ONE pair
        aggregation via explode — the self-union formulation re-evaluated
        the posting join + pair count twice (the most expensive stage)."""
        import re

        from ocrd_calamari_spark.entry_queries import q_containment_join

        plan = plan_of(q_containment_join(spark, SF), "simple")
        pair_aggs = re.findall(
            r"HashAggregate\(keys=\[id_a#\d+L, id_b#\d+L\], "
            r"functions=\[partial_count", plan)
        assert len(pair_aggs) == 1
        assert "CartesianProduct" not in plan


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

    def test_mojibake_is_pure_map(self, spark):
        """Encoding-damage screen is row-local: no aggregation, no join;
        the only exchanges are the narrow input-spreading repartition
        (the fixture is a 1-file scan, r06) and the single-partition
        presentation sort (_psort — no rangepartitioning resample);
        the three marker counts run in codegen, not Python."""
        from ocrd_calamari_spark.entry_queries import q_mojibake_detect

        plan = plan_of(q_mojibake_detect(spark, SF), "simple")
        assert "HashAggregate" not in plan
        assert "Join" not in plan
        assert plan.count("Exchange") == 2  # input spread + _psort only
        assert "rangepartitioning" not in plan
        assert "Python" not in plan

    def test_tokenizer_fertility_aggs_are_partial(self, spark):
        """The per-lang fertility rollup must partial-aggregate map-side
        (per-doc and per-lang HashAggregates) and keep the small sides
        broadcast — never a corpus-side shuffle of text."""
        from ocrd_calamari_spark.entry_queries import q_tokenizer_fertility

        plan = plan_of(q_tokenizer_fertility(spark, SF), "simple")
        assert "HashAggregate" in plan
        assert "BroadcastExchange" in plan
        assert "Python" not in plan

    def test_clean_pipeline_stays_jvm_and_windows_on_fingerprint(
            self, spark):
        """The composed cleaning pipeline must run entirely in codegen
        (no Python evaluator) and its dedup window must partition on
        the compact norm fingerprint, never on text."""
        from ocrd_calamari_spark.entry_queries import q_clean_pipeline

        plan = plan_of(q_clean_pipeline(spark, SF), "simple")
        assert "Python" not in plan
        assert "windowspecdefinition(norm" in plan

    def test_global_shuffle_window_is_shard_partitioned(self, spark):
        """The training-order rank must be a PER-SHARD window (bounded by
        corpus/N), never a global-order single-task window."""
        from ocrd_calamari_spark.entry_queries import q_global_shuffle

        plan = plan_of(q_global_shuffle(spark, SF), "simple")
        assert "windowspecdefinition(shard" in plan

    def test_paragraph_dedup_rank_is_hash_partitioned(self, spark):
        """The first-occurrence rank must window over md5(para)
        partitions (streaming row_number; partition = dup multiplicity),
        never a global-order window."""
        from ocrd_calamari_spark.entry_queries import q_paragraph_dedup

        plan = plan_of(q_paragraph_dedup(spark, SF), "simple")
        # the md5 key projects to _w0; the rank partitions on it
        assert "windowspecdefinition(_w0" in plan
        # rn==1 plans as a PARTIAL WindowGroupLimit — dup paragraphs
        # collapse map-side BEFORE the hash exchange (better than the
        # docstring's streaming-row_number floor)
        assert "WindowGroupLimit" in plan and ", Partial" in plan
        assert "Python" not in plan

    def test_bpe_encode_vocab_map_broadcasts(self, spark):
        """The (word -> n_subwords) map is vocab-sized and must broadcast;
        the merge chain itself is literal replaces — no Python."""
        from ocrd_calamari_spark.functions.text import bpe_encode_counts

        d = spark.read.parquet(f"{SF}/documents.parquet")
        plan = plan_of(bpe_encode_counts(d, [("t", "h"), ("th", "e")]),
                       "simple")
        assert "BroadcastHashJoin" in plan
        assert "Python" not in plan

    def test_exact_sample_is_take_ordered(self, spark):
        """The exact-k carve must plan as TakeOrdered (per-partition
        top-k, k-row merge), never a global sort."""
        from ocrd_calamari_spark.entry_queries import q_exact_sample

        plan = plan_of(q_exact_sample(spark, SF), "simple")
        assert "TakeOrdered" in plan
        assert "Python" not in plan

    def test_ks_drift_histogram_partial_aggs_and_broadcasts(self, spark):
        """The corpus must reduce to a (group, bucket) histogram with
        map-side combine (shuffle = domains x grid, not rows); grid and
        totals ride broadcasts; all-JVM."""
        from ocrd_calamari_spark.entry_queries import q_ks_drift

        plan = plan_of(q_ks_drift(spark, SF), "simple")
        assert "partial_count" in plan
        assert "BroadcastExchange" in plan
        assert "windowspecdefinition(g" in plan  # per-group cumulative
        assert "Python" not in plan

    def test_char_diversity_partial_aggs_before_exchange(self, spark):
        """The char explode must collapse map-side into (doc, char, count)
        partials (fan-in bounded by per-doc alphabet, not length); no
        join, all-JVM."""
        from ocrd_calamari_spark.entry_queries import q_char_diversity

        plan = plan_of(q_char_diversity(spark, SF), "simple")
        assert "partial_count" in plan
        assert "Join" not in plan
        assert "Python" not in plan

    def test_kmv_overlap_bottom_k_is_take_ordered(self, spark):
        """The bottom-k union cut must plan as TakeOrdered (per-partition
        top-k + k-row merge) over hash-flag rows — the corpora never
        join and never globally sort; all-JVM."""
        from ocrd_calamari_spark.entry_queries import q_corpus_overlap

        plan = plan_of(q_corpus_overlap(spark, SF), "simple")
        assert "TakeOrdered" in plan
        assert "Join" not in plan
        assert "Python" not in plan

    def test_winnow_selection_is_pure_map(self, spark):
        """Hashing, per-window rightmost-min folds, and dedup are one JVM
        projection + explode — no join, no aggregation, no Python; the
        only exchange is the presentation orderBy."""
        from ocrd_calamari_spark.entry_queries import q_winnow_fingerprints

        plan = plan_of(q_winnow_fingerprints(spark, SF), "simple")
        assert "HashAggregate" not in plan
        assert "Join" not in plan
        assert "Python" not in plan
