"""Tests for the text-analysis and dedup functions."""

import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.functions.dedup import distinct_by_text, exact_duplicates
from ocrd_calamari_spark.functions.text import lang_id, quality_score, token_count


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy dog near the river bank now"),  # near dup of 0
        (3, "der schnelle braune fuchs springt über den faulen hund und die brücke"),
        (4, "le renard brun rapide saute par dessus le chien paresseux dans les bois"),
        (5, "completely different content about spark query engines and shuffles here"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestDedup:
    def test_exact_duplicates(self, docs):
        groups = exact_duplicates(docs).collect()
        assert len(groups) == 1
        assert groups[0]["doc_ids"] == [0, 1]

    def test_exact_duplicates_sample_cap(self, spark):
        """sample_k bounds the member list pre-buffer; n_dups stays exact
        (round-3 verdict #3)."""
        rows = [(i, "same page") for i in range(7)] + [(10, "other"),
                                                       (11, "other")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {g.n_dups: g.doc_ids
               for g in exact_duplicates(df, sample_k=3).collect()}
        assert got[7] == [0, 1, 2]   # 7-copy group reports 3 smallest ids
        assert got[2] == [10, 11]    # small group unaffected
        # the cap is enforced by window rank BEFORE the aggregation buffer
        plan = exact_duplicates(df, sample_k=3)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "row_number" in plan.lower() or "Window" in plan

    def test_distinct_by_text(self, docs):
        kept = distinct_by_text(docs)
        assert kept.count() == 5
        assert kept.where("doc_id = 1").count() == 0  # min-id wins


class TestTextAnalysis:
    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [(0, "the cat and the dog of the house is here"),
             (1, "der hund und die katze ist von dem haus"),
             (2, "le chat et les chiens est pour des maisons")],
            ["i", "text"],
        )
        out = {r.i: r.lang for r in df.select("i", lang_id("text").alias("lang")).collect()}
        assert out == {0: "en", 1: "de", 2: "fr"}

    def test_token_count_and_quality(self, spark):
        df = spark.createDataFrame([(0, "one two three. four!")], ["i", "text"])
        r = df.select(
            token_count("text").alias("n"),
            quality_score("text").alias("q"),
        ).collect()[0]
        assert r.n == 4
        assert 0.0 < r.q <= 1.5


class TestRepetitionStats:
    def test_handcrafted_signals(self, spark):
        from ocrd_calamari_spark.functions.text import repetition_stats

        df = spark.createDataFrame(
            [
                (1, "a b a b a b"),        # grams: ab ba ab ba ab → top=3/5
                (2, "x y z w"),            # all distinct → dup 0, top 1/3
                (3, "spam spam spam spam"),  # one gram repeated 3×
                (4, "solo"),               # shorter than n → 1 truncated gram
            ],
            ["doc_id", "text"],
        )
        got = {r.doc_id: r for r in repetition_stats(df).collect()}
        r1 = got[1]
        assert (r1.n_grams, r1.n_distinct_grams, r1.top_gram_count) == (5, 2, 3)
        assert r1.dup_ngram_frac == 3 / 5 and r1.top_ngram_frac == 3 / 5
        r2 = got[2]
        assert r2.dup_ngram_frac == 0.0 and r2.top_gram_count == 1
        r3 = got[3]
        assert (r3.n_grams, r3.n_distinct_grams, r3.top_gram_count) == (3, 1, 3)
        assert r3.top_ngram_frac == 1.0
        r4 = got[4]
        assert (r4.n_tokens, r4.n_grams, r4.top_gram_count) == (1, 1, 1)


class TestRepetitionStatsRandomized:
    def test_matches_python_reference(self, spark):
        """150 random token sequences (skewed vocab so repeats are common)
        vs a pure-python reference — one Spark job, not one per example."""
        import random
        from collections import Counter

        rng = random.Random(11)
        vocab = [f"w{j}" for j in range(6)]
        rows = []
        for i in range(150):
            n = rng.randint(1, 40)
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        from ocrd_calamari_spark.functions.text import repetition_stats

        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r for r in repetition_stats(df).collect()}
        for i, text in rows:
            toks = text.split(" ")
            grams = ([" ".join(toks[k:k + 2])
                      for k in range(max(len(toks) - 1, 1))]
                     if len(toks) > 1 else [toks[0]])
            c = Counter(grams)
            r = got[i]
            assert r.n_grams == len(grams)
            assert r.n_distinct_grams == len(c)
            assert r.top_gram_count == max(c.values())


class TestPackedOffsets:
    def test_matches_global_window_for_any_bucket_count(self, spark):
        """The distributed prefix sum (bucket subtotals + broadcast bases +
        within-bucket window) must equal the single-window global cumsum
        for every bucket count — including gaps in the order column and
        n_buckets larger than the row count."""
        from pyspark.sql import Window

        from ocrd_calamari_spark.functions.text import packed_offsets

        rows = [(i * 7 % 101, (i * 13) % 9 + 1) for i in range(80)]
        df = spark.createDataFrame(rows, ["ord", "w"])
        wref = Window.orderBy("ord").rowsBetween(
            Window.unboundedPreceding, -1
        )
        ref = {
            r.ord: r.off
            for r in df.select(
                "ord",
                F.coalesce(F.sum("w").over(wref), F.lit(0)).alias("off"),
            ).collect()
        }
        for nb in (1, 3, 16, 500):
            got = {
                r.ord: r._start_offset
                for r in packed_offsets(df, "ord", "w", n_buckets=nb).collect()
            }
            assert got == ref, f"n_buckets={nb}"
        # empty input: zero rows out, schema intact (no max() crash)
        empty = packed_offsets(df.where("ord < 0"), "ord", "w")
        assert empty.collect() == [] and "_start_offset" in empty.columns


class TestIncrementalDedup:
    def test_catalog_and_within_delta_paths(self, spark):
        from ocrd_calamari_spark.functions.dedup import dedup_against_catalog
        from ocrd_calamari_spark.functions.text import fingerprint

        prior = spark.createDataFrame(
            [(1, "old doc one"), (2, "old doc two")], ["doc_id", "text"]
        )
        catalog = prior.select(fingerprint("text").alias("fp")).distinct()
        delta = spark.createDataFrame(
            [
                (10, "old doc one"),   # recrawl of catalog doc → dropped
                (11, "new doc"),       # kept (min-id rep)
                (12, "new doc"),       # within-delta dup → dropped
                (13, "another new"),   # kept
            ],
            ["doc_id", "text"],
        )
        kept = sorted(
            r.doc_id
            for r in dedup_against_catalog(delta, catalog).collect()
        )
        assert kept == [11, 13]


class TestSimilaritySemantics:
    def test_packed_offsets_buckets_offset_id_range(self, spark):
        """Order values clustered far from zero (epoch-micro ids) must
        still spread across buckets — width is over (max - min)."""
        from ocrd_calamari_spark.functions.text import packed_offsets

        base = 1_700_000_000_000_000
        df = spark.createDataFrame(
            [(base + i, 10) for i in range(100)], ["oid", "w"]
        )
        out = packed_offsets(df, "oid", "w", n_buckets=8)
        got = {r["oid"]: r["_start_offset"] for r in out.collect()}
        assert got == {base + i: 10 * i for i in range(100)}

    def test_token_count_empty_is_zero(self, spark):
        from ocrd_calamari_spark.functions.text import token_count

        df = spark.createDataFrame(
            [(0, ""), (1, "   "), (2, "one two")], ["i", "text"]
        )
        got = {r.i: r.n for r in
               df.select("i", token_count("text").alias("n")).collect()}
        assert got == {0: 0, 1: 0, 2: 2}


class TestQualityFunnel:
    def test_stage_accounting_exact(self, spark):
        from ocrd_calamari_spark.functions.text import quality_funnel

        rows = [
            (1, "a b"),                                    # too_short
            (2, "x " * 30000),                             # too_long
            (3, " ".join(f"tok{i}" for i in range(40))),   # lang und
            (4, ("the cat is on the mat and it is a cat. "
                 "it is the mat of the cat! is it the cat? "
                 "the answer is that it is.")),            # kept (en, punct)
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.stage: (r.n_docs, r.n_tokens)
               for r in quality_funnel(df).collect()}
        assert got["too_short"] == (1, 2)
        assert got["too_long"][0] == 1
        assert "lang_unknown" in got or "low_quality" in got
        total_docs = sum(v[0] for v in got.values())
        assert total_docs == 4  # every doc attributed to exactly one stage

    def test_first_failing_stage_wins(self, spark):
        # a doc that is BOTH too short and und-language must land in
        # too_short (stage order is the contract)
        from ocrd_calamari_spark.functions.text import quality_funnel

        df = spark.createDataFrame([(1, "zz qq")], ["doc_id", "text"])
        rows = quality_funnel(df).collect()
        assert len(rows) == 1 and rows[0].stage == "too_short"


class TestNormalizedDedup:
    def test_case_punct_whitespace_variants_collapse(self, spark):
        from ocrd_calamari_spark.functions.dedup import normalized_duplicates

        rows = [
            (1, "Hello, World!"),
            (2, "hello   world"),          # dup of 1 after normalize
            (3, "HELLO-WORLD??"),          # dup of 1
            (4, "hello worlds"),           # NOT a dup (different token)
            (5, "goodbye world"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r for r in normalized_duplicates(df).collect()}
        assert [got[i].rep_id for i in (1, 2, 3)] == [1, 1, 1]
        assert [got[i].is_dup for i in (1, 2, 3)] == [False, True, True]
        assert got[1].n_members == 3
        assert got[4].is_dup is False and got[4].n_members == 1
        assert got[5].rep_id == 5

    def test_raw_exact_dedup_misses_these(self, spark):
        """The operator's reason to exist: raw fingerprints treat the
        variants as distinct."""
        from ocrd_calamari_spark.functions.dedup import distinct_by_text

        rows = [(1, "Hello, World!"), (2, "hello   world")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        assert distinct_by_text(df).count() == 2  # raw: both survive


class TestMojibake:
    """Encoding-damage screen (functions/text.py:mojibake_scores)."""

    def test_counts_each_marker_class_exactly(self, spark):
        from ocrd_calamari_spark.functions.text import mojibake_scores

        docs = [
            (0, "clean ascii text, nothing to see"),
            (1, "lossy decode left � and �� here"),
            (2, "double-encoded: Itâ€™s â€œquotedâ€ fine"),
            (3, "latin-1 damage: cafÃ© rÃ©sumÃ©"),
            (4, "Ã and â€ and � all at once"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r.doc_id: (r.n_repl, r.n_punct, r.n_latin, r.is_mojibake)
               for r in mojibake_scores(df).collect()}
        assert got[0] == (0, 0, 0, False)
        assert got[1] == (3, 0, 0, True)
        assert got[2] == (0, 3, 0, True)
        assert got[3] == (0, 0, 3, True)
        assert got[4] == (1, 1, 1, True)

    def test_clean_unicode_is_not_flagged(self, spark):
        """Properly-encoded accents and curly quotes must NOT trip the
        screen — only the damage patterns do."""
        from ocrd_calamari_spark.functions.text import mojibake_scores

        df = spark.createDataFrame(
            [(0, "café résumé — “real” ‘quotes’ naïve")],
            ["doc_id", "text"])
        r = mojibake_scores(df).collect()[0]
        assert (r.n_repl, r.n_punct, r.n_latin) == (0, 0, 0)
        assert not r.is_mojibake

    def test_matches_python_count_on_adversarial_strings(self, spark):
        """Marker counts must equal Python str.count on strings built
        from the marker characters themselves (overlaps, prefixes,
        lone 'â'/'€' fragments) — the length-delta formula's edge cases."""
        from ocrd_calamari_spark.functions.text import mojibake_scores

        frags = ["â", "€", "Ã", "�", "â€", "â€™", "x", " ", "Ã©â€"]
        docs = []
        for i in range(40):
            s = "".join(frags[(i * 7 + j * 3) % len(frags)]
                        for j in range(i % 13))
            docs.append((i, s))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r.doc_id: (r.n_repl, r.n_punct, r.n_latin)
               for r in mojibake_scores(df).collect()}
        for i, s in docs:
            assert got[i] == (s.count("�"), s.count("â€"), s.count("Ã")), \
                (i, s)
