"""Tests for dedup / similarity / text-analysis / join functions."""

import pytest
from pyspark.sql import functions as F

from ocrd_calamari_spark.functions.dedup import (
    distinct_by_text,
    exact_duplicates,
    minhash_dedup,
    simhash,
    simhash_near_dupes,
)
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

    def test_minhash_finds_near_dup(self, docs):
        pairs = minhash_dedup(docs, threshold=0.5).collect()
        found = {(p.id_a, p.id_b) for p in pairs}
        assert (0, 1) in found and (0, 2) in found
        # unrelated docs never pair
        assert not any(5 in p for p in found)

    def test_jaccard_index_exact_values(self, docs):
        from ocrd_calamari_spark.functions.dedup import jaccard_index_dedup

        got = {
            (p.id_a, p.id_b): (p.inter, p.union_n, p.jaccard)
            for p in jaccard_index_dedup(
                docs, threshold=0.3, shingle_k=2
            ).collect()
        }
        # python ground truth over distinct bigram sets
        rows = {r.doc_id: r.text for r in docs.collect()}
        def bigrams(t):
            toks = t.strip().lower().split()
            return {" ".join(toks[i:i + 2]) for i in range(max(len(toks) - 1, 1))}
        expect = {}
        ids = sorted(rows)
        for i in ids:
            for j in ids:
                if i >= j:
                    continue
                a, b = bigrams(rows[i]), bigrams(rows[j])
                inter, uni = len(a & b), len(a | b)
                if inter / uni >= 0.3:
                    expect[(i, j)] = (inter, uni, inter / uni)
        assert got == expect
        assert (0, 1) in got and got[(0, 1)][2] == 1.0  # exact dup

    def test_jaccard_index_max_df_drops_stop_shingles(self, spark):
        from ocrd_calamari_spark.functions.dedup import jaccard_index_dedup

        # every doc shares the boilerplate bigram chain; only 0/1 share rare
        # content.  With the cap, boilerplate-only pairs vanish but the true
        # pair survives on its rare shingles.
        rows = [(i, f"copyright footer terms unique{i} token{i}") for i in range(6)]
        rows += [(10, "copyright footer terms rare gem alpha"),
                 (11, "copyright footer terms rare gem alpha")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        capped = jaccard_index_dedup(df, threshold=0.5, shingle_k=2, max_df=4)
        got = {(p.id_a, p.id_b) for p in capped.collect()}
        assert got == {(10, 11)}
        # uncapped: the boilerplate prefix alone can't reach 0.5 for the
        # unique{i} docs, but 10/11 still match exactly
        full = jaccard_index_dedup(df, threshold=0.99, shingle_k=2)
        assert {(p.id_a, p.id_b) for p in full.collect()} == {(10, 11)}

    def test_simhash_deterministic_and_discriminative(self, spark, docs):
        sigs = {r.doc_id: r.sig for r in
                docs.select("doc_id", simhash("text").alias("sig")).collect()}
        assert sigs[0] == sigs[1]  # identical text → identical signature
        assert sigs[0] != sigs[5]
        pairs = simhash_near_dupes(docs, max_hamming=10).collect()
        assert any({p.id_a, p.id_b} == {0, 1} for p in pairs)


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


class TestDecontaminate:
    def test_flags_only_leaked_docs(self, spark):
        from ocrd_calamari_spark.functions.dedup import decontaminate

        bench = spark.createDataFrame(
            [(100, "q w e r t y u i o p")], ["doc_id", "text"]
        )
        corpus = spark.createDataFrame(
            [
                (1, "a b c d e f g h i j"),              # clean
                (2, "x x q w e r t y u i o p y y"),      # full 8-gram leak ×3 windows
                (3, "q w e r t y u z z z z z z z"),      # only a 7-gram prefix → clean at n=8
            ],
            ["doc_id", "text"],
        )
        got = {r.doc_id: r for r in
               decontaminate(corpus, bench, n=8).collect()}
        assert not got[1].contaminated and got[1].n_leaked_ngrams == 0
        # doc 2 contains benchmark 8-grams "qwertyui","wertyuio","ertyuiop"
        assert got[2].contaminated and got[2].n_leaked_ngrams == 3
        assert not got[3].contaminated


class TestBloomDecontaminate:
    def test_equals_exact_even_with_forced_false_positives(self, spark):
        """At m_bits=256 the bitset saturates (fp rate near 1), so nearly
        every corpus gram survives the pre-filter — the verify join must
        still cut the result to the exact intersection."""
        import random

        from ocrd_calamari_spark.functions.dedup import (
            bloom_decontaminate, decontaminate,
        )

        rng = random.Random(7)
        vocab = [f"w{i}" for i in range(50)]
        mk = lambda: " ".join(rng.choice(vocab) for _ in range(30))
        bench_rows = [(1000 + i, mk()) for i in range(5)]
        corpus_rows = [(i, mk()) for i in range(40)]
        # plant a literal leak: corpus doc 0 embeds bench doc 0's lead 8-gram
        leak = " ".join(bench_rows[0][1].split()[:8])
        corpus_rows[0] = (0, corpus_rows[0][1] + " " + leak)
        bench = spark.createDataFrame(bench_rows, ["doc_id", "text"])
        corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"])
        for m_bits in (256, 1 << 16):
            got = {r.doc_id: (r.n_leaked_ngrams, r.contaminated)
                   for r in bloom_decontaminate(
                       corpus, bench, n=8, m_bits=m_bits).collect()}
            exact = {r.doc_id: (r.n_leaked_ngrams, r.contaminated)
                     for r in decontaminate(corpus, bench, n=8).collect()}
            assert got == exact
            assert got[0][1]  # the planted leak is flagged

    def test_build_is_partition_invariant_and_membership_complete(self, spark):
        from ocrd_calamari_spark.functions.dedup import (
            bloom_member_filter, build_bloom,
        )

        rows = [(i,) for i in range(2000)]
        hashes = (
            spark.createDataFrame(rows, ["v"])
            .select(F.xxhash64("v").alias("h1"))
            .withColumn("h2", F.xxhash64("h1"))
        )
        m = 1 << 15
        b1 = build_bloom(hashes.repartition(16), m)
        b2 = build_bloom(hashes.coalesce(1), m)
        assert b1 == b2 and len(b1) == m // 8
        # every true member must survive the probe (no false negatives)
        kept = bloom_member_filter(hashes, b1, m).count()
        assert kept == hashes.count()


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


class TestConnectedComponents:
    def test_path_triangle_and_pair(self, spark):
        """Path graphs are the worst case for plain neighbor propagation
        (O(diameter) rounds) — pointer jumping must still converge fast
        and label every node with its component minimum."""
        from ocrd_calamari_spark.functions.dedup import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 7),  # 7-node path
             (10, 11), (11, 12), (10, 12),                    # triangle
             (20, 21)],                                       # lone pair
            ["id_a", "id_b"],
        )
        got = {r.doc_id: r.component
               for r in connected_components(pairs).collect()}
        assert {k: v for k, v in got.items() if k < 10} == {
            i: 1 for i in range(1, 8)
        }
        assert got[10] == got[11] == got[12] == 10
        assert got[20] == got[21] == 20
        assert len(got) == 12


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


class TestDedupSkew:
    def test_identical_cluster_survives_blocking(self, spark):
        """A 1,000-document identical-text cluster is the worst-case LSH
        bucket: every pair is a true near-dup, so the pair output is
        O(K²) by definition — the engine must distribute that quadratic
        work across the self-join (no single-row array blowup) and finish.
        (The standard pipeline removes exact dups FIRST — prepare_corpus —
        precisely so near-dup only sees the survivors.)"""
        from pyspark.sql import functions as F

        from ocrd_calamari_spark.functions.dedup import (
            distinct_by_text, simhash_near_dupes,
        )

        n = 1000
        base = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.lit("the exact same document text repeated verbatim "
                  "across the whole cluster of recrawls").alias("text"),
        )
        extra = spark.range(n, n + 50).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("unique filler document number "),
                     F.col("id").cast("string"),
                     F.lit(" with distinct words entirely")).alias("text"),
        )
        corpus = base.unionByName(extra).repartition(16, "doc_id")
        pairs = simhash_near_dupes(corpus, max_hamming=3)
        n_cluster_pairs = pairs.where(
            (F.col("id_a") < n) & (F.col("id_b") < n)
        ).count()
        assert n_cluster_pairs == n * (n - 1) // 2  # all pairs, exactly once
        # and the exact-dedup pre-pass collapses the cluster to one row
        assert distinct_by_text(corpus).count() == 1 + 50
        spark.catalog.clearCache()


class TestBoilerplateLines:
    def test_strips_all_injected_boilerplate_byte_exact(self, spark):
        """The fixture wraps every document in 3 domain-repeated lines
        (header / nav / copyright); the op must flag exactly those and
        return the body BYTE-identical to documents.text — same
        per-document identity bar as the extraction kernel's golden pin."""
        from pyspark.sql import functions as F

        from ocrd_calamari_spark.entry_queries import (
            _t, q_boilerplate_lines,
        )

        sf = "/root/testdata/sf0.001"
        out = q_boilerplate_lines(spark, sf)
        body = _t(spark, sf, "documents").select(
            "doc_id", F.col("text").alias("_body")
        )
        joined = out.join(body, "doc_id")
        n = joined.count()
        assert n == body.count()
        assert joined.where(F.col("n_lines") != 4).count() == 0
        assert joined.where(F.col("n_boiler") != 3).count() == 0
        assert joined.where(
            F.col("clean_text") != F.col("_body")
        ).count() == 0


class TestJaccardPrefixFilter:
    def test_prefix_filter_is_lossless(self, spark):
        """PPJoin prefix filtering must return the IDENTICAL exact result
        as the direct postings join (it is an algebraic candidate prune,
        not an approximation) — on a fixture with pairs both above and
        below the threshold."""
        from pyspark.sql import functions as F

        from ocrd_calamari_spark.functions.dedup import jaccard_index_dedup

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).select("doc_id", "text")
        dups = docs.where(F.col("doc_id") < 20).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(" tail")).alias("text"),
        )
        corpus = docs.unionByName(dups).repartition(8, "doc_id")
        cols = ["id_a", "id_b", "inter", "union_n", "jaccard"]
        # 0.5 is exact in binary; 0.07 is the float-ceil trap: for a doc
        # with n=100 distinct shingles, ceil(100*0.07) in doubles gives 8
        # (true t·n = 7 exactly), which would shrink the prefix below the
        # lossless bound without the epsilon guard in the prefix length
        for t in (0.5, 0.07):
            on = jaccard_index_dedup(
                corpus, threshold=t, shingle_k=3, prefix_filter=True
            ).select(*cols)
            off = jaccard_index_dedup(
                corpus, threshold=t, shingle_k=3, prefix_filter=False
            ).select(*cols)
            assert on.count() > 0, t
            assert on.exceptAll(off).count() == 0, t
            assert off.exceptAll(on).count() == 0, t
            spark.catalog.clearCache()


class TestJaccardZipfCap:
    def test_max_df_semantics_on_zipf_fixture(self, spark):
        """Heavy-tailed (Zipf) shingle-df fixture — the regime where the
        stop-shingle cap matters (round-3 verdict #2): every document
        shares one boilerplate sentence, so its shingles have df == n and
        contribute C(n,2) pair rows each when uncapped.  With ``max_df``
        the result must be the exact Jaccard over the REDUCED shingle
        space (stop-shingles dropped from both intersection and union),
        pinned against a pure-python reference."""
        import random

        from ocrd_calamari_spark.functions.dedup import jaccard_index_dedup

        boiler = "all rights reserved terms of service apply to this site"
        rng = random.Random(11)
        vocab = [f"w{i:03d}" for i in range(400)]
        n = 60
        rows = []
        for i in range(n):
            body = " ".join(rng.choice(vocab) for _ in range(30))
            rows.append((i, f"{boiler} {body}"))
        # a true near-dup of doc 0 (body shared, one-token tail differs)
        rows.append((1000, rows[0][1] + " zzztail"))
        df = spark.createDataFrame(rows, ["doc_id", "text"])

        cap, t, k = 10, 0.2, 2
        got = {(r.id_a, r.id_b): (r.inter, r.union_n, r.jaccard)
               for r in jaccard_index_dedup(
                   df, threshold=t, shingle_k=k, max_df=cap
               ).collect()}

        # python ground truth over string shingles with the same df cap
        def shingles(text):
            toks = text.strip().lower().split()
            return {" ".join(toks[i:i + k])
                    for i in range(max(len(toks) - k + 1, 1))}
        sets = {i: shingles(tx) for i, tx in rows}
        dfreq = {}
        for s in sets.values():
            for g in s:
                dfreq[g] = dfreq.get(g, 0) + 1
        red = {i: {g for g in s if dfreq[g] <= cap}
               for i, s in sets.items()}
        want = {}
        ids = sorted(red)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(red[a] & red[b])
                union = len(red[a] | red[b])
                if union and inter / union >= t:
                    want[(a, b)] = (inter, union, inter / union)
        assert got == want
        # the boilerplate-only overlap must NOT pair anything: without the
        # cap every doc pair shares the df=n stop-shingles
        assert (0, 1000) in got          # the real near-dup survives
        assert all(p == (0, 1000) for p in got)
        # sanity: uncapped, boilerplate shingles exist with df == n+1
        assert max(dfreq.values()) == n + 1
        spark.catalog.clearCache()


class TestBoilerplateRandomized:
    def test_matches_python_reference(self, spark):
        """120 random multi-line docs over 7 domains — per-domain line-df
        thresholding vs a pure-python reference.  Stresses what the fixed
        fixture can't: body lines that DO repeat domain-wide (stripped),
        empty lines, duplicate lines within one doc (df counts documents,
        not occurrences), and a single-document domain (every line at
        100 % df → fully stripped)."""
        import random
        from collections import defaultdict

        from ocrd_calamari_spark.functions.text import (
            strip_boilerplate_lines,
        )

        rng = random.Random(29)
        pool = [f"line {j} text" for j in range(12)] + ["", "shared footer"]
        rows = []
        for i in range(120):
            dom = f"d{rng.randint(0, 5)}" if i < 119 else "solo"
            n = rng.randint(1, 6)
            body = [rng.choice(pool) for _ in range(n)]
            rows.append((i, dom, "\n".join(body)))

        got = {
            r["doc_id"]: r
            for r in strip_boilerplate_lines(
                spark.createDataFrame(rows, ["doc_id", "domain", "text"])
            ).collect()
        }

        docs_per_dom = defaultdict(set)
        df_line = defaultdict(set)  # (dom, line) -> set of doc ids
        for i, dom, text in rows:
            docs_per_dom[dom].add(i)
            for line in text.split("\n"):
                df_line[(dom, line)].add(i)
        assert len(got) == len(rows)
        for i, dom, text in rows:
            lines = text.split("\n")
            boiler = [
                2 * len(df_line[(dom, ln)]) >= len(docs_per_dom[dom])
                for ln in lines
            ]
            r = got[i]
            assert r["n_lines"] == len(lines), i
            assert r["n_boiler"] == sum(boiler), i
            expect = "\n".join(
                ln for ln, b in zip(lines, boiler) if not b
            )
            assert r["clean_text"] == expect, i


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


class TestSnapshotDiff:
    def test_change_classes_follow_the_derivation_rules(self, spark):
        from ocrd_calamari_spark.entry_queries import q_snapshot_diff

        rows = q_snapshot_diff(spark, "/root/testdata/sf0.001").collect()
        got = {r.doc_id: r.change_type for r in rows}
        for d, c in got.items():
            if d >= 2000000:
                assert c == "removed", d
            elif d % 11 == 0:
                assert c == "added", d
            elif d % 5 == 1:
                assert c == "changed", d
            else:
                assert c == "unchanged", d
        assert {"added", "removed", "changed", "unchanged"} == set(
            got.values())


class TestKeepBest:
    def test_argmax_with_tie_break(self, spark):
        rows = [
            (1, 100, 0.5), (2, 100, 0.9), (3, 100, 0.9),  # tie: keep id 2
            (7, 7, 0.1),                                   # singleton
            (8, 200, 0.3), (9, 200, 0.2),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "component", "score"])
        from ocrd_calamari_spark.functions.dedup import keep_best

        kept = {
            r["doc_id"]
            for r in keep_best(df, score_col="score").collect()
            if r["kept"]
        }
        assert kept == {2, 7, 8}

    def test_exactly_one_kept_per_component(self, spark):
        rows = [(i, i % 9, float((i * 37) % 11) / 11) for i in range(120)]
        df = spark.createDataFrame(rows, ["doc_id", "component", "score"])
        from ocrd_calamari_spark.functions.dedup import keep_best

        out = keep_best(df, score_col="score")
        per_comp = (
            out.where("kept").groupBy("component").count().collect()
        )
        assert len(per_comp) == 9
        assert all(r["count"] == 1 for r in per_comp)
        assert out.count() == 120  # all members returned, flag only

    def test_plan_has_no_per_component_window(self, spark):
        """The mega-cluster safety property: argmax must be a (partial)
        aggregation, never a per-component sort window."""
        rows = [(1, 100, 0.5), (2, 100, 0.9)]
        df = spark.createDataFrame(rows, ["doc_id", "component", "score"])
        from ocrd_calamari_spark.functions.dedup import keep_best

        plan = keep_best(df, score_col="score")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Window" not in plan
        assert "max_by" in plan or "Aggregate" in plan


class TestContainmentJoin:
    def test_wrapped_copy_caught_jaccard_blind(self, spark):
        """A short article quoted inside a much larger page: containment
        of the article is 1.0 while symmetric Jaccard is far below any
        useful threshold — the case this operator exists for."""
        article = "breaking news item the quick summary of events today"
        frame = ("site header navigation menu links " + article
                 + " footer copyright terms privacy contact about "
                   "subscribe newsletter social media follow us "
                   "related stories more coverage archive search")
        other = "totally unrelated page about cooking recipes and food"
        df = spark.createDataFrame(
            [(1, article), (2, frame), (3, other)], ["doc_id", "text"])
        from ocrd_calamari_spark.functions.dedup import (
            containment_join, jaccard_index_dedup)

        got = {(r["id_sub"], r["id_sup"]): r["containment"]
               for r in containment_join(
                   df, threshold=0.9, shingle_k=3).collect()}
        assert got == {(1, 2): 1.0}  # article ⊂ frame, one direction only
        jac = jaccard_index_dedup(df, threshold=0.5, shingle_k=3).collect()
        assert jac == []  # symmetric jaccard misses it entirely

    def test_ratio_matches_python_sets(self, spark):
        rows = [
            (1, "a b c d e f g h"),
            (2, "a b c d e f x y"),
            (3, "a b c z z z q r"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        from ocrd_calamari_spark.functions.dedup import containment_join

        def shingles(t):
            toks = t.split()
            n = max(len(toks) - 2, 1)
            return {" ".join(toks[i:i + 3]) for i in range(n)}

        sets = {i: shingles(t) for i, t in rows}
        exp = {}
        for a in sets:
            for b in sets:
                if a != b and sets[a] & sets[b]:
                    c = len(sets[a] & sets[b]) / len(sets[a])
                    if c >= 0.5:
                        exp[(a, b)] = c
        got = {(r["id_sub"], r["id_sup"]): r["containment"]
               for r in containment_join(
                   df, threshold=0.5, shingle_k=3).collect()}
        assert got == exp

    def test_max_df_caps_stop_shingles(self, spark):
        # a shingle present in EVERY doc is dropped by the cap; the
        # remaining ratio is containment over the reduced space
        rows = [(i, f"common boiler plate unique{i} tail{i} end{i}")
                for i in range(6)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        from ocrd_calamari_spark.functions.dedup import containment_join

        uncapped = containment_join(df, threshold=0.1, shingle_k=3)
        capped = containment_join(df, threshold=0.1, shingle_k=3, max_df=3)
        assert uncapped.count() == 30  # all pairs share "common boiler plate"
        assert capped.count() == 0     # the only shared shingle is capped out


class TestIntraDocSpanDedup:
    def _reference(self, text, window=8):
        toks = text.strip().split()
        n = len(toks)
        n_win = max(n - window + 1, 1)
        wins = [" ".join(toks[i:i + window]) for i in range(n_win)]
        first = {}
        drops = set()
        for i, w in enumerate(wins):
            if w in first:
                for p in range(i, min(i + window, n)):
                    drops.add(p)
            else:
                first[w] = i
        kept = [t for p, t in enumerate(toks) if p not in drops]
        return n, len(drops), " ".join(kept)

    def test_matches_python_reference(self, spark):
        rows = [
            (1, "a b c d e f g h x y a b c d e f g h z"),   # full repeat
            (2, "p q r s t u v w p q r s t u v w"),         # back-to-back
            (3, "one two three four five six seven eight nine"),  # clean
            (4, "tiny doc"),                                 # < window
            (5, ("alpha beta gamma delta epsilon zeta eta theta " * 3)
                .strip()),                                   # triple repeat
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        from ocrd_calamari_spark.functions.text import dedup_spans_in_doc

        got = {r["doc_id"]: (r["n_tokens"], r["n_removed"], r["new_text"])
               for r in dedup_spans_in_doc(df).collect()}
        for i, t in rows:
            assert got[i] == self._reference(t), f"doc {i}"
        # sanity: the repeats really were removed
        assert got[2][2] == "p q r s t u v w"
        assert got[5][1] == 16  # two of the three copies dropped

    def test_no_cross_document_interference(self, spark):
        # identical docs must NOT dedup against each other (that is
        # span_dedup's job) — within-doc only
        rows = [(1, "m n o p q r s t"), (2, "m n o p q r s t")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        from ocrd_calamari_spark.functions.text import dedup_spans_in_doc

        got = {r["doc_id"]: r["n_removed"]
               for r in dedup_spans_in_doc(df).collect()}
        assert got == {1: 0, 2: 0}


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


class TestGlobalShuffle:
    def test_permutation_is_valid_and_deterministic(self, spark):
        from ocrd_calamari_spark.entry_queries import q_global_shuffle

        sf = "/root/testdata/sf0.001"
        a = q_global_shuffle(spark, sf).collect()
        b = q_global_shuffle(spark, sf).collect()
        assert a == b  # pure function of (seed, doc_id)
        # every doc appears exactly once
        assert sorted(r.doc_id for r in a) == list(range(500))
        # positions are dense 0..n_s-1 within every shard
        by_shard = {}
        for r in a:
            by_shard.setdefault(r.shard, []).append(r.pos)
        assert set(by_shard) <= set(range(16))
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(len(poss)))


class TestParagraphDedup:
    def test_first_occurrence_wins_and_byte_exact_rebuild(self, spark):
        from ocrd_calamari_spark.functions.text import dedup_paragraphs_global

        rows = [
            (1, "intro\nbody one\nfooter"),
            (2, "intro\nbody two\nfooter"),   # loses intro+footer
            (3, "intro\nbody one\nfooter"),   # loses EVERYTHING
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {r.doc_id: r for r in dedup_paragraphs_global(df).collect()}
        assert got[1].new_text == "intro\nbody one\nfooter"
        assert (got[1].n_paras, got[1].n_removed) == (3, 0)
        assert got[2].new_text == "body two"
        assert (got[2].n_paras, got[2].n_removed) == (3, 2)
        # a fully-duplicated doc must still get a row, rebuilt to ''
        assert got[3].new_text == ""
        assert (got[3].n_paras, got[3].n_removed) == (3, 3)


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


class TestMinhashRecall:
    """LSH recall audit (functions/dedup.py:minhash_recall_audit)."""

    @staticmethod
    def _reference(docs, n_hashes=16, bands=8, k=3, min_bucket=4):
        import hashlib
        import re
        from collections import defaultdict

        def ph(s: str) -> int:
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        sh = {}
        for i, t in docs:
            toks = re.split(r"\s+", t.strip().lower())
            n = len(toks)
            sh[i] = {ph(" ".join(toks[j:j + k]))
                     for j in range(max(n - k + 1, 1))}
        rows = n_hashes // bands
        buckets = defaultdict(set)
        for i, hs in sh.items():
            sig = [min(ph(f"{h}:{j}") for h in hs)
                   for j in range(n_hashes)]
            for b in range(bands):
                key = ",".join(str(v)
                               for v in sig[b * rows:(b + 1) * rows])
                buckets[(b, key)].add(i)
        cand = set()
        for members in buckets.values():
            ms = sorted(members)
            for x in range(len(ms)):
                for y in range(x + 1, len(ms)):
                    cand.add((ms[x], ms[y]))
        agg = defaultdict(lambda: [0, 0])
        ids = sorted(sh)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                inter = len(sh[a] & sh[b])
                uni = len(sh[a] | sh[b])
                if inter * 10 < min_bucket * uni:
                    continue
                bkt = (inter * 10) // uni
                agg[bkt][0] += 1
                agg[bkt][1] += int((a, b) in cand)
        return {bkt: (n, h, h * 10000 // n)
                for bkt, (n, h) in sorted(agg.items())}

    def test_matches_python_reference_exactly(self, spark):
        """Signatures, band keys, candidates, buckets, and recall must
        all agree with an independent hashlib.md5 reimplementation —
        the audit's portability claim, proven in-process."""
        from ocrd_calamari_spark.functions.dedup import minhash_recall_audit

        docs = []
        for i in range(15):
            base = " ".join(f"w{i}_{t} common{t % 7}" for t in range(25))
            toks = base.split(" ")
            keep = 22 + (i * 11) % 26  # 44%-94% of 50 tokens
            docs.append((2 * i, base))
            docs.append((2 * i + 1, " ".join(toks[:keep])))
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        got = {r.bucket: (r.n_pairs, r.n_hit, r.recall_bp)
               for r in minhash_recall_audit(df).collect()}
        want = self._reference(docs)
        assert got == want
        assert sum(n for n, _, _ in want.values()) >= 10  # fixture is live

    def test_identical_docs_always_recalled(self, spark):
        """J=1 pairs have identical signatures — bucket 10 recall must
        be exactly 10000, structurally."""
        from ocrd_calamari_spark.functions.dedup import minhash_recall_audit

        docs = [(i, f"alpha beta gamma delta epsilon zeta doc{i % 4}")
                for i in range(8)]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        rows = {r.bucket: r for r in minhash_recall_audit(df).collect()}
        assert rows[10].n_pairs == 4  # one exact-dup pair per residue
        assert rows[10].recall_bp == 10000


class TestWinnowSelections:
    """Winnowing fingerprint selection (functions/text.py)."""

    @staticmethod
    def _ref(text, kgram=5, window=4):
        """Pure-python winnowing over the same portable hashes."""
        import hashlib, re

        toks = re.split(r"\s+", text.strip())
        m = max(len(toks) - kgram + 1, 1)
        fps = [
            int(hashlib.md5(" ".join(toks[i:i + kgram]).encode())
                .hexdigest()[:15], 16)
            for i in range(m)
        ]
        picks = set()
        for i in range(max(len(fps) - window + 1, 1)):
            win = fps[i:i + window]
            mv = min(win)
            pos = i + max(j for j, v in enumerate(win) if v == mv)
            picks.add((pos + 1, mv))  # 1-based positions
        return picks

    def test_matches_python_reference_exactly(self, spark):
        from ocrd_calamari_spark.functions.text import winnow_selections

        docs = [
            (0, "the quick brown fox jumps over the lazy dog again and "
                "again until the quick brown fox tires out completely"),
            (1, "short doc"),
            (2, "uno dos tres cuatro cinco seis siete ocho nueve diez"),
        ]
        df = spark.createDataFrame(docs, ["doc_id", "text"])
        rows = winnow_selections(df, "doc_id", "text", kgram=5,
                                 window=4).collect()
        got = {}
        for r in rows:
            got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
        for i, t in docs:
            assert got[i] == self._ref(t), i

    def test_shared_run_guarantee_and_density(self, spark):
        """Any shared token run >= kgram+window-1 must leave at least one
        COMMON fingerprint in both docs' selections (the winnowing
        guarantee), and selections stay well under the full hash count."""
        from ocrd_calamari_spark.functions.text import winnow_selections

        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        a = "one two three " + shared + " four five six seven eight nine"
        b = "red green blue yellow " + shared + " purple orange pink cyan"
        df = spark.createDataFrame([(0, a), (1, b)], ["doc_id", "text"])
        rows = winnow_selections(df, "doc_id", "text", kgram=5,
                                 window=4).collect()
        sel = {0: set(), 1: set()}
        for r in rows:
            sel[r.doc_id].add(r.fp)
        assert sel[0] & sel[1], "shared 8-token run left no common fp"
        # density: at window=4 expected ~2/5 of hashes; assert < 0.75
        n_toks = len(a.split())
        assert len(sel[0]) < 0.75 * (n_toks - 4)


class TestIncrementalNearDup:
    """Incremental near-dup vs a persisted band index
    (functions/dedup.py:incremental_minhash_dedup)."""

    K, T = 3, 0.7

    @staticmethod
    def _brute(old_rows, new_rows, k, t):
        """Ground truth: all pairs involving a new doc with exact
        shingle Jaccard >= t."""
        def sh(text):
            toks = text.strip().lower().split()
            return {" ".join(toks[i:i + k])
                    for i in range(max(len(toks) - k + 1, 1))}
        all_rows = dict(old_rows + new_rows)
        new_ids = {i for i, _ in new_rows}
        sets = {i: sh(tx) for i, tx in all_rows.items()}
        out = {}
        ids = sorted(all_rows)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                a, b = ids[x], ids[y]
                if a not in new_ids and b not in new_ids:
                    continue
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if j >= t:
                    out[(a, b)] = j
        return out

    def _fixture(self, rng_seed=7):
        import random
        rng = random.Random(rng_seed)
        vocab = [f"tok{i:03d}" for i in range(300)]
        old = [(i, " ".join(rng.choice(vocab) for _ in range(40)))
               for i in range(20)]
        new = [
            (1000, old[3][1] + " freshtail"),       # near-dup of old #3
            (1001, old[7][1]),                       # exact re-crawl of #7
            (1002, " ".join(rng.choice(vocab) for _ in range(40))),  # novel
        ]
        new.append((1003, new[2][1] + " zz"))        # new-vs-new near-dup
        return old, new

    def test_matches_bruteforce_over_new_pairs(self, spark):
        from ocrd_calamari_spark.functions.dedup import (
            incremental_minhash_dedup)

        old, new = self._fixture()
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in incremental_minhash_dedup(
                spark.createDataFrame(new, ["doc_id", "text"]),
                spark.createDataFrame(old, ["doc_id", "text"]),
                threshold=self.T, n_hashes=64, bands=32,
                shingle_k=self.K, min_band_matches=2,
            ).collect()
        }
        want = self._brute(old, new, self.K, self.T)
        assert set(got) == set(want)
        for p, j in want.items():
            assert abs(got[p] - j) < 1e-12
        # old-vs-old pairs must never appear, even if present in the corpus
        assert all(a >= 1000 or b >= 1000 for a, b in got)

    def test_prebuilt_index_equals_inline(self, spark):
        """Passing the PERSISTED artifact must give identical pairs to
        building the index inline — the contract that lets the indexed
        corpus go un-re-signatured forever."""
        from ocrd_calamari_spark.functions.dedup import (
            incremental_minhash_dedup, minhash_band_index)

        old, new = self._fixture()
        old_df = spark.createDataFrame(old, ["doc_id", "text"])
        new_df = spark.createDataFrame(new, ["doc_id", "text"])
        idx = minhash_band_index(old_df, n_hashes=64, bands=32,
                                 shingle_k=self.K)
        kw = dict(threshold=self.T, n_hashes=64, bands=32,
                  shingle_k=self.K, min_band_matches=2)
        inline = {(r.id_a, r.id_b): r.jaccard
                  for r in incremental_minhash_dedup(
                      new_df, old_df, **kw).collect()}
        stored = {(r.id_a, r.id_b): r.jaccard
                  for r in incremental_minhash_dedup(
                      new_df, old_df, index_df=idx, **kw).collect()}
        assert inline == stored and len(inline) > 0
