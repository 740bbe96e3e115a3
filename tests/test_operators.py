"""Training-data operator tests: dedup semantics, LSH recall, multimodal."""

import pytest
from pyspark.sql import functions as F

from compress_otel_collector_spark.operators import (
    cosine_topk,
    dedup_keep_first,
    exact_dedup,
    subdoc_dedup,
    extract_features,
    lsh_cosine_topk,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
    synthesize_media,
    token_stats,
)
from compress_otel_collector_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents ∪ copies of the first 20 docs under new ids (true dups)."""
    dup = (
        docs.where(F.col("doc_id") < 20)
        .withColumn("doc_id", F.col("doc_id") + 100000)
    )
    return docs.unionByName(dup).cache()


class TestExactDedup:
    def test_finds_planted_duplicates(self, docs_with_dups):
        groups = exact_dedup(docs_with_dups)
        dup_groups = groups.where(F.col("dup_count") > 1)
        # every planted copy collapses onto its original (min id kept)
        assert dup_groups.count() >= 19  # ≥: originals may repeat too
        keeps = {r["keep_id"] for r in dup_groups.collect()}
        assert all(k < 100000 for k in keeps)

    def test_keep_first_row_count(self, docs_with_dups, docs):
        kept = dedup_keep_first(docs_with_dups)
        assert kept.count() == docs.select("text").distinct().count()


class TestMinHashLSH:
    def test_planted_dups_are_candidates(self, spark, docs_with_dups):
        pairs = minhash_lsh_pairs(docs_with_dups).cache()
        got = {(r["a_id"], r["b_id"]) for r in pairs.collect()}
        # identical docs share every minhash → always LSH candidates
        planted = set()
        texts = {r["doc_id"]: r["text"] for r in
                 docs_with_dups.where(F.col("doc_id") < 20).collect()}
        for i, t in texts.items():
            if len(t.split()) >= 3:
                planted.add((i, i + 100000))
        missing = planted - got
        assert not missing, f"LSH missed exact dups: {missing}"

    def test_no_self_pairs(self, docs):
        pairs = minhash_lsh_pairs(docs)
        assert pairs.where(F.col("a_id") >= F.col("b_id")).count() == 0

    def test_nul_shingles_stay_distinct(self, spark):
        """Shingles differing only past an embedded NUL must hash apart
        (the r8 kernel's distinct-shingle fast path routes through the
        NUL-exact factorizer per CLAUDE.md)."""
        from compress_otel_collector_spark.operators.dedup import (
            minhash_signatures,
        )

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c\x00d")],
            "doc_id long, text string")
        rows = {r["doc_id"]: tuple(r[f"sig{s}"] for s in range(8))
                for r in minhash_signatures(df).collect()}
        assert rows[1] != rows[2]


class TestJaccard:
    def test_exact_dup_jaccard_is_one(self, docs_with_dups):
        pairs = ngram_jaccard_pairs(docs_with_dups, threshold=0.99)
        exact = pairs.where(
            (F.col("b_id") - F.col("a_id") == 100000)
            & (F.col("jaccard") == 1.0)
        )
        assert exact.count() >= 15


class TestSimHash:
    def test_identical_docs_same_fingerprint(self, docs_with_dups):
        s = simhash(docs_with_dups)
        joined = (
            s.alias("a").join(
                s.alias("b"),
                F.col("a.doc_id") + 100000 == F.col("b.doc_id"))
            .where(F.col("a.simhash") != F.col("b.simhash"))
        )
        assert joined.count() == 0

    def test_fingerprint_uses_full_64_bits(self, docs):
        """Fingerprints must spread over the whole 64-bit space (two's
        complement: bit 63 set ⇔ negative long) — a range collapse would
        recreate the r2 16-bit banding defect."""
        s = simhash(docs)
        row = s.agg(F.min("simhash").alias("lo"),
                    F.max("simhash").alias("hi")).collect()[0]
        assert row["lo"] < 0 < row["hi"]  # both halves of the space hit
        assert row["hi"] - row["lo"] > 2 ** 62

    def test_bits_validation(self, docs):
        import pytest

        with pytest.raises(ValueError):
            simhash(docs, bits=65)
        with pytest.raises(ValueError):
            simhash(docs, bits=10)

    def test_long_doc_no_counter_overflow(self, spark):
        """A doc of >256 identical tokens must fingerprint exactly like a
        1-token doc of the same word (majority of identical rows = the
        row). Pins the r8 kernel's int32 bit accumulation — a uint8
        reduceat would wrap at 256 same-bit tokens and flip bits."""
        df = spark.createDataFrame(
            [(1, "word " * 300), (2, "word")],
            "doc_id long, text string")
        rows = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
        assert rows[1] == rows[2]

    def test_nul_tokens_stay_distinct(self, spark):
        """Tokens differing only past an embedded NUL must hash apart
        (the factorize-unique fast path routes through the NUL-exact
        factorizer per CLAUDE.md)."""
        df = spark.createDataFrame(
            [(1, "a"), (2, "a\x00b")], "doc_id long, text string")
        rows = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
        assert rows[1] != rows[2]

    def test_max_distance_validation(self, docs):
        import pytest

        from compress_otel_collector_spark.operators.dedup import (
            simhash_hamming_pairs,
        )

        with pytest.raises(ValueError):
            simhash_hamming_pairs(docs, max_distance=4)


def test_simhash_splits_a_document_longer_than_a_chunk(monkeypatch):
    """The kernel chunks the token stream, so a document longer than a
    chunk is split and its partial bit counts add: with a 7-token chunk,
    57- and 200-token documents (and empty ones between) fingerprint
    exactly as in one unchunked pass."""
    import random

    import pandas as pd

    from compress_otel_collector_spark.operators import dedup

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    texts = pd.Series([" ".join(rng.choice(vocab) for _ in range(k))
                       for k in (0, 3, 57, 1, 200, 0, 7, 31)])
    whole = dedup._simhash_fingerprints(texts, 64).tolist()
    monkeypatch.setattr(dedup, "_SIMHASH_CHUNK_TOKENS", 7)
    assert dedup._simhash_fingerprints(texts, 64).tolist() == whole
    assert len(set(whole)) == 7  # two empty docs share fingerprint 0


def test_minhash_splits_a_document_longer_than_a_chunk(monkeypatch):
    """The minhash kernel chunks the shingle stream, so a document longer
    than a chunk is split and its partial mins fold: with a 7-shingle
    chunk, 57- and 200-token documents (and too-short ones between) sign
    exactly as in one unchunked pass, and as the definition says
    (component s = min over shingles of hex chars [8·(s%4), 8·(s%4)+8)
    of md5(shingle || '#' || s//4))."""
    import hashlib
    import random

    import pandas as pd

    from compress_otel_collector_spark.operators import dedup

    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    texts = pd.Series([" ".join(rng.choice(vocab) for _ in range(k))
                       for k in (0, 3, 57, 2, 200, 0, 7, 31)])
    whole = dedup._minhash_signatures(texts, 8, 3)
    monkeypatch.setattr(dedup, "_MINHASH_CHUNK_SHINGLES", 7)
    assert dedup._minhash_signatures(texts, 8, 3).equals(whole)

    def sign(text):
        toks = text.split()
        shingles = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
        if not shingles:
            return [""] * 8
        return [min(hashlib.md5(f"{sh}#{s // 4}".encode()).hexdigest()
                    [8 * (s % 4):8 * (s % 4) + 8] for sh in shingles)
                for s in range(8)]

    assert whole.values.tolist() == [sign(t) for t in texts]


class TestSimilarity:
    def test_lsh_recall_against_bruteforce(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        exact = cosine_topk(emb, k=5, n_queries=10)
        approx = lsh_cosine_topk(emb, k=5, n_queries=10,
                                 n_planes=4, n_tables=4)
        e = {(r["q_id"], r["n_id"]) for r in exact.collect()}
        a = {(r["q_id"], r["n_id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        # 4 tables × 4 planes (OR-amplified): each table keeps ~1/16 of
        # candidates; recall must beat the ~23% random-candidate floor
        assert recall > 0.3, f"LSH recall {recall}"

    def test_topk_is_sorted_and_self_free(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        rows = cosine_topk(emb, k=3, n_queries=5).collect()
        assert all(r["q_id"] != r["n_id"] for r in rows)
        by_q = {}
        for r in rows:
            by_q.setdefault(r["q_id"], []).append((r["rank"], r["cos"]))
        for q, lst in by_q.items():
            lst.sort()
            coss = [c for _, c in lst]
            assert coss == sorted(coss, reverse=True)


class TestMultimodal:
    def test_feature_extraction_shape_and_determinism(self, spark, docs):
        media = synthesize_media(docs.limit(30))
        feats = extract_features(media).cache()
        rows = feats.collect()
        assert len(rows) == 30
        assert all(len(r["feature"]) == 16 for r in rows)
        assert all(0.0 <= v <= 1.0 for r in rows for v in r["feature"])
        video_frames = {r["frames_sampled"] for r in rows
                        if r["kind"] == "video"}
        assert video_frames == {4}
        # deterministic across runs
        again = extract_features(media).collect()
        assert sorted(map(str, rows)) == sorted(map(str, again))


class TestTokenStats:
    def test_empty_text_rows(self, spark):
        df = spark.createDataFrame(
            [(1, ""), (2, "one two three")], ["doc_id", "text"])
        rows = {r["doc_id"]: r for r in token_stats(df).collect()}
        assert rows[1]["ws_tokens"] == 0
        assert rows[1]["bpe_ish_tokens"] == 0
        assert rows[2]["ws_tokens"] == 3


class TestShingleTokenization:
    def test_multi_space_text_matches_filtered_tokens(self, spark):
        """Lockstep with the DuckDB oracle: empty tokens (runs of spaces)
        never form shingles (ADVICE r1: split keeps '' tokens; filter them)."""
        from compress_otel_collector_spark.operators.dedup import (
            word_shingles,
        )

        df = spark.createDataFrame(
            [(1, "a  b c   d"), (2, " x y z "), (3, "only  two")],
            "doc_id long, text string",
        )
        got = {
            (r["doc_id"], r["shingle"])
            for r in word_shingles(df, n=3).collect()
        }
        assert got == {(1, "a b c"), (1, "b c d"), (2, "x y z")}


class TestLSHBucketCap:
    def test_degenerate_bucket_is_dropped(self, spark, docs):
        """1k identical short docs share every minhash band — without a cap
        that bucket's self-join is ~500k pairs; with the cap it contributes
        none and is reported as dropped mass."""
        from compress_otel_collector_spark.operators.dedup import (
            lsh_hot_buckets,
            minhash_lsh_pairs,
        )

        degenerate = spark.range(1000).select(
            (F.col("id") + 500000).alias("doc_id"),
            F.lit("tiny degenerate doc text").alias("text"),
        )
        both = docs.select("doc_id", "text").unionByName(degenerate)

        # the DEFAULT path must be the safe one (r2 verdict: the cap was
        # opt-in, so every default call carried the quadratic risk)
        capped = minhash_lsh_pairs(both).where(
            (F.col("a_id") >= 500000) & (F.col("b_id") >= 500000))
        assert capped.count() == 0  # hot bucket never reaches the join

        # opting OUT must be explicit
        uncapped = minhash_lsh_pairs(both, max_bucket=None).where(
            (F.col("a_id") >= 500000) & (F.col("b_id") >= 500000))
        assert uncapped.count() > 100_000

        hot = lsh_hot_buckets(both, max_bucket=100).collect()
        assert len(hot) >= 1
        assert max(r["bucket_size"] for r in hot) >= 1000

    def test_cap_noop_below_threshold(self, spark, docs):
        """A cap larger than every bucket must not change the result."""
        from compress_otel_collector_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        base = {(r["a_id"], r["b_id"])
                for r in minhash_lsh_pairs(docs).collect()}
        capped = {(r["a_id"], r["b_id"])
                  for r in minhash_lsh_pairs(docs, max_bucket=10**6)
                  .collect()}
        assert base == capped


class TestSimHashHamming:
    def test_identical_docs_distance_zero(self, spark, docs_with_dups):
        from compress_otel_collector_spark.operators.dedup import (
            simhash_hamming_pairs,
        )

        pairs = simhash_hamming_pairs(docs_with_dups).cache()
        zero = pairs.where(
            (F.col("hamming") == 0) & (F.col("b_id") >= 100000))
        # every planted copy is at distance 0 from its original
        assert zero.count() >= 19
        assert pairs.where(F.col("hamming") > 3).count() == 0

    def test_recall_within_distance(self, spark, docs):
        """Banding guarantee: every pair at distance ≤3 appears (pigeonhole
        over 4 nibbles) — cross-check against the all-pairs ground truth."""
        from compress_otel_collector_spark.operators.dedup import (
            simhash,
            simhash_hamming_pairs,
        )

        small = docs.where(F.col("doc_id") < 80)
        s = simhash(small)
        truth = {
            (r["a_id"], r["b_id"])
            for r in s.alias("a").join(
                s.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("a_id"),
                    F.col("b.doc_id").alias("b_id"),
                    F.bit_count(F.col("a.simhash").bitwiseXOR(
                        F.col("b.simhash"))).alias("d"))
            .where(F.col("d") <= 3).collect()
        }
        got = {(r["a_id"], r["b_id"])
               for r in simhash_hamming_pairs(small).collect()}
        assert got == truth


class TestIVF:
    def test_assignment_covers_all_vectors(self, spark, sf_dir):
        from compress_otel_collector_spark.operators import (
            ivf_assign,
            ivf_train_centroids,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        cents = ivf_train_centroids(emb, n_cells=8, iters=1)
        assert len(cents) == 8
        assigned = ivf_assign(emb, cents)
        assert assigned.count() == emb.count()
        cells = {r["cell"] for r in
                 assigned.select("cell").distinct().collect()}
        assert cells <= set(range(8)) and len(cells) >= 2

    def test_recall_against_bruteforce(self, spark, sf_dir):
        """Probing half the cells must recover a solid fraction of the true
        top-k (deterministic data + deterministic training → stable)."""
        from compress_otel_collector_spark.operators import (
            cosine_topk,
            ivf_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        truth = {(r["q_id"], r["n_id"]) for r in
                 cosine_topk(emb, k=5, n_queries=10).collect()}
        got = {(r["q_id"], r["n_id"]) for r in
               ivf_topk(emb, k=5, n_queries=10, n_cells=8,
                        n_probe=4).collect()}
        recall = len(truth & got) / len(truth)
        assert recall >= 0.3, recall

    def test_full_probe_equals_bruteforce(self, spark, sf_dir):
        """n_probe == n_cells → every cell probed → exact results."""
        from compress_otel_collector_spark.operators import (
            cosine_topk,
            ivf_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        truth = {(r["q_id"], r["n_id"], r["cos"]) for r in
                 cosine_topk(emb, k=5, n_queries=10).collect()}
        got = {(r["q_id"], r["n_id"], r["cos"]) for r in
               ivf_topk(emb, k=5, n_queries=10, n_cells=8,
                        n_probe=8).collect()}
        assert got == truth


class TestSketches:
    def test_sketch_accuracy_vs_exact(self, spark, sf_dir):
        """HLL++ distinct within 5%; GK p50/p99 within the value spread."""
        ev = load_table(spark, sf_dir, "events")
        exact = {
            r["event_type"]: r for r in ev.groupBy("event_type").agg(
                F.countDistinct("user_id").alias("users"),
                F.expr("percentile(value, 0.45)").alias("p45"),
                F.expr("percentile(value, 0.5)").alias("p50"),
                F.expr("percentile(value, 0.55)").alias("p55"),
                F.expr("percentile(value, 0.98)").alias("p98"),
                F.max("value").alias("vmax"),
            ).collect()
        }
        approx = {
            r["event_type"]: r for r in ev.groupBy("event_type").agg(
                F.approx_count_distinct("user_id").alias("users"),
                F.expr("approx_percentile(value, 0.5, 10000)").alias("p50"),
                F.expr("approx_percentile(value, 0.99, 10000)").alias("p99"),
            ).collect()
        }
        for et, ex in exact.items():
            ap = approx[et]
            assert abs(ap["users"] - ex["users"]) <= max(2, ex["users"] * 0.05)
            # positional bounds, not relative error: the sketch returns a
            # real sample, the exact form interpolates — on a heavy-tailed
            # distribution adjacent order statistics can be far apart, so
            # the right invariant is "lands in the neighboring-rank band"
            assert ex["p45"] <= ap["p50"] <= ex["p55"]
            assert ex["p98"] <= ap["p99"] <= ex["vmax"]


class TestAsofJoin:
    def test_inclusive_and_carry_semantics(self, spark):
        """Equality matches (inclusive), earlier rights carry forward,
        no-prior-right yields null, keys never leak across."""
        from compress_otel_collector_spark.operators import asof_join

        left = spark.createDataFrame(
            [(1, 5, "a"), (1, 10, "b"), (1, 25, "c"), (2, 7, "d")],
            "k long, t long, tag string")
        right = spark.createDataFrame(
            [(1, 10, 100.0), (1, 20, 200.0), (2, 9, 900.0)],
            "k long, t long, v double")
        got = {
            (r["k"], r["t"]): r["v_asof"]
            for r in asof_join(left, right, on="t", by="k",
                               right_cols=["v"]).collect()
        }
        assert got == {
            (1, 5): None,       # no right at or before t=5
            (1, 10): 100.0,     # inclusive equality
            (1, 25): 200.0,     # latest prior
            (2, 7): None,       # key 2's right is at t=9 (after)
        }

    def test_matches_duckdb_native_asof(self, spark, sf_dir):
        """Cross-engine: composition ≡ DuckDB's native ASOF LEFT JOIN."""
        import duckdb

        import __spark_entry__ as entrymod

        got = {
            (r["user_id"], r["event_id"], r["ts_us"], r["click_value"])
            for r in entrymod.queries()["asof_join"](spark, sf_dir)
            .collect()
        }
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * "
                f"FROM '{sf_dir}/events.parquet'")
        want = set(map(tuple, con.sql(
            entrymod.oracle_sql()["asof_join"]).fetchall()))
        assert got == want


class TestRangeJoin:
    def test_inclusive_bounds_and_bucket_spanning(self, spark):
        """Points exactly on lo/hi match; intervals spanning several buckets
        still meet each point exactly once (no duplicate pairs)."""
        from compress_otel_collector_spark.operators import range_join

        points = spark.createDataFrame(
            [(1, 10, "p10"), (1, 100, "p100"), (1, 250, "p250"),
             (2, 100, "q100")],
            "user_id long, t long, tag string")
        intervals = spark.createDataFrame(
            [(1, 10, 250, "wide"), (1, 90, 110, "narrow"),
             (2, 200, 300, "other")],
            "user_id long, lo long, hi long, name string")
        rows = range_join(points, intervals, point_col="t", lo_col="lo",
                          hi_col="hi", by="user_id",
                          bucket_width=50).collect()
        pairs = sorted((r["tag"], r["name"]) for r in rows)
        assert pairs == [
            ("p10", "wide"),      # on lo (inclusive)
            ("p100", "narrow"),
            ("p100", "wide"),
            ("p250", "wide"),     # on hi (inclusive); interval spans 5 buckets
        ]
        assert len(pairs) == len(set(pairs))  # exactly-once per pair


class TestANNRecall:
    """Recall of the approximate indexes is deterministic (fixed
    hyperplanes / centroid seeds over fixed test data) — pin it at two
    parameter points per index, and pin that more tables / more probes
    buys recall (the amplification knob actually works)."""

    def test_lsh_recall_pinned_at_two_points(self, spark, sf_dir):
        from compress_otel_collector_spark.operators.similarity import (
            cosine_topk,
            lsh_cosine_topk,
            topk_recall,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        exact = cosine_topk(emb, k=5, n_queries=20)
        got = {}
        for n_tables in (4, 8):
            approx = lsh_cosine_topk(emb, k=5, n_queries=20,
                                     n_planes=4, n_tables=n_tables)
            got[n_tables] = topk_recall(
                approx, exact, "lsh").collect()[0]["recall"]
        assert got == {4: 0.37, 8: 0.59}

    def test_ivf_recall_pinned_at_two_points(self, spark, sf_dir):
        from compress_otel_collector_spark.operators.similarity import (
            cosine_topk,
            ivf_topk,
            topk_recall,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        exact = cosine_topk(emb, k=5, n_queries=20)
        got = {}
        for n_probe in (4, 8):
            approx = ivf_topk(emb, k=5, n_queries=20,
                              n_cells=16, n_probe=n_probe)
            got[n_probe] = topk_recall(
                approx, exact, "ivf").collect()[0]["recall"]
        assert got == {4: 0.49, 8: 0.8}


class TestContaminationAndRepetition:
    def test_planted_contamination_is_flagged(self, spark):
        eval_set = spark.createDataFrame(
            [(0, "the secret benchmark answer is forty two")],
            "doc_id long, text string")
        train = spark.createDataFrame(
            [(10, "totally clean document about cooking pasta"),
             (11, "leaked: the secret benchmark answer is forty two ok"),
             (12, "another clean one with many plain words here")],
            "doc_id long, text string")
        from compress_otel_collector_spark.operators import (
            contamination_check,
        )

        rows = {r["doc_id"]: r["n_shared"]
                for r in contamination_check(train, eval_set).collect()}
        assert 11 in rows and rows[11] >= 5  # every shared 3-gram counted
        assert 10 not in rows and 12 not in rows

    def test_repetition_ratio_extremes(self, spark):
        df = spark.createDataFrame(
            [(1, "spam spam spam spam spam spam spam spam"),
             (2, "eight genuinely distinct words appear exactly once here")],
            "doc_id long, text string")
        from compress_otel_collector_spark.operators import repetition_ratio

        rows = {r["doc_id"]: r for r in repetition_ratio(df).collect()}
        # looped text: 6 trigram slots, 1 distinct -> 1 - 1/6
        assert rows[1]["repetition"] == 0.8333
        assert rows[2]["repetition"] == 0.0


class TestEmbeddingDupLSH:
    def test_planted_copies_found_and_verified(self, spark, sf_dir):
        """Exact vector copies share every LSH bucket -> always candidates;
        the exact-cosine verify keeps them at cos == 1.0; non-dup pairs
        below threshold never appear."""
        from compress_otel_collector_spark.operators import (
            embedding_dup_pairs_lsh,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        copies = (
            emb.where(F.col("vec_id") < 10)
            .withColumn("vec_id", F.col("vec_id") + 100000)
        )
        both = emb.unionByName(copies)
        pairs = embedding_dup_pairs_lsh(both, threshold=0.95).collect()
        got = {(r["a_id"], r["b_id"]): r["cos"] for r in pairs}
        for i in range(10):
            assert got.get((i, i + 100000)) == 1.0, f"missed copy {i}"
        # random vectors have no 0.95-cosine pairs (verified exhaustively
        # for this fixture) — everything reported must be a planted copy
        assert all(b - a == 100000 for a, b in got)

    def test_hot_bucket_capped_by_default(self, spark, sf_dir):
        """500 copies of one vector land in ONE bucket per table — the
        degenerate shape (zero/padded embeddings, post-dedup residue)
        whose in-bucket pairing is O(k²). The DEFAULT path must drop the
        hot bucket (bounded per-task fan-out), the dropped mass must be
        observable, a normal planted dup elsewhere must still be found,
        and opting out must be explicit (r5 verdict #1 — minhash got
        this cap in r3, the embedding variant didn't)."""
        from compress_otel_collector_spark.operators import (
            embedding_dup_pairs_lsh,
            embedding_hot_buckets,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        clones = (
            emb.where(F.col("vec_id") == 0)
            .crossJoin(spark.range(500).select(F.col("id").alias("k")))
            .withColumn("vec_id", F.col("k") + 500000)
            .drop("k")
        )
        pair = (
            emb.where(F.col("vec_id") == 7)
            .withColumn("vec_id", F.lit(700000))
        )
        both = emb.unionByName(clones.select(emb.columns)) \
                  .unionByName(pair.select(emb.columns))

        got = {(r["a_id"], r["b_id"])
               for r in embedding_dup_pairs_lsh(both, threshold=0.95)
               .collect()}
        # the clone cluster (would be 500·499/2 ≈ 125k pairs) is dropped
        assert not any(a >= 500000 and b >= 500000 for a, b in got)
        # the small planted dup (bucket size ≪ cap) is still found
        assert (7, 700000) in got

        hot = embedding_hot_buckets(both, max_bucket=100).collect()
        assert len(hot) >= 1
        assert max(r["bucket_size"] for r in hot) >= 500

        # opting OUT must be explicit, and recovers the quadratic set
        uncapped = embedding_dup_pairs_lsh(
            both, threshold=0.95, max_bucket=None).where(
            (F.col("a_id") >= 500000) & (F.col("b_id") >= 500000))
        assert uncapped.count() == 500 * 499 // 2


class TestSubdocDedup:
    """Sub-document exact dedup (Lee et al./RefinedWeb pass): paragraph
    and fixed-width-chunk modes, keep-longest-doc policy."""

    def _rows(self, df):
        return {r["doc_id"]: (r["n_units"], r["n_dup_units"],
                              r["kept_tokens"]) for r in df.collect()}

    def test_paragraph_mode_keep_longest(self, spark):
        """A paragraph shared by three docs survives only in the doc with
        the most tokens; shorter docs count it as a dropped duplicate."""
        boiler = "subscribe to our newsletter now"
        docs = spark.createDataFrame(
            [(1, f"{boiler}\n\nshort body"),
             (2, f"unique opening text here\n\n{boiler}\n\nplus a much "
                 f"longer tail section of many extra tokens"),
             (3, f"{boiler}")],
            "doc_id long, text string")
        got = self._rows(subdoc_dedup(docs, delim=r"\n\n"))
        # doc 2 is longest -> keeps the boilerplate; docs 1 and 3 drop it
        # (kept_tokens counts per-unit tokens: 4 + 5 + 10)
        assert got[2] == (3, 0, 19)
        assert got[1] == (2, 1, 2)          # keeps only "short body"
        assert got[3] == (1, 1, 0)          # the whole doc was boilerplate

    def test_paragraph_tie_breaks_by_doc_id(self, spark):
        docs = spark.createDataFrame(
            [(7, "same para"), (5, "same para")],
            "doc_id long, text string")
        got = self._rows(subdoc_dedup(docs, delim=r"\n\n"))
        assert got[5] == (1, 0, 2)
        assert got[7] == (1, 1, 0)

    def test_chunk_mode_unit_count_and_conservation(self, docs):
        """n_units == ceil(tokens/8) per doc, and dropping a duplicate
        instance never creates or destroys tokens: sum(kept_tokens) ==
        distinct-chunk token mass."""
        out = subdoc_dedup(docs, width=8).cache()
        toks = docs.select(
            "doc_id",
            F.size(F.filter(F.split("text", " "),
                            lambda t: t != "")).alias("nt"))
        joined = {r["doc_id"]: (r["n_units"], r["nt"]) for r in
                  out.join(toks, "doc_id").collect()}
        assert joined, "no docs"
        for doc_id, (n_units, nt) in joined.items():
            assert n_units == -(-nt // 8), doc_id
        # at sf0.01 the corpus has real chunk-level dups (~175 at width 8)
        n_dups = out.agg(F.sum("n_dup_units")).first()[0]
        assert n_dups > 0

    def test_chunk_mode_planted_subdoc_dup(self, spark):
        """A 8-token passage pasted into two otherwise-different docs is
        caught (doc-level dedup would miss it)."""
        passage = "a b c d e f g h"   # exactly one width-8 chunk
        docs = spark.createDataFrame(
            [(1, f"{passage} x y z q w e r t"),
             (2, f"{passage} totally different tail words here now ok")],
            "doc_id long, text string")
        got = self._rows(subdoc_dedup(docs, width=8))
        # doc 1 (16 tokens) outranks doc 2 (15) -> doc 1 keeps the passage
        assert got[1] == (2, 0, 16)
        assert got[2] == (2, 1, 7)

    def test_empty_and_whitespace_docs_drop(self, spark):
        """nt==0 docs drop out (guards Spark's downward-running
        sequence(0,-1) from fanning out bogus empty chunks)."""
        docs = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "one real doc here")],
            "doc_id long, text string")
        got = self._rows(subdoc_dedup(docs, width=8))
        assert set(got) == {3}
        assert got[3] == (1, 0, 4)
