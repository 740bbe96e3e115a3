"""Physical-plan quality gates: the plans we want at 100 TB, pinned.

These tests read ``executedPlan`` strings so a regression that silently
introduces an extra shuffle, breaks pushdown, or flips a broadcast join to
sort-merge fails loudly at sf0.001.
"""

from pyspark.sql import functions as F

from compress_otel_collector_spark.plans.pipeline import (
    encode_pages,
    enrich_stage,
    parse_stage,
)
from compress_otel_collector_spark.sources.tables import (
    load_table,
    pages_from_documents,
)


import pytest


@pytest.fixture(autouse=True)
def _no_cached_scans(spark):
    # other test modules .cache() these tables; a cached InMemoryTableScan
    # would shadow the FileScan these plan assertions inspect
    spark.catalog.clearCache()
    yield


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("lang") == "en")
        .select("doc_id", "lang")
    )
    plan = plan_of(d)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_enrich_uses_broadcast_join(spark, sf_dir):
    enriched = enrich_stage(
        parse_stage(pages_from_documents(spark, sf_dir)), spark)
    plan = plan_of(enriched)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_parse_stage_is_narrow(spark, sf_dir):
    """parse adds no exchange: it must pipeline with the scan."""
    parsed = parse_stage(pages_from_documents(spark, sf_dir))
    plan = plan_of(parsed)
    assert "Exchange" not in plan


def test_tpch_q1_scan_is_pruned(spark, sf_dir):
    import __spark_entry__ as em

    plan = plan_of(em.queries()["tpch_q1"](spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    # only the 6 referenced columns are read, not all 11
    assert "l_orderkey" not in read and "l_partkey" not in read
    assert "l_quantity" in read and "l_shipdate" in read


def test_dedup_pair_generation_is_single_lineage(spark, sf_dir):
    """Candidate-pair operators must compute their hash pipeline ONCE: a
    self-join of the unpersisted signature lineage doubles every scan and
    md5 at 100 TB. Pinned: exactly one parquet scan in each plan."""
    from compress_otel_collector_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_hamming_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    for op, max_scans in (
        (lambda: minhash_lsh_pairs(docs), 1),
        # jaccard genuinely needs the shingle set twice (per-doc sizes AND
        # per-shingle groups); 2 is its floor without persisting
        (lambda: ngram_jaccard_pairs(docs, threshold=0.12), 2),
        (lambda: simhash_hamming_pairs(docs), 1),
    ):
        plan = plan_of(op())
        assert plan.count("Scan parquet") <= max_scans, plan[:2000]


def test_global_dictionary_two_phase_no_global_sort(spark):
    """The dictionary index build must not funnel all distinct values
    through one task (r3 verdict #4): the row_number window is partitioned
    by the precomputed range bucket, and the index still equals the global
    first-seen rank."""
    from compress_otel_collector_spark.operators.dictionary import (
        global_dictionary,
    )

    n = 10_000
    df = (
        spark.range(n).toDF("doc_id")
        .select(
            F.col("doc_id"),
            F.concat(F.lit("v"), (F.col("doc_id") * 37 % 4096)
                     .cast("string")).alias("val"),
        )
        .repartition(8)
    )
    d = global_dictionary(df, "val", "doc_id", n_buckets=8)
    plan = plan_of(d)
    # the big-side row_number window is partitioned by the bucket column —
    # a bare global-sort window would show windowspecdefinition without a
    # leading partition column (and a SinglePartition exchange feeding it)
    win_lines = [l for l in plan.splitlines()
                 if "windowspecdefinition" in l and "row_number" in l]
    assert win_lines and all("_b" in l for l in win_lines), plan[:3000]
    # index == global rank of first occurrence by (min doc_id, value)
    rows = {r["value"]: r["index"] for r in d.collect()}
    firsts = {}
    for i in range(n):
        v = f"v{i * 37 % 4096}"
        firsts.setdefault(v, i)
    want = {
        v: rank
        for rank, (v, _) in enumerate(
            sorted(firsts.items(), key=lambda kv: (kv[1], kv[0])))
    }
    assert rows == want


def test_encode_pages_shuffles_narrow_payload(spark, sf_dir):
    """The production encode path must derive the span columns AFTER the
    route exchange: the executedPlan tree prints parents first, so the
    unhex(md5(url)) id derivation has to appear ABOVE (before) the
    Exchange line, and the exchange ships only the ~60 B narrow page row
    (url, lang, host_bucket, doc_id, warc_ts, n_chars, salt) instead of
    the ~175 B derived span row. Exactly one shuffle, and no sort-merge
    join."""
    enriched = enrich_stage(parse_stage(pages_from_documents(spark, sf_dir)),
                            spark)
    plan = plan_of(encode_pages(enriched, arms=False))
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, f"want exactly 1 shuffle, plan:\n{plan}"
    assert "SortMergeJoin" not in plan
    # id derivation above the exchange = computed on the reduce side
    assert "unhex" in plan
    assert plan.index("unhex") < plan.index("Exchange hashpartitioning"), (
        "trace/span id derivation ran BEFORE the exchange — the shuffle "
        f"is carrying the wide span row again:\n{plan[:3000]}"
    )
