#!/usr/bin/env python
"""Optimization-round measurement harness (r8) — guide §1 methodology.

NOT the driver bench (bench.py is frozen); this file isolates where each
query's wall goes so optimizations target the right component:

- ``--queries``: per registered bench query, split each run into
  ``plan`` (DataFrame construction + executedPlan materialization — pure
  driver-side Catalyst work) and ``exec`` (noop-sink write of the
  pre-planned frame), N runs, medians + mins. A query whose wall is
  mostly ``plan`` needs a smaller expression tree, not a better plan
  shape.
- ``--plans [suffix]``: write ``plans/r08/<q>_<suffix>.txt`` explain
  output for every bench query (default suffix: before).
- ``--sweep``: median wall, after one warm pass, of every ``queries()``
  entry.

Per-layer pipeline walls (parse+enrich, exchange, derive, encode, route,
aggregate) come from ``python3 perfbench/run.py --trace 1``, which cuts
its frames from ``encode_pages``' own plan.

Methodology per CLAUDE.md: warm session, warm-up pass per shape first,
noop sink, one Spark session at a time, medians of ≥3.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "tpch_q1", "revenue_by_nation", "dedup_exact", "dedup_minhash_lsh",
    "dedup_simhash_hamming", "embedding_topk", "token_count",
    "quality_score", "codec_roundtrip", "pipeline_sinks",
]


def make_spark():
    import bench

    return bench.make_spark(CPUS)


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _warmup(spark):
    import bench

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    def _ident(it):
        for pdf in it:
            yield pdf

    (spark.range(1_000_000)
     .repartition(spark.sparkContext.defaultParallelism)
     .mapInPandas(_ident, "id long")
     .write.format("noop").mode("overwrite").save())


def profile_queries(runs: int = 4):
    import __spark_entry__ as entrymod

    spark = make_spark()
    _warmup(spark)
    qs = entrymod.queries()
    out = {}
    # one untimed warm pass per query (bench.py discipline)
    for name in BENCH_QUERIES:
        _noop(qs[name](spark, SF_DIR))
    recs: dict[str, list[dict]] = {n: [] for n in BENCH_QUERIES}
    for _ in range(runs):
        for name in BENCH_QUERIES:
            t0 = time.monotonic()
            df = qs[name](spark, SF_DIR)
            # force analysis+optimization+physical planning, no execution
            df._jdf.queryExecution().executedPlan()
            t1 = time.monotonic()
            _noop(df)
            t2 = time.monotonic()
            recs[name].append({"plan": round(t1 - t0, 3),
                               "exec": round(t2 - t1, 3),
                               "wall": round(t2 - t0, 3)})
    for name, rs in recs.items():
        out[name] = {
            "plan_med": round(statistics.median(r["plan"] for r in rs), 3),
            "exec_med": round(statistics.median(r["exec"] for r in rs), 3),
            "wall_med": round(statistics.median(r["wall"] for r in rs), 3),
            "plan_min": round(min(r["plan"] for r in rs), 3),
            "exec_min": round(min(r["exec"] for r in rs), 3),
            "runs": rs,
        }
    spark.stop()
    print(json.dumps(out, indent=1))


def write_plans(suffix: str = "before"):
    import __spark_entry__ as entrymod

    os.makedirs("plans/r08", exist_ok=True)
    spark = make_spark()
    qs = entrymod.queries()
    for name in BENCH_QUERIES:
        df = qs[name](spark, SF_DIR)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        with open(f"plans/r08/{name}_{suffix}.txt", "w") as f:
            f.write(txt)
    # pipeline_synth / pipeline_arms plans (the bench's other two rows)
    import bench

    path = bench.materialize_pages(spark, 10_000)
    from compress_otel_collector_spark.plans.pipeline import (
        aggregate_stage,
        encode_pages,
        enrich_stage,
        parse_stage,
    )

    for name, arms in (("pipeline_synth", False), ("pipeline_arms", True)):
        pages = spark.read.parquet(path)
        agg = aggregate_stage(encode_pages(
            enrich_stage(parse_stage(pages), spark), arms=arms))
        txt = agg._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        with open(f"plans/r08/{name}_{suffix}.txt", "w") as f:
            f.write(txt)
    spark.stop()
    print(f"wrote plans/r08/*_{suffix}.txt")


def sweep_all(runs: int = 2):
    """One-pass wall sweep of EVERY queries() entry at $SPARK_GRAFT_SF_DIR
    (the 50-query audit the r8 checklist wants) — warm pass + median of
    ``runs`` noop-sink walls each."""
    import __spark_entry__ as entrymod

    spark = make_spark()
    _warmup(spark)
    qs = entrymod.queries()
    out = {}
    for name, fn in qs.items():
        try:
            _noop(fn(spark, SF_DIR))
            walls = []
            for _ in range(runs):
                t0 = time.monotonic()
                _noop(fn(spark, SF_DIR))
                walls.append(round(time.monotonic() - t0, 3))
            out[name] = round(statistics.median(walls), 3)
        except Exception as ex:  # pragma: no cover
            out[name] = f"ERR {type(ex).__name__}: {ex}"[:120]
    spark.stop()
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    if "--sweep" in sys.argv:
        sweep_all()
    elif "--queries" in sys.argv:
        profile_queries()
    elif "--plans" in sys.argv:
        i = sys.argv.index("--plans")
        suffix = sys.argv[i + 1] if len(sys.argv) > i + 1 else "before"
        write_plans(suffix)
    else:
        print(__doc__)
