"""The traced run: per-layer spans and counts, kept in memory and written
out when the run ends.

It never shares a pass with the timed runs. Three sources feed it:

- spans around the benchmark's own calls into the public stage functions
  (each layer is one action, run twice; a layer's wall is the shortest run
  of the action that ends with it, less the shortest run of the action
  that stops just before it);
- Spark's per-stage and per-task metrics, read from the status store after
  each action (it is kept with the UI off);
- ``spark.sql.pyspark.udf.profiler=perf``: cumulative seconds inside named
  codec functions in the Python workers.

The parse/enrich, exchange and derivation layers are cut out of the plan
that ``encode_pages`` ships (the frame under its Python map node, the
repartition under that, and the repartition's input), so they are timed on
the production plan without restating it here.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import uuid
from contextlib import contextmanager

from workloads import sink_blobs

#: (name, unit, better, the end-to-end metric and workload it should move)
LAYER_METRICS = [
    ("parse_enrich.wall_s", "s", "lower",
     "pages_per_s and cpu_s_per_mpage on crawl_repeats; little on "
     "encode_unique"),
    ("parse_enrich.scan_bytes", "bytes", "lower",
     "pages_per_s on crawl_repeats"),
    ("parse_enrich.rows_out", "count", "higher",
     "backs mismatch_frac on every workload"),
    ("parse_enrich.rows_dropped", "count", "lower",
     "backs mismatch_frac on every workload"),
    ("parse_enrich.unmatched_lang_rows", "count", "lower",
     "backs mismatch_frac on every workload"),
    ("exchange.wall_s", "s", "lower", "pages_per_s on encode_unique"),
    ("exchange.shuffle_bytes_per_page", "B/page", "lower",
     "pages_per_s on encode_unique"),
    ("exchange.fetch_wait_s", "s", "lower", "pages_per_s on encode_unique"),
    ("exchange.reduce_tasks", "count", "lower",
     "pages_per_s on encode_unique"),
    ("exchange.task_skew", "ratio", "lower", "pages_per_s on encode_unique"),
    ("derive.wall_s", "s", "lower", "pages_per_s on encode_unique"),
    ("encode.cum_s", "s", "lower",
     "pages_per_s and cpu_s_per_mpage, most on encode_unique, less on "
     "crawl_repeats"),
    ("encode.calls", "count", "lower",
     "zstd_bytes_per_page on encode_unique and crawl_repeats"),
    ("encode.spans_per_blob", "count", "higher",
     "zstd_bytes_per_page on encode_unique and crawl_repeats"),
    ("encode.raw_bytes_per_page", "B/page", "lower",
     "zstd_bytes_per_page on encode_unique and crawl_repeats"),
    ("encode.zstd_over_raw", "ratio", "lower",
     "zstd_bytes_per_page on encode_unique and crawl_repeats"),
    ("udf.self_s", "s", "lower", "pages_per_s on encode_unique"),
    ("route.wall_s", "s", "lower",
     "pages_per_s on encode_unique and crawl_repeats"),
    ("route.files", "count", "lower",
     "pages_per_s on encode_unique and crawl_repeats"),
    ("route.bytes", "bytes", "lower",
     "pages_per_s on encode_unique and crawl_repeats"),
    ("aggregate.wall_s", "s", "lower",
     "pages_per_s on encode_unique and crawl_repeats"),
    ("aggregate.files_read", "count", "lower",
     "pages_per_s on encode_unique and crawl_repeats"),
    ("decode.wall_s", "s", "lower", "pages_per_s on roundtrip_read only"),
    ("decode.cum_s", "s", "lower", "pages_per_s on roundtrip_read only"),
    ("decode.spans_out", "count", "higher",
     "pages_per_s on roundtrip_read only"),
    ("verify.wall_s", "s", "lower", "pages_per_s on roundtrip_read"),
    ("verify.shuffle_bytes", "bytes", "lower",
     "pages_per_s on roundtrip_read"),
    ("arms.wall_s", "s", "lower",
     "no timed metric: the arms pass is outside the timed runs"),
    ("spark.gc_s", "s", "lower", "cpu_s_per_mpage and worker_peak_rss_mb"),
    ("spark.spill_bytes", "bytes", "lower",
     "cpu_s_per_mpage and worker_peak_rss_mb"),
    ("spark.peak_exec_mem_bytes", "bytes", "lower",
     "cpu_s_per_mpage and worker_peak_rss_mb"),
    ("trace.overhead_frac", "ratio", "lower",
     "none: traced over untraced wall of the same pass, minus 1"),
    ("check.mismatch_frac", "ratio", "lower",
     "pages lost or duplicated over pages expected; must be 0"),
]

_PROFILER_CONF = "spark.sql.pyspark.udf.profiler"

#: each layer's action runs this many times; its wall is the shortest, and
#: a layer's marginal wall is the difference of two such minima
LAYER_REPS = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stages(spark, after_id: int) -> list[dict]:
    """Metrics of every completed stage with id > ``after_id``."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    jvm = spark.sparkContext._jvm
    store = jsc.statusStore()
    empty = jvm.java.util.ArrayList()
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    stages = store.stageList(empty, False, False, no_quantiles, empty)
    out = []
    for i in range(stages.length()):
        s = stages.apply(i)
        if s.stageId() <= after_id:
            continue
        rec = {
            "id": s.stageId(),
            "tasks": s.numTasks(),
            "input_bytes": s.inputBytes(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "fetch_wait_ms": s.shuffleFetchWaitTime(),
            "gc_ms": s.jvmGcTime(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "peak_exec_mem": s.peakExecutionMemory(),
        }
        if rec["shuffle_read_bytes"] > 0:
            tasks = store.taskList(s.stageId(), s.attemptId(), 1_000_000)
            rec["task_ms"] = [
                tasks.apply(j).duration().get()
                for j in range(tasks.length())
                if tasks.apply(j).duration().isDefined()]
        out.append(rec)
    return out


def _max_stage_id(spark) -> int:
    return max((s["id"] for s in _stages(spark, -1)), default=-1)


def _profile_summary(spark) -> dict[str, list[float]]:
    """function name → [primitive calls, cumulative s], summed over UDFs."""
    out: dict[str, list[float]] = {}
    results = spark._profiler_collector._perf_profile_results
    for stats in results.values():
        for (path, _line, func), (pcalls, _n, _tt, cum, _c) in \
                stats.stats.items():
            key = f"{os.path.basename(path)}:{func}"
            acc = out.setdefault(key, [0, 0.0])
            acc[0] += pcalls
            acc[1] = max(acc[1], cum) if func == "load_stream" \
                else acc[1] + cum
    return out


class Tracer:
    """In-memory spans: name, start, end, parent, one trace id per run."""

    def __init__(self, spark):
        self.spark = spark
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, profile: bool = False):
        """Record ``name`` around the block; the yielded dict collects the
        span's counts, its Spark stages and (``profile``) UDF profile."""
        sid = uuid.uuid4().hex[:16]
        rec = {"name": name, "span_id": sid, "trace_id": self.trace_id,
               "parent_id": self._stack[-1] if self._stack else None,
               "attrs": {}}
        before = _max_stage_id(self.spark)
        if profile:
            self.spark.conf.set(_PROFILER_CONF, "perf")
            self.spark.profile.clear()
        self._stack.append(sid)
        rec["start_s"] = time.monotonic() - self._t0
        try:
            yield rec
        finally:
            rec["end_s"] = time.monotonic() - self._t0
            self._stack.pop()
            if profile:
                self.spark.conf.unset(_PROFILER_CONF)
                rec["profile"] = _profile_summary(self.spark)
            rec["stages"] = _stages(self.spark, before)
            self.spans.append(rec)

    def wall(self, name: str) -> float:
        """The shortest wall among the spans named ``name``."""
        return min(s["end_s"] - s["start_s"]
                   for s in self.spans if s["name"] == name)

    def repeat(self, name: str, action, reps: int = LAYER_REPS) -> None:
        """Run ``action`` ``reps`` times, one span each."""
        for rep in range(reps):
            with self.span(name) as sp:
                sp["attrs"]["rep"] = rep
                action()

    def get(self, name: str) -> dict:
        """The last span named ``name``."""
        return [s for s in self.spans if s["name"] == name][-1]

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans,
                       **extra}, f, indent=1, default=str)


def _plan_frames(spark, encoded):
    """(pre-exchange frame, exchange frame, derived-span frame) from the
    plan ``encode_pages`` ships: the frame under its Python map node, the
    first repartition under that, and the repartition's input — the narrow
    projection of the enriched pages."""
    from pyspark.sql import DataFrame

    def frame(plan):
        jdf = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            spark._jsparkSession, plan)
        return DataFrame(jdf, spark)

    node = encoded._jdf.queryExecution().logical()
    derive = exchange = None
    while not node.children().isEmpty():
        kind = node.getClass().getSimpleName()
        child = node.children().apply(0)
        if derive is None and ("InPandas" in kind or "InArrow" in kind):
            derive = child
        elif derive is not None and kind.startswith("Repartition"):
            exchange = node
            break
        node = child
    if derive is None or exchange is None:
        raise LookupError("encode_pages plan has no Python map node over a "
                          "repartition; the layer cut needs updating")
    return (frame(exchange.children().apply(0)), frame(exchange),
            frame(derive))


def _files_under(path: str) -> tuple[int, int]:
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, name))
    return n, size


def _profiled(profile: dict, key: str) -> tuple[int, float]:
    calls, cum = profile.get(key, (0, 0.0))
    return int(calls), float(cum)


def layer_pass(tracer: Tracer, wl, untraced_walls: list[float]
               ) -> tuple[dict[str, float], list[str]]:
    """Run every layer once on ``wl``'s input (exporter layers, then the
    receiver layers over the sink the traced route wrote) and the
    workload's own pass once with the profiler on; returns the per-layer
    metrics and the problems the traced passes' checks found."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from compress_otel_collector_spark.plans.pipeline import (
        aggregate_stage,
        encode_pages,
        enrich_stage,
        expected_roundtrip,
        parse_stage,
        read_routed,
        roundtrip_check,
        roundtrip_counts,
        route_stage,
        span_stage,
    )

    spark = tracer.spark
    m: dict[str, float] = {}
    problems: list[str] = []

    def enriched():
        return enrich_stage(parse_stage(wl.pages()), spark)

    with tracer.span("trace"):
        obs_in, obs_parsed, obs_out = (Observation("pages_in"),
                                       Observation("parsed"),
                                       Observation("enriched"))
        with tracer.span("parse_enrich_counts") as sp:
            parsed = parse_stage(wl.pages().observe(
                obs_in, F.count(F.lit(1)).alias("n"))).observe(
                obs_parsed, F.count(F.lit(1)).alias("n"))
            _noop(enrich_stage(parsed, spark).observe(
                obs_out, F.count(F.lit(1)).alias("n"),
                F.sum(F.col("lang_name").isNull().cast("long"))
                .alias("unmatched")))
            sp["attrs"].update(
                rows_in=obs_in.get["n"], rows_out=obs_out.get["n"],
                rows_dropped=obs_in.get["n"] - obs_parsed.get["n"],
                unmatched_lang_rows=obs_out.get["unmatched"] or 0)
        counts = sp["attrs"]
        for k in ("rows_out", "rows_dropped", "unmatched_lang_rows"):
            m[f"parse_enrich.{k}"] = counts[k]
        # what the scan reads: every column of the table is used. (Spark's
        # task input metrics miss the parquet reader's reads here.)
        m["parse_enrich.scan_bytes"] = _files_under(wl.pages_path)[1]

        narrow_df, exchange_df, derive_df = _plan_frames(
            spark, encode_pages(enriched(), arms=False))
        tracer.repeat("parse_enrich", lambda: _noop(narrow_df))
        m["parse_enrich.wall_s"] = tracer.wall("parse_enrich")
        tracer.repeat("exchange", lambda: _noop(exchange_df))
        tracer.repeat("derive", lambda: _noop(derive_df))
        tracer.repeat("encode",
                      lambda: _noop(encode_pages(enriched(), arms=False)))
        with tracer.span("encode_profiled", profile=True):
            _noop(encode_pages(enriched(), arms=False))
        tracer.repeat("arms",
                      lambda: _noop(encode_pages(enriched(), arms=True)))
        m["exchange.wall_s"] = tracer.wall("exchange") - m[
            "parse_enrich.wall_s"]
        m["derive.wall_s"] = tracer.wall("derive") - tracer.wall("exchange")
        m["arms.wall_s"] = tracer.wall("arms") - tracer.wall("encode")

        enc = tracer.get("encode")
        maps = [s for s in enc["stages"] if s["shuffle_write_bytes"] > 0]
        reduces = [s for s in enc["stages"] if s["shuffle_read_bytes"] > 0]
        pages = counts["rows_out"]
        m["exchange.shuffle_bytes_per_page"] = sum(
            s["shuffle_write_bytes"] for s in maps) / pages
        m["exchange.fetch_wait_s"] = sum(
            s["fetch_wait_ms"] for s in reduces) / 1000
        m["exchange.reduce_tasks"] = sum(s["tasks"] for s in reduces)
        task_ms = [t for s in reduces for t in s["task_ms"]]
        m["exchange.task_skew"] = max(task_ms) / statistics.median(task_ms)

        prof = tracer.get("encode_profiled")["profile"]
        calls, enc_cum = _profiled(prof, "batch.py:encode_span_dataframe")
        _, udf_cum = _profiled(prof, "pipeline.py:fn")
        _, read_cum = _profiled(prof, "serializers.py:load_stream")
        m["encode.cum_s"] = enc_cum
        m["encode.calls"] = calls
        # the encode UDF's own time: groupby, zstd, sha256, output frame —
        # its cumulative time less the codec and less waiting for input
        m["udf.self_s"] = udf_cum - enc_cum - read_cum

        sinks = []

        def route():
            sinks.append(wl.fresh_dir("trace-sink"))
            route_stage(encode_pages(enriched(), arms=False), sinks[-1])

        tracer.repeat("route", route)
        sink = sinks.pop()
        for other in sinks:
            shutil.rmtree(other, ignore_errors=True)
        m["route.wall_s"] = tracer.wall("route") - tracer.wall("encode")
        m["route.files"], m["route.bytes"] = _files_under(sink)
        tracer.repeat(
            "aggregate",
            lambda: aggregate_stage(read_routed(spark, sink)).collect())
        m["aggregate.wall_s"] = tracer.wall("aggregate")
        m["aggregate.files_read"] = len(read_routed(spark, sink).inputFiles())
        blobs = sink_blobs(spark, sink)
        n_spans = sum(b[1] for b in blobs)
        raw = sum(b[2] for b in blobs)
        m["encode.spans_per_blob"] = n_spans / len(blobs)
        m["encode.raw_bytes_per_page"] = raw / n_spans
        m["encode.zstd_over_raw"] = sum(b[3] for b in blobs) / raw

        def decoded():
            return roundtrip_check(read_routed(spark, sink))

        def verify():
            row = roundtrip_counts(decoded(), expected_roundtrip(
                span_stage(enriched()))).collect()[0]
            rows.append(row)

        rows = []
        tracer.repeat("decode", lambda: _noop(decoded()))
        with tracer.span("decode_profiled", profile=True):
            _noop(decoded())
        tracer.repeat("verify", verify)
        for row in rows:
            if row["missing"] or row["extra"]:
                problems.append(f"traced decode: {row['missing']} missing, "
                                f"{row['extra']} extra")
        row = rows[-1]
        tracer.get("verify")["attrs"].update(row.asDict())
        m["decode.wall_s"] = tracer.wall("decode")
        m["decode.cum_s"] = _profiled(
            tracer.get("decode_profiled")["profile"],
            "projector.py:project_blob")[1]
        m["decode.spans_out"] = row["decoded_spans"]
        m["verify.wall_s"] = tracer.wall("verify") - tracer.wall("decode")
        m["verify.shuffle_bytes"] = sum(
            s["shuffle_write_bytes"] for s in tracer.get("verify")["stages"])
        shutil.rmtree(sink, ignore_errors=True)

        with tracer.span("traced_pass", profile=True) as sp:
            res, out = wl.timed_pass()
        wl.check(res, out)
        problems.extend(f"traced pass: {p}" for p in res.problems)
        sp["attrs"].update(pages=res.pages, failed=res.failed,
                           problems=res.problems)
        stages = sp["stages"]
        m["spark.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000
        m["spark.spill_bytes"] = sum(s["spill_bytes"] for s in stages)
        m["spark.peak_exec_mem_bytes"] = max(
            s["peak_exec_mem"] for s in stages)
        m["trace.overhead_frac"] = (
            res.wall / statistics.median(untraced_walls) - 1)
        # pages lost or duplicated over pages expected, over every traced
        # decode and the traced pass
        mismatch = sum(r["missing"] + r["extra"] for r in rows) + res.failed
        m["check.mismatch_frac"] = mismatch / (
            counts["rows_out"] * (len(rows) + 1))
    return m, problems
