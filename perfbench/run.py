#!/usr/bin/env python3
"""Benchmark of the span-compression pipeline, exporter and receiver side.

    python3 perfbench/run.py --workload encode_unique --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. The load is a closed loop: this one Python
process runs one Spark job at a time on ``local[N]`` (N = min(4, nproc)
unless ``--cores`` says otherwise), and never two sessions at once.

One invocation:

1. starts the session (layout pinned, see ``session.py``);
2. sets up: writes the seed's input table three times, counts the pages
   the parse keeps, and warms up with one ``arms=True`` pipeline run (on
   ``roundtrip_read`` that run writes the sink) and then untimed, checked
   passes (one exporter pass, two verify passes; the JVM settings that keep
   passes flat are in ``session.py``). The reference
   run's blobs are the ones every timed pass must reproduce, and its
   comparison arms give ``zstd_vs_proto_ratio`` — the arms are diagnostics
   production never runs, so no timed pass computes them. ``setup_s`` is
   session start + the median input write + the census and warm-up;
3. runs timed passes until ``--seconds`` of pass time have been measured
   (at least three), each with its attribution record ``{wall, stall,
   probe, busy, steal}`` and each checked after its clock stops;
4. with ``--trace 1``, runs the traced layer pass (``tracing.py``) and
   writes its spans to ``.bench_work/traces/``.

Standard output: one line of run details, then the result line
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. ``attempted``
counts the pages the timed passes were expected to complete, ``failed`` the
pages they lost or duplicated. Any failed check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

#: (name, unit, better)
END_TO_END = [
    ("pages_per_s", "pages/s", "higher"),
    ("cpu_s_per_mpage", "s/Mpage", "lower"),
    ("zstd_bytes_per_page", "B/page", "lower"),
    ("zstd_vs_proto_ratio", "ratio", "lower"),
    ("worker_peak_rss_mb", "MB", "lower"),
    ("setup_s", "s", "lower"),
]

INPUT_WRITES = 3
MIN_PASSES = 3


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local[N] slots (default min(4, nproc))")
    ap.add_argument("--pages", type=int, default=None,
                    help="pages per pass (default: the workload's size)")
    return ap.parse_args(argv)


def timed_passes(wl, seconds: float, jvm_pid: int, monitor) -> list[dict]:
    from bench import cpu_window, host_cpu_sample, throttle_probe
    from session import WorkerRssSampler

    runs: list[dict] = []
    measured = 0.0
    while len(runs) < MIN_PASSES or measured < seconds:
        probe = throttle_probe()
        c0 = host_cpu_sample()
        with WorkerRssSampler(jvm_pid) as rss:
            t0 = time.monotonic()
            res, out = wl.timed_pass()
            t1 = time.monotonic()
        c1 = host_cpu_sample()
        wl.check(res, out)
        measured += res.wall
        rec = {"wall": res.wall, "stall": monitor.stall_between(t0, t1),
               "probe": probe}
        rec.update(cpu_window(c0, c1, t1 - t0))
        rec.update(pages=res.pages, busy_cpu_s=c1["busy"] - c0["busy"],
                   worker_rss_peak_mb=rss.peak_bytes / 2**20,
                   failed=res.failed, problems=res.problems)
        runs.append(rec)
    return runs


def unstolen_wall(run: dict) -> float:
    """The pass's wall less the share the hypervisor stole from it.

    ``busy + steal`` is the CPU the pass asked for; ``steal / (busy +
    steal)`` of it went to other guests, which stretches a CPU-bound pass
    by that share. On a host whose steal swings between 0.01 and 0.4 of the
    CPU budget within minutes, raw wall throughput moved 2x between runs of
    one build; this corrected wall is the throughput the records compare.
    The raw wall stays in each pass's record."""
    demanded = run.get("busy", 0) + run.get("steal", 0)
    if demanded <= 0:
        return run["wall"]
    return run["wall"] * run["busy"] / demanded


def end_to_end(wl, runs, setup_s) -> dict[str, float]:
    return {
        "pages_per_s": statistics.median(
            r["pages"] / unstolen_wall(r) for r in runs),
        "cpu_s_per_mpage": statistics.median(
            r["busy_cpu_s"] / r["pages"] * 1e6 for r in runs),
        "zstd_bytes_per_page": wl.zstd_bytes / wl.parsed,
        "zstd_vs_proto_ratio": wl.arms_ratio,
        "worker_peak_rss_mb": statistics.median(
            r["worker_rss_peak_mb"] for r in runs),
        "setup_s": setup_s,
    }


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    sys.path.insert(1, REPO)
    try:
        import bench  # the attribution helpers
        import compress_otel_collector_spark as pkg
    except ImportError as ex:
        print(f"perfbench: the program under test is not importable from "
              f"{REPO}: {ex}", file=sys.stderr)
        return 2
    outside = [m.__file__ for m in (bench, pkg)
               if not os.path.abspath(m.__file__).startswith(REPO + os.sep)]
    if outside:
        print(f"perfbench: {outside} were imported from outside {REPO}",
              file=sys.stderr)
        return 2
    from bench import StallMonitor
    from session import BenchSession, default_cores
    from tracing import LAYER_METRICS, Tracer, layer_pass
    from workloads import PAGES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = args.cores or default_cores()
    n_pages = args.pages or PAGES[args.workload]
    bench_root = os.path.join(REPO, ".bench_work")
    os.makedirs(bench_root, exist_ok=True)
    for name in os.listdir(bench_root):
        # data left by a run that was killed: <workload>-<seed>-<pid>
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(bench_root, name), ignore_errors=True)
    work = os.path.join(bench_root,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)

    monitor = StallMonitor().start()
    session = BenchSession(REPO, work, cores)
    problems: list[str] = []
    details: dict = {"workload": args.workload, "seed": args.seed,
                     "cores": cores, "pages": n_pages}
    try:
        spark = session.start()
        session_s = time.monotonic() - t_start
        wl = WORKLOADS[args.workload](spark, work, n_pages, args.seed)
        input_s = []
        for _ in range(INPUT_WRITES):
            t0 = time.monotonic()
            wl.write_input()
            input_s.append(time.monotonic() - t0)
        t0 = time.monotonic()
        problems += wl.census()
        problems += wl.warm_up()
        warm_s = time.monotonic() - t0
        setup_s = session_s + statistics.median(input_s) + warm_s
        details["setup"] = {"session_s": session_s, "input_s": input_s,
                            "census_and_warm_up_s": warm_s}

        runs = timed_passes(wl, args.seconds, session.jvm_pid, monitor)
        for r in runs:
            problems += r["problems"]
        details["runs"] = runs
        details["layout"] = {"blobs": wl.blobs, "zstd_bytes": wl.zstd_bytes,
                             "blob_digest": wl.reference_digest}
        metrics = end_to_end(wl, runs, setup_s)
        units = {n: u for n, u, _ in END_TO_END}

        if args.trace:
            tracer = Tracer(spark)
            metrics, trace_problems = layer_pass(
                tracer, wl, [r["wall"] for r in runs])
            problems += trace_problems
            units = {n: u for n, u, _b, _m in LAYER_METRICS}
            trace_file = os.path.join(
                bench_root, "traces",
                f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
            tracer.write(trace_file, {"details": details,
                                      "metrics": metrics})
            details["trace_file"] = os.path.relpath(trace_file, REPO)
    finally:
        session.stop()
        shutil.rmtree(work, ignore_errors=True)

    details["stalls"] = monitor.summary()
    details["problems"] = problems
    attempted = wl.parsed * len(runs)
    failed = sum(r["failed"] for r in runs)
    metrics = {name: metrics[name] for name in units}
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
