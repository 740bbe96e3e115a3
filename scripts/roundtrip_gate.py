#!/usr/bin/env python
"""1M-page full-fidelity roundtrip gate, stall-instrumented (r6 verdict #4).

``encode_pages`` (the production encode path: narrow exchange, span
derivation on the reduce side) → zstd → decode → 31-field
multiset-equality gate against ``expected_roundtrip(span_stage(...))`` over
``$SPARK_GRAFT_BENCH_PAGES`` synthetic pages (default 1M) on
``local[$SPARK_GRAFT_CPUS]``, timed from the materialized parquet scan.
Prints ONE JSON line: per-run attribution dicts ``{wall, stall, probe,
busy, steal}`` (stall = heartbeat-measured full-process freeze time,
``bench.StallMonitor``; probe = fixed-CPU host-speed sample just before
the run; busy/steal = the host's CPU-budget fractions spent working vs
hypervisor-stolen during the run, ``bench.cpu_window``),
median / best / best-stall-corrected, the stall summary, and the gate
verdict (``missing``/``extra`` must both be 0). BASELINE.md's published
gate number regenerates from this — never from an ad-hoc session — so it
always carries its own stall attribution.

Usage: ``python scripts/roundtrip_gate.py [n_runs]`` (default 3, plus one
untimed warm-up).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import (
    CPUS,
    N_SYNTH,
    StallMonitor,
    cpu_window,
    host_cpu_sample,
    make_spark,
    materialize_pages,
    throttle_probe,
)


def main() -> None:
    from compress_otel_collector_spark.plans.pipeline import (
        encode_pages,
        enrich_stage,
        expected_roundtrip,
        parse_stage,
        roundtrip_check,
        roundtrip_counts,
        span_stage,
    )

    n_runs = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    mon = StallMonitor().start()
    spark = make_spark(CPUS)
    pages = spark.read.parquet(materialize_pages(spark, N_SYNTH))

    def gate():
        enriched = enrich_stage(parse_stage(pages), spark)
        encoded = encode_pages(enriched)
        return roundtrip_counts(
            roundtrip_check(encoded), expected_roundtrip(span_stage(enriched))
        ).collect()[0]

    gate()  # untimed warm-up (JIT, Python workers, parquet footers)
    runs: list[dict] = []
    row = None
    for _ in range(n_runs):
        probe = throttle_probe()
        c0 = host_cpu_sample()
        t0 = time.monotonic()
        row = gate()
        t1 = time.monotonic()
        rec = {"wall": round(t1 - t0, 3),
               "stall": round(mon.stall_between(t0, t1), 3),
               "probe": round(probe, 4)}
        rec.update(cpu_window(c0, host_cpu_sample(), t1 - t0))
        runs.append(rec)
    walls = [r["wall"] for r in runs]
    print(json.dumps({
        "pages": N_SYNTH,
        "cores": CPUS,
        "runs": runs,
        "median_sec": round(statistics.median(walls), 3),
        "best_sec": round(min(walls), 3),
        "best_stall_corrected_sec": round(
            min(r["wall"] - r["stall"] for r in runs), 3),
        "stalls": mon.summary(),
        "decoded_spans": int(row["decoded_spans"]),
        "missing": int(row["missing"]),
        "extra": int(row["extra"]),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
