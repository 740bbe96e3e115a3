"""Bench harness instrumentation (r6 verdict #1 and #2).

#1: the driver's official BENCH record must be stall-attributable without
a judge-side A/B — StallMonitor heartbeat-measures full-process freezes,
and the SIGSTOP/CONT test below synthesizes one and checks it is
correctly attributed to the frozen window.
#2: BENCH/BASELINE.md regeneration must refuse to destroy standing
sections (the r5 "Arms cost floor" table died this way at 6f4a415).
Every timed run goes through ``bench.attributed``, pinned below with a
fake clock; ``bench.roundtrip_gate`` runs on the fixture session.
"""

import json
import os
import pathlib
import signal
import subprocess
import sys
import time

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench  # noqa: E402


class TestStallMonitor:
    def test_overlap_accounting_exact(self):
        mon = bench.StallMonitor()
        # one synthetic freeze: monotonic 8.0 → 10.0 (detected at 10.0)
        mon._events = [(10.0, 2.0)]
        assert mon.stall_between(0.0, 20.0) == pytest.approx(2.0)
        assert mon.stall_between(9.0, 20.0) == pytest.approx(1.0)
        assert mon.stall_between(9.0, 9.5) == pytest.approx(0.5)
        assert mon.stall_between(10.5, 20.0) == 0.0
        assert mon.stall_between(0.0, 7.9) == 0.0
        mon._events.append((15.0, 1.0))  # second freeze 14 → 15
        assert mon.stall_between(0.0, 20.0) == pytest.approx(3.0)
        s = mon.summary()
        assert s["events"] == 2
        assert s["total_sec"] == pytest.approx(3.0)
        assert s["max_gap_sec"] == pytest.approx(2.0)

    def test_sigstop_is_attributed(self):
        """The r6 verdict's done-criterion: a synthetic full-process stall
        (SIGSTOP → 1.5 s → SIGCONT) lands in the monitored window's
        stall_sec. Run in a subprocess so the freeze can't perturb the
        test runner itself."""
        code = (
            "import json, sys, time\n"
            f"sys.path.insert(0, {str(REPO)!r})\n"
            "from bench import StallMonitor\n"
            "mon = StallMonitor(interval=0.05, threshold=0.4).start()\n"
            "t0 = time.monotonic()\n"
            "print('READY', flush=True)\n"
            "time.sleep(3.0)\n"
            "t1 = time.monotonic()\n"
            "print(json.dumps({'stall': mon.stall_between(t0, t1),"
            " 'wall': t1 - t0}), flush=True)\n"
        )
        proc = subprocess.Popen([sys.executable, "-c", code],
                                stdout=subprocess.PIPE)
        try:
            assert proc.stdout.readline().strip() == b"READY"
            time.sleep(0.3)
            os.kill(proc.pid, signal.SIGSTOP)
            time.sleep(1.5)
            os.kill(proc.pid, signal.SIGCONT)
            out, _ = proc.communicate(timeout=30)
        finally:
            if proc.poll() is None:
                proc.kill()
        got = json.loads(out.splitlines()[-1])
        # the 1.5 s freeze must be attributed (lower bound allows sleep/
        # scheduler slop; upper bound is the window itself — a genuinely
        # degraded host can add ITS OWN stalls on top, which is correct
        # attribution, not test noise)
        assert got["stall"] >= 1.2, got
        assert got["stall"] <= got["wall"], got

    def test_mins_and_corrected_mins(self):
        runs = {"q": [{"wall": 5.0, "stall": 0.0, "probe": 0.01},
                      {"wall": 30.0, "stall": 27.5, "probe": 0.09},
                      {"wall": 6.0, "stall": 2.0, "probe": 0.01}]}
        assert bench._mins(runs) == {"q": 5.0}
        assert bench._mins_corrected(runs) == {"q": 2.5}

    def test_cpu_secs(self):
        import os as _os

        ncpu = _os.cpu_count() or 1
        runs = {"q": [{"wall": 10.0, "stall": 0.0, "probe": 0.01,
                       "busy": 0.5, "steal": 0.2},
                      {"wall": 40.0, "stall": 0.0, "probe": 0.09,
                       "busy": 0.4, "steal": 0.5}],
                "noproc": [{"wall": 1.0, "stall": 0.0, "probe": 0.01}]}
        got = bench._cpu_secs(runs)
        # min busy-CPU-seconds, NOT min wall: the 10 s run costs
        # 10×ncpu×0.5, the throttled 40 s run 40×ncpu×0.4 — the clean
        # run wins even though a steal-heavy wall is 4× longer
        assert got == {"q": round(10.0 * ncpu * 0.5, 1)}


class TestThrottleProbe:
    """Per-run host-CPU-speed probe (r7): the roundtrip-gate log showed a
    host regime the StallMonitor cannot see — 8× wall dispersion with
    zero heartbeat gaps (sustained worker-pool throttle). The probe
    measures CPU speed immediately before each run so that regime is
    attributable per run in the artifact."""

    def test_probe_returns_and_records(self):
        before = len(bench._PROBES)
        p = bench.throttle_probe()
        assert 0 < p < 30.0  # even a heavily throttled host finishes
        assert len(bench._PROBES) == before + 1
        s = bench._probe_summary()
        assert s["samples"] == len(bench._PROBES)
        assert s["floor_sec"] <= s["median_sec"] <= s["max_sec"]

    def test_probe_is_fixed_work(self):
        # best-of-reps of a FIXED workload: two back-to-back warm calls
        # agree within scheduler noise unless the host state changes
        # mid-test (allow a generous band; the property under test is
        # that the workload is deterministic, not the host)
        a = bench.throttle_probe()
        b = bench.throttle_probe()
        assert min(a, b) > 0
        assert max(a, b) / min(a, b) < 50


class TestHostCPU:
    """Per-run host CPU accounting (r7): the probe is a point sample and
    the r7b gate run proved that insufficient (floor probes, 4× walls —
    throttle that only bites under sustained load). /proc/stat deltas
    over the run window measure busy vs hypervisor-stolen fractions
    directly."""

    def test_sample_is_cumulative_and_monotonic(self):
        import time as _time

        s0 = bench.host_cpu_sample()
        assert s0 is not None  # Linux sandbox
        assert set(s0) == {"busy", "idle", "iowait", "steal"}
        _time.sleep(0.2)
        s1 = bench.host_cpu_sample()
        assert all(s1[k] >= s0[k] for k in s0)
        # 0.2 s on a 32-way host advances SOME category by ~0.2×ncpu
        assert sum(s1[k] - s0[k] for k in s0) > 0.1

    def test_cpu_window_busy_loop_attributes_to_busy(self):
        import time as _time

        c0 = bench.host_cpu_sample()
        t0 = _time.monotonic()
        x = 0
        while _time.monotonic() - t0 < 0.4:
            x += 1  # one pinned-busy core
        wall = _time.monotonic() - t0
        w = bench.cpu_window(c0, bench.host_cpu_sample(), wall)
        assert 0 <= w["steal"] <= 1.0
        # at least this test's own core was busy the whole window
        assert w["busy"] >= 0.5 / (__import__("os").cpu_count() or 1)

    def test_cpu_window_degenerate_inputs(self):
        assert bench.cpu_window(None, {"busy": 1}, 1.0) == {}
        assert bench.cpu_window({"busy": 1}, None, 1.0) == {}
        assert bench.cpu_window({"busy": 1}, {"busy": 2}, 0.0) == {}


class TestAttributionWindow:
    """``attributed`` is the one timing window: the wall, the stall
    overlap and the busy/steal fractions all cover [t0, t1] around the
    region, and the probe runs before it opens."""

    def test_wall_cpu_and_stall_cover_one_interval(self, monkeypatch):
        import threading
        import types

        ncpu = os.cpu_count() or 1
        main = threading.get_ident()
        host = {"t": 100.0, "busy": 0.0, "steal": 0.0}

        def run(sec, busy, steal):
            host["t"] += sec
            host["busy"] += sec * ncpu * busy
            host["steal"] += sec * ncpu * steal

        def probe():  # 1 s of an all-busy host, just before the window
            run(1.0, 1.0, 0.0)
            return 0.01

        def region():  # 10 s at half busy, a tenth stolen
            run(10.0, 0.5, 0.1)
            return "done"

        # only this thread sees the fake clock: a live monitor thread
        # from another test keeps reading the real one
        monkeypatch.setattr(bench, "time", types.SimpleNamespace(
            sleep=time.sleep,
            monotonic=lambda: host["t"] if threading.get_ident() == main
            else time.monotonic()))
        monkeypatch.setattr(bench, "throttle_probe", probe)
        monkeypatch.setattr(bench, "host_cpu_sample", lambda: {
            "busy": host["busy"], "idle": 0.0, "iowait": 0.0,
            "steal": host["steal"]})
        mon = bench.StallMonitor()
        # a 2 s freeze from the probe's second half into the region
        # (detected 1 s after the window opens at 101.0)
        mon._events = [(102.0, 2.0)]
        monkeypatch.setattr(bench, "_MONITOR", mon)

        out, rec = bench.attributed(region)
        assert out == "done"
        # a wall, stall or /proc/stat window opened before the probe
        # reads wall 11, stall 2 or busy 0.6
        assert rec == {"wall": 10.0, "stall": 1.0, "probe": 0.01,
                       "busy": 0.5, "steal": 0.1}


def test_roundtrip_gate_on_the_fixture_session(spark):
    """``bench.py --gate`` on 2,000 synthetic pages: the 1M gate's JSON
    keys, every span decoded, nothing missing or extra."""
    from compress_otel_collector_spark.sources.tables import synthetic_pages

    out = bench.roundtrip_gate(
        spark, synthetic_pages(spark, 2000, partitions=4), n_runs=1)
    assert set(out) == {
        "pages", "cores", "runs", "median_sec", "best_sec",
        "best_stall_corrected_sec", "stalls", "decoded_spans", "missing",
        "extra"}
    assert out["pages"] == out["decoded_spans"] == 2000
    assert out["missing"] == out["extra"] == 0
    assert {"wall", "stall", "probe"} <= set(out["runs"][0])


def _fake_campaign():
    lvl = {"cores": 2, "slots": 1, "pages": 100, "sec": 1.0,
           "pages_per_sec": 100.0, "runs": [100.0]}
    results = {"1_executor": dict(lvl),
               "4_executors": dict(lvl, cores=8, slots=4,
                                   pages_per_sec=380.0),
               "local32_saturated": dict(lvl, cores=32, slots=32),
               "local32_pinned": dict(lvl, cores=32, slots=32)}
    ratios = {k: 1000 for k in (
        "blobs", "raw_bytes", "zstd_bytes", "gzip_bytes",
        "json_zstd_bytes", "proto_zstd_bytes", "arrow_zstd_bytes")}
    ratios.update({"zstd_vs_json_zstd_ratio": 0.5,
                   "zstd_vs_proto_zstd_ratio": 0.5,
                   "zstd_vs_arrow_zstd_ratio": 0.5,
                   "zstd_per_page": 10.0})
    return results, ratios


class TestStandingSections:
    def test_rewrite_with_real_notes_keeps_all_sections(self, tmp_path,
                                                        monkeypatch):
        notes = (REPO / "BENCH" / "NOTES.md").read_text()
        monkeypatch.chdir(tmp_path)
        results, ratios = _fake_campaign()
        bench.write_baseline_md(results, 0.95, 1.0, 100, ratios, ratios,
                                notes=notes)
        body = (tmp_path / "BENCH" / "BASELINE.md").read_text()
        for section in bench.STANDING_SECTIONS:
            assert section in body

    def test_rewrite_losing_floor_table_raises(self, tmp_path, monkeypatch):
        """The check runs before the write: a refused rewrite leaves the
        existing BASELINE.md byte-identical."""
        monkeypatch.chdir(tmp_path)
        existing = tmp_path / "BENCH" / "BASELINE.md"
        existing.parent.mkdir()
        existing.write_bytes(b"# prior baseline\n## Arms cost floor\n")
        results, ratios = _fake_campaign()
        with pytest.raises(RuntimeError, match="Arms cost floor"):
            bench.write_baseline_md(results, 0.95, 1.0, 100, ratios,
                                    ratios, notes="")
        assert existing.read_bytes() == \
            b"# prior baseline\n## Arms cost floor\n"

    def test_repo_notes_carry_the_floor_table(self):
        notes = (REPO / "BENCH" / "NOTES.md").read_text()
        assert "## Arms cost floor" in notes
        assert "arms / production = 1.063" in notes
