"""``plans.pipeline._share_zip_directory_reads``: the worker-side patch that
lets ``importlib.invalidate_caches()`` skip re-reading an unchanged zip on
``sys.path`` (pyspark's worker calls it before every task).

Each case runs in a fresh interpreter, so the process-wide patch starts
absent and never leaks into this process. No JVM.
"""

import json
import os
import pathlib
import subprocess
import sys
import textwrap

REPO = pathlib.Path(__file__).resolve().parents[1]

# counts zipimport._read_directory calls per archive; ``archive`` holds a
# package with two subpackages, imported through four zipimporters
PRELUDE = """
import importlib, json, os, sys, zipfile, zipimport
from compress_otel_collector_spark.plans import pipeline

reads = []
_read_directory = zipimport._read_directory


def counting_read(path):
    reads.append(path)
    return _read_directory(path)


zipimport._read_directory = counting_read


def write_archive(path, extra=()):
    with zipfile.ZipFile(path, "w") as z:
        for name in ("zpkg/__init__.py", "zpkg/a/__init__.py",
                     "zpkg/b/__init__.py", *extra):
            z.writestr(name, "")
        z.writestr("zpkg/a/m.py", "X = 1\\n")
        z.writestr("zpkg/b/n.py", "Y = 2\\n")


def archive_reads():
    n = reads.count(archive)
    del reads[:]
    return n


archive = sys.argv[1]
write_archive(archive)
sys.path.insert(0, archive)
import zpkg.a.m, zpkg.b.n
importers = sum(isinstance(f, zipimport.zipimporter) and f.archive == archive
                for f in sys.path_importer_cache.values())
"""


def _run(tmp_path, body):
    code = PRELUDE + textwrap.dedent(body)
    out = subprocess.run(
        [sys.executable, "-c", code, str(tmp_path / "zpkg.zip")],
        cwd=REPO, capture_output=True, text=True, timeout=120,
        env={**os.environ, "PYTHONPATH": f"{REPO}:{REPO / 'tests'}"},
    )
    assert out.returncode == 0, out.stderr
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_unchanged_archive_is_read_once(tmp_path):
    importers, first, later, shared = _run(tmp_path, """
        pipeline._share_zip_directory_reads()
        pipeline._share_zip_directory_reads()  # idempotent
        archive_reads()
        importlib.invalidate_caches()
        first = archive_reads()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        files = [f._files for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)]
        shared = all(f is zipimport._zip_directory_cache[archive]
                     for f in files)
        print(json.dumps([importers, first, archive_reads(), shared]))
    """)
    # unpatched, every importer re-reads on every call
    assert importers >= 3
    assert first <= 1
    assert later == 0
    assert shared


def test_changed_archive_is_reread(tmp_path):
    reads_after_change, x, y = _run(tmp_path, """
        pipeline._share_zip_directory_reads()
        importlib.invalidate_caches()
        archive_reads()
        write_archive(archive, extra=("zpkg/a/new.py",))
        importlib.invalidate_caches()
        n = archive_reads()
        import zpkg.a.new
        importlib.reload(zpkg.a.m)
        importlib.reload(zpkg.b.n)
        print(json.dumps([n, zpkg.a.m.X, zpkg.b.n.Y]))
    """)
    assert reads_after_change == 1
    assert (x, y) == (1, 2)


def test_encode_udf_installs_the_patch(tmp_path):
    installed, blobs = _run(tmp_path, """
        import numpy as np
        from test_batch_codec import production_pages

        assert not hasattr(zipimport.zipimporter.invalidate_caches,
                           "shares_reads")
        fn = pipeline._encode_batches(False)
        out = list(fn(iter([production_pages(np.arange(20), "en")])))
        print(json.dumps([
            hasattr(zipimport.zipimporter.invalidate_caches, "shares_reads"),
            sum(len(o) for o in out)]))
    """)
    assert installed
    assert blobs == 1


def test_noop_from_python_3_13(tmp_path):
    """3.13's ``invalidate_caches`` only drops the cache entry; the helper
    leaves it alone (faked version on an older interpreter)."""
    unchanged, = _run(tmp_path, """
        before = zipimport.zipimporter.invalidate_caches
        if sys.version_info < (3, 13):
            sys.version_info = (3, 13, 0, "final", 0)
        pipeline._share_zip_directory_reads()
        print(json.dumps([zipimport.zipimporter.invalidate_caches is before]))
    """)
    assert unchanged
