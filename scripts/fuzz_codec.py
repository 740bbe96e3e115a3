"""Offline codec fuzz campaign (not part of pytest — minutes, not seconds).

Properties over randomized trace documents:

1. fused projector ≡ generic tree projection of the closure-plan decode
1b. meta-block pool fast paths ≡ the scalar pool loop on large pools,
   valid and corrupted
2. hostile pools: wrong-shaped free-map values (non-dict probe,
   non-iterable hops) in positions the generic projection never touches
   must project identically on both paths (r4 verdict #4 — the fast
   path's eager pre-projection defers shape errors to first reference),
   and the same poison in a REFERENCED position must raise CodecError on
   both paths
3. byte-flip corruption surfaces ONLY CodecError (or succeeds) through
   decode AND projection — the r4 campaign found one escape this way (a
   flipped free-value type tag decodes fine but projected as TypeError)
4. properties 1 and 3 on the blobs production writes: the batch encoder's
   (column-major pool order) over random production-shaped span frames —
   typed event/link columns with at most one of each per span, NUL
   lookalikes in every text field, empty ids and zero times

Usage: ``python scripts/fuzz_codec.py [n_docs] [n_corrupt_blobs]``
(defaults 1500 / 4; ~5 min). Deterministic seeds — rerun reproduces.
"""

import sys

import numpy as np

sys.path.insert(0, ".")  # repo root

from compress_otel_collector_spark.codec import encode, trace_model  # noqa: E402
from compress_otel_collector_spark.codec.batch import (  # noqa: E402
    encode_span_dataframe,
)
from compress_otel_collector_spark.codec import decoder as D  # noqa: E402
from compress_otel_collector_spark.codec.values import CodecError  # noqa: E402
from compress_otel_collector_spark.plans.projector import (  # noqa: E402
    project_blob,
    project_doc,
)
from tests.test_batch_codec import event_cells, link_cells  # noqa: E402
from tests.test_tokdecode import _mkdoc  # noqa: E402

MASKS = (0x01, 0x02, 0x40, 0x7F, 0x80, 0xC0, 0xFE, 0xFF)


def random_doc(rng):
    doc = _mkdoc(int(rng.integers(0, 25)))
    spans = doc["resourceSpans"][0]["scopeSpans"][0]["spans"]
    for sp in spans:
        sp["startTimeUnixNano"] = int(rng.integers(0, 2 ** 62))
        sp["endTimeUnixNano"] = int(rng.integers(0, 2 ** 62))
        r = rng.integers(0, 6)
        if r == 0:
            sp["events"] = None
        elif r == 1:
            sp["events"] = ([dict(e) for e in (sp["events"] or [])]
                            * int(rng.integers(1, 4)))
        if rng.integers(0, 3) == 0:
            sp["links"] = None
        if rng.integers(0, 4) == 0:
            sp["attributes"] = {}
        if rng.integers(0, 8) == 0:
            sp["attributes"] = {
                "deep": {"a": [1, {"b": [True, 2.5, "s"]}]},
                "nul": "a\x00b", "neg": -(2 ** 40),
            }
    return doc


#: text values that pandas' C-string hashing would conflate
_NUL_TEXT = ("", "\x00", "a", "a\x00", "a\x00b", "\x00z", "é\x00")


def random_frame(rng):
    """(frame, attributes spec, resource) in the shape of the span frame
    (``functions.columns.SPAN_SHAPE`` through
    ``plans.pipeline._group_spans_frame``), with random values."""
    import pandas as pd

    def text():
        if rng.integers(0, 2):
            return _NUL_TEXT[int(rng.integers(0, len(_NUL_TEXT)))]
        return f"t{int(rng.integers(0, 4))}"

    def ident(width):
        return b"" if rng.integers(0, 6) == 0 else rng.bytes(width)

    def time():
        return 0 if rng.integers(0, 5) == 0 else int(rng.integers(0, 2 ** 62))

    def small():
        return int(rng.integers(0, 3))

    spec = {"http.url": "str", "http.status_code": "int", "n_chars": "int"}
    if rng.integers(0, 2):
        spec["lang"] = "str"
    rows = []
    for _ in range(int(rng.integers(1, 25))):
        event = None
        if rng.integers(0, 2):
            attrs = ({}, {"phase": text()},
                     {"phase": text(), "probe": {
                         "ttl": int(rng.integers(-(2 ** 63), 2 ** 63 - 1)),
                         "hops": [small(), small()]}})[int(rng.integers(0, 3))]
            event = {"timeUnixNano": time(), "name": text(),
                     "attributes": attrs, "droppedAttributesCount": small()}
        link = None
        if rng.integers(0, 3) == 0:
            link = {"traceId": ident(16), "spanId": ident(8),
                    "traceState": text(),
                    "attributes": {"rel": text()} if small() else {},
                    "droppedAttributesCount": small()}
        start = time()
        rows.append({
            "trace_id": ident(16), "span_id": ident(8),
            "parent_span_id": ident(8) if small() == 0 else b"",
            "trace_state": text(), "name": text(), "kind": small(),
            "start_ns": start, "end_ns": start + small(),
            "dropped_attributes_count": small(),
            **event_cells(event),
            "dropped_events_count": small(),
            **link_cells(link),
            "dropped_links_count": small(),
            "status_message": text(), "status_code": small(),
            "attr:http.url": text(),
            "attr:http.status_code": int(rng.choice(
                [200, 0, -1, 2 ** 63 - 1, -(2 ** 63)])),
            "attr:n_chars": int(rng.integers(0, 10 ** 6)),
            "attr:lang": text(),
        })
    resource = {"service.name": text(), "host.bucket": small()}
    return pd.DataFrame(rows), spec, resource


def _flip_escapes(blob, m, label) -> tuple[int, int]:
    """Every byte of ``blob`` × every mask through decode + projection:
    (mutations, non-CodecError escapes)."""
    bad = total = 0
    for pos in range(len(blob)):
        for mask in MASKS:
            c = bytearray(blob)
            c[pos] ^= mask
            total += 1
            try:
                D.decode(bytes(c), m)
                project_blob(bytes(c), m)
            except CodecError:
                pass
            except Exception as e:  # noqa: BLE001 — the point of the fuzz
                bad += 1
                print(f"ESCAPE {label} pos={pos} mask={mask:#x}: "
                      f"{type(e).__name__}: {e}")
    return total, bad


def _mkbig(rng):
    """70–180 spans with unique ids/attributes: every pool (span attrs
    free-map, traceId/spanId BYTES, string) exceeds _FAST_POOL_MIN.
    Random deviant entries (empty/None/double/nested/bit-63 attrs) force
    the verified fallback on ~half the docs."""
    from tests.test_tokdecode import _bigdoc

    doc = _bigdoc(int(rng.integers(70, 180)))
    spans = doc["resourceSpans"][0]["scopeSpans"][0]["spans"]
    deviants = ({}, None, {"http.url": "d", "http.status_code": 2.5,
                           "cache.hit": True},
                {"http.url": "d", "http.status_code": {"n": 1},
                 "cache.hit": False},
                {"http.url": "d", "http.status_code": -(2 ** 56),
                 "cache.hit": True},
                {"only": "two", "keys": 1})
    for _ in range(int(rng.integers(0, 3))):
        i = int(rng.integers(0, len(spans)))
        spans[i]["attributes"] = deviants[int(rng.integers(0, len(deviants)))]
    return doc


def main() -> int:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1500
    n_blobs = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    m = trace_model()
    rng = np.random.default_rng(42)

    for trial in range(n_docs):
        blob = encode(random_doc(rng), m)
        assert project_blob(blob, m) == project_doc(D.decode(blob, m)), \
            f"projection mismatch at doc {trial}"
    print(f"equality: {n_docs} docs, fused==generic")

    # property 1b (r6): meta-block pool fast paths on LARGE pools — the
    # small-doc loops above never cross _FAST_POOL_MIN, so drive random
    # big docs (unique per-span ids/attrs ⇒ 100+-entry free-map, BYTES
    # and string pools) through fast-on vs forced-scalar decode, valid
    # AND corrupted: both must agree (equal output, or CodecError parity)
    brng = np.random.default_rng(99)
    n_big = max(60, n_docs // 25)
    pool_mismatch = 0
    for trial in range(n_big):
        doc = _mkbig(brng)
        blob = encode(doc, m)
        fast_meta = D.decode_meta(blob, m)
        saved_min = D._FAST_POOL_MIN
        try:
            D._FAST_POOL_MIN = 10 ** 9
            scal_meta = D.decode_meta(blob, m)
        finally:
            D._FAST_POOL_MIN = saved_min
        assert fast_meta[0] == scal_meta[0] \
            and fast_meta[1] == scal_meta[1] \
            and fast_meta[2].pos == scal_meta[2].pos, \
            f"pool fast path mismatch at big doc {trial}"
        end = blob.index(b"cprval") + 6
        for pos in brng.integers(0, end, size=25):
            mask = int(MASKS[int(brng.integers(0, len(MASKS)))])
            c = bytearray(blob)
            c[pos] ^= mask
            c = bytes(c)
            try:
                f_out, f_err = D.decode(c, m), None
            except CodecError:
                f_out, f_err = None, True
            try:
                D._FAST_POOL_MIN = 10 ** 9
                try:
                    s_out, s_err = D.decode(c, m), None
                except CodecError:
                    s_out, s_err = None, True
            finally:
                D._FAST_POOL_MIN = saved_min
            if f_err != s_err or f_out != s_out:
                pool_mismatch += 1
                print(f"POOL DIVERGENCE big={trial} pos={pos} "
                      f"mask={mask:#x}: fast_err={f_err} scalar_err={s_err}")
    print(f"large pools: {n_big} docs × 25 meta corruptions, "
          f"fast/scalar divergences: {pool_mismatch}")

    # every poison must fail projection when referenced: non-dict probe
    # (.get raises) or non-iterable hops (join raises)
    poisons = (5, {"hops": 7}, "str-probe", [1, 2], 2.5)
    hrng = np.random.default_rng(7)
    n_hostile = max(200, n_docs // 5)
    for trial in range(n_hostile):
        doc = random_doc(hrng)
        spans = doc["resourceSpans"][0]["scopeSpans"][0]["spans"]
        if not spans:
            continue
        sp = spans[int(hrng.integers(0, len(spans)))]
        poison = poisons[int(hrng.integers(0, len(poisons)))]
        referenced = bool(hrng.integers(0, 2))
        bad_ev = {"timeUnixNano": 2, "name": "g",
                  "attributes": {"probe": poison},
                  "droppedAttributesCount": None}
        ok_ev = {"timeUnixNano": 1, "name": "f",
                 "attributes": {"phase": "connect"},
                 "droppedAttributesCount": None}
        sp["events"] = [bad_ev] if referenced else [ok_ev, bad_ev]
        blob = encode(doc, m)
        if referenced:
            for fn in (lambda b: project_blob(b, m),
                       lambda b: project_doc(D.decode(b, m))):
                try:
                    fn(blob)
                    raise AssertionError(
                        f"hostile doc {trial}: referenced poison "
                        f"{poison!r} did not raise")
                except CodecError:
                    pass
        else:
            assert project_blob(blob, m) == project_doc(D.decode(blob, m)), \
                f"hostile doc {trial}: unreferenced poison diverged"
    print(f"hostile pools: {n_hostile} docs, fused==generic incl. "
          "referenced-poison CodecError parity")

    crng = np.random.default_rng(123)
    bad = total = 0
    for t in range(n_blobs):
        blob = encode(_mkdoc(int(crng.integers(3, 15))), m)
        t_n, t_bad = _flip_escapes(blob, m, f"blob={t}")
        total += t_n
        bad += t_bad
    print(f"corruption: {total} mutations, non-CodecError escapes: {bad}")

    # property 4: the batch encoder's blobs (what production writes)
    frng = np.random.default_rng(2024)
    n_frames = max(200, n_docs // 5)
    blobs = []
    for trial in range(n_frames):
        blob = encode_span_dataframe(*random_frame(frng))
        assert project_blob(blob, m) == project_doc(D.decode(blob, m)), \
            f"batch projection mismatch at frame {trial}"
        blobs.append(blob)
    print(f"batch equality: {n_frames} frames, fused==generic")
    b_total = b_bad = 0
    for t, blob in enumerate(blobs[:n_blobs]):
        t_n, t_bad = _flip_escapes(blob, m, f"batch blob={t}")
        b_total += t_n
        b_bad += t_bad
    print(f"batch corruption: {b_total} mutations, "
          f"non-CodecError escapes: {b_bad}")
    return 1 if (bad or b_bad or pool_mismatch) else 0


if __name__ == "__main__":
    raise SystemExit(main())
