"""Vectorized sleb128 kernels (codec/tokdecode.py) and the generic decode.

``tokenize`` must be byte-for-byte semantics-identical to the scalar
reader (decode_sleb128) — TOTAL since r5, including the one wire shape
the boundary scan cannot split (capped 9-byte varints whose raw 9th byte
carries bit 7 — reader.go:52-59, scalar-parsed segment-locally). The
meta-block pool fast paths must equal the scalar pool loop. ``decode()``
(the compiled closure plan) is pinned on data-region edge cases; the
token walk that consumes ``tokenize`` is ``project_blob``, pinned against
``project_doc(decode(...))`` in ``tests/test_projector.py``.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from compress_otel_collector_spark.codec import encode, trace_model
from compress_otel_collector_spark.codec import decoder as decoder_mod
from compress_otel_collector_spark.codec.decoder import decode
from compress_otel_collector_spark.codec.tokdecode import tokenize
from compress_otel_collector_spark.codec.values import CodecError
from compress_otel_collector_spark.codec.varint import (
    INT64_MIN,
    decode_sleb128,
    encode_sleb128,
)


def _scalar_stream(data: bytes) -> list[int]:
    out, pos = [], 0
    while pos < len(data):
        v, pos = decode_sleb128(data, pos)
        out.append(v)
    return out


class TestTokenize:
    @given(st.lists(st.integers(min_value=-(2 ** 63), max_value=2 ** 63 - 1),
                    min_size=0, max_size=60))
    @settings(max_examples=300, deadline=None)
    def test_matches_scalar_always(self, vals):
        """tokenize is TOTAL (r5): the full int64 domain — including
        bit-63 values whose capped 9th raw byte reads as a continuation
        byte — must parse identically to the scalar reader."""
        data = b"".join(encode_sleb128(v) for v in vals)
        assert tokenize(data, 0) == _scalar_stream(data)

    def test_exact_values_across_lengths(self):
        vals = [0, 1, -1, 63, -64, 64, -65, 8191, -8192,
                2 ** 20, -(2 ** 20), 2 ** 41 + 17, -(2 ** 41) - 17,
                2 ** 54, -(2 ** 54), 2 ** 55 - 1, -(2 ** 55),
                1_700_000_000_000_000_000]
        data = b"".join(encode_sleb128(v) for v in vals)
        assert tokenize(data, 0) == vals

    def test_offset_start(self):
        data = b"\xff\xff" + encode_sleb128(300) + encode_sleb128(-7)
        assert tokenize(data, 2) == [300, -7]

    def test_final_capped_varint_with_high_ninth_byte(self):
        """A trailing ≥9-byte terminator-free run holds a complete capped
        varint (bit 63 set) — parsed scalar, not rejected (r5)."""
        v = -(2 ** 56) + 123  # 9-byte encoding, 9th raw byte = 0xFF
        enc = encode_sleb128(v)
        assert len(enc) == 9 and enc[8] >= 0x80
        assert tokenize(encode_sleb128(5) + enc, 0) == [5, v]

    def test_mid_stream_capped_varint_merges_and_resumes(self):
        """A bit-63 varint merges with following tokens in the boundary
        scan; the segment is scalar-parsed and the stream resumes — only
        that segment pays the scalar cost (r5 split-at-offset resume)."""
        v = -(2 ** 56) + 123
        assert tokenize(encode_sleb128(v) + encode_sleb128(1), 0) == [v, 1]
        mixed = [7, v, -v, 1, v, 0, 2 ** 62, -(2 ** 55) - 1, 3]
        data = b"".join(encode_sleb128(x) for x in mixed)
        assert tokenize(data, 0) == mixed

    def test_capped_varint_chain_inside_one_segment(self):
        """Consecutive bit-63 varints form ONE long merged segment; the
        scalar resume must consume capped 9-byte chunks until it lands
        exactly on the segment terminator."""
        vals = [-(2 ** 56) + 1, -(2 ** 60) - 5, INT64_MIN, 42]
        data = b"".join(encode_sleb128(x) for x in vals)
        assert tokenize(data, 0) == vals

    def test_trailing_truncated_varint_is_clipped(self):
        # <9 trailing continuation bytes = a genuinely truncated varint; the
        # walker hitting the missing token raises exactly where the scalar
        # reader would
        data = encode_sleb128(42) + b"\x80\x80"
        assert tokenize(data, 0) == [42]

    def test_empty_and_all_continuation(self):
        assert tokenize(b"", 0) == []
        # <9 continuation bytes, no terminator: one truncated varint —
        # dropped, so the walker raises where the scalar reader would
        assert tokenize(b"\x80" * 4, 0) == []
        # 9 continuation bytes = one COMPLETE capped varint (raw 9th byte
        # 0x80 → bit 63 set)
        assert tokenize(b"\x80" * 9, 0) == _scalar_stream(b"\x80" * 9)


SPAN_TS = 1_700_000_000_000_000_000


def _mkspan(i: int) -> dict:
    return {
        "traceId": bytes.fromhex(f"{i % 7:032x}"),
        "spanId": bytes.fromhex(f"{i % 11:016x}"),
        "traceState": "cc=1" if i % 10 == 0 else None,
        "parentSpanId": bytes.fromhex(f"{i % 5:016x}") if i % 3 else None,
        "name": f"GET /p/{i % 4}",
        "kind": (i % 6) or None,
        "startTimeUnixNano": SPAN_TS + i * 1_000_000,
        "endTimeUnixNano": SPAN_TS + i * 1_000_000 + 5_000_000,
        "attributes": {"http.url": f"https://h{i % 5}.example/p{i % 4}",
                       "http.status_code": 200, "n_chars": 100 + i % 3},
        "droppedAttributesCount": None,
        "events": [{"timeUnixNano": SPAN_TS + i, "name": "fetch",
                    "attributes": {"phase": "connect",
                                   "probe": {"ttl": 64, "hops": [1, 2]}},
                    "droppedAttributesCount": None}]
        if i % 4 == 0 else None,
        "droppedEventsCount": None,
        "links": [{"traceId": bytes.fromhex(f"{(i + 1) % 7:032x}"),
                   "spanId": None, "traceState": None,
                   "attributes": {"rel": "prev"},
                   "droppedAttributesCount": None}]
        if i % 5 == 0 else None,
        "droppedLinksCount": 1 if i % 2 else None,
        "status": {"message": "OK" if i % 4 == 0 else None, "code": i % 3},
    }


def _mkdoc(n: int) -> dict:
    return {"resourceSpans": [{
        "resource": {"attributes": {"service.name": "s", "host.bucket": 3},
                     "droppedAttributesCount": None},
        "scopeSpans": [{
            "scope": {"name": "x", "version": "0.1.0", "attributes": {},
                      "droppedAttributesCount": None},
            "spans": [_mkspan(i) for i in range(n)],
            "schemaUrl": None,
        }],
        "schemaUrl": None,
    }]}


class TestWalker:
    """decode() over the data region: plain Python scalars, bit-63 diff
    deltas, truncation and pool-lookup failures."""

    def test_python_scalar_types(self):
        # decode must hand back plain Python ints/bools, not numpy
        # scalars — object-dtype pandas frames and == semantics
        # downstream rely on it
        m = trace_model()
        out = decode(encode(_mkdoc(3), m), m)
        span = out["resourceSpans"][0]["scopeSpans"][0]["spans"][1]
        assert type(span["startTimeUnixNano"]) is int
        assert type(span["status"]["code"]) is int

    def test_bit63_delta_uses_fallback_and_still_decodes(self):
        # startTimeUnixNano diff delta ≤ -2^55 → 9-byte varint with bit 63
        # set in the raw 9th byte — the reader's capped-varint branch
        m = trace_model()
        doc = _mkdoc(2)
        spans = doc["resourceSpans"][0]["scopeSpans"][0]["spans"]
        spans[0]["startTimeUnixNano"] = 2 ** 60
        spans[1]["startTimeUnixNano"] = 0
        blob = encode(doc, m)
        out = decode(blob, m)
        got = out["resourceSpans"][0]["scopeSpans"][0]["spans"]
        assert got[0]["startTimeUnixNano"] == 2 ** 60
        assert got[1]["startTimeUnixNano"] == 0

    def test_missing_pool_and_bad_index_raise_codec_error(self):
        from compress_otel_collector_spark.plans.projector import project_blob

        m = trace_model()
        # empty string pool, no value pools, magic, then resourceSpans
        # present(1) count(1) → a resource pool ref with no pool decoded
        no_pools = b"\x00\x00cprval\x01\x01\x00"
        # a real one-resource blob whose data region's resource index
        # (third token: presence, count, index) is rewritten 0 → 5
        blob = encode(_mkdoc(0), m)
        at = blob.index(b"cprval") + 6 + 2
        assert blob[at] == 0
        bad_index = blob[:at] + b"\x05" + blob[at + 1:]
        for fn in (decode, project_blob):
            with pytest.raises(CodecError, match="missing pool"):
                fn(no_pools, m)
            with pytest.raises(CodecError, match="out of range"):
                fn(bad_index, m)

    def test_token_exhaustion_raises_codec_error_via_decode(self):
        m = trace_model()
        blob = encode(_mkdoc(4), m)
        # chop the data region mid-stream: magic + a few bytes
        cut = blob[: blob.index(b"cprval") + 6 + 3]
        with pytest.raises(CodecError):
            decode(cut, m)

    def test_inline_double_schema_decodes(self):
        # a schema with an inline DOUBLE leaf: its data region is not a
        # pure varint stream, and decode reads it all the same
        from compress_otel_collector_spark.codec.definition import (
            DOUBLE, OBJECT, load_definition,
        )
        d = load_definition({"type": OBJECT, "fields": {
            "x": {"type": DOUBLE}}})
        blob = encode({"x": 1.5}, d)
        assert decode(blob, d) == {"x": 1.5}


# --------------------------------------------------------------------------
# Meta-block pool fast paths (decoder._bytes_pool_fast / _str_pool_fast +
# tokdecode.fast_free_map_pool): sound-by-verification — whenever the fast
# path returns non-None it must equal the scalar parse bit-for-bit
# (entries AND reader position), and every anomaly must fall back.
# --------------------------------------------------------------------------

def _bigspan(i: int) -> dict:
    """Unique-per-span ids + attributes so every pool exceeds
    decoder._FAST_POOL_MIN and the uniform fast paths engage."""
    return {
        "traceId": bytes.fromhex(f"{i:032x}"),
        "spanId": bytes.fromhex(f"{i:016x}"),
        "traceState": None,
        "parentSpanId": None,
        "name": f"GET /p/{i % 4}",
        "kind": (i % 6) or None,
        "startTimeUnixNano": SPAN_TS + i * 1_000_000,
        "endTimeUnixNano": SPAN_TS + i * 1_000_000 + 5_000_000,
        "attributes": {"http.url": f"https://h{i}.example/p/{i}",
                       "http.status_code": 200 + (i % 97),
                       "cache.hit": bool(i % 2)},
        "droppedAttributesCount": None,
        "events": None, "droppedEventsCount": None,
        "links": None, "droppedLinksCount": None,
        "status": {"message": None, "code": i % 3},
    }


def _bigdoc(n: int = 120) -> dict:
    return {"resourceSpans": [{
        "resource": {"attributes": {"service.name": "s"},
                     "droppedAttributesCount": None},
        "scopeSpans": [{
            # None, not {}: empty free maps null-normalize on decode (O5)
            # and this doc is compared against its own roundtrip
            "scope": {"name": "x", "version": "0.1.0", "attributes": None,
                      "droppedAttributesCount": None},
            "spans": [_bigspan(i) for i in range(n)],
            "schemaUrl": None,
        }],
        "schemaUrl": None,
    }]}


def _meta_both(blob, m):
    """decode_meta with fast pool paths on, then forced scalar."""
    fast = decoder_mod.decode_meta(blob, m)
    saved = decoder_mod._FAST_POOL_MIN
    try:
        decoder_mod._FAST_POOL_MIN = 10 ** 9
        scalar = decoder_mod.decode_meta(blob, m)
    finally:
        decoder_mod._FAST_POOL_MIN = saved
    return fast, scalar


class TestFastPools:
    def test_uniform_pools_fast_equals_scalar(self):
        m = trace_model()
        blob = encode(_bigdoc(), m)
        (sp_f, vp_f, r_f), (sp_s, vp_s, r_s) = _meta_both(blob, m)
        assert sp_f == sp_s
        assert vp_f == vp_s
        assert r_f.pos == r_s.pos
        assert decode(blob, m) == _bigdoc()

    def test_fast_paths_actually_trigger(self, monkeypatch):
        import compress_otel_collector_spark.codec.tokdecode as tok
        m = trace_model()
        blob = encode(_bigdoc(), m)
        hits = {"free": 0, "bytes": 0, "str": 0}
        real_free, real_bytes = tok.fast_free_map_pool, \
            decoder_mod._bytes_pool_fast
        real_str = decoder_mod._str_pool_fast

        def spy_free(*a):
            r = real_free(*a)
            if r is not None:
                hits["free"] += 1
            return r

        def spy_bytes(*a):
            r = real_bytes(*a)
            if r is not None:
                hits["bytes"] += 1
            return r

        def spy_str(*a):
            r = real_str(*a)
            if r is not None:
                hits["str"] += 1
            return r

        monkeypatch.setattr(tok, "fast_free_map_pool", spy_free)
        monkeypatch.setattr(decoder_mod, "_bytes_pool_fast", spy_bytes)
        monkeypatch.setattr(decoder_mod, "_str_pool_fast", spy_str)
        decoder_mod.decode_meta(blob, m)
        # span attributes pool (120 uniform free maps), traceId/spanId
        # BYTES pools, and the string pool must all take the fast path
        assert hits["free"] >= 1
        assert hits["bytes"] >= 2
        assert hits["str"] == 1

    @pytest.mark.parametrize("where", [0, 60, 119])
    @pytest.mark.parametrize("poison", [
        {"http.url": "x", "extra": 1, "http.status_code": 1,
         "cache.hit": True},                        # different key set
        {"http.url": "x", "http.status_code": 2.5,
         "cache.hit": True},                        # DOUBLE tag
        {"http.url": "x", "http.status_code": {"nested": 1},
         "cache.hit": True},                        # nested OBJECT tag
        {"http.url": "x", "http.status_code": None,
         "cache.hit": True},                        # null value (presence 0)
        {"http.url": "x", "http.status_code": -(2 ** 56),
         "cache.hit": True},                        # bit-63 9-byte varint
        {"http.url": "x", "http.status_code": [1, 2],
         "cache.hit": True},                        # ARRAY tag
        {},                                          # empty map mid-pool
    ])
    def test_nonuniform_entry_falls_back_identically(self, where, poison):
        m = trace_model()
        doc = _bigdoc()
        spans = doc["resourceSpans"][0]["scopeSpans"][0]["spans"]
        spans[where]["attributes"] = poison
        blob = encode(doc, m)
        (sp_f, vp_f, r_f), (sp_s, vp_s, r_s) = _meta_both(blob, m)
        assert vp_f == vp_s
        assert r_f.pos == r_s.pos
        if poison == {}:  # empty free maps null-normalize on decode (O5)
            spans[where]["attributes"] = None
        assert decode(blob, m) == doc

    def test_all_empty_maps_pool(self):
        # uniform cnt0 == 0 pattern: every span has {} attributes — the
        # pool still dedups to ONE entry (< _FAST_POOL_MIN), so force the
        # kernel directly on a synthetic uniform region
        from compress_otel_collector_spark.codec.tokdecode import (
            fast_free_map_pool,
        )
        data = b"\x00" * 100  # 100 empty-map entries: count token 0 each
        res = fast_free_map_pool(data, 0, 100, [])
        assert res == ([{} for _ in range(100)], 100)

    def test_empty_first_entry_mixed_pool_falls_back(self):
        # regression (r6): entry 0 == {} but entry 1 non-empty MUST NOT
        # take the cnt0==0 early return — that would decode every entry
        # as {} and misposition the reader
        from compress_otel_collector_spark.codec.tokdecode import (
            fast_free_map_pool,
        )
        # entry 0: {}; entries 1..99: {key0: int 1}  (key idx 0, presence
        # 0x01, INTEGER tag, value 1)
        from compress_otel_collector_spark.codec.definition import INTEGER
        one = bytes([1, 0, 1, INTEGER, 1])
        data = b"\x00" + one * 99
        assert fast_free_map_pool(data, 0, 100, ["key0"]) is None

    def test_meta_corruption_parity(self):
        # byte-flips in the meta block: fast-on and forced-scalar decode
        # must agree — both CodecError, or equal values (soundness of the
        # verified fast paths under corruption)
        m = trace_model()
        blob = encode(_bigdoc(), m)
        end = blob.index(b"cprval") + 6
        rng = np.random.default_rng(20260817)
        for pos in rng.integers(0, end, size=60):
            for mask in (0x01, 0x80, 0xFF):
                c = bytearray(blob)
                c[pos] ^= mask
                c = bytes(c)
                try:
                    fast = decode(c, m)
                    fast_err = None
                except CodecError as e:
                    fast, fast_err = None, str(e)
                saved = decoder_mod._FAST_POOL_MIN
                try:
                    decoder_mod._FAST_POOL_MIN = 10 ** 9
                    try:
                        scalar = decode(c, m)
                        scalar_err = None
                    except CodecError:
                        scalar, scalar_err = None, "err"
                finally:
                    decoder_mod._FAST_POOL_MIN = saved
                assert (fast_err is None) == (scalar_err is None), \
                    f"pos={pos} mask={mask:#x}: fast_err={fast_err!r}"
                if fast_err is None:
                    assert fast == scalar, f"pos={pos} mask={mask:#x}"

    def test_negative_length_prefix_rejected(self):
        # r6 fuzz find: mask 0x40 on a length prefix makes it a NEGATIVE
        # sleb128 value — scalar raises CodecError; the fast path must
        # fall back (return None), never treat the raw byte as unsigned
        assert decoder_mod._bytes_pool_fast(b"\x50" + b"a" * 90, 0, 1) \
            is None
        # uniform-looking pool of negative prefixes: same rejection
        assert decoder_mod._bytes_pool_fast(b"\x41a" * 70, 0, 70) is None

    def test_two_byte_length_prefix_long_strings(self):
        # strings ≥ 64 bytes carry a 2-byte varint prefix — the loop path
        # must parse them (not punt the whole pool to scalar)
        from compress_otel_collector_spark.codec.varint import (
            encode_sleb128,
        )
        entries = [b"x" * ln for ln in (3, 64, 200, 8191, 0)]
        wire = b"".join(encode_sleb128(len(e)) + e for e in entries)
        assert decoder_mod._bytes_pool_fast(wire, 0, len(entries)) == \
            (entries, len(wire))
        # ≥3-byte prefix (length 8192) → fall back
        wire2 = encode_sleb128(8192) + b"y" * 8192
        assert decoder_mod._bytes_pool_fast(wire2, 0, 1) is None
