"""sleb128 edge cases — FIXTURES.md F4.1; parity encode.go:616-657."""

import numpy as np
import pytest
from hypothesis import given, strategies as st

from compress_otel_collector_spark.codec.varint import (
    INT64_MAX,
    INT64_MIN,
    decode_sleb128,
    encode_sleb128,
    encode_sleb128_array,
    sleb128_lengths,
)

EDGES = [
    0, 1, -1, 63, -63, 64, -64, 127, -127, 128, -128,
    2**31 - 1, -(2**31), 2**55 - 1, 2**55, -(2**55), -(2**55) - 1,
    2**62, INT64_MAX, INT64_MIN,
]


@pytest.mark.parametrize("v", EDGES)
def test_roundtrip_edges(v):
    blob = encode_sleb128(v)
    out, pos = decode_sleb128(blob, 0)
    assert out == v
    assert pos == len(blob)


def test_known_bytes():
    # single-byte encodings
    assert encode_sleb128(0) == b"\x00"
    assert encode_sleb128(1) == b"\x01"
    assert encode_sleb128(-1) == b"\x7f"
    assert encode_sleb128(63) == b"\x3f"
    assert encode_sleb128(-64) == b"\x40"
    # two-byte boundary: 64 needs a sign-extension byte
    assert encode_sleb128(64) == b"\xc0\x00"
    assert encode_sleb128(-65) == b"\xbf\x7f"


def test_nine_byte_cap():
    # |v| >= 2^55 needs the raw 9th byte (encode.go:645-651, reader.go:52-59)
    for v in (2**55, -(2**55) - 1, INT64_MAX, INT64_MIN):
        blob = encode_sleb128(v)
        assert len(blob) == 9
        assert all(b & 0x80 for b in blob[:8])  # 8 continuation groups
    assert len(encode_sleb128(2**55 - 1)) == 8
    assert len(encode_sleb128(-(2**55))) == 8


def test_overflow_rejected():
    with pytest.raises(OverflowError):
        encode_sleb128(INT64_MAX + 1)
    with pytest.raises(OverflowError):
        encode_sleb128(INT64_MIN - 1)


@given(st.integers(min_value=INT64_MIN, max_value=INT64_MAX))
def test_roundtrip_property(v):
    out, _ = decode_sleb128(encode_sleb128(v), 0)
    assert out == v


def test_vectorized_matches_scalar():
    rng = np.random.default_rng(42)
    vals = np.concatenate([
        np.array(EDGES, dtype=np.int64),
        # both sides of every group-count boundary
        np.array([s * (1 << (7 * k - 1)) + d for k in range(1, 9)
                  for s in (1, -1) for d in (-1, 0)], dtype=np.int64),
        rng.integers(INT64_MIN, INT64_MAX, size=5000, dtype=np.int64),
        rng.integers(-1000, 1000, size=5000).astype(np.int64),
    ])
    flat, lengths = encode_sleb128_array(vals)
    expected = b"".join(encode_sleb128(int(v)) for v in vals)
    assert flat == expected
    assert lengths.tolist() == [len(encode_sleb128(int(v))) for v in vals]
    assert sleb128_lengths(vals).tolist() == lengths.tolist()


def test_vectorized_empty():
    flat, lengths = encode_sleb128_array(np.array([], dtype=np.int64))
    assert flat == b"" and len(lengths) == 0
