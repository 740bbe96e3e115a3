"""Signed LEB128 varints, capped at 9 bytes — scalar and numpy-vectorized.

Wire parity: ``/root/reference/compress-otel-exporter/encode.go:616-657``
(encode) and ``/root/reference/compress-otel-receiver/reader.go:38-61``
(decode). The format is standard sleb128 **except** it is capped at eight
7-bit groups; if more bits remain after 8 groups, one final *raw* byte
carries bits 56..63 verbatim (no continuation flag). Values are int64.

Deliberate fix over the reference: the reference's decoder never
sign-extends encodings shorter than 9 bytes (``reader.go:38-61``), so e.g.
``-1`` (wire ``0x7F``) decodes there as ``127`` — its own roundtrip is broken
for negative values that the encoder emits in < 9 bytes. Our decoder
sign-extends from the final group's 0x40 bit, which is what the *encoder*'s
sign-extension logic (``encode.go:631-634``) implies; encodings are
byte-identical, decodings of encoder-produced bytes are value-correct.
"""

from __future__ import annotations

import numpy as np

INT64_MIN = -(1 << 63)
INT64_MAX = (1 << 63) - 1


def encode_sleb128(val: int) -> bytes:
    """Encode one int64 exactly as the reference's ``encodeInt``."""
    if not (INT64_MIN <= val <= INT64_MAX):
        raise OverflowError(f"value out of int64 range: {val}")
    out = bytearray()
    v = val
    more = True
    i = 0
    while i < 8 and more:
        b = v & 0x7F
        v >>= 7
        should_continue = v != 0 and v != -1
        sign_mismatch = ((b & 0x40) != 0) != ((v & 0x40) != 0)
        more = should_continue or sign_mismatch
        if more:
            b |= 0x80
        out.append(b)
        i += 1
    if i == 8 and more:
        out.append(v & 0xFF)  # raw byte, bits 56..63, no continuation flag
    return bytes(out)


def decode_sleb128(data, pos: int) -> tuple[int, int]:
    """Decode one varint at ``pos``; returns (value, new_pos)."""
    result = 0
    shift = 0
    for _ in range(8):
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            if b & 0x40:  # sign extension (see module docstring)
                result -= 1 << (shift + 7)
            return result, pos
        shift += 7
    b = data[pos]  # 9th raw byte (reader.go:52-59)
    pos += 1
    result |= b << 56
    if result >= (1 << 63):
        result -= 1 << 64
    return result, pos


# --------------------------------------------------------------------------
# Vectorized encoder: int64 ndarray -> (flat bytes, per-value lengths).
# Used by the batch codec so varint packing never runs per-row Python.
# --------------------------------------------------------------------------

# value v needs k groups (k=1..8) iff -(2^(7k-1)) <= v < 2^(7k-1); else 9.
_THRESHOLDS = np.array([(1 << (7 * k - 1)) for k in range(1, 9)],
                       dtype=np.int64)


def sleb128_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (int64 array in, uint8 array out):
    1 + the number of thresholds at or below ``v``, or below ``~v`` for a
    negative ``v`` (``v ^ (v >> 63)``)."""
    v = np.asarray(values, dtype=np.int64)
    return (1 + np.searchsorted(_THRESHOLDS, v ^ (v >> 63), side="right")
            ).astype(np.uint8)


def encode_sleb128_matrix(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Encode an int64 array into a padded (n, w) uint8 matrix + lengths,
    where w = the largest encoding in the column (≤ 9).

    Row i's first lengths[i] bytes are the sleb128 encoding of values[i]
    (trailing cells undefined). The padded form lets callers assemble many
    varint columns into one wide matrix and flatten with a single
    mask-select — no per-value bytes objects. Width-adaptive (r8): most
    codec columns are small pool indices whose encodings are 1–2 bytes,
    so materializing all 9 columns was ~5× wasted vector work per call
    (and proportionally larger hstack/mask downstream).
    """
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = v.shape[0]
    if n == 0:
        return np.zeros((0, 1), dtype=np.uint8), np.zeros(0, dtype=np.uint8)
    k = sleb128_lengths(v)
    w = int(k.max())
    mat = np.empty((n, w), dtype=np.uint8)
    shifted = v.copy()
    for j in range(min(w, 8)):
        mat[:, j] = (shifted & 0x7F).astype(np.uint8)
        shifted >>= 7  # arithmetic shift on int64 — matches Go semantics
    if w == 9:
        mat[:, 8] = (shifted & 0xFF).astype(np.uint8)
    cols = np.arange(min(w, 8), dtype=np.uint8)
    cont = cols[None, :] < (np.minimum(k, 9) - 1)[:, None]
    mat[:, :min(w, 8)] |= cont.astype(np.uint8) << 7
    return mat, k


def encode_sleb128_array(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode an int64 array; returns (concatenated bytes, lengths).

    Byte-identical to calling :func:`encode_sleb128` per value.
    """
    mat, k = encode_sleb128_matrix(values)
    if mat.shape[0] == 0:
        return b"", k
    sel = np.arange(mat.shape[1], dtype=np.uint8)[None, :] < k[:, None]
    flat = mat.reshape(-1)[sel.reshape(-1)]
    return flat.tobytes(), k
