"""Vectorized sleb128 kernels for the production decode path.

For the trace model — and any schema whose inline (non-pool-payload)
leaves are only INTEGER / BOOLEAN / presence flags / array counts / pool
indices — the entire region after ``cprval`` is a pure sleb128 token
stream: presence and boolean bytes (0/1) are valid single-byte tokens,
and every string / bytes / double / free-map payload lives inside the
meta-block pools, never inline. (Wire layout:
``/root/reference/compress-otel-exporter/encode.go:50-115``; region grammar
follows from the schema, ``model/trace.json`` — every STRING/BYTES/OBJECT
leaf under ``resourceSpans`` is pooled.)

Two stages:

1. :func:`tokenize` — :func:`_scan_values`' numpy boundary scan over the
   whole region (terminator = byte < 0x80) + reduceat sleb128 value
   reconstruction, then ONE ``tolist()`` so the consumer handles plain
   Python ints.
2. ``plans.projector._project_tokens`` walks those tokens straight into
   the roundtrip check's row tuples (``project_blob``). The generic
   :func:`decoder.decode` does not tokenize: it reads the region through
   the compiled closure plan, and ``project_blob(b) ==
   project_doc(decode(b))`` pins the two against each other.

:func:`fast_free_map_pool` / :func:`fast_free_map_cols` apply the same
scan (:func:`_scan_values`) to uniform free-map pools in the meta block;
:func:`decoder.decode_meta` tries them before its scalar pool loop.

:func:`tokenize` is TOTAL (r4 verdict #5 — it used to reject the whole
region when any continuation run exceeded 9 bytes): the 9-byte cap makes
the stream uniquely parseable from any known token start (after 8
continuation bytes the 9th byte is raw, terminator or not), so an
apparent token of ≤9 bytes from the boundary scan is always genuine, and
the rare longer runs — a 9-byte varint whose raw 9th byte has bit 7 set
(value bit 63, i.e. diff deltas ≤ -2^55) reads as a continuation byte
and merges with following tokens — are scalar-parsed segment-locally and
spliced in. A truncated trailing varint's partial token is dropped, so a
consumer running out of tokens raises ``IndexError`` where the scalar
reader would raise "truncated varint"; the consumer converts it to
``CodecError``.
"""

from __future__ import annotations

import numpy as np

from .definition import BOOLEAN, INTEGER, STRING
from .values import CodecError


def _pool_fail(pool_id: str, idx: int, vp: dict) -> None:
    """Raise the closure plan's pool-lookup ``CodecError`` for a token
    walk's failed bounds check (message parity with ``decoder``)."""
    if pool_id not in vp:
        raise CodecError(f"reference to missing pool {pool_id!r}")
    n = len(vp[pool_id])
    raise CodecError(f"pool {pool_id!r} index {idx} out of range 0..{n - 1}")


# --------------------------------------------------------------------------
# Stage 1: tokenizer
# --------------------------------------------------------------------------

def _run_tokens(b: np.ndarray, s: int, e: int) -> list[int]:
    """Scalar-parse ``b[s:e]`` as consecutive capped sleb128 varints.

    Handles the segments the boundary scan cannot split: a 9-byte varint
    whose raw 9th byte has bit 7 set (value bit 63) reads as a
    continuation byte and merges with the tokens after it, up to the next
    genuine terminator. The 9-byte cap makes the parse deterministic: a
    capped token always consumes exactly 9 bytes, so the segment's final
    token lands exactly on its terminator. A truncated trailing varint
    (data end only) is dropped — the token walk raises IndexError
    exactly where the scalar reader would raise "truncated varint".
    """
    from .varint import decode_sleb128

    seg = b[s:e].tobytes()
    out = []
    pos, n = 0, len(seg)
    while pos < n:
        try:
            v, pos = decode_sleb128(seg, pos)
        except IndexError:
            break
        out.append(v)
    return out


def tokenize(data: bytes, start: int) -> list[int]:
    """Token values of the sleb128 stream ``data[start:]`` as a Python list.

    Total: apparent tokens from :func:`_scan_values`' boundary scan
    (terminator = byte < 0x80) of ≤9 bytes are genuine; longer runs —
    only produced by bit-63 values or corruption — are scalar-parsed via
    :func:`_run_tokens` and spliced in, so the vectorized path survives
    occasional bit-63 diff deltas (r4 verdict #5). Trailing unterminated
    continuation bytes of a truncated varint are dropped — the token walk
    hitting that truncation raises IndexError exactly where the scalar
    reader would raise "truncated varint".
    """
    b = np.frombuffer(data, dtype=np.uint8, count=len(data) - start,
                      offset=start)
    scan = _scan_values(b)
    if scan is None:
        # no terminator at all: only capped varints and/or truncation
        return _run_tokens(b, 0, b.size)
    vals, lengths, ends = scan
    out = vals.tolist()
    for idx in np.flatnonzero(lengths > 9)[::-1].tolist():
        end = int(ends[idx]) + 1
        out[idx:idx + 1] = _run_tokens(b, end - int(lengths[idx]), end)
    nb = int(ends[-1]) + 1
    if b.size - nb >= 9:
        # a trailing terminator-free run of ≥9 bytes can hold COMPLETE
        # capped 9-byte varints whose raw 9th byte has bit 7 set
        # (reader.go:52-59) — parse them; only a <9-byte remainder is a
        # genuinely truncated varint (dropped inside _run_tokens)
        out += _run_tokens(b, nb, b.size)
    return out


# --------------------------------------------------------------------------
# Stage 1b: vectorized free-map POOL decode (meta block fast path)
# --------------------------------------------------------------------------

def _scan_values(b: np.ndarray, max_tokens: int | None = None):
    """Boundary-scan ``b`` into apparent sleb128 tokens — NO splicing.

    Returns ``(vals, lengths, ends)`` as int64 arrays over the first
    ``max_tokens`` apparent tokens (terminator = byte < 0x80; all of them
    when ``None``), or ``None`` when the region has no terminator at all.
    The boundary scan runs over all of ``b`` (one cheap pass) but the
    value math runs only on the needed prefix — a free-map pool sits in
    front of megabytes of id payloads + data region it must not pay for.
    Tokens from runs > 9 bytes are GARBAGE lanes here (no scalar splice):
    :func:`tokenize` splices them, the free-map pool callers abort on
    ``lengths > 9`` inside their consumed range.
    """
    ends = np.flatnonzero(b < 0x80)
    if ends.size == 0:
        return None
    if max_tokens is not None and ends.size > max_tokens:
        ends = ends[:max_tokens]
    nb = int(ends[-1]) + 1
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    last = b[ends]
    longest = int(lengths.max())
    if longest == 1:
        # common all-flags/small-index shape: b - 2*(b & 0x40)
        v = last.astype(np.int64)
        return v - ((v & 0x40) << 1), lengths, ends
    # Stream decode: each byte contributes its 7 payload bits at
    # 7*(position-within-token); np.add.reduceat sums per token segment
    # (groups occupy disjoint bit ranges, so add == OR, no carry).
    # token_of(byte i) = terminators at-or-before i, minus 1 if i is itself
    # a terminator — i.e. cumsum(is_end) - is_end
    is_end = b[:nb] < 0x80
    tok_of = np.cumsum(is_end)
    tok_of -= is_end
    pos_in_tok = np.arange(nb, dtype=np.int64) - starts[tok_of]
    if longest > 9:
        # garbage lanes: the clamp only keeps their shifts in range
        np.minimum(pos_in_tok, 8, out=pos_in_tok)
    contrib = (b[:nb] & 0x7F).astype(np.uint64) << (
        np.uint64(7) * pos_in_tok.astype(np.uint64))
    vals = np.add.reduceat(contrib, starts)
    # a TOKENIZED 9-byte varint's raw 9th byte is the terminator, so its
    # bit 7 is always 0 (bit-63 values merge into a garbage lane instead)
    # and the 0x7F mask above is a no-op on it — no extra 9-byte handling
    need_sign = ((last & 0x40) != 0) & (lengths < 9)
    # two's-complement sign extension: subtract 1 << 7L (mod 2^64)
    vals[need_sign] -= np.uint64(1) << (
        np.uint64(7) * lengths[need_sign].astype(np.uint64))
    return vals.view(np.int64), lengths, ends


class FreeMapCols:
    """Column-form result of :func:`fast_free_map_cols`: ``keys[j]`` names
    column ``cols[j]`` (a plain list of ``n`` scalars). Consumers that
    only need a projection of each map (``plans/projector.py``) read the
    columns directly and never pay the per-entry dict build — the
    dominant cost of decoding a large attributes pool."""

    __slots__ = ("keys", "cols", "n")

    def __init__(self, keys, cols, n):
        self.keys = keys
        self.cols = cols
        self.n = n

    def __len__(self):  # _pool_fail renders "out of range 0..n-1"
        return self.n

    def dicts(self) -> list:
        if not self.keys:
            return [{} for _ in range(self.n)]
        return [dict(zip(self.keys, row)) for row in zip(*self.cols)]


def fast_free_map_cols(data: bytes, pos: int, n: int, string_pool: list):
    """Column-form variant of :func:`fast_free_map_pool`: returns
    ``(FreeMapCols, new_pos)`` or ``None`` under exactly the same
    soundness conditions (the docstring below)."""
    return _fast_free_map(data, pos, n, string_pool)


def fast_free_map_pool(data: bytes, pos: int, n: int, string_pool: list):
    """Vectorized decode of ``n`` uniform free-map pool entries.

    Returns ``(entries, new_pos)`` or ``None`` (→ caller keeps the scalar
    path). The attributes pool is ~95% of ``decode_meta`` on pipeline
    blobs (columnar encode ⇒ every entry shares one key/tag pattern), so
    this is the meta-block analogue of :func:`tokenize` + the
    projector's token walk.

    SOUND BY VERIFICATION — fast ≡ scalar whenever this returns non-None:
    entry 0 is parsed strictly from the token stream (presence bytes must
    be the literal ``0x01`` token, boolean values single-byte, value tags
    in {INTEGER, STRING, BOOLEAN} so every value is one token), giving a
    fixed per-entry token pattern of length L. The region's first n·L
    tokens are then reshaped (n, L) and every structural column (count,
    key index, presence, tag — plus byte-length 1 for presence/boolean
    lanes, which the scalar path reads as RAW bytes, not varints) is
    checked against entry 0's pattern. Induction: if entries 0..k-1
    true-parse as the pattern, entry k starts exactly at token k·L, so
    its structural checks run at true-parse-aligned positions — a
    deviating entry (different count/keys, null value, nested/double/
    bytes value tag, non-0x01 presence byte) fails its own aligned check
    before any misparse can propagate. Runs > 9 bytes (bit-63 values /
    corruption) inside the consumed range and out-of-range string-pool
    indices also abort to scalar, which reports the canonical CodecError.
    """
    res = _fast_free_map(data, pos, n, string_pool)
    if res is None:
        return None
    fc, p = res
    return fc.dicts(), p


def _fast_free_map(data: bytes, pos: int, n: int, string_pool: list):
    """Shared kernel: ``(FreeMapCols, new_pos)`` or ``None`` — soundness
    argument in :func:`fast_free_map_pool`'s docstring."""
    b = np.frombuffer(data, dtype=np.uint8, count=len(data) - pos,
                      offset=pos)
    if b.size == 0:
        return None
    # phase 1: entry 0's pattern from a small prefix scan (≤ 1 + 4·1024
    # tokens ≤ ~41 KB at 10 B/token max — 64 KB covers any entry the
    # cnt0 ≤ 1024 guard admits; a truncated parse falls back to scalar)
    scan = _scan_values(b[:65536])
    if scan is None:
        return None
    vals, lengths, ends = scan
    # ---- entry 0: strict scalar parse over the tokens → the pattern ----
    try:
        cnt0 = int(vals[0])
        if not 0 <= cnt0 <= 1024:
            return None
        i = 1
        key_cols: list[int] = []
        pres_cols: list[int] = []
        tag_cols: list[int] = []
        val_cols: list[int] = []
        tags0: list[int] = []
        keys0: list[int] = []
        for _ in range(cnt0):
            keys0.append(int(vals[i])); key_cols.append(i); i += 1
            if lengths[i] != 1 or vals[i] != 1:  # presence: raw byte 0x01
                return None
            pres_cols.append(i); i += 1
            t = int(vals[i])
            if t not in (INTEGER, STRING, BOOLEAN):
                return None
            tags0.append(t); tag_cols.append(i); i += 1
            if t == BOOLEAN and lengths[i] != 1:  # bool value: raw byte
                return None
            val_cols.append(i); i += 1
        L = i
    except IndexError:
        return None
    total = n * L
    if total > vals.shape[0]:
        # phase 2: the pool spans past the prefix — rescan with the value
        # math truncated to exactly the needed tokens (the boundary scan
        # itself is one cheap pass over the remainder)
        scan = _scan_values(b, max_tokens=total)
        if scan is None:
            return None
        vals, lengths, ends = scan
        if total > vals.shape[0]:
            return None
    lens2 = lengths[:total].reshape(n, L)
    if int(lens2.max()) > 9:  # unspliced garbage lane in range
        return None
    m = vals[:total].reshape(n, L)
    # ---- vectorized structural verification against the pattern ----
    # (the count column check runs BEFORE the empty-map early return:
    # pool entries are distinct, so entry 0 == {} with non-empty later
    # entries is a perfectly valid wire — skipping the check would decode
    # every entry as {} and misposition the reader)
    if not np.all(m[:, 0] == cnt0):
        return None
    if cnt0 == 0:
        return FreeMapCols([], [], n), pos + int(ends[total - 1]) + 1
    kc = np.asarray(key_cols)
    if not np.all(m[:, kc] == np.asarray(keys0)):
        return None
    pc = np.asarray(pres_cols)
    if not (np.all(m[:, pc] == 1) and np.all(lens2[:, pc] == 1)):
        return None
    tc = np.asarray(tag_cols)
    if not np.all(m[:, tc] == np.asarray(tags0)):
        return None
    # ---- extract value columns ----
    n_sp = len(string_pool)
    for k in keys0:
        if not 0 <= k < n_sp:
            return None  # scalar raises the canonical string-pool error
    key_strs = [string_pool[k] for k in keys0]
    cols = []
    for j, t in enumerate(tags0):
        v = m[:, val_cols[j]]
        if t == INTEGER:
            cols.append(v.tolist())
        elif t == BOOLEAN:
            if not np.all(lens2[:, val_cols[j]] == 1):
                return None
            cols.append((v != 0).tolist())
        else:  # STRING: pool gather, bounds-checked vectorized
            if int(v.min()) < 0 or int(v.max()) >= n_sp:
                return None
            sp = string_pool
            cols.append([sp[x] for x in v.tolist()])
    return FreeMapCols(key_strs, cols, n), pos + int(ends[total - 1]) + 1
