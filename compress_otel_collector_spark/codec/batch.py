"""Vectorized batch encoder: a columnar span batch → one wire-format blob.

This is the hot path that runs inside Spark's ``mapInPandas``: one call per
route group, zero per-row Python *dispatch*. The heavy lifting is columnar —
``pandas.factorize`` builds the dictionaries (pool semantics: dedup with
stable first-occurrence-in-column order), numpy packs all varints
(``varint.encode_sleb128_array``), ``numpy.diff`` produces the delta series —
and only the final byte-cell assembly walks rows (cheap bytes joins over
precomputed pieces).

One input shape: the frame ``plans.pipeline._group_spans_frame`` builds —
``SPAN_COLUMNS`` plus typed ``attr:<key>`` span-attribute columns, encoded
as ONE resourceSpans group under ``DEFAULT_SCOPE`` with no schemaUrl.
General OTLP documents (several resources, other scopes, schemaUrls,
arbitrary span attribute values) are the scalar ``encoder.encode``'s job.

Wire compatibility: blobs decode with :mod:`decoder` (and semantically match
the reference receiver, compress-otel-receiver/decode.go).
Pool *index assignment* differs from the scalar encoder: the scalar encoder
(like the reference, encode.go:191) indexes pools by row-major first
occurrence; this encoder indexes by column-major first occurrence. The wire
format carries explicit pool entries and explicit indices, so any consistent
assignment decodes identically — pinned by tests asserting
``decode(batch_blob) == decode(scalar_blob)``. Blobs remain deterministic
for fixed input (stable lineage checksums).

Per-blob scope parity: pools and diff state live for exactly one call, the
analog of the reference's per-``Encode()`` pools (encode.go:40-44) — which is
what licenses per-partition dictionaries with no global shuffle at 100 TB.
"""

from __future__ import annotations

import operator as _operator
from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pandas as pd

from .definition import (
    BYTES as BYTES_T,
    STRING as STRING_T,
    Definition,
    topological_pool_order,
    trace_model,
)
from .encoder import _encode_payload, _State
from .values import CodecError, freeze, is_null_value
from .varint import (
    encode_sleb128,
    encode_sleb128_array,
    encode_sleb128_matrix,
)

_SPANS_PATH = "resourceSpans item scopeSpans item spans item"
_EVENTS_PATH = _SPANS_PATH + " events item"
_LINKS_ITEM_PATH = _SPANS_PATH + " links item"

DEFAULT_SCOPE = {
    "name": "compress-otel-collector-spark",
    "version": "0.1.0",
    "attributes": {},
    "droppedAttributesCount": 0,
}

#: pdf columns consumed by :func:`encode_span_dataframe` (span attributes
#: ride separate ``attr:<key>`` columns named by its ``attributes_spec``)
SPAN_COLUMNS = [
    "trace_id", "span_id", "parent_span_id", "trace_state", "name", "kind",
    "start_ns", "end_ns", "dropped_attributes_count",
    "events", "dropped_events_count", "links", "dropped_links_count",
    "status_message", "status_code",
]


@dataclass
class _Pools:
    """index maps + decoded-entry lists per pool id, filled in topo order."""
    state: _State = field(default_factory=_State)
    # pool_id -> list of raw (unfrozen) unique values in index order
    uniques: dict[str, list] = field(default_factory=dict)
    # pool_id -> (entry_count, all entries pre-joined) for pools whose
    # entries were assembled vectorized — the meta block consumes the blob
    # directly, skipping per-entry bytes objects entirely. Wire-identical
    # to the pool_entries list form (entries are plain concatenation).
    entry_blobs: dict[str, tuple[int, bytes]] = field(default_factory=dict)

    def build(self, pool_id: str, values, scalar: bool = False,
              keys=None) -> np.ndarray:
        """Register ``values`` into ``pool_id``; return per-value codes.

        Nulls (None) get code -1 and are never pooled (the scalar encoder
        short-circuits on the presence flag before touching pools).
        ``scalar=True`` skips structural freezing for string/bytes pools
        (their values are their own keys — a large hot-path win).
        ``keys`` supplies caller-precomputed hashable keys (must be an
        injective function of the value; the links-item pool keys each
        link by the tuple of its child codes and scalars).
        """
        arr = list(values)
        pool = self.state.pools.setdefault(pool_id, {})
        uniq = self.uniques.setdefault(pool_id, [])
        if keys is not None:
            keys = list(keys)
        elif scalar:
            if not pool:
                # vectorized path: each pool is built in ONE call in the
                # batch encoder, so an empty pool means factorize's
                # first-appearance codes ARE the pool indices (None → -1,
                # exactly the null contract). Only uniques touch Python.
                # _factorize_exact keeps NUL-containing strings distinct.
                codes, uniques = _factorize_exact(arr)
                for u in uniques:
                    pool[u] = len(pool)
                    uniq.append(u)
                return codes.astype(np.int64, copy=False)
            keys = arr
        else:
            # id()-keyed freeze memo: pipeline event/link cells share a
            # handful of attribute dict OBJECTS across all rows of a batch
            # (plans/pipeline builds one dict per shape), so structural
            # freezing per row re-walked the same dict tens of thousands
            # of times per blob. Safe within this call: every value in
            # ``arr`` stays referenced (ids stable) and is never mutated.
            memo: dict[int, object] = {}
            keys = []
            for v in arr:
                if v is None:
                    keys.append(None)
                    continue
                k = memo.get(id(v))
                if k is None:
                    k = freeze(v)
                    memo[id(v)] = k
                keys.append(k)
        codes = np.empty(len(arr), dtype=np.int64)
        for i, k in enumerate(keys):
            if k is None:
                codes[i] = -1
                continue
            idx = pool.get(k)
            if idx is None:
                idx = len(pool)
                pool[k] = idx
                uniq.append(arr[i])
            codes[i] = idx
        return codes

    def encode_entries(self, pool_id: str, definition: Definition) -> None:
        """Encode this pool's unique payloads (children pools must already
        be fully built — call in topological order)."""
        entries = self.state.pool_entries.setdefault(pool_id, [])
        uniques = self.uniques.get(pool_id, [])
        if definition.type in (BYTES_T, STRING_T) and uniques and not entries:
            # vectorized fast path: entry = varint(len) + raw payload,
            # all entries assembled into ONE blob (no per-entry bytes)
            raws = [
                v.encode("utf-8") if definition.type == STRING_T else bytes(v)
                for v in uniques
            ]
            blob = _len_prefixed_blob(raws)
            if blob is not None:
                self.entry_blobs[pool_id] = (len(raws), blob)
                return
            # oversized payloads (very long strings): per-entry pieces
            len_pieces = _varint_pieces(
                np.fromiter(map(len, raws), np.int64, len(raws)))
            entries.extend(lp + r for lp, r in zip(len_pieces, raws))
            return
        sizes_before = {pid: len(p) for pid, p in self.state.pools.items()}
        for value in uniques:
            payload = bytearray()
            _encode_payload(value, definition, pool_id, self.state, payload)
            entries.append(bytes(payload))
        for pid, p in self.state.pools.items():
            if pid != pool_id and len(p) != sizes_before.get(pid, 0):
                raise CodecError(
                    f"pool {pid!r} grew while encoding {pool_id!r} entries — "
                    "a child value was not pre-collected"
                )


def _factorize_exact(values) -> tuple[np.ndarray, list]:
    """``pd.factorize`` with exact string identity.

    pandas' string hashtable hashes AND compares values as C strings — it
    truncates at the first embedded NUL, conflating ``'a'`` with
    ``'a\\x00b'`` (and ``''`` with ``'\\x00'``), which would alias distinct
    pool entries and corrupt the wire. When no str value contains a NUL
    (one short-circuiting pass — the overwhelmingly common case), the
    C-string view IS the full string, so raw factorize is exact and its
    uniques come back directly in first-appearance order. Otherwise the
    str values are re-encoded as utf-8 bytes, routing them through the
    object hashtable which hashes full contents. Returned uniques are the
    ORIGINAL value objects (str, not the bytes encoding) in
    first-appearance order — pool keys must stay raw values; None maps to
    code -1. Exactness on both paths is pinned by the embedded-NUL pool
    tests (tests/test_batch_codec.py).
    """
    vals = np.asarray(values, dtype=object)
    lst = vals.tolist()
    try:
        # all-str fast scan: one C join + one memchr. filter(None) drops
        # None and '' (neither can carry a NUL); the '\x01' separator is
        # NUL-free so it cannot fabricate a hit. Any non-str survivor
        # (bytes etc.) raises TypeError → the type-inference check below.
        has_nul = "\x00" in "\x01".join(filter(None, lst))
    except TypeError:
        # a non-str value exists. The NUL hazard is str-only (pandas'
        # string hashtable truncates at NUL; its OBJECT hashtable — used
        # for bytes — hashes full contents, see the bytes/tuple note in
        # CLAUDE.md), so an all-bytes column needs no scan at all. One
        # C-speed infer_dtype call replaces the former per-value Python
        # scan that cost a full pass over every trace_id/span_id column.
        if pd.api.types.infer_dtype(vals, skipna=True) == "bytes":
            has_nul = False
        else:
            has_nul = any(type(v) is str and "\x00" in v for v in lst)
    if not has_nul:
        codes, uniques = pd.factorize(vals)
        return codes, list(uniques)
    # the re-encoded key is TYPE-TAGGED: a bare utf-8 re-encode would
    # conflate str '' with bytes b'' (and 'a' with b'a') in a mixed
    # column — distinct values aliasing to one pool entry (found by the
    # factorize property test). No real pool column mixes types, but the
    # utility must be exact unconditionally.
    enc = np.empty(len(vals), dtype=object)
    enc[:] = [("s", v.encode("utf-8")) if type(v) is str else v
              for v in vals]
    codes, _ = pd.factorize(pd.Series(enc))
    # map uniques back to the ORIGINAL value objects (pool keys must stay
    # str — the scalar encoder's shared state is keyed by raw values):
    # codes are first-appearance-ordered, so the first index per code is
    # that unique's first occurrence
    uc, fi = np.unique(codes, return_index=True)
    return codes, list(vals[fi[uc >= 0]])


def _fields_blob(fields: list[tuple[np.ndarray, np.ndarray]]) -> bytes:
    """Flatten per-row padded field matrices into one row-major byte
    stream: one hstack + one boolean mask-select (the span-stream
    assembly's kernel, shared by the vectorized pool-entry emitters).
    ``fields`` is a list of ``(matrix (n, w), lengths (n,))`` pairs; row
    i's bytes are the first ``lengths[i]`` cells of each field in order.
    """
    big = np.hstack([m for m, _ in fields])
    mask = np.hstack([
        np.arange(m.shape[1])[None, :] < np.asarray(l, dtype=np.int64)[:, None]
        for m, l in fields
    ])
    return big[mask].tobytes()


def _const_field(piece: bytes, n: int) -> tuple[np.ndarray, np.ndarray]:
    """A constant per-row piece as a (n, len(piece)) field."""
    mat = np.broadcast_to(
        np.frombuffer(piece, dtype=np.uint8), (n, len(piece)))
    return mat, np.full(n, len(piece), dtype=np.int64)


#: max padded payload width for vectorized length-prefixed pool blobs;
#: beyond it the padded matrix would waste memory → per-entry fallback
_MAX_PAYLOAD_PAD = 4096

#: padded-matrix waste guards: fall back to per-entry pieces when the
#: padded size blows past BOTH a relative bound (8× the actual payload —
#: one near-cap entry among many short ones) and an absolute budget
#: (the transient working set is ~3-4× m*w across pmat + sel + the
#: _fields_blob hstack, so 64 MiB of padding caps it at ~a quarter GiB)
_PAD_WASTE_FACTOR = 8
_PAD_BYTE_BUDGET = 64 << 20


def _len_prefixed_blob(raws: list[bytes]) -> Optional[bytes]:
    """All ``varint(len) + payload`` entries joined, assembled via padded
    matrices (zero per-entry bytes objects). None when a payload exceeds
    ``_MAX_PAYLOAD_PAD``, or when padding would waste > ``_PAD_WASTE_FACTOR``×
    the payload AND exceed ``_PAD_BYTE_BUDGET`` (a ~1M-unique pool with one
    near-cap entry would otherwise allocate multi-GB transients) — caller
    falls back to per-entry pieces."""
    m = len(raws)
    plens = np.fromiter(map(len, raws), np.int64, m)
    w = int(plens.max()) if m else 0
    if w > _MAX_PAYLOAD_PAD:
        return None
    padded = m * w
    if padded > _PAD_BYTE_BUDGET and padded > _PAD_WASTE_FACTOR * int(plens.sum()):
        return None
    lmat, llen = encode_sleb128_matrix(plens)
    pmat = np.zeros((m, max(w, 1)), dtype=np.uint8)
    sel = np.arange(max(w, 1))[None, :] < plens[:, None]
    pmat[sel] = np.frombuffer(b"".join(raws), dtype=np.uint8)
    return _fields_blob([(lmat, llen), (pmat, plens)])


def _null_mask(col: np.ndarray) -> np.ndarray:
    """Nullable-field coercion mask (values.is_null_value, vectorized-ish)."""
    return np.array(
        [v is None or is_null_value(v) for v in col], dtype=bool
    )


def _null_mask_text(col) -> np.ndarray:
    """Null mask for str/bytes columns: falsy ⇔ null-coerced (None/''/b'').

    Exact for text types only — NOT for ints/bools/doubles (0 coerces but
    False and 0.0 don't), hence the separate general `_null_mask`.
    """
    n = len(col)
    return np.fromiter(map(_operator.not_, col), dtype=bool,
                       count=n)


def _int_null_mask(col: np.ndarray) -> np.ndarray:
    a = np.asarray(col)
    if a.dtype == object:
        return np.array([v is None or v == 0 for v in a], dtype=bool)
    return a == 0


def _varint_pieces(values: np.ndarray) -> list[bytes]:
    """sleb128-encode an int64 array; per-value bytes objects."""
    flat, lengths = encode_sleb128_array(np.asarray(values, dtype=np.int64))
    out = []
    pos = 0
    for ln in lengths:
        nxt = pos + ln
        out.append(flat[pos:nxt])
        pos = nxt
    return out


def _nullable_varint_cells(values, null_mask: np.ndarray) -> list[bytes]:
    """Cells for a nullable integer-ish field: \\x00 or \\x01+varint."""
    vals = np.where(null_mask, 0, np.asarray(values, dtype=object))
    pieces = _varint_pieces(vals.astype(np.int64))
    return [b"\x00" if m else b"\x01" + p for m, p in zip(null_mask, pieces)]


def _nullable_code_cells(codes: np.ndarray) -> list[bytes]:
    """Cells for a nullable pooled field: \\x00 or \\x01+varint(index)."""
    pieces = _varint_pieces(np.where(codes < 0, 0, codes))
    return [b"\x00" if c < 0 else b"\x01" + p for c, p in zip(codes, pieces)]


def _code_cells(codes: np.ndarray) -> list[bytes]:
    if len(codes) and codes.min() < 0:
        raise CodecError("null value in a non-nullable pooled column")
    return _varint_pieces(codes)


def _nullable_vcell_matrix(values: np.ndarray,
                           null_mask: np.ndarray
                           ) -> tuple[np.ndarray, np.ndarray]:
    """Nullable varint cell as a padded matrix: col0 = presence flag,
    cols 1..w = varint bytes; length 1 when null else 1+varint length."""
    vm, vl = encode_sleb128_matrix(values)
    n = len(vl)
    out = np.empty((n, 1 + vm.shape[1]), dtype=np.uint8)
    out[:, 0] = (~null_mask).astype(np.uint8)
    out[:, 1:] = vm
    lengths = np.where(null_mask, 1, vl.astype(np.int64) + 1)
    return out, lengths


def _nullable_code_matrix(codes: np.ndarray
                          ) -> tuple[np.ndarray, np.ndarray]:
    return _nullable_vcell_matrix(np.maximum(codes, 0), codes < 0)


def _code_matrix(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    if len(codes) and codes.min() < 0:
        raise CodecError("null value in a non-nullable pooled column")
    mat, k = encode_sleb128_matrix(codes)
    return mat, k.astype(np.int64)


def _pieces_matrix(cells: list[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Variable-length per-row bytes → padded matrix (mask-scatter)."""
    n = len(cells)
    lengths = np.fromiter(map(len, cells), np.int64, n)
    w = int(lengths.max()) if n else 0
    out = np.zeros((n, max(w, 1)), dtype=np.uint8)
    if n:
        flat = np.frombuffer(b"".join(cells), dtype=np.uint8)
        sel = np.arange(max(w, 1))[None, :] < lengths[:, None]
        out[sel] = flat
    return out, lengths


def _diff_series(values: np.ndarray) -> np.ndarray:
    """First value absolute, then successive deltas (encode.go:144-165)."""
    v = np.asarray(values, dtype=np.int64)
    if len(v) == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def _nullable_diff_cells(values, null_mask: np.ndarray) -> list[bytes]:
    """Nullable diff-encoded ints: state advances only on non-null values."""
    vals = np.asarray(
        [0 if m else int(v) for m, v in zip(null_mask, values)],
        dtype=np.int64,
    )
    present = vals[~null_mask]
    deltas = _diff_series(present)
    pieces = iter(_varint_pieces(deltas))
    return [b"\x00" if m else b"\x01" + next(pieces) for m in null_mask]


def _coerce_bytes(col) -> np.ndarray:
    # Arrow→pandas binary columns already hold plain bytes objects; only
    # copy when a row is some other buffer type (bytearray, memoryview)
    for v in col:
        if v is not None and type(v) is not bytes:
            return np.array(
                [None if x is None else bytes(x) for x in col], dtype=object
            )
    return np.asarray(col, dtype=object)


def _string_pool_codes(values, st: _State) -> np.ndarray:
    """Get-or-insert string-pool indices for a column, vectorized via
    factorize (only the per-unique mapping touches the dict). Uses the
    NUL-exact factorize (the shared string pool is keyed by raw str)."""
    codes, uniques = _factorize_exact(np.asarray(values, dtype=object))
    if len(codes) and (codes < 0).any():
        # factorize maps None/NaN to -1; indexing mapped[-1] would silently
        # substitute the last pool entry — corrupt output, so refuse loudly.
        raise CodecError(
            "null value in a 'str' attributes column — drop or fill nulls "
            "before encoding (free-map entries are omitted, not null)")
    sp = st.string_pool
    mapped = np.empty(len(uniques), dtype=np.int64)
    for i, u in enumerate(uniques):
        idx = sp.get(u)
        if idx is None:
            idx = len(sp)
            sp[u] = idx
        mapped[i] = idx
    return mapped[codes] if len(codes) else np.zeros(0, dtype=np.int64)


def _free_map_columnar_entries(spec: dict[str, str],
                               cols: dict[str, np.ndarray],
                               st: _State) -> tuple[int, bytes]:
    """Columnar free-map entry encoder for the span-attributes pool.

    ``spec`` maps attribute key → value type, 'int' or 'str' (any other
    type raises ``CodecError``); ``cols`` holds one value column per key
    (unique pool rows only). Wire layout per entry matches
    encoder._free_map_encode with sorted keys and no null values (every
    span carries every key).
    Returns ``(entry_count, all entries pre-joined)`` — the whole pool is
    assembled as padded field matrices + one mask-select (zero per-entry
    Python), wire-identical to joining per-entry bytes.
    """
    keys_sorted = sorted(spec)
    m = len(next(iter(cols.values()))) if cols else 0
    fields: list[tuple[np.ndarray, np.ndarray]] = [
        _const_field(encode_sleb128(len(keys_sorted)), m)]
    for k in keys_sorted:
        sp = st.string_pool
        kidx = sp.get(k)
        if kidx is None:
            kidx = len(sp)
            sp[k] = kidx
        t = spec[k]
        if t == "int":
            # per entry: varint(key idx) + presence \x01 + tag + payload
            fields.append(_const_field(
                encode_sleb128(kidx) + b"\x01\x00", m))   # tag INTEGER=0
            vm, vl = encode_sleb128_matrix(
                np.asarray(cols[k], dtype=np.int64))
            fields.append((vm, vl))
        elif t == "str":
            fields.append(_const_field(
                encode_sleb128(kidx) + b"\x01\x04", m))   # tag STRING=4
            vm, vl = encode_sleb128_matrix(_string_pool_codes(cols[k], st))
            fields.append((vm, vl))
        else:
            raise CodecError(f"unsupported attributes_spec type {t!r}")
    return m, _fields_blob(fields)


def encode_span_dataframe(
    pdf: pd.DataFrame,
    attributes_spec: dict[str, str],
    resource_attrs: dict,
) -> bytes:
    """Encode a pandas span batch into one blob holding ONE resourceSpans
    group: ``resource_attrs`` is its resource attribute free map, the
    scope is ``DEFAULT_SCOPE`` and both schemaUrls are null.

    ``pdf`` holds the ``SPAN_COLUMNS`` plus one ``attr:<key>`` column per
    ``attributes_spec`` key; together those columns are each span's
    attribute free map (see ``_free_map_columnar_entries`` for the value
    types). Diff/pool state spans the whole blob in row order.
    """
    definition = trace_model()
    if len(pdf) == 0:
        # no spans → resourceSpans coerces to null; empty string pool, 0 pools
        return b"\x00\x00cprval\x00"
    for c in SPAN_COLUMNS:
        if c not in pdf.columns:
            raise CodecError(f"missing span column {c!r}")

    n = len(pdf)
    col = {c: pdf[c].to_numpy() for c in SPAN_COLUMNS}

    trace_id = _coerce_bytes(col["trace_id"])
    span_id = _coerce_bytes(col["span_id"])
    parent_span_id = _coerce_bytes(col["parent_span_id"])

    # ---- explode events / links --------------------------------------
    ev_lists = [
        None if (v is None or (isinstance(v, float) and pd.isna(v)) or
                 len(v) == 0) else list(v)
        for v in col["events"]
    ]
    ln_lists = [
        None if (v is None or (isinstance(v, float) and pd.isna(v)) or
                 len(v) == 0) else list(v)
        for v in col["links"]
    ]
    flat_events = [e for lst in ev_lists if lst for e in lst]
    flat_links = [l for lst in ln_lists if lst for l in lst]

    pools = _Pools()

    # ---- build pools in topological order ----------------------------
    # (children before parents; see topological_pool_order docstring)
    attr_pool_id = _SPANS_PATH + " attributes"
    keys_sorted = sorted(attributes_spec)
    if not keys_sorted:
        # an empty free map null-coerces, as in the scalar encoder
        span_attr_codes = np.full(n, -1, dtype=np.int64)
    else:
        # attributes live in attr:<key> columns; the pool dedup key is the
        # value tuple. Vectorized get-or-insert: factorize each column,
        # mix the per-column codes into one int64 (mixed radix), factorize
        # the mix — same first-appearance pool order as the tuple-dict
        # loop, no per-row Python.
        acols = {k: pdf[f"attr:{k}"].to_numpy() for k in keys_sorted}
        col_codes = []
        total_bits = 0.0
        for k in keys_sorted:
            codes, uniques = _factorize_exact(acols[k])
            card = len(uniques) + 2  # +1: null code -1 shifts to 0
            total_bits += np.log2(card)
            col_codes.append((codes, card))
        if total_bits < 62:
            combo = np.zeros(n, dtype=np.int64)
            for codes, card in col_codes:
                combo = combo * card + (codes + 1)
            span_attr_codes, _ = pd.factorize(combo)
            sel = np.unique(span_attr_codes, return_index=True)[1]
        else:
            # mixed-radix key would overflow int64 (many wide columns):
            # fall back to the tuple-dict walk
            pool: dict = {}
            span_attr_codes = np.empty(n, dtype=np.int64)
            first_rows: list[int] = []
            for i, key in enumerate(zip(*(acols[k] for k in keys_sorted))):
                idx = pool.get(key)
                if idx is None:
                    idx = len(pool)
                    pool[key] = idx
                    first_rows.append(i)
                span_attr_codes[i] = idx
            sel = np.asarray(first_rows, dtype=np.int64)
        pools.entry_blobs[attr_pool_id] = _free_map_columnar_entries(
            attributes_spec, {k: acols[k][sel] for k in keys_sorted},
            pools.state)

    ev_attrs = [e.get("attributes") for e in flat_events]
    ev_attr_mask = _null_mask(np.array(ev_attrs, dtype=object))
    ev_attr_codes = pools.build(
        _EVENTS_PATH + " attributes",
        [None if m else v for m, v in zip(ev_attr_mask, ev_attrs)],
    )
    ev_names = np.array([e.get("name") for e in flat_events], dtype=object)
    ev_name_mask = _null_mask_text(ev_names)
    ev_name_codes = pools.build(
        _EVENTS_PATH + " name",
        [None if m else v for m, v in zip(ev_name_mask, ev_names)],
        scalar=True,
    )

    ln_attrs = [l.get("attributes") for l in flat_links]
    ln_attr_mask = _null_mask(np.array(ln_attrs, dtype=object))
    ln_attr_codes = pools.build(
        _LINKS_ITEM_PATH + " attributes",
        [None if m else v for m, v in zip(ln_attr_mask, ln_attrs)],
    )

    # shared pools: spanId ← parentSpanId + spanId + links.spanId columns
    parent_mask = _null_mask_text(parent_span_id)
    span_id_mask = _null_mask_text(span_id)
    ln_span_ids = _coerce_bytes([l.get("spanId") for l in flat_links])
    ln_span_mask = _null_mask_text(ln_span_ids)
    n_parent, n_span = len(parent_span_id), len(span_id)
    span_pool_codes = pools.build(
        "spanId",
        list(np.where(parent_mask, None, parent_span_id))
        + list(np.where(span_id_mask, None, span_id))
        + list(np.where(ln_span_mask, None, ln_span_ids)),
        scalar=True,
    )
    parent_codes = span_pool_codes[:n_parent]
    span_codes = span_pool_codes[n_parent:n_parent + n_span]
    ln_span_codes = span_pool_codes[n_parent + n_span:]

    ln_trace_ids = _coerce_bytes([l.get("traceId") for l in flat_links])
    trace_pool_codes = pools.build(
        "traceId", list(trace_id) + list(ln_trace_ids), scalar=True
    )
    trace_codes = trace_pool_codes[:n]
    ln_trace_codes = trace_pool_codes[n:]

    ts_col = np.asarray(col["trace_state"], dtype=object)
    ts_mask = _null_mask_text(ts_col)
    ln_states = np.array(
        [l.get("traceState") for l in flat_links], dtype=object
    )
    ln_state_mask = _null_mask_text(ln_states)
    state_pool_codes = pools.build(
        "traceState",
        list(np.where(ts_mask, None, ts_col))
        + list(np.where(ln_state_mask, None, ln_states)),
        scalar=True,
    )
    ts_codes = state_pool_codes[:n]
    ln_state_codes = state_pool_codes[n:]

    # links items are themselves pooled objects. Their dedup key is the
    # tuple of child codes + scalars (injective: every link field is either
    # a pool code or the raw int), which skips the structural freeze; the
    # unique entries are then assembled columnwise from the already-computed
    # code arrays instead of per-entry scalar recursion — profiling showed
    # the per-unique-link _encode_payload walk was the single largest
    # Python cost in the whole encoder (links are ~unique per row).
    ln_dropped = np.fromiter(
        ((l.get("droppedAttributesCount") or 0) for l in flat_links),
        np.int64, len(flat_links))
    ln_item_codes = pools.build(
        _LINKS_ITEM_PATH, flat_links,
        keys=list(zip(ln_attr_codes.tolist(), ln_dropped.tolist(),
                      ln_span_codes.tolist(), ln_trace_codes.tolist(),
                      ln_state_codes.tolist())),
    )
    if flat_links:
        # first-occurrence row per pool index, in index order
        _, sel = np.unique(ln_item_codes, return_index=True)
        # wire layout per entry = the link object's sorted fields with
        # their usual null flags (no root flag/pool ref: decode.go:59-67):
        # attributes, droppedAttributesCount, spanId, traceId, traceState —
        # assembled as padded matrices + one mask-select (zero per-entry
        # Python), wire-identical to joining per-entry cells
        pools.entry_blobs[_LINKS_ITEM_PATH] = (
            len(sel),
            _fields_blob([
                _nullable_code_matrix(ln_attr_codes[sel]),
                _nullable_vcell_matrix(
                    np.where(_int_null_mask(ln_dropped[sel]), 0,
                             ln_dropped[sel]).astype(np.int64),
                    _int_null_mask(ln_dropped[sel])),
                _nullable_code_matrix(ln_span_codes[sel]),
                _code_matrix(ln_trace_codes[sel]),
                _nullable_code_matrix(ln_state_codes[sel]),
            ]),
        )
        pools.uniques[_LINKS_ITEM_PATH] = []

    name_codes = pools.build(_SPANS_PATH + " name", list(col["name"]),
                             scalar=True)

    msg_col = np.asarray(col["status_message"], dtype=object)
    msg_mask = _null_mask_text(msg_col)
    pools.build(
        _SPANS_PATH + " status message",
        list(np.where(msg_mask, None, msg_col)),
        scalar=True,
    )
    # status pool: dedup on the (message, code) key FIRST, then build the
    # value dicts for the handful of uniques only (statuses have tiny
    # cardinality — materializing n dicts to keep a few was pure waste)
    status_keys = np.empty(n, dtype=object)
    status_keys[:] = list(zip(col["status_message"], col["status_code"]))
    status_codes, status_uniq_keys = pd.factorize(status_keys)
    status_codes = status_codes.astype(np.int64, copy=False)
    status_pool_id = _SPANS_PATH + " status"
    pools.state.pools[status_pool_id] = {
        k: i for i, k in enumerate(status_uniq_keys)
    }
    pools.uniques[status_pool_id] = [
        {"message": m, "code": int(c)} for m, c in status_uniq_keys
    ]

    # child pools of the pooled resource/scope objects must be pre-built
    # (topological invariant — encode_entries asserts no late growth);
    # DEFAULT_SCOPE's attributes are empty, so they null-coerce unpooled
    pools.build("resourceSpans item resource attributes",
                [resource_attrs or None])
    scope_prefix = "resourceSpans item scopeSpans item scope"
    pools.build(scope_prefix + " name", [DEFAULT_SCOPE["name"]], scalar=True)
    pools.build(scope_prefix + " version", [DEFAULT_SCOPE["version"]],
                scalar=True)
    resource_code = pools.build(
        "resourceSpans item resource",
        [{"attributes": resource_attrs, "droppedAttributesCount": 0}])[0]
    scope_code = pools.build(scope_prefix, [DEFAULT_SCOPE])[0]

    # ---- serialize pool entries (topological order) -------------------
    from .definition import field_path_to_definition

    for pool_id in topological_pool_order(definition):
        if pool_id in pools.uniques:
            pools.encode_entries(
                pool_id, field_path_to_definition(pool_id, definition)
            )

    # ---- span cells as padded matrices (field order = sorted names) ---
    # every cell column becomes a (n, w) uint8 matrix + per-row lengths;
    # one hstack + one boolean mask-select flattens the whole span stream
    # row-major with zero per-row Python.
    fields: list[tuple[np.ndarray, np.ndarray]] = []
    fields.append(_nullable_code_matrix(span_attr_codes))       # attributes
    for c in ("dropped_attributes_count", "dropped_events_count",
              "dropped_links_count"):
        fields.append(_nullable_vcell_matrix(
            np.where(_int_null_mask(col[c]), 0,
                     col[c]).astype(np.int64),
            _int_null_mask(col[c])))
    fields.append(
        encode_sleb128_matrix(_diff_series(col["end_ns"])))     # endTime

    # events cell: per-event item bytes, regrouped per span (sparse path)
    if flat_events:
        ev_times = np.array(
            [e.get("timeUnixNano") for e in flat_events], dtype=object
        )
        ev_time_mask = _int_null_mask(ev_times)
        ev_time_cells = _nullable_diff_cells(
            [0 if v is None else v for v in ev_times], ev_time_mask
        )
        ev_dropped = np.array(
            [e.get("droppedAttributesCount") or 0 for e in flat_events]
        )
        ev_item_bytes = [
            a + d + nm + t
            for a, d, nm, t in zip(
                _nullable_code_cells(ev_attr_codes),
                _nullable_varint_cells(ev_dropped,
                                       _int_null_mask(ev_dropped)),
                _nullable_code_cells(ev_name_codes),
                ev_time_cells,
            )
        ]
        events_cells, pos = [], 0
        for lst in ev_lists:
            if lst is None:
                events_cells.append(b"\x00")
            else:
                k = len(lst)
                events_cells.append(
                    b"\x01" + encode_sleb128(k) + b"".join(
                        ev_item_bytes[pos:pos + k])
                )
                pos += k
        fields.append(_pieces_matrix(events_cells))
    else:
        fields.append((np.zeros((n, 1), dtype=np.uint8),
                       np.ones(n, dtype=np.int64)))             # all null

    fields.append(_nullable_vcell_matrix(
        np.where(_int_null_mask(col["kind"]), 0, col["kind"])
        .astype(np.int64),
        _int_null_mask(col["kind"])))                           # kind

    if flat_links:                                              # links
        ln_code_pieces = _code_cells(ln_item_codes)
        links_cells, pos = [], 0
        for lst in ln_lists:
            if lst is None:
                links_cells.append(b"\x00")
            else:
                k = len(lst)
                links_cells.append(
                    b"\x01" + encode_sleb128(k) + b"".join(
                        ln_code_pieces[pos:pos + k])
                )
                pos += k
        fields.append(_pieces_matrix(links_cells))
    else:
        fields.append((np.zeros((n, 1), dtype=np.uint8),
                       np.ones(n, dtype=np.int64)))

    fields.append(_code_matrix(name_codes))                     # name
    fields.append(_nullable_code_matrix(parent_codes))          # parentSpanId
    fields.append(_nullable_code_matrix(span_codes))            # spanId
    fields.append(
        encode_sleb128_matrix(_diff_series(col["start_ns"])))   # startTime
    fields.append(_code_matrix(status_codes))                   # status
    fields.append(_code_matrix(trace_codes))                    # traceId
    fields.append(_nullable_code_matrix(ts_codes))              # traceState

    # ---- data stream: root → the one resourceSpans group -------------
    # resourceSpans item fields sorted: resource, schemaUrl, scopeSpans;
    # scopeSpans item fields sorted: schemaUrl, scope, spans
    data = bytearray(b"\x01")          # resourceSpans present
    data += encode_sleb128(1)
    data += encode_sleb128(int(resource_code))
    data += b"\x00\x01"               # schemaUrl null; scopeSpans present
    data += encode_sleb128(1)
    data += b"\x00"                    # schemaUrl null
    data += encode_sleb128(int(scope_code))
    data += b"\x01"                    # spans present
    data += encode_sleb128(n)
    data += _fields_blob(fields)

    # ---- meta block + frame (same layout as encoder.encode) -----------
    st = pools.state
    meta = bytearray()
    meta += encode_sleb128(len(st.string_pool))
    if st.string_pool:
        # string pool block: varint(len)+utf8 per entry, assembled in one
        # matrix pass (the per-entry loop was ~1 append pair per unique)
        sp_raws = [s.encode("utf-8") for s in st.string_pool]
        sp_blob = _len_prefixed_blob(sp_raws)
        if sp_blob is not None:
            meta += sp_blob
        else:  # an oversized string: plain loop, identical wire
            for raw in sp_raws:
                meta += encode_sleb128(len(raw))
                meta += raw
    present_pools = [
        pid for pid in topological_pool_order(definition)
        # skip never-used (all-null) pools, as the scalar encoder does
        if st.pool_entries.get(pid) or pid in pools.entry_blobs
    ]
    meta += encode_sleb128(len(present_pools))
    for pool_id in present_pools:
        raw = pool_id.encode("utf-8")
        meta += encode_sleb128(len(raw))
        meta += raw
        eb = pools.entry_blobs.get(pool_id)
        if eb is not None:
            cnt, blob = eb
            meta += encode_sleb128(cnt)
            meta += blob
        else:
            entries = st.pool_entries[pool_id]
            meta += encode_sleb128(len(entries))
            for entry in entries:
                meta += entry
    return bytes(meta) + b"cprval" + bytes(data)
