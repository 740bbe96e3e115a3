"""Vectorized batch encoder: a columnar span batch → one wire-format blob.

This is the hot path that runs inside Spark's ``mapInPandas``: one call per
route group, zero per-row Python. The work is columnar — ``pandas.factorize``
builds the dictionaries (pool semantics: dedup with stable
first-occurrence-in-column order), numpy packs every varint into a padded
field matrix (``varint.encode_sleb128_matrix``), ``numpy.diff`` produces the
delta series, and one mask-select flattens the field matrices into the span
stream. A span's one event and one link are field matrices like the rest;
only unique pool values (attribute dicts, status dicts) touch Python.

One input shape: the span frame the pipeline derives from
``functions.columns.SPAN_SHAPE`` (``plans.pipeline._group_spans_frame``) —
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

import numpy as np
import pandas as pd

from .definition import (
    BYTES as BYTES_T,
    STRING as STRING_T,
    Definition,
    topological_pool_order,
    trace_model,
)
from .encoder import _encode_payload, _State, frame, len_prefixed
from .values import CodecError, freeze, is_null_value
from .varint import encode_sleb128, encode_sleb128_matrix

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
#: ride separate ``attr:<key>`` columns named by its ``attributes_spec``).
#: A span carries at most one event and one link, one column per field. A
#: span without an event has ``event_name`` None (a present event with no
#: name has ''), one without a link has ``link_trace_id`` None; there its
#: other event or link object cells are None and its int64 cells are 0
#: and ignored.
SPAN_COLUMNS = [
    "trace_id", "span_id", "parent_span_id", "trace_state", "name", "kind",
    "start_ns", "end_ns", "dropped_attributes_count",
    "event_time_ns", "event_name", "event_attributes",
    "event_dropped_attributes_count", "dropped_events_count",
    "link_trace_id", "link_span_id", "link_trace_state", "link_attributes",
    "link_dropped_attributes_count", "dropped_links_count",
    "status_message", "status_code",
]


@dataclass
class _Pools:
    """index maps + decoded-entry lists per pool id, filled in topo order."""
    state: _State = field(default_factory=_State)
    # pool_id -> list of raw (unfrozen) unique values in index order
    uniques: dict[str, list] = field(default_factory=dict)
    # pool_id -> (entry_count, all entries joined): what encoder.frame takes
    entry_blobs: dict[str, tuple[int, bytes]] = field(default_factory=dict)

    def build(self, pool_id: str, values, scalar: bool = False) -> np.ndarray:
        """Register ``values`` into the empty pool ``pool_id`` (the batch
        encoder builds each pool in ONE call); return per-value codes.

        Nulls (None, and values ``is_null_value`` coerces) get code -1 and
        are never pooled (the scalar encoder short-circuits on the
        presence flag before touching pools). ``scalar=True`` is for
        string/bytes pools, whose values are their own keys: factorize's
        first-appearance codes ARE the pool indices, and only the uniques
        touch Python. Other values are keyed by their structural freeze.
        """
        pool = self.state.pools.setdefault(pool_id, {})
        uniq = self.uniques.setdefault(pool_id, [])
        if scalar:
            codes, uniques = _factorize_exact(values)
            for u in uniques:
                pool[u] = len(pool)
                uniq.append(u)
            return codes.astype(np.int64, copy=False)
        # id()-keyed freeze memo: pipeline event/link columns share a
        # handful of attribute dict OBJECTS across all rows of a batch, so
        # structural freezing per row re-walked the same dict tens of
        # thousands of times per blob. Safe within this call: every value
        # stays referenced by ``values`` (ids stable), never mutated.
        memo: dict[int, object] = {}
        codes = np.empty(len(values), dtype=np.int64)
        for i, v in enumerate(values):
            if v is None or is_null_value(v):
                codes[i] = -1
                continue
            k = memo.get(id(v))
            if k is None:
                k = memo[id(v)] = freeze(v)
            idx = pool.get(k)
            if idx is None:
                idx = pool[k] = len(pool)
                uniq.append(v)
            codes[i] = idx
        return codes

    def encode_entries(self, pool_id: str, definition: Definition) -> None:
        """Encode this pool's unique payloads (children pools must already
        be fully built — call in topological order)."""
        uniques = self.uniques.get(pool_id, [])
        if definition.type in (BYTES_T, STRING_T):
            raws = [
                v.encode("utf-8") if definition.type == STRING_T else bytes(v)
                for v in uniques
            ]
            self.entry_blobs[pool_id] = (len(raws), len_prefixed(raws))
            return
        sizes_before = {pid: len(p) for pid, p in self.state.pools.items()}
        payload = bytearray()
        for value in uniques:
            _encode_payload(value, definition, pool_id, self.state, payload)
        self.entry_blobs[pool_id] = (len(uniques), bytes(payload))
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
    tests (tests/test_batch_codec.py). Numeric arrays hold no str, so
    they go straight to ``pd.factorize``.
    """
    if getattr(values, "dtype", np.dtype(object)).kind in "biuf":
        codes, uniques = pd.factorize(values)
        return codes, uniques.tolist()
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


def _null_mask_text(col) -> np.ndarray:
    """Null mask for str/bytes columns: falsy ⇔ null-coerced (None/''/b'').

    Exact for text types only — NOT for ints/bools/doubles (0 coerces but
    False and 0.0 don't).
    """
    n = len(col)
    return np.fromiter(map(_operator.not_, col), dtype=bool,
                       count=n)


def _int_null_mask(col: np.ndarray) -> np.ndarray:
    a = np.asarray(col)
    if a.dtype == object:
        return np.array([v is None or v == 0 for v in a], dtype=bool)
    return a == 0


def _dedup_rows(columns: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """First-appearance row dedup over int64 key columns (pool or
    factorize codes, -1 for null, or raw ints): ``(codes, first)``, where
    ``codes[i]`` indexes row i's key tuple in first-appearance order and
    ``first[j]`` is the first row holding key j.

    The columns mix into one int64 key, ``key * radix + value + 1`` per
    column. A column with values below -1 or too wide for the key is
    factorized first, and ``pd.factorize`` re-densifies the key whenever
    the next column could overflow it, so every key width stays exact."""
    n = len(columns[0])
    codes = np.zeros(n, dtype=np.int64)
    bound = 1  # every key < bound
    for c in columns:
        if c.min() < -1 or c.max() >= _KEY_LIMIT // (n + 1):
            c = pd.factorize(c)[0]
        radix = int(c.max()) + 2
        if bound > _KEY_LIMIT // radix:
            codes, uniques = pd.factorize(codes)
            bound = len(uniques)
        codes = codes * radix + (c + 1)
        bound *= radix
    codes = pd.factorize(codes)[0].astype(np.int64, copy=False)
    return codes, np.unique(codes, return_index=True)[1]


#: mixed-radix keys of ``_dedup_rows`` stay below this
_KEY_LIMIT = 1 << 62


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


def _nullable_int_matrix(col) -> tuple[np.ndarray, np.ndarray]:
    """Nullable integer field: 0 (or None) null-coerces."""
    null = _int_null_mask(col)
    return _nullable_vcell_matrix(
        np.where(null, 0, col).astype(np.int64), null)


def _nullable_code_matrix(codes: np.ndarray
                          ) -> tuple[np.ndarray, np.ndarray]:
    return _nullable_vcell_matrix(np.maximum(codes, 0), codes < 0)


def _code_matrix(codes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    if len(codes) and codes.min() < 0:
        raise CodecError("null value in a non-nullable pooled column")
    mat, k = encode_sleb128_matrix(codes)
    return mat, k.astype(np.int64)


def _diff_series(values: np.ndarray) -> np.ndarray:
    """First value absolute, then successive deltas (encode.go:144-165)."""
    v = np.asarray(values, dtype=np.int64)
    if len(v) == 0:
        return v
    out = np.empty_like(v)
    out[0] = v[0]
    np.subtract(v[1:], v[:-1], out=out[1:])
    return out


def _one_item(fields: list[tuple[np.ndarray, np.ndarray]],
              present: np.ndarray) -> list[tuple[np.ndarray, np.ndarray]]:
    """A nullable array of at most one item: header ``\\x00`` (absent) or
    ``\\x01`` + varint(1), then the item's fields, zero-length on rows
    without the item."""
    (m0, l0), *rest = fields
    hdr = np.repeat(present.astype(np.uint8)[:, None], 2, axis=1)
    return [(np.hstack([hdr, m0]), np.where(present, 2 + l0, 1))] + [
        (m, np.where(present, l, 0)) for m, l in rest]


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
    types). Every span field, its one event's and its one link's fields
    included, is a padded field matrix; one mask-select flattens them.
    Diff/pool state spans the whole blob in row order.
    """
    definition = trace_model()
    if len(pdf) == 0:
        # no spans → resourceSpans coerces to null; empty string pool, 0 pools
        return frame([], {}, definition, b"\x00")
    try:
        col = {c: pdf[c].to_numpy() for c in SPAN_COLUMNS}
    except KeyError as e:
        raise CodecError(f"missing span column {e}") from None
    n = len(pdf)
    has_event = pd.notna(col["event_name"])
    has_link = pd.notna(col["link_trace_id"])

    def text_or_null(c, present=True):
        # a nullable str/bytes field: '' and b'' null-coerce to None
        v = col[c]
        return np.where(present & ~_null_mask_text(v), v, None)

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
        # value tuple, in first-appearance order
        acols = {k: pdf[f"attr:{k}"].to_numpy() for k in keys_sorted}
        span_attr_codes, sel = _dedup_rows(
            [_factorize_exact(acols[k])[0] for k in keys_sorted])
        pools.entry_blobs[attr_pool_id] = _free_map_columnar_entries(
            attributes_spec, {k: acols[k][sel] for k in keys_sorted},
            pools.state)

    ev_attr_codes = pools.build(
        _EVENTS_PATH + " attributes",
        np.where(has_event, col["event_attributes"], None))
    ev_name_codes = pools.build(
        _EVENTS_PATH + " name", text_or_null("event_name", has_event),
        scalar=True)
    ln_attr_codes = pools.build(
        _LINKS_ITEM_PATH + " attributes",
        np.where(has_link, col["link_attributes"], None))

    # shared pools: spanId ← parentSpanId + spanId + links.spanId columns,
    # traceId ← traceId + links.traceId, traceState ← both trace states
    def shared_pool(pool_id, *columns):
        codes = pools.build(pool_id, np.concatenate(columns), scalar=True)
        return np.split(codes, [n * i for i in range(1, len(columns))])

    parent_codes, span_codes, ln_span_codes = shared_pool(
        "spanId", text_or_null("parent_span_id"), text_or_null("span_id"),
        text_or_null("link_span_id", has_link))
    trace_codes, ln_trace_codes = shared_pool(
        "traceId", np.asarray(col["trace_id"], dtype=object),
        np.where(has_link, col["link_trace_id"], None))
    ts_codes, ln_state_codes = shared_pool(
        "traceState", text_or_null("trace_state"),
        text_or_null("link_trace_state", has_link))

    # links items are themselves pooled objects, keyed by their child
    # codes and dropped count; the unique entries are assembled columnwise
    # from those code arrays (no per-entry scalar recursion). Wire layout
    # per entry = the link object's sorted fields with their usual null
    # flags (no root flag/pool ref: decode.go:59-67): attributes,
    # droppedAttributesCount, spanId, traceId, traceState.
    ln_rows = np.flatnonzero(has_link)
    ln_item_codes = np.zeros(n, dtype=np.int64)
    if len(ln_rows):
        ln_dropped = col["link_dropped_attributes_count"]
        key = [ln_attr_codes, ln_dropped, ln_span_codes, ln_trace_codes,
               ln_state_codes]
        ln_item_codes[ln_rows], sel = _dedup_rows([c[ln_rows] for c in key])
        sel = ln_rows[sel]
        pools.entry_blobs[_LINKS_ITEM_PATH] = (len(sel), _fields_blob([
            _nullable_code_matrix(ln_attr_codes[sel]),
            _nullable_int_matrix(ln_dropped[sel]),
            _nullable_code_matrix(ln_span_codes[sel]),
            _code_matrix(ln_trace_codes[sel]),
            _nullable_code_matrix(ln_state_codes[sel]),
        ]))

    name_codes = pools.build(_SPANS_PATH + " name", col["name"], scalar=True)
    pools.build(_SPANS_PATH + " status message",
                text_or_null("status_message"), scalar=True)
    # status pool: dedup on the (message, code) key FIRST, then build the
    # value dicts for the handful of uniques only
    status_codes, sel = _dedup_rows(
        [_factorize_exact(col["status_message"])[0], col["status_code"]])
    pools.uniques[_SPANS_PATH + " status"] = [
        {"message": col["status_message"][i],
         "code": int(col["status_code"][i])} for i in sel]

    # child pools of the pooled resource/scope objects must be pre-built
    # (topological invariant — encode_entries asserts no late growth);
    # DEFAULT_SCOPE's attributes are empty, so they null-coerce unpooled
    pools.build("resourceSpans item resource attributes", [resource_attrs])
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
    # event time: nullable diff — the state advances only on present,
    # non-zero times
    ev_time = np.asarray(col["event_time_ns"], dtype=np.int64)
    ev_time_null = ~has_event | (ev_time == 0)
    ev_deltas = np.zeros(n, dtype=np.int64)
    ev_deltas[~ev_time_null] = _diff_series(ev_time[~ev_time_null])
    fields: list[tuple[np.ndarray, np.ndarray]] = [
        _nullable_code_matrix(span_attr_codes),                 # attributes
        _nullable_int_matrix(col["dropped_attributes_count"]),
        _nullable_int_matrix(col["dropped_events_count"]),
        _nullable_int_matrix(col["dropped_links_count"]),
        encode_sleb128_matrix(_diff_series(col["end_ns"])),     # endTime
        *_one_item([                                            # events
            _nullable_code_matrix(ev_attr_codes),
            _nullable_int_matrix(col["event_dropped_attributes_count"]),
            _nullable_code_matrix(ev_name_codes),
            _nullable_vcell_matrix(ev_deltas, ev_time_null),
        ], has_event),
        _nullable_int_matrix(col["kind"]),                      # kind
        *_one_item([_code_matrix(ln_item_codes)], has_link),    # links
        _code_matrix(name_codes),                               # name
        _nullable_code_matrix(parent_codes),                    # parentSpanId
        _nullable_code_matrix(span_codes),                      # spanId
        encode_sleb128_matrix(_diff_series(col["start_ns"])),   # startTime
        _code_matrix(status_codes),                             # status
        _code_matrix(trace_codes),                              # traceId
        _nullable_code_matrix(ts_codes),                        # traceState
    ]

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

    return frame(pools.state.string_pool, pools.entry_blobs, definition, data)
