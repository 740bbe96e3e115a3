"""Single-document encoder for the value-tree dictionary wire format.

Wire parity: ``/root/reference/compress-otel-exporter/encode.go:33-657``.

Blob layout (encode.go:50-115)::

    meta  := varint(#strings) (varint(len) utf8)*          -- string pool
             varint(#pools)
             ( varint(len(poolId)) poolId
               varint(poolSize)
               entry*                                      -- index order 0..n-1
             )*                                            -- topological order
    frame := meta ++ "cprval" ++ data

:func:`frame` is the one writer of this layout: the scalar :func:`encode`
and the vectorized ``batch.encode_span_dataframe`` both hand it their
string pool, their pool entries and their data region.

Pool entries are encoded **without** their own null flag and **without** pool
indirection at their root (the decoder passes ``use_pool=False`` for them,
decode.go:59-67), but their children do resolve pools — hence the
children-before-parents pool order.

Deliberate strictly-stronger deviations (decode-compatible):

- Free maps are encoded in **sorted key order** (the reference iterates Go
  maps → nondeterministic bytes, encode.go:487-488); the decoder accepts any
  order, so blobs here are deterministic and golden-testable.
- The free-map error path raises instead of silently returning nil
  (reference bug at encode.go:349-352).
- Config toggles leb128/string-pool are hard-wired **on**: the reference
  decoder assumes both unconditionally (decode.go:20-36,304-310).
"""

from __future__ import annotations

import struct

from .definition import (
    ARRAY,
    BOOLEAN,
    BYTES,
    DOUBLE,
    INTEGER,
    OBJECT,
    STRING,
    Definition,
    topological_pool_order,
)
from .values import CodecError, freeze, is_null_value, python_type_tag
from .varint import encode_sleb128

_MAGIC = b"cprval"

_PACK_DOUBLE = struct.Struct("<d").pack

_EXPECTED_PY = {
    INTEGER: "int",
    BOOLEAN: "bool",
    DOUBLE: "float",
    BYTES: "bytes",
    STRING: "str",
    OBJECT: "dict",
    ARRAY: "list",
}


class _State:
    __slots__ = ("diff", "pools", "pool_entries", "string_pool")

    def __init__(self):
        self.diff: dict[str, int] = {}
        # pool_id -> {frozen value -> index}; entries kept in index order
        self.pools: dict[str, dict] = {}
        self.pool_entries: dict[str, list[bytes]] = {}
        self.string_pool: dict[str, int] = {}


def encode(value, definition: Definition) -> bytes:
    """Encode one document against ``definition``; returns the framed blob."""
    st = _State()
    data = bytearray()
    _inner_encode(value, definition, "", st, data)
    return frame(
        st.string_pool,
        {pid: (len(e), b"".join(e)) for pid, e in st.pool_entries.items()},
        definition, data)


#: ``encode_sleb128(n)`` for every length with a 1- or 2-byte prefix
_LEN_PREFIX = [encode_sleb128(n) for n in range(8192)]


def len_prefixed(raws: list[bytes]) -> bytes:
    """``varint(len(r)) + r`` for every ``r`` in ``raws``, joined: one
    ``b"".join`` over table-cached prefixes, no per-entry varint call."""
    parts = [b""] * (2 * len(raws))
    parts[1::2] = raws
    try:
        parts[::2] = map(_LEN_PREFIX.__getitem__, map(len, raws))
    except IndexError:  # an entry of 8192 bytes or more
        parts[::2] = [encode_sleb128(len(r)) for r in raws]
    return b"".join(parts)


def frame(strings, pools: dict[str, tuple[int, bytes]],
          definition: Definition, data) -> bytes:
    """The framed blob (layout in the module docstring).

    ``strings`` is the string pool in index order; ``pools`` maps a pool id
    to ``(entry count, its entries joined)``. Pools with no entries are
    left out; the rest are written in ``topological_pool_order``.
    """
    present = [pid for pid in topological_pool_order(definition)
               if pools.get(pid, (0,))[0]]
    parts = [encode_sleb128(len(strings)),
             len_prefixed([s.encode("utf-8") for s in strings]),
             encode_sleb128(len(present))]
    for pid in present:
        count, entries = pools[pid]
        parts += (len_prefixed([pid.encode("utf-8")]), encode_sleb128(count),
                  entries)
    parts += (_MAGIC, data)
    return b"".join(parts)


def _type_check(value, d: Definition) -> None:
    t = d.type
    ok = (
        (t == INTEGER and isinstance(value, int) and not isinstance(value, bool))
        or (t == BOOLEAN and isinstance(value, bool))
        or (t == DOUBLE and isinstance(value, float))
        or (t == BYTES and isinstance(value, (bytes, bytearray)))
        or (t == STRING and isinstance(value, str))
        or (t == OBJECT and isinstance(value, dict))
        or (t == ARRAY and isinstance(value, (list, tuple)))
    )
    if not ok:
        raise CodecError(
            "value & definition type conflict: expected "
            f"{_EXPECTED_PY[t]}, got {type(value).__name__}"
        )


def _inner_encode(value, d: Definition, path: str, st: _State,
                  buf: bytearray) -> None:
    if d.nullable:
        if value is None or is_null_value(value):
            buf.append(0)
            return
        buf.append(1)
    if value is None:
        raise CodecError(f"value is not nullable at {path!r}")
    _type_check(value, d)

    t = d.type
    if t == INTEGER:
        v = value
        if d.diff_encode:
            prev = st.diff.get(path)
            st.diff[path] = v
            if prev is not None:
                v = v - prev
        buf += encode_sleb128(v)
        return
    if t == BOOLEAN:
        buf.append(1 if value else 0)
        return
    if t == DOUBLE:
        buf += _PACK_DOUBLE(value)
        return

    # String / Bytes / Object / Array: poolable payloads.
    if d.is_pool_member:
        pool_id = d.pool_id(path)
        pool = st.pools.get(pool_id)
        if pool is None:
            pool = st.pools[pool_id] = {}
            st.pool_entries[pool_id] = []
        # str/bytes pools are single-typed → the value is its own key
        # (shared-pool validation enforces type equality across fields)
        if t == STRING:
            key = value
        elif t == BYTES:
            key = bytes(value)
        else:
            key = freeze(value)
        index = pool.get(key)
        if index is None:
            index = len(pool)
            pool[key] = index
            payload = bytearray()
            _encode_payload(value, d, path, st, payload)
            st.pool_entries[pool_id].append(bytes(payload))
        buf += encode_sleb128(index)
    else:
        _encode_payload(value, d, path, st, buf)


def _encode_payload(value, d: Definition, path: str, st: _State,
                    buf: bytearray) -> None:
    t = d.type
    if t == BYTES:
        buf += encode_sleb128(len(value))
        buf += value
    elif t == STRING:
        raw = value.encode("utf-8")
        buf += encode_sleb128(len(raw))
        buf += raw
    elif t == OBJECT:
        if d.is_free_map:
            _free_map_encode(value, st, buf)
        else:
            prefix = path + " " if path else ""
            for name in d.sorted_field_names:
                _inner_encode(value.get(name), d.fields[name], prefix + name,
                              st, buf)
    elif t == ARRAY:
        buf += encode_sleb128(len(value))
        item_path = (path + " " if path else "") + "item"
        for item in value:
            _inner_encode(item, d.item, item_path, st, buf)
    else:  # pragma: no cover — pool membership is validated at schema load
        raise CodecError(f"unpoolable type {t} reached payload encoder")


def _string_pool_index(s: str, st: _State) -> int:
    idx = st.string_pool.get(s)
    if idx is None:
        idx = len(st.string_pool)
        st.string_pool[s] = idx
    return idx


def _free_map_encode(free_map: dict, st: _State, buf: bytearray) -> None:
    """encode.go:481-518, with deterministic sorted key order."""
    buf += encode_sleb128(len(free_map))
    for key in sorted(free_map):
        if not isinstance(key, str):
            raise CodecError("free map keys must be strings")
        value = free_map[key]
        buf += encode_sleb128(_string_pool_index(key, st))
        if value is None:
            buf.append(0)
        else:
            buf.append(1)
            buf += encode_sleb128(python_type_tag(value))
            _free_value_encode(value, st, buf)


def _free_value_encode(value, st: _State, buf: bytearray) -> None:
    """encode.go:520-597 (string pool hard-wired on)."""
    tag = python_type_tag(value)
    if tag == INTEGER:
        buf += encode_sleb128(value)
    elif tag == BOOLEAN:
        buf.append(1 if value else 0)
    elif tag == DOUBLE:
        buf += _PACK_DOUBLE(value)
    elif tag == BYTES:
        buf += encode_sleb128(len(value))
        buf += value
    elif tag == STRING:
        buf += encode_sleb128(_string_pool_index(value, st))
    elif tag == OBJECT:
        _free_map_encode(value, st, buf)
    elif tag == ARRAY:
        buf += encode_sleb128(len(value))
        for item in value:
            if item is None:
                raise CodecError("null inside a free array is not encodable")
            buf += encode_sleb128(python_type_tag(item))
            _free_value_encode(item, st, buf)
