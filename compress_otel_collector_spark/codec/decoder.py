"""Decoder for the value-tree dictionary wire format.

Wire parity: ``/root/reference/compress-otel-receiver/decode.go:12-334`` and
``reader.go:9-101`` (plus the sign-extension fix documented in
``varint.py``). Returns plain Python values (see ``values.py``); nullable
fields whose presence flag is 0 decode to ``None``.

Pool entries are decoded with ``use_pool=False`` (no root null flag, no root
pool indirection — decode.go:59-67) and a ``None`` diff state (diff-encoded
fields are schema-forbidden inside pools, enforced at schema load).
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
    SchemaError,
    field_path_to_definition,
)
from .values import CodecError

_MAGIC = b"cprval"
_UNPACK_DOUBLE = struct.Struct("<d").unpack_from

#: minimum free-map pool size for the vectorized decode attempt — below
#: this the numpy scan setup costs more than the scalar loop saves
_FAST_POOL_MIN = 64

#: free values (attribute maps) may nest arbitrarily on a VALID wire, but a
#: corrupt blob can synthesize pathological depth — cap it well below
#: Python's recursion limit so corruption raises CodecError, never
#: RecursionError. Real telemetry attribute trees are < 10 deep.
_MAX_FREE_DEPTH = 128


def _pool_get(pool, idx: int, what: str):
    """Bounds-checked pool lookup: a corrupt negative index would silently
    alias from the tail of the list (Python negative indexing)."""
    if not 0 <= idx < len(pool):
        raise CodecError(f"{what} index {idx} out of range 0..{len(pool)-1}")
    return pool[idx]


class _Reader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0

    def read_varint(self) -> int:
        # fast path: single-byte sleb128 (the overwhelming majority of
        # wire varints — pool indices, small counts, presence-adjacent
        # ints); sign bit 0x40 two's-complements within 7 bits
        data, pos = self.data, self.pos
        try:
            b = data[pos]
        except IndexError:
            raise CodecError("truncated varint") from None
        if b < 0x80:
            self.pos = pos + 1
            return b - 128 if b & 0x40 else b
        # multibyte: varint.decode_sleb128 inlined (it stays as the
        # readable reference; timestamps/n_chars make this ~40% of decode
        # time, and the call + tuple return were a third of that).
        # Equality with the reference impl is pinned by the hypothesis
        # roundtrip property in test_varint.
        result = b & 0x7F
        shift = 7
        pos += 1
        try:
            while shift < 56:
                b = data[pos]
                pos += 1
                result |= (b & 0x7F) << shift
                if not (b & 0x80):
                    self.pos = pos
                    if b & 0x40:  # sign extension (varint.py docstring)
                        result -= 1 << (shift + 7)
                    return result
                shift += 7
            b = data[pos]  # 9th raw byte (reader.go:52-59)
            pos += 1
        except IndexError:
            raise CodecError("truncated varint") from None
        result |= b << 56
        if result >= 1 << 63:
            result -= 1 << 64
        self.pos = pos
        return result

    def read_bytes(self, n: int) -> bytes:
        if n < 0 or self.pos + n > len(self.data):
            raise CodecError("no data available for bytes")
        out = self.data[self.pos:self.pos + n]
        self.pos += n
        return out

    def read_string(self, n: int) -> str:
        try:
            return self.read_bytes(n).decode("utf-8")
        except UnicodeDecodeError as e:
            # corrupt input must always surface as CodecError, never a
            # codec-internal exception type (contract pinned by the
            # byte-flip property test)
            raise CodecError(f"invalid utf-8 in string: {e}") from None

    def read_bool(self) -> bool:
        # inline single-byte read (no slice object per flag)
        data, pos = self.data, self.pos
        if pos >= len(data):
            raise CodecError("no data available for bytes")
        self.pos = pos + 1
        return data[pos] != 0

    def read_double(self) -> float:
        if self.pos + 8 > len(self.data):
            raise CodecError("not enough data for double")
        (v,) = _UNPACK_DOUBLE(self.data, self.pos)
        self.pos += 8
        return v


class _Plan:
    """Compiled decode plan for one Definition tree: the one generic
    decoder.

    Every schema decision — type branching, ``sorted_field_names`` order,
    path-string concatenation, pool-id resolution — is resolved ONCE into
    a closure tree; decoding a value is then just the reads. The root
    closure decodes the data region for :func:`decode`; ``pool_fn``
    compiles (lazily, per pool id seen on the wire) the ``use_pool=False``
    closures :func:`decode_meta` runs over pool entries. Pinned by every
    roundtrip/golden/corrupt-input test plus the batch≡scalar hypothesis
    property.
    """

    __slots__ = ("root", "pool_fns", "definition", "free_map_pools",
                 "bytes_pools")

    def __init__(self, definition: Definition):
        self.definition = definition
        self.pool_fns: dict[str, object] = {}
        self.free_map_pools: set[str] = set()
        self.bytes_pools: set[str] = set()
        self.root = _compile(definition, "", use_pool=True)

    def pool_fn(self, pool_id: str):
        fn = self.pool_fns.get(pool_id)
        if fn is None:
            try:
                pool_def = field_path_to_definition(pool_id,
                                                    self.definition)
            except SchemaError as e:
                # a pool id the schema doesn't know = corrupt data, not a
                # schema-authoring mistake — surface as a decode error
                raise CodecError(
                    f"corrupt pool id on wire: {e}") from None
            # pool entries: no root null flag / no root pool indirection
            # (decode.go:59-67); diff fields are schema-forbidden in pools
            fn = _compile(pool_def, pool_id, use_pool=False)
            self.pool_fns[pool_id] = fn
            if pool_def.is_free_map:
                self.free_map_pools.add(pool_id)
            elif pool_def.type == BYTES:
                self.bytes_pools.add(pool_id)
        return fn


def _compile(d: Definition, path: str, use_pool: bool):
    """Closure decoding one value of ``d`` (decode.go:12-334 dispatch,
    resolved once): nullable flag, then INTEGER (diff-aware) / BOOLEAN /
    DOUBLE / pool index / inline BYTES / STRING / free map / OBJECT /
    ARRAY."""
    t = d.type
    if t == INTEGER:
        if d.diff_encode:
            p = path

            def f(r, status, sp, vp):
                v = r.read_varint()
                prev = status.get(p)
                if prev is not None:
                    v += prev
                status[p] = v
                return v
        else:
            def f(r, status, sp, vp):
                return r.read_varint()
    elif t == BOOLEAN:
        def f(r, status, sp, vp):
            return r.read_bool()
    elif t == DOUBLE:
        def f(r, status, sp, vp):
            return r.read_double()
    elif d.is_pool_member and use_pool:
        pid = d.pool_id(path)

        def f(r, status, sp, vp):
            pool = vp.get(pid)
            if pool is None:
                raise CodecError(f"reference to missing pool {pid!r}")
            idx = r.read_varint()
            if 0 <= idx < len(pool):
                return pool[idx]
            raise CodecError(
                f"pool {pid!r} index {idx} out of range 0..{len(pool)-1}")
    elif t == BYTES:
        def f(r, status, sp, vp):
            return r.read_bytes(r.read_varint())
    elif t == STRING:
        def f(r, status, sp, vp):
            return r.read_string(r.read_varint())
    elif t == OBJECT:
        if d.is_free_map:
            def f(r, status, sp, vp):
                return _free_map_decode(sp, r)
        else:
            prefix = path + " " if path else ""
            fields = tuple(
                (name, _compile(d.fields[name], prefix + name, True))
                for name in d.sorted_field_names
            )

            def f(r, status, sp, vp):
                return {name: fn(r, status, sp, vp)
                        for name, fn in fields}
    elif t == ARRAY:
        item_path = (path + " " if path else "") + "item"
        item = _compile(d.item, item_path, True)

        def f(r, status, sp, vp):
            return [item(r, status, sp, vp)
                    for _ in range(r.read_varint())]
    else:
        raise CodecError(f"unknown definition type {t}")

    if d.nullable and use_pool:  # pool entries carry no root null flag
        inner = f

        def f(r, status, sp, vp):
            # read_bool inlined: one method call per nullable field adds
            # up (≈1 flag per span field at 10⁶ spans/blob-partition)
            data, pos = r.data, r.pos
            if pos >= len(data):
                raise CodecError("no data available for bytes")
            r.pos = pos + 1
            if data[pos] == 0:
                return None
            return inner(r, status, sp, vp)
    return f


def _bytes_pool_fast(data: bytes, pos: int, cnt: int):
    """``cnt`` length-prefixed byte strings at ``data[pos:]``.

    Fast path for BYTES pools (trace/span ids) and — via ``decode_fn`` in
    :func:`_str_pool_fast` — the string pool block. Uniform-width pools
    (every length prefix the same single byte, verified in ONE strided
    slice compare — sound by induction: aligned start + equal prefix at
    every stride ⇒ the true parse consumes exactly one stride per entry)
    slice without per-entry length reads; mixed widths take a tight local
    loop that skips the Reader/closure dispatch (1- and 2-byte
    non-negative prefixes, i.e. lengths 0..8191). Returns
    ``(entries, new_pos)`` or ``None`` on any anomaly (negative sleb128
    length, ≥3-byte prefix, truncation) — the caller's scalar path then
    reports the canonical CodecError.
    """
    n = len(data)
    if pos >= n:
        return None
    l0 = data[pos]
    # length prefixes are sleb128: a single byte with bit 0x40 set is a
    # NEGATIVE value (scalar raises CodecError on it) — only 0x00-0x3F
    # are valid single-byte lengths, 0x40-0x7F must fall through to the
    # loop's reject (caught by the r6 large-pool corruption fuzz)
    if l0 < 0x40:
        stride = 1 + l0
        need = cnt * stride
        if (pos + need <= n
                and data[pos:pos + need:stride] == bytes([l0]) * cnt):
            big = data[pos:pos + need]
            return ([big[i + 1:i + stride] for i in range(0, need, stride)],
                    pos + need)
    out = []
    append = out.append
    p = pos
    for _ in range(cnt):
        if p >= n:
            return None
        lb = data[p]
        if lb < 0x40:  # 1-byte non-negative length
            p += 1
        elif lb >= 0x80 and p + 1 < n and data[p + 1] < 0x40:
            # 2-byte varint, terminator non-negative: lengths 64..8191
            lb = (lb & 0x7F) | (data[p + 1] << 7)
            p += 2
        else:
            # negative single-byte (0x40-0x7F), continuation run ≥ 2
            # bytes, or truncation — scalar path owns the verdict
            return None
        q = p + lb
        if q > n:
            return None
        append(data[p:q])
        p = q
    return out, p


def _str_pool_fast(data: bytes, pos: int, cnt: int):
    """String-pool block via :func:`_bytes_pool_fast` + one utf-8 decode
    per entry; ``None`` (→ scalar, canonical error) on invalid utf-8."""
    res = _bytes_pool_fast(data, pos, cnt)
    if res is None:
        return None
    raw, p = res
    try:
        return [s.decode("utf-8") for s in raw], p
    except UnicodeDecodeError:
        return None


#: compiled plans per Definition (one trace model per process in practice;
#: the strong ref keeps ids stable)
_PLANS: dict[int, _Plan] = {}


def _plan_for(definition: Definition) -> _Plan:
    plan = _PLANS.get(id(definition))
    if plan is None or plan.definition is not definition:
        if len(_PLANS) > 64:  # bound the cache (ad-hoc schema churn)
            _PLANS.clear()
        plan = _Plan(definition)
        _PLANS[id(definition)] = plan
    return plan


def decode_meta(blob: bytes, definition: Definition,
                col_pools: frozenset | set | None = None):
    """Decode the meta block (string pool + value pools) and verify magic.

    Returns ``(string_pool, value_pools, reader)`` with the reader
    positioned at the first data-region byte. It is the shared prefix of
    the two data-region consumers: :func:`decode` (the plan's root
    closure) and ``plans.projector.project_blob`` (the token walk the
    roundtrip check runs). Pool entries decode through the plan's
    ``pool_fn`` closures; pools of at least ``_FAST_POOL_MIN`` entries
    first try the verified fast paths (string pool, BYTES pools,
    ``tokdecode.fast_free_map_*``), each falling back to the closures.

    ``col_pools``: free-map pool ids whose caller consumes COLUMNS, not
    dicts — when the vectorized path succeeds for such a pool, its
    ``value_pools`` slot holds a :class:`tokdecode.FreeMapCols` instead
    of a list of dicts (the per-entry dict build is the dominant decode
    cost on large attribute pools). Only safe for pools that no OTHER
    pool's scalar decode closure dereferences (the span-attributes pool
    qualifies: it is referenced from the data region only); on fallback
    the slot holds plain dicts, so callers must handle both. ``None``
    (the default, used by :func:`decode`) keeps every pool dict-form.
    """
    plan = _plan_for(definition)
    r = _Reader(bytes(blob))

    n_str = r.read_varint()
    string_pool = None
    if n_str >= _FAST_POOL_MIN:
        res = _str_pool_fast(r.data, r.pos, n_str)
        if res is not None:
            string_pool, r.pos = res
    if string_pool is None:
        string_pool = []
        for _ in range(n_str):
            string_pool.append(r.read_string(r.read_varint()))

    value_pools: dict[str, list] = {}
    for _ in range(r.read_varint()):
        pool_id = r.read_string(r.read_varint())
        fn = plan.pool_fn(pool_id)
        cnt = r.read_varint()
        if cnt >= _FAST_POOL_MIN:
            # vectorized/tight-loop pool fast paths (each sound by
            # verification with scalar fallback — see the docstrings).
            # The attributes free-map pool + the id BYTES pools + the
            # string pool are ~95% of decode_meta on pipeline blobs.
            res = None
            if pool_id in plan.free_map_pools:
                from .tokdecode import fast_free_map_cols, fast_free_map_pool

                if col_pools is not None and pool_id in col_pools:
                    res = fast_free_map_cols(r.data, r.pos, cnt, string_pool)
                else:
                    res = fast_free_map_pool(r.data, r.pos, cnt, string_pool)
            elif pool_id in plan.bytes_pools:
                res = _bytes_pool_fast(r.data, r.pos, cnt)
            if res is not None:
                value_pools[pool_id], r.pos = res
                continue
        entries: list = []
        value_pools[pool_id] = entries
        for _ in range(cnt):
            entries.append(fn(r, None, string_pool, value_pools))

    if r.read_bytes(len(_MAGIC)) != _MAGIC:
        raise CodecError("magic error")
    return string_pool, value_pools, r


def decode(blob: bytes, definition: Definition):
    """Decode one framed blob; inverse of :func:`encoder.encode`."""
    string_pool, value_pools, r = decode_meta(blob, definition)
    return _plan_for(definition).root(r, {}, string_pool, value_pools)


def _free_map_decode(string_pool, r: _Reader, depth: int = 0) -> dict:
    """decode.go:242-270."""
    if depth > _MAX_FREE_DEPTH:
        raise CodecError("free value nested deeper than "
                         f"{_MAX_FREE_DEPTH} levels")
    out = {}
    for _ in range(r.read_varint()):
        key = _pool_get(string_pool, r.read_varint(), "string pool")
        if not r.read_bool():
            out[key] = None
        else:
            out[key] = _free_value_decode(string_pool, r, depth + 1)
    return out


def _free_value_decode(string_pool, r: _Reader, depth: int = 0):
    """decode.go:272-334."""
    if depth > _MAX_FREE_DEPTH:
        raise CodecError("free value nested deeper than "
                         f"{_MAX_FREE_DEPTH} levels")
    tag = r.read_varint()
    if tag == INTEGER:
        return r.read_varint()
    if tag == BOOLEAN:
        return r.read_bool()
    if tag == DOUBLE:
        return r.read_double()
    if tag == BYTES:
        return r.read_bytes(r.read_varint())
    if tag == STRING:
        return _pool_get(string_pool, r.read_varint(), "string pool")
    if tag == OBJECT:
        return _free_map_decode(string_pool, r, depth + 1)
    if tag == ARRAY:
        return [_free_value_decode(string_pool, r, depth + 1)
                for _ in range(r.read_varint())]
    raise CodecError(f"unknown value type in free value: {tag}")
