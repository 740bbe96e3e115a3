"""Roundtrip span projection — generic (tree walk) and fused token paths.

``project_doc`` flattens a decoded trace document into one tuple per span
in ``_ROUNDTRIP_SCHEMA`` field order — every field the reference receiver
rebuilds (``/root/reference/compress-otel-receiver/trace.go:61-187``).

``project_blob`` produces the same tuples straight from a framed blob
without materializing the span tree: it decodes the meta-block pools once
(:func:`codec.decoder.decode_meta`), **pre-projects each pool** — hex of
every distinct trace/span id, the (url, lang, status, n_chars) slice of
every distinct attribute map, the (trace_hex, span_hex, rel) slice of every
distinct link — and then walks the tokenized data region
(:func:`codec.tokdecode.tokenize`) emitting final row tuples. Per-span work
collapses to token reads + pre-projected pool lookups; ``.hex()`` and
free-map ``.get`` run once per *distinct* pool entry instead of once per
span, which is exactly the codec's own dictionary bet.

SPAN-SHAPE LOCKSTEP (CLAUDE.md): the token walk hard-codes the trace
model's sorted field order and the attribute slices it projects — it must
change together with ``functions.columns.SPAN_SHAPE``, the table the span
frame, ``plans.pipeline.expected_roundtrip`` and ``_ROUNDTRIP_SCHEMA`` are
generated from. Drift is caught by ``tests/test_projector.py`` (fast ≡
generic on fuzzed docs) and the full-fidelity roundtrip gate.

``tokenize`` is total since r5 (bit-63 diff deltas and corrupt runs are
scalar-parsed segment-locally inside the tokenizer), so there is no
whole-blob fallback left; corrupt blobs surface as ``CodecError`` only
(bounds-checked pool lookups, token exhaustion mapped to the scalar
truncation error).

Pool pre-projection is eager for speed but LAZY in its failures (r4
verdict #4): a wrong-shaped entry projects to a ``_BAD`` marker instead
of raising, and the error fires only when a span actually references the
entry — exactly when the generic path would fail. A hostile-but-decodable
blob whose never-referenced pool entry is malformed therefore projects
identically on both paths (pinned by ``TestWrongTypedPoolValues`` and the
fuzz campaign's hostile-pool corpus). Marker references surface through
the existing typed handler: unpacking ``_BAD`` raises ``TypeError`` →
``CodecError``; scalar id sites check ``is _BAD`` explicitly.
"""

from __future__ import annotations

from ..codec.decoder import decode_meta
from ..codec.definition import Definition
from ..codec.tokdecode import FreeMapCols, _pool_fail, tokenize
from ..codec.values import CodecError

_SPANS = "resourceSpans item scopeSpans item spans item "
_RES = "resourceSpans item resource"
_SCOPE = "resourceSpans item scopeSpans item scope"
_ATTRS = _SPANS + "attributes"
_NAME = _SPANS + "name"
_STATUS = _SPANS + "status"
_LINKS = _SPANS + "links item"
_EV_NAME = _SPANS + "events item name"
_EV_ATTRS = _SPANS + "events item attributes"


def project_doc(doc: dict) -> list[tuple]:
    """One 31-tuple per span (``_ROUNDTRIP_SCHEMA`` order) from a decoded
    document tree. The readable reference for :func:`project_blob`.

    Shape errors surface as ``CodecError``: a corrupt blob can decode
    successfully into a tree whose free-map values have the wrong TYPE
    (e.g. ``probe`` as an int — found by the byte-flip fuzz campaign);
    projecting that must fail the typed way, not with a task-killing
    ``TypeError``."""
    try:
        return _project_doc_inner(doc)
    except (TypeError, AttributeError) as e:
        raise CodecError(
            f"decoded tree has unexpected shape: {e}") from None


def _project_doc_inner(doc: dict) -> list[tuple]:
    rows = []
    append = rows.append
    for rs in doc.get("resourceSpans") or []:
        res_attrs = rs["resource"]["attributes"] or {}
        for ss in rs.get("scopeSpans") or []:
            scope = ss.get("scope") or {}
            for sp in ss.get("spans") or []:
                attrs = sp.get("attributes") or {}
                events = sp.get("events") or []
                links = sp.get("links") or []
                ev = events[0] if events else {}
                ev_attrs = ev.get("attributes") or {}
                probe = ev_attrs.get("probe") or {}
                hops = probe.get("hops")
                ln = links[0] if links else {}
                ln_attrs = ln.get("attributes") or {}
                tid = sp.get("traceId")
                sid = sp.get("spanId")
                pid = sp.get("parentSpanId")
                ltid = ln.get("traceId")
                lsid = ln.get("spanId")
                append((
                    attrs.get("http.url"),
                    attrs.get("lang"),
                    tid.hex() if tid else None,
                    sid.hex() if sid else None,
                    pid.hex() if pid else None,
                    sp.get("traceState"),
                    sp.get("name"),
                    sp.get("kind"),
                    sp.get("startTimeUnixNano"),
                    sp.get("endTimeUnixNano"),
                    sp["status"].get("message"),
                    sp["status"].get("code"),
                    sp.get("droppedAttributesCount"),
                    sp.get("droppedEventsCount"),
                    sp.get("droppedLinksCount"),
                    attrs.get("http.status_code"),
                    attrs.get("n_chars"),
                    len(events),
                    ev.get("name"),
                    ev.get("timeUnixNano"),
                    ev_attrs.get("phase"),
                    probe.get("ttl"),
                    None if hops is None else ",".join(str(x) for x in hops),
                    len(links),
                    ltid.hex() if ltid else None,
                    lsid.hex() if lsid else None,
                    ln_attrs.get("rel"),
                    res_attrs.get("service.name"),
                    res_attrs.get("host.bucket"),
                    scope.get("name"),
                    scope.get("version"),
                ))
    return rows


def _hex_or_none(b):
    return b.hex() if b else None


class _Bad:
    """Marker for a pool entry whose projection failed; unpacking raises
    TypeError into ``project_blob``'s typed handler, so the error fires
    only on reference — matching the lazy generic path."""

    __slots__ = ()
    __iter__ = None


_BAD = _Bad()


def _bad_entry(path: str, idx: int):
    raise CodecError(
        f"decoded pools have unexpected shape: pool {path!r} entry {idx} "
        "is not projectable")


def _proj(entries, fn) -> list:
    """Eagerly project a pool, deferring per-entry shape errors to the
    first actual reference (``_BAD`` marker)."""
    out = []
    append = out.append
    for e in entries:
        try:
            append(fn(e))
        except (TypeError, AttributeError):
            append(_BAD)
    return out


def _ev_attr_slice(a: dict) -> tuple:
    probe = a.get("probe") or {}
    hops = probe.get("hops")
    return (a.get("phase"), probe.get("ttl"),
            None if hops is None else ",".join(str(x) for x in hops))


def _link_slice(e: dict) -> tuple:
    la = e.get("attributes") or {}
    return (_hex_or_none(e.get("traceId")), _hex_or_none(e.get("spanId")),
            la.get("rel"))


def project_blob(raw: bytes, model: Definition) -> list[tuple]:
    """Same rows as ``project_doc(decode(raw, model))``, fused.

    ``tokenize`` is total (bit-63 diff deltas and corrupt runs are
    scalar-parsed segment-locally), so there is no whole-blob fallback;
    the generic path stays authoritative through the equality suites.
    """
    # the span-attributes pool arrives in column form when its vectorized
    # decode succeeds (r6): the projector only needs a 4-field slice per
    # entry, so the per-entry dict build — the dominant decode_meta cost
    # on pipeline blobs — is skipped entirely
    _, vp, r = decode_meta(raw, model, col_pools=_COL_POOLS)
    try:
        return _project_tokens(tokenize(r.data, r.pos), vp)
    except IndexError:
        raise CodecError("truncated data region") from None
    except (TypeError, AttributeError) as e:
        # wrong-typed pool values from a corrupt-but-decodable blob (see
        # project_doc) — same typed failure as the generic path
        raise CodecError(
            f"decoded pools have unexpected shape: {e}") from None


#: pools project_blob consumes column-wise (safe: referenced from the
#: data region only, never from another pool's decode closure)
_COL_POOLS = frozenset({_ATTRS})

#: the 4-field slice of a span-attributes entry, in tuple order
_ATTR_FIELDS = ("http.url", "lang", "http.status_code", "n_chars")


def _attrs_from_cols(fc: FreeMapCols) -> list[tuple]:
    """(url, lang, http_status, n_chars) per entry straight from decoded
    columns — no dicts, no per-entry ``.get``. Missing keys are a whole
    missing COLUMN here (uniform pattern), so one ``[None] * n`` covers
    them."""
    idx = {k: j for j, k in enumerate(fc.keys)}
    none_col = None

    def col(k):
        nonlocal none_col
        j = idx.get(k)
        if j is not None:
            return fc.cols[j]
        if none_col is None:
            none_col = [None] * fc.n
        return none_col

    return list(zip(*(col(k) for k in _ATTR_FIELDS)))


def _project_tokens(toks, vp) -> list[tuple]:
    g = vp.get
    res_proj = _proj(g(_RES, ()),
                     lambda e: ((e.get("attributes") or {})
                                .get("service.name"),
                                (e.get("attributes") or {})
                                .get("host.bucket")))
    scope_proj = _proj(g(_SCOPE, ()),
                       lambda e: (e.get("name"), e.get("version")))
    ap = g(_ATTRS, ())
    if type(ap) is FreeMapCols:
        attrs_proj = _attrs_from_cols(ap)
    else:
        attrs_proj = _proj(ap,
                           lambda a: (a.get("http.url"), a.get("lang"),
                                      a.get("http.status_code"),
                                      a.get("n_chars")))
    status_proj = _proj(g(_STATUS, ()),
                        lambda e: (e.get("message"), e.get("code")))
    tid_hex = _proj(g("traceId", ()), _hex_or_none)
    sid_hex = _proj(g("spanId", ()), _hex_or_none)
    tstate_pool = g("traceState", ())
    name_pool = g(_NAME, ())
    ev_name_pool = g(_EV_NAME, ())
    ev_attrs_proj = _proj(g(_EV_ATTRS, ()), _ev_attr_slice)
    link_proj = _proj(g(_LINKS, ()), _link_slice)

    rows: list[tuple] = []
    append = rows.append
    try:
        i = 0
        # root object, single field: resourceSpans (nullable array)
        if toks[i] == 0:
            return rows
        i += 1
        n_rs = toks[i]; i += 1
        d_end = d_start = d_evt = None  # per-field-path diff state (blob-wide)
        for _ in range(n_rs):
            # rs item fields, sorted: resource, schemaUrl, scopeSpans
            x = toks[i]; i += 1
            if 0 <= x < len(res_proj):
                service_name, host_bucket = res_proj[x]
            else:
                _pool_fail(_RES, x, vp)
            i += 1 if toks[i] == 0 else 2          # schemaUrl (unprojected)
            if toks[i] == 0:                        # scopeSpans null
                i += 1
                continue
            i += 1
            n_ss = toks[i]; i += 1
            for _ in range(n_ss):
                # ss item fields, sorted: schemaUrl, scope, spans
                i += 1 if toks[i] == 0 else 2      # schemaUrl (unprojected)
                x = toks[i]; i += 1
                if 0 <= x < len(scope_proj):
                    scope_name, scope_version = scope_proj[x]
                else:
                    _pool_fail(_SCOPE, x, vp)
                if toks[i] == 0:                    # spans null
                    i += 1
                    continue
                i += 1
                n_sp = toks[i]; i += 1
                for _ in range(n_sp):
                    # span fields, sorted (trace model, definition.py):
                    # attributes droppedAttributesCount droppedEventsCount
                    # droppedLinksCount endTimeUnixNano events kind links
                    # name parentSpanId spanId startTimeUnixNano status
                    # traceId traceState
                    if toks[i] == 0:
                        i += 1
                        url = lang = http_status = n_chars = None
                    else:
                        i += 1
                        x = toks[i]; i += 1
                        if 0 <= x < len(attrs_proj):
                            url, lang, http_status, n_chars = attrs_proj[x]
                        else:
                            _pool_fail(_ATTRS, x, vp)
                    if toks[i] == 0:
                        dac = None; i += 1
                    else:
                        dac = toks[i + 1]; i += 2
                    if toks[i] == 0:
                        dev = None; i += 1
                    else:
                        dev = toks[i + 1]; i += 2
                    if toks[i] == 0:
                        dlk = None; i += 1
                    else:
                        dlk = toks[i + 1]; i += 2
                    v = toks[i]; i += 1             # endTimeUnixNano (diff)
                    if d_end is not None:
                        v += d_end
                    d_end = v
                    end_ns = v
                    ev_name = ev_time = ev_phase = ev_ttl = ev_hops = None
                    n_events = 0
                    if toks[i] == 0:
                        i += 1
                    else:
                        i += 1
                        n_events = toks[i]; i += 1
                        for k in range(n_events):
                            # event fields, sorted: attributes
                            # droppedAttributesCount name timeUnixNano
                            if toks[i] == 0:
                                ea = (None, None, None); i += 1
                            else:
                                i += 1
                                x = toks[i]; i += 1
                                if 0 <= x < len(ev_attrs_proj):
                                    ea = ev_attrs_proj[x]
                                else:
                                    _pool_fail(_EV_ATTRS, x, vp)
                            i += 1 if toks[i] == 0 else 2  # droppedAttrs
                            if toks[i] == 0:
                                en = None; i += 1
                            else:
                                i += 1
                                x = toks[i]; i += 1
                                if 0 <= x < len(ev_name_pool):
                                    en = ev_name_pool[x]
                                else:
                                    _pool_fail(_EV_NAME, x, vp)
                            if toks[i] == 0:
                                et = None; i += 1
                            else:
                                i += 1
                                v = toks[i]; i += 1  # timeUnixNano (diff)
                                if d_evt is not None:
                                    v += d_evt
                                d_evt = v
                                et = v
                            if k == 0:
                                ev_name = en
                                ev_time = et
                                ev_phase, ev_ttl, ev_hops = ea
                    if toks[i] == 0:
                        kind = None; i += 1
                    else:
                        kind = toks[i + 1]; i += 2
                    lt = ls = lrel = None
                    n_links = 0
                    if toks[i] == 0:
                        i += 1
                    else:
                        i += 1
                        n_links = toks[i]; i += 1
                        for k in range(n_links):
                            x = toks[i]; i += 1     # pooled link object
                            if not 0 <= x < len(link_proj):
                                _pool_fail(_LINKS, x, vp)
                            if k == 0:
                                lt, ls, lrel = link_proj[x]
                    x = toks[i]; i += 1             # name
                    if 0 <= x < len(name_pool):
                        name = name_pool[x]
                    else:
                        _pool_fail(_NAME, x, vp)
                    if toks[i] == 0:                # parentSpanId
                        pside = None; i += 1
                    else:
                        i += 1
                        x = toks[i]; i += 1
                        if 0 <= x < len(sid_hex):
                            pside = sid_hex[x]
                            if pside is _BAD:
                                _bad_entry("spanId", x)
                        else:
                            _pool_fail("spanId", x, vp)
                    if toks[i] == 0:                # spanId
                        side = None; i += 1
                    else:
                        i += 1
                        x = toks[i]; i += 1
                        if 0 <= x < len(sid_hex):
                            side = sid_hex[x]
                            if side is _BAD:
                                _bad_entry("spanId", x)
                        else:
                            _pool_fail("spanId", x, vp)
                    v = toks[i]; i += 1             # startTimeUnixNano (diff)
                    if d_start is not None:
                        v += d_start
                    d_start = v
                    start_ns = v
                    x = toks[i]; i += 1             # status
                    if 0 <= x < len(status_proj):
                        status_message, status_code = status_proj[x]
                    else:
                        _pool_fail(_STATUS, x, vp)
                    x = toks[i]; i += 1             # traceId
                    if 0 <= x < len(tid_hex):
                        tid = tid_hex[x]
                        if tid is _BAD:
                            _bad_entry("traceId", x)
                    else:
                        _pool_fail("traceId", x, vp)
                    if toks[i] == 0:                # traceState
                        tstate = None; i += 1
                    else:
                        i += 1
                        x = toks[i]; i += 1
                        if 0 <= x < len(tstate_pool):
                            tstate = tstate_pool[x]
                        else:
                            _pool_fail("traceState", x, vp)
                    append((
                        url, lang, tid, side, pside, tstate, name, kind,
                        start_ns, end_ns, status_message, status_code,
                        dac, dev, dlk, http_status, n_chars,
                        n_events, ev_name, ev_time, ev_phase, ev_ttl,
                        ev_hops, n_links, lt, ls, lrel,
                        service_name, host_bucket, scope_name, scope_version,
                    ))
    except IndexError:
        raise CodecError("truncated data region") from None
    return rows
