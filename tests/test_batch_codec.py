"""Batch (vectorized) encoder vs scalar encoder: decoded equality.

The batch encoder assigns pool indices column-major (the scalar/reference
encoder row-major), so blobs differ byte-wise but MUST decode to the same
normalized document. The batch encoder takes one input shape — span
columns plus typed ``attr:<key>`` attribute columns, one resource — so
these tests feed it that shape, and one test feeds it the exact frame the
pipeline builds. Also pins determinism and dictionary compression wins.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from compress_otel_collector_spark.codec import (
    decode,
    encode,
    normalize,
    trace_model,
)
from compress_otel_collector_spark.codec.batch import (
    DEFAULT_SCOPE,
    SPAN_COLUMNS,
    encode_span_dataframe,
)
from compress_otel_collector_spark.codec.values import CodecError

T = 1_700_000_000_000_000_000

#: the span-attribute columns ``make_pdf`` builds
SPEC = {"http.url": "str", "http.status_code": "int"}
RESOURCE = {"service.name": "crawler", "host.bucket": 3}


def event_cells(ev=None):
    """One span's event columns from an event dict; None: no event."""
    ev = ev or {}
    return {
        "event_time_ns": ev.get("timeUnixNano", 0),
        "event_name": ev.get("name"),
        "event_attributes": ev.get("attributes"),
        "event_dropped_attributes_count": ev.get("droppedAttributesCount", 0),
    }


def link_cells(ln=None):
    """One span's link columns from a link dict; None: no link."""
    ln = ln or {}
    return {
        "link_trace_id": ln.get("traceId"),
        "link_span_id": ln.get("spanId"),
        "link_trace_state": ln.get("traceState"),
        "link_attributes": ln.get("attributes"),
        "link_dropped_attributes_count": ln.get("droppedAttributesCount", 0),
    }


def make_pdf(n=50, with_events=True, with_links=True, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        tid = bytes([i % 11]) * 16
        sid = bytes([(i + 1) % 7]) * 8
        event = None
        if with_events and i % 3 == 0:
            event = {
                "timeUnixNano": T + i * 1000 + 17,
                "name": f"ev{i % 2}",
                "attributes": {"retry": i % 2 == 0},
                "droppedAttributesCount": 0,
            } if i % 2 == 0 else {
                "timeUnixNano": 0,  # null-coerced
                "name": "",
                "attributes": {},
                "droppedAttributesCount": int(i % 4),
            }
        link = None
        if with_links and i % 5 == 0:
            link = {
                "traceId": bytes([i % 3]) * 16,
                "spanId": bytes([i % 4 + 1]) * 8,
                "traceState": "vendor=x" if i % 2 else "",
                "attributes": {"rel": "follows"},
                "droppedAttributesCount": 0,
            }
        rows.append(
            {
                "trace_id": tid,
                "span_id": sid,
                "parent_span_id": b"" if i % 4 == 0 else bytes([i % 5]) * 8,
                "trace_state": "" if i % 3 else "congo=t61",
                "name": f"GET /p{i % 4}",
                "kind": i % 6,
                "start_ns": T + int(rng.integers(0, 10_000)),
                "end_ns": T + int(rng.integers(10_000, 20_000)),
                "attr:http.url": f"https://h{i % 9}.example.com/p{i}",
                "attr:http.status_code": 200 if i % 7 else 404,
                "dropped_attributes_count": 0,
                **event_cells(event),
                "dropped_events_count": 0,
                **link_cells(link),
                "dropped_links_count": int(i % 2),
                "status_message": "" if i % 2 else "OK",
                "status_code": i % 3,
                "lang": ["en", "zh", "de"][i % 3],
            }
        )
    return pd.DataFrame(rows)


def _span(r, spec):
    """One frame row as the scalar encoder's span object."""
    return {
        "traceId": bytes(r["trace_id"]),
        "spanId": bytes(r["span_id"]),
        "traceState": r["trace_state"],
        "parentSpanId": bytes(r["parent_span_id"]),
        "name": r["name"],
        "kind": int(r["kind"]),
        "startTimeUnixNano": int(r["start_ns"]),
        "endTimeUnixNano": int(r["end_ns"]),
        "attributes": {
            k: int(r[f"attr:{k}"]) if t == "int" else r[f"attr:{k}"]
            for k, t in spec.items()
        },
        "droppedAttributesCount": int(r["dropped_attributes_count"]),
        "events": [] if r["event_name"] is None else [{
            "timeUnixNano": int(r["event_time_ns"]),
            "name": r["event_name"],
            "attributes": r["event_attributes"],
            "droppedAttributesCount": int(
                r["event_dropped_attributes_count"]),
        }],
        "droppedEventsCount": int(r["dropped_events_count"]),
        "links": [] if r["link_trace_id"] is None else [{
            "traceId": r["link_trace_id"],
            "spanId": r["link_span_id"],
            "traceState": r["link_trace_state"],
            "attributes": r["link_attributes"],
            "droppedAttributesCount": int(
                r["link_dropped_attributes_count"]),
        }],
        "droppedLinksCount": int(r["dropped_links_count"]),
        "status": {
            "message": r["status_message"],
            "code": int(r["status_code"]),
        },
    }


def pdf_to_document(pdf, spec=SPEC, resource_attrs=RESOURCE,
                    group_col=None):
    """The equivalent value-tree document for the scalar encoder: one
    resourceSpans group — what ``encode_span_dataframe`` emits — or, for
    the proto-arm tests, one group per ``group_col`` value with resource
    ``service.name = crawler-<value>``."""
    if group_col is None:
        groups = [(resource_attrs, pdf)]
    else:
        groups = [({"service.name": f"crawler-{k}"}, g)
                  for k, g in pdf.groupby(group_col, sort=True)]
    return {"resourceSpans": [
        {
            "resource": {"attributes": attrs, "droppedAttributesCount": 0},
            "scopeSpans": [{
                "scope": DEFAULT_SCOPE,
                "spans": [_span(r, spec) for _, r in g.iterrows()],
                "schemaUrl": "",
            }],
            "schemaUrl": "",
        }
        for attrs, g in groups
    ]}


@pytest.mark.parametrize("lang_col", [None, "lang"])
def test_batch_matches_scalar_decoded(lang_col):
    """With and without a per-span ``lang`` attribute column — the
    pipeline's null-lang and real-lang route groups."""
    pdf = make_pdf(60)
    spec = dict(SPEC)
    if lang_col is not None:
        pdf["attr:lang"] = pdf[lang_col]
        spec["lang"] = "str"
    blob = encode_span_dataframe(pdf, spec, RESOURCE)
    doc = pdf_to_document(pdf, spec)
    m = trace_model()
    assert decode(blob, m) == decode(encode(doc, m), m) == normalize(doc, m)


def test_batch_deterministic():
    pdf = make_pdf(40)
    assert encode_span_dataframe(pdf, SPEC, RESOURCE) == \
        encode_span_dataframe(pdf, SPEC, RESOURCE)


def test_batch_no_events_links():
    pdf = make_pdf(25, with_events=False, with_links=False)
    blob = encode_span_dataframe(pdf, SPEC, RESOURCE)
    m = trace_model()
    assert decode(blob, m) == normalize(pdf_to_document(pdf), m)


def test_batch_empty():
    pdf = make_pdf(0)
    blob = encode_span_dataframe(pdf, SPEC, RESOURCE)
    assert decode(blob, trace_model()) == {"resourceSpans": None}


def test_batch_single_row():
    pdf = make_pdf(1)
    m = trace_model()
    assert decode(encode_span_dataframe(pdf, SPEC, RESOURCE), m) == \
        normalize(pdf_to_document(pdf), m)


def test_dictionary_compression_wins():
    """Repetitive batches (the web-text case) must shrink via pools."""
    pdf = make_pdf(400)
    blob = encode_span_dataframe(pdf, SPEC, RESOURCE)
    # ids, names and statuses pooled across 400 spans: the blob must be
    # far smaller than 400 × the single-span cost.
    single = len(encode_span_dataframe(make_pdf(1), SPEC, RESOURCE))
    assert len(blob) < 0.25 * 400 * single


def test_all_columns_documented():
    assert set(SPAN_COLUMNS) <= set(make_pdf(1).columns)


def test_unsupported_attribute_type_raises():
    """The attribute columns are 'str' or 'int'; any other declared type
    raises rather than encoding something the spec did not promise."""
    pdf = make_pdf(3, with_events=False, with_links=False)
    for t in ("double", "bool", "bytes"):
        with pytest.raises(CodecError, match="unsupported attributes_spec"):
            encode_span_dataframe(pdf, {"http.url": t}, RESOURCE)


def production_pages(doc_ids, lang, host_bucket=3, events_every=10,
                     links_every=7):
    """``_pre_encode_frame``'s columns for ``doc_ids``: url, lang,
    host_bucket, doc_id and the ``span_columns_sql`` span columns, written
    out here with numpy from the same rules: an event on every
    ``events_every``-th page (attribute code 2, the nested map, on every
    20th, else 1) and a self-trace link on every ``links_every``-th."""
    urls = [f"https://h{d % 3}.example.com/p/{d}" for d in doc_ids]
    md5 = [hashlib.md5(u.encode()).digest() for u in urls]
    starts = T + doc_ids * 1000
    n_chars = 100 + doc_ids % 9
    zeros = np.zeros(len(doc_ids), np.int64)
    ev = doc_ids % events_every == 0
    ln = doc_ids % links_every == 0
    return pd.DataFrame({
        "url": urls,
        "lang": lang,
        "host_bucket": np.broadcast_to(
            host_bucket, doc_ids.shape).astype(np.int32),
        "doc_id": doc_ids,
        "trace_id": md5,
        "span_id": [h[:8] for h in md5],
        "parent_span_id": [b""] * len(doc_ids),
        "trace_state": ["cc=1" if d % 10 == 0 else "" for d in doc_ids],
        "name": [f"GET /p{d % 20}" for d in doc_ids],
        "kind": doc_ids % 6,
        "start_ns": starts,
        "end_ns": starts + n_chars * 1_000_000,
        "dropped_attributes_count": zeros,
        "dropped_events_count": zeros,
        "dropped_links_count": doc_ids % 2,
        "status_message": ["OK" if d % 4 == 0 else "" for d in doc_ids],
        "status_code": doc_ids % 3,
        "n_chars": n_chars,
        "event_time_ns": np.where(ev, starts + 1_000_000, 0),
        "event_name": ["fetch" if e else None for e in ev],
        "event_attributes": np.where(ev, np.where(doc_ids % 20 == 0, 2, 1),
                                     0).astype(np.int32),
        "event_dropped_attributes_count": zeros,
        "link_trace_id": [h if k else None for h, k in zip(md5, ln)],
        "link_span_id": [h[8:] if k else None for h, k in zip(md5, ln)],
        "link_trace_state": ["" if k else None for k in ln],
        "link_attributes": ln.astype(np.int32),
        "link_dropped_attributes_count": zeros,
    })


@pytest.mark.parametrize("lang,every", [("en", (10, 7)), (np.nan, (10, 7)),
                                        ("en", (1, 1))],
                         ids=["en", "null", "dense"])
def test_production_group_frame_matches_scalar(lang, every):
    """batch ≡ scalar on exactly what the pipeline encodes: a frame with
    ``_pre_encode_frame``'s columns, run through ``_group_spans_frame``
    for a real-lang and a null-lang route group, with events (doc_id %
    10), nested event attributes (% 20) and links (% 7) all present, and
    a dense group where every span has an event and a link. The expected
    document is written out here from the span-shape rules, not from the
    pipeline's helpers; the fused projection must equal the generic one
    on the blob."""
    from compress_otel_collector_spark.plans.pipeline import (
        _group_spans_frame,
    )
    from compress_otel_collector_spark.plans.projector import (
        project_blob,
        project_doc,
    )

    events_every, links_every = every
    doc_ids = np.arange(100, 160, dtype=np.int64)  # 100, 105, 140 hit all
    # _encode_batches' groupby(dropna=False) keys a null lang as NaN
    g = production_pages(doc_ids, None if pd.isna(lang) else lang,
                         events_every=events_every, links_every=links_every)
    urls, md5 = list(g["url"]), list(g["trace_id"])
    starts, n_chars = g["start_ns"].to_numpy(), g["n_chars"].to_numpy()
    m = trace_model()
    nested = {"phase": "connect", "probe": {"ttl": 64, "hops": [1, 2]}}
    spans, spec, resource = _group_spans_frame(g, lang, 3)
    blob = encode_span_dataframe(spans, spec, resource)

    lang_attr = {} if pd.isna(lang) else {"lang": lang}
    # a null-lang group has no service.name, as it has no lang attribute
    service = {} if pd.isna(lang) else {"service.name": f"crawler-{lang}"}
    want = []
    for i, d in enumerate(doc_ids):
        start = int(starts[i])
        want.append({
            "traceId": md5[i], "spanId": md5[i][:8],
            "parentSpanId": b"",
            "traceState": "cc=1" if d % 10 == 0 else "",
            "name": f"GET /p{d % 20}", "kind": int(d % 6),
            "startTimeUnixNano": start,
            "endTimeUnixNano": start + int(n_chars[i]) * 1_000_000,
            "attributes": {"http.url": urls[i], "http.status_code": 200,
                           "n_chars": int(n_chars[i]), **lang_attr},
            "droppedAttributesCount": 0,
            "events": [{
                "timeUnixNano": start + 1_000_000, "name": "fetch",
                "attributes": nested if d % 20 == 0 else {},
                "droppedAttributesCount": 0,
            }] if d % events_every == 0 else [],
            "droppedEventsCount": 0,
            "links": [{
                "traceId": md5[i], "spanId": md5[i][8:],
                "traceState": "", "attributes": {"rel": "prev"},
                "droppedAttributesCount": 0,
            }] if d % links_every == 0 else [],
            "droppedLinksCount": int(d % 2),
            "status": {"message": "OK" if d % 4 == 0 else "",
                       "code": int(d % 3)},
        })
    doc = {"resourceSpans": [{
        "resource": {
            "attributes": {**service, "host.bucket": 3},
            "droppedAttributesCount": 0,
        },
        "scopeSpans": [{"scope": DEFAULT_SCOPE, "spans": want,
                        "schemaUrl": ""}],
        "schemaUrl": "",
    }]}
    assert decode(blob, m) == decode(encode(doc, m), m) == \
        normalize(doc, m)
    assert project_blob(blob, m) == project_doc(decode(blob, m))


def test_json_arm_writes_parent_ids():
    """The JSON arm marshals each span's own parent: hex for an 8-byte
    parent, ``""`` for a root's empty one. A frame of roots and children
    therefore gives other bytes than the same frame with every parent
    empty."""
    import json

    from compress_otel_collector_spark.plans.pipeline import (
        _group_spans_frame,
        _json_arm_bytes,
    )

    doc_ids = np.arange(100, 130, dtype=np.int64)
    roots = production_pages(doc_ids, "en")
    parents = [t[8:] if d % 2 else b""
               for d, t in zip(doc_ids, roots["trace_id"])]
    mixed = roots.assign(parent_span_id=parents)

    def marshal_group(g):
        return _json_arm_bytes(_group_spans_frame(g, "en", 3)[0])

    got = [r["parent_span_id"] for r in json.loads(marshal_group(mixed))]
    assert got == [p.hex() for p in parents]
    assert marshal_group(mixed) != marshal_group(roots)


#: ``_encode_batches(arms=True)`` on ``_pinned_pages()``, one tuple per
#: output row: (lang, host_bucket, blob_sha256, raw_bytes, zstd_bytes,
#: gzip_bytes, proto_zstd_bytes, sha256 of the proto arm's bytes)
_ENCODE_BATCHES_PINS = [
    ("en", 0,
     "e32897e4ddcbadad306baf7ecb045a3c8bfdedc9d2832b0a1638054ab7b17638",
     8115, 3246, 3138, 3110,
     "eed5143094d399115df4b0b97a712a030d2271be99342121cb4f606095ea4e8f"),
    ("en", 1,
     "0b40655a708edc12e873f580a80c3b7c668f2f83fcb77ad07fd76887056c8cac",
     7787, 3081, 3010, 2943,
     "abde58311abc9cb4afaa68b4f0fbffbb0e2297890d2877c88d07d78b12a8603a"),
    (None, 0,
     "2effce9c40547b0556394df5e68a35d36e504be0f2c0779325006cac27acc332",
     4216, 1734, 1731, 1624,
     "01f0ffb68436433b89cb5ea1aefdfca0edd3a54d5cb8aaa5bd8ab3a016765674"),
    (None, 1,
     "3f1a56d7aeb53ca4b6091cc51e16b00b44ef6bc59a5e00dc5e20d19d629f71cb",
     3936, 1602, 1610, 1487,
     "af7df7b7f38dd6c83eb28c1e06e97a2268e4d41c2403283c102e9987f05eadde"),
]


def _pinned_pages():
    """200 production rows in two routes per lang, en and null lang, with
    events (doc_id % 10), nested event attributes (% 20), links (% 7) and
    one page whose crawl time is the epoch-0 sentinel."""
    doc_ids = np.arange(1000, 1200, dtype=np.int64)
    lang = np.where(doc_ids % 3 == 0, None, "en").astype(object)
    pdf = production_pages(doc_ids, lang, host_bucket=doc_ids % 2)
    zero = pdf["doc_id"] == 1003
    pdf.loc[zero, "end_ns"] -= pdf.loc[zero, "start_ns"]
    pdf.loc[zero, "start_ns"] = 0
    return pdf.sort_values(["lang", "host_bucket", "doc_id"],
                           na_position="last", ignore_index=True)


def test_encode_batches_bytes_pinned(monkeypatch):
    """The wire bytes of what production encodes, pinned: the codec blob,
    its zstd and gzip sizes and the proto arm's bytes. The JSON arm
    marshals the frame's own columns, so it is not pinned."""
    from compress_otel_collector_spark.plans import pipeline

    protos = []
    marshal = pipeline.spans_columns_to_proto

    def recording(*args, **kwargs):
        protos.append(marshal(*args, **kwargs))
        return protos[-1]

    monkeypatch.setattr(pipeline, "spans_columns_to_proto", recording)
    out = pd.concat(pipeline._encode_batches(arms=True)(
        iter([_pinned_pages()])))
    got = [
        (None if pd.isna(r.lang) else r.lang, r.host_bucket, r.blob_sha256,
         r.raw_bytes, r.zstd_bytes, r.gzip_bytes, r.proto_zstd_bytes,
         hashlib.sha256(p).hexdigest())
        for r, p in zip(out.itertuples(), protos, strict=True)
    ]
    assert got == _ENCODE_BATCHES_PINS


def test_null_str_attribute_raises():
    """A null in a 'str' attr: column must raise, not corrupt (factorize
    maps NaN to code -1, which would silently alias the last pool entry)."""
    pdf = make_pdf(4, with_events=False, with_links=False)
    pdf["attr:http.url"] = ["a", "b", None, "d"]
    with pytest.raises(CodecError, match="null value"):
        encode_span_dataframe(pdf, SPEC, RESOURCE)


def test_nul_containing_strings_stay_distinct():
    """pandas' string hashtable hashes C strings — factorize conflates
    'a' with 'a\\x00b' and '' with '\\x00'. Web text legitimately contains
    NULs; every string pool must keep them distinct (found by the
    batch≡scalar hypothesis property, pinned here deterministically)."""
    m = trace_model()
    rows = []
    cases = [("", "", "", "x"), ("\x00", "a\x00b", "\x00z", "x\x00"),
             ("a", "a\x00", "z", "\x00\x00"), ("a\x00b", "a", "z\x00", "x")]
    for i, (nm, ts, sm, av) in enumerate(cases):
        rows.append({
            "trace_id": bytes([i + 1]) * 16, "span_id": bytes([i + 1]) * 8,
            "parent_span_id": b"", "trace_state": ts, "name": nm, "kind": 2,
            "start_ns": 1, "end_ns": 2,
            "attr:k": av, "attr:k\x002": 1,
            "dropped_attributes_count": 0,
            **event_cells({"timeUnixNano": 5, "name": nm, "attributes": {},
                           "droppedAttributesCount": 0}),
            "dropped_events_count": 0,
            **link_cells(), "dropped_links_count": 0,
            "status_message": sm, "status_code": 0, "lang": "en"})
    pdf = pd.DataFrame(rows)
    spec = {"k": "str", "k\x002": "int"}
    got = decode(encode_span_dataframe(pdf, spec, RESOURCE), m)
    doc = pdf_to_document(pdf, spec)
    assert got == decode(encode(doc, m), m) == normalize(doc, m)
    names = [sp["name"] for rs in got["resourceSpans"]
             for ss in rs["scopeSpans"] for sp in ss["spans"]]
    assert names == ["", "\x00", "a", "a\x00b"]  # name is non-nullable


def test_nul_strings_in_columnar_attributes():
    """Same NUL-exactness through the attribute columns' pool dedup
    (attr:<key> columns + attributes_spec)."""
    m = trace_model()
    pdf = make_pdf(4)
    pdf["attr:v"] = ["a", "a\x00b", "a\x00", "a"]
    pdf["attr:n"] = [1, 2, 3, 4]
    blob = encode_span_dataframe(pdf, {"v": "str", "n": "int"}, RESOURCE)
    got = decode(blob, m)
    vals = [(sp["attributes"]["v"], sp["attributes"]["n"])
            for rs in got["resourceSpans"] for ss in rs["scopeSpans"]
            for sp in ss["spans"]]
    assert vals == [("a", 1), ("a\x00b", 2), ("a\x00", 3), ("a", 4)]


def test_factorize_fast_and_nul_paths_agree():
    """_factorize_exact's raw-factorize fast path (no NUL anywhere) and
    its bytes-reencode slow path must produce identical codes/uniques on
    the same NUL-free input — and the slow path stays exact when a NUL
    forces it (r6: the fast path skips the per-value utf-8 re-encode)."""
    from compress_otel_collector_spark.codec.batch import _factorize_exact

    clean = ["b", "a", None, "b", "", "c", "a"]
    codes, uniq = _factorize_exact(clean)
    assert uniq == ["b", "a", "", "c"]
    assert codes.tolist() == [0, 1, -1, 0, 2, 3, 1]
    dirty = ["a", "a\x00b", None, "a\x00", "a", ""]
    codes, uniq = _factorize_exact(dirty)
    assert uniq == ["a", "a\x00b", "a\x00", ""]
    assert codes.tolist() == [0, 1, -1, 2, 0, 3]


def test_oversized_string_pool_entry_roundtrips():
    """A pooled string too long for the cached 1- and 2-byte length
    prefixes (9,000 bytes needs a 3-byte prefix) still decodes
    byte-exactly."""
    m = trace_model()
    pdf = make_pdf(6, with_events=False, with_links=False)
    long_name = "n" * 9000
    pdf.loc[2, "name"] = long_name
    blob = encode_span_dataframe(pdf, SPEC, RESOURCE)
    got = decode(blob, m)
    names = [sp["name"] for rs in got["resourceSpans"]
             for ss in rs["scopeSpans"] for sp in ss["spans"]]
    assert names[2] == long_name
    assert len(names) == 6


def test_len_prefixed_blob_matches_naive_join():
    """``encoder.len_prefixed`` must be byte-equal to the naive per-entry
    join for arbitrary payloads, across 1-, 2- and 3-byte length prefixes
    (lengths from 8192 on are past the cached prefix table)."""
    import random

    from compress_otel_collector_spark.codec.encoder import len_prefixed
    from compress_otel_collector_spark.codec.varint import encode_sleb128

    rng = random.Random(11)
    for trial in range(20):
        raws = [bytes(rng.randrange(256) for _ in range(rng.choice(
            [0, 1, 2, 7, 63, 64, 127, 128, 300]))) for _ in range(
            rng.randrange(1, 40))]
        got = len_prefixed(raws)
        want = b"".join(encode_sleb128(len(r)) + r for r in raws)
        assert got == want, f"trial {trial}"
    for size in (8191, 8192, 16384, 70000):
        raws = [b"a", b"x" * size, b""]
        want = b"".join(encode_sleb128(len(r)) + r for r in raws)
        assert len_prefixed(raws) == want, size
    assert len_prefixed([]) == b""


def test_factorize_exact_property_vs_pure_python():
    """_factorize_exact (both its join-scan fast path and the bytes
    re-encode path) against a pure-Python exact dedup over adversarial
    value mixes: NULs, the '\\x01' join separator, empties, None, bytes,
    and str/bytes lookalikes; and int64 arrays, which skip the str scan."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from compress_otel_collector_spark.codec.batch import _factorize_exact

    val = st.one_of(
        st.none(),
        st.text(alphabet="ab\x00\x01é", max_size=4),
        st.binary(max_size=3),
    )

    def check(vals, got):
        codes, uniq = got
        seen: dict = {}
        want_codes, want_uniq = [], []
        for v in vals:
            if v is None:
                want_codes.append(-1)
                continue
            k = (type(v).__name__, v)
            if k not in seen:
                seen[k] = len(want_uniq)
                want_uniq.append(v)
            want_codes.append(seen[k])
        assert codes.tolist() == want_codes
        assert uniq == want_uniq
        assert all(type(u) is type(w) for u, w in zip(uniq, want_uniq))

    @settings(max_examples=300, deadline=None)
    @given(st.lists(val, max_size=24))
    def prop(vals):
        check(vals, _factorize_exact(vals))

    # int64 columns (the int attr: columns) take the pd.factorize path
    @settings(max_examples=100, deadline=None)
    @given(st.lists(st.one_of(st.integers(-(2**63), 2**63 - 1),
                              st.sampled_from([0, -1, -(2**63)])),
                    max_size=24))
    def prop_int64(vals):
        check(vals, _factorize_exact(np.array(vals, dtype=np.int64)))

    prop()
    prop_int64()


def test_empty_input_with_attributes_spec_skips_pool():
    """Empty input emits the scalar encoder's bytes for an empty document:
    no string pool, no pools (the attributes pool is skipped, not written
    with zero entries), resourceSpans null."""
    blob = encode_span_dataframe(make_pdf(2).iloc[:0], SPEC, RESOURCE)
    assert blob == encode({"resourceSpans": []}, trace_model())
    assert decode(blob, trace_model()) == {"resourceSpans": None}
