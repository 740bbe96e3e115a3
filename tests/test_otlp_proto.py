"""OTLP protobuf arm: validate the hand-rolled wire format independently.

No protobuf library exists in this container, so the test carries its own
generic proto3 wire-format reader (varint / fixed64 / length-delimited
walker) — decoding the writer's output with a parser that shares none of
its code, then checking the recovered values field-by-field against the
input document.
"""

import struct
from collections import defaultdict

from tests.test_batch_codec import make_pdf, pdf_to_document

from compress_otel_collector_spark.codec.otlp_proto import (
    encode_traces_proto,
    spans_rows_to_proto,
)


def read_varint(buf, i):
    shift = out = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


def parse_message(buf):
    """field number -> list of raw values (int for varint/fixed64,
    bytes for length-delimited)."""
    fields = defaultdict(list)
    i = 0
    while i < len(buf):
        tag, i = read_varint(buf, i)
        field, wire = tag >> 3, tag & 7
        if wire == 0:
            v, i = read_varint(buf, i)
        elif wire == 1:
            v = struct.unpack("<Q", buf[i:i + 8])[0]
            i += 8
        elif wire == 2:
            ln, i = read_varint(buf, i)
            v = bytes(buf[i:i + ln])
            i += ln
        else:
            raise AssertionError(f"unexpected wire type {wire}")
        fields[field].append(v)
    return fields


def parse_any_value(buf):
    f = parse_message(buf)
    if 1 in f:
        return f[1][0].decode()
    if 2 in f:
        return bool(f[2][0])
    if 3 in f:
        return f[3][0]
    if 4 in f:
        return struct.unpack("<d", struct.pack("<Q", f[4][0]))[0]
    if 7 in f:
        return f[7][0]
    if 6 in f:
        return parse_attrs(parse_message(f[6][0])[1])
    if 5 in f:
        return [parse_any_value(v)
                for v in parse_message(f[5][0]).get(1, [])]
    raise AssertionError("empty AnyValue")


def parse_attrs(kv_blobs):
    out = {}
    for kv in kv_blobs:
        f = parse_message(kv)
        out[f[1][0].decode()] = parse_any_value(f[2][0])
    return out


def spans_of(traces_data):
    td = parse_message(traces_data)
    for rs_blob in td[1]:
        rs = parse_message(rs_blob)
        for ss_blob in rs[2]:
            ss = parse_message(ss_blob)
            for sp_blob in ss.get(2, []):
                yield parse_message(sp_blob), rs, ss


def test_wire_roundtrip_against_document():
    pdf = make_pdf(30)
    doc = pdf_to_document(pdf, group_col="lang")
    wire = encode_traces_proto(doc)

    want = [
        sp for rs in doc["resourceSpans"]
        for ss in rs["scopeSpans"] for sp in ss["spans"]
    ]
    got = list(spans_of(wire))
    assert len(got) == len(want)
    for (sp, _rs, _ss), w in zip(got, want):
        assert sp[1][0] == w["traceId"]
        assert sp[2][0] == w["spanId"]
        assert sp[5][0].decode() == w["name"]
        assert sp[7][0] == w["startTimeUnixNano"]
        assert sp[8][0] == w["endTimeUnixNano"]
        assert parse_attrs(sp[9]) == w["attributes"]
        assert len(sp.get(11, [])) == len(w["events"])
        assert len(sp.get(13, [])) == len(w["links"])
        for ev_blob, ev in zip(sp.get(11, []), w["events"]):
            f = parse_message(ev_blob)
            if ev["timeUnixNano"]:
                assert f[1][0] == ev["timeUnixNano"]
            if ev["name"]:
                assert f[2][0].decode() == ev["name"]
            if ev["attributes"]:
                assert parse_attrs(f[3]) == ev["attributes"]
        # status: message=2 code=3 inside field 15
        st = parse_message(sp[15][0]) if 15 in sp else {}
        if w["status"]["message"]:
            assert st[2][0].decode() == w["status"]["message"]
        if w["status"]["code"]:
            assert st[3][0] == w["status"]["code"]


def test_resource_and_scope_on_wire():
    pdf = make_pdf(5)
    doc = pdf_to_document(pdf, group_col="lang")
    wire = encode_traces_proto(doc)
    _sp, rs, ss = next(iter(spans_of(wire)))
    res = parse_message(rs[1][0])
    attrs = parse_attrs(res[1])
    assert any(k == "service.name" for k in attrs)
    scope = parse_message(ss[1][0])
    assert scope[1][0].decode() == "compress-otel-collector-spark"
    assert scope[2][0].decode() == "0.1.0"


def test_proto3_defaults_omitted():
    rows = [{
        "traceId": b"\x01" * 16, "spanId": b"\x02" * 8,
        "parentSpanId": b"", "traceState": "", "name": "n", "kind": 0,
        "startTimeUnixNano": 7, "endTimeUnixNano": 9,
        "attributes": {}, "droppedAttributesCount": 0,
        "events": [], "droppedEventsCount": 0,
        "links": [], "droppedLinksCount": 0,
        "status": {"message": "", "code": 0},
    }]
    wire = spans_rows_to_proto(rows, resource_attrs={}, scope=None)
    sp, _rs, _ss = next(iter(spans_of(wire)))
    # defaults (empty parent/state/attrs/events/links, kind 0, status {})
    # must be absent from the wire
    for absent in (3, 4, 6, 9, 10, 11, 12, 13, 14, 15):
        assert absent not in sp, f"field {absent} should be omitted"
    assert sp[7][0] == 7 and sp[8][0] == 9


def test_typed_attribute_values():
    rows = [{
        "traceId": b"\x01" * 16, "spanId": b"\x02" * 8,
        "parentSpanId": b"", "traceState": "", "name": "n", "kind": 2,
        "startTimeUnixNano": 1, "endTimeUnixNano": 2,
        "attributes": {"s": "x", "i": 42, "b": True, "f": 2.5,
                       "raw": b"\xff", "nested": {"k": 1},
                       "arr": ["a", 3]},
        "droppedAttributesCount": 0, "events": [],
        "droppedEventsCount": 0, "links": [], "droppedLinksCount": 0,
        "status": {"message": "", "code": 0},
    }]
    wire = spans_rows_to_proto(rows, resource_attrs={}, scope=None)
    sp, _, _ = next(iter(spans_of(wire)))
    attrs = parse_attrs(sp[9])
    assert attrs["s"] == "x" and attrs["i"] == 42
    assert attrs["b"] is True and attrs["f"] == 2.5
    assert attrs["raw"] == b"\xff" and attrs["nested"] == {"k": 1}


def test_attribute_cache_is_type_keyed():
    """{'flag': True} and {'flag': 1} wire-equal keys must NOT share a cache
    entry: bool→AnyValue.bool_value(2), int→int_value(3) (ADVICE r2)."""
    from compress_otel_collector_spark.codec.otlp_proto import _attributes

    b_bool = _attributes(9, {"flag": True})
    b_int = _attributes(9, {"flag": 1})
    b_float = _attributes(9, {"flag": 1.0})
    assert b_bool != b_int != b_float
    # and repeated lookups stay stable (cache returns the right variant)
    assert _attributes(9, {"flag": True}) == b_bool
    assert _attributes(9, {"flag": 1}) == b_int


def _with_defaults(cols: dict, n: int) -> dict:
    """``cols`` with the parent id and the dropped attribute/event counts
    empty unless it sets them."""
    return {"parent_span_id": [b""] * n, "dropped_attributes_count": [0] * n,
            "dropped_events_count": [0] * n, **cols}


def _arm_frame(cols: dict, events: list, links: list):
    """The proto arm's input frame: span columns plus each span's one
    event and one link (None: none) in their typed columns."""
    import pandas as pd

    from tests.test_batch_codec import event_cells, link_cells

    n = len(events)
    cols = _with_defaults(cols, n)
    return pd.DataFrame([
        {**{c: v[i] for c, v in cols.items()},
         **event_cells(events[i]), **link_cells(links[i])}
        for i in range(n)
    ])


def _arm_rows(cols: dict, events: list, links: list, lang_attr: dict):
    """The same spans as the row marshaler's span dicts."""
    cols = _with_defaults(cols, len(events))
    return [
        {
            "traceId": cols["trace_id"][i],
            "spanId": cols["span_id"][i],
            "parentSpanId": cols["parent_span_id"][i],
            "traceState": cols["trace_state"][i],
            "name": cols["name"][i],
            "kind": cols["kind"][i],
            "startTimeUnixNano": cols["start_ns"][i],
            "endTimeUnixNano": cols["end_ns"][i],
            "attributes": {
                "http.url": cols["attr:http.url"][i],
                "http.status_code": 200,
                **lang_attr, "n_chars": cols["attr:n_chars"][i],
            },
            "droppedAttributesCount": cols["dropped_attributes_count"][i],
            "events": [events[i]] if events[i] else [],
            "droppedEventsCount": cols["dropped_events_count"][i],
            "links": [links[i]] if links[i] else [],
            "droppedLinksCount": cols["dropped_links_count"][i],
            "status": {"message": cols["status_message"][i],
                       "code": cols["status_code"][i]},
        }
        for i in range(len(events))
    ]


def test_columns_marshal_equals_rows_marshal():
    """spans_columns_to_proto (the vectorized bench arm) must emit byte-
    identical wire to the generic row marshaler over the pipeline's span
    shape — events (incl. nested attrs), links, trace state, statuses."""
    from compress_otel_collector_spark.codec.batch import DEFAULT_SCOPE
    from compress_otel_collector_spark.codec.otlp_proto import (
        spans_columns_to_proto,
        spans_rows_to_proto,
    )

    n = 40
    cols = {
        "trace_id": [bytes([i % 251]) * 16 for i in range(n)],
        "span_id": [bytes([(i * 7) % 251]) * 8 for i in range(n)],
        "trace_state": ["cc=1" if i % 10 == 0 else "" for i in range(n)],
        "name": ["GET /" for _ in range(n)],
        "kind": [i % 6 for i in range(n)],
        "start_ns": [1_700_000_000_000_000_000 + i * 1000 for i in range(n)],
        "end_ns": [1_700_000_000_000_000_500 + i * 1000 for i in range(n)],
        "attr:http.url": [f"https://h{i % 5}.example.com/p/{i}"
                          for i in range(n)],
        "attr:n_chars": [100 + i % 9 for i in range(n)],
        "dropped_links_count": [i % 2 for i in range(n)],
        "status_message": ["OK" if i % 4 == 0 else "" for i in range(n)],
        "status_code": [i % 3 for i in range(n)],
    }
    events = [
        None if i % 10 else {
            "timeUnixNano": 1_700_000_000_000_001_000 + i,
            "name": "fetch",
            "attributes": (
                {"phase": "connect",
                 "probe": {"ttl": 64, "hops": [1, 2]},
                 "steps": [{"n": 1}, {"n": 2}]}  # list-of-dicts too
                if i % 20 == 0 else {}),
            "droppedAttributesCount": 0,
        } for i in range(n)
    ]
    links = [
        None if i % 7 else {
            "traceId": bytes([i % 251]) * 16,
            "spanId": bytes([i % 251]) * 8,
            "traceState": "",
            "attributes": {"rel": "prev"},
            "droppedAttributesCount": 0,
        } for i in range(n)
    ]
    spans = _arm_frame(cols, events, links)
    for lang_attr in ({"lang": "en"}, {}):  # matched and null-lang groups
        resource = {"service.name": "crawler-en", "host.bucket": 3}
        got = spans_columns_to_proto(
            spans, const_attrs={"http.status_code": 200, **lang_attr},
            resource_attrs=resource, scope=DEFAULT_SCOPE)
        want = spans_rows_to_proto(_arm_rows(cols, events, links, lang_attr),
                                   resource_attrs=resource,
                                   scope=DEFAULT_SCOPE)
        assert got == want


def test_columns_marshal_edge_values_equal_rows_marshal():
    """Edge values the vectorized arm used to get wrong or could get wrong:

    - an event with {'f': 1} after one with {'f': True} (r3 advisor: a
      suffix cache keyed by attribute content without the values'
      concrete types let True/1/1.0 share a slot, so the int event got
      the bool's cached AnyValue oneof)
    - zero start/end timestamps (proto3 omits zero fixed64s; the fixed
      18-byte block used to be emitted unconditionally)
    - an empty-string url (both paths must agree on whether the KeyValue
      is emitted — they do: _attributes always emits the oneof)
    - 8-byte parent ids and non-zero dropped attribute/event counts
      (fields 4, 10 and 12: the column marshal used to drop all three)
    """
    from compress_otel_collector_spark.codec.batch import DEFAULT_SCOPE
    from compress_otel_collector_spark.codec.otlp_proto import (
        spans_columns_to_proto,
        spans_rows_to_proto,
    )

    n = 6
    events = [
        {"timeUnixNano": 1, "name": "e", "attributes": {"f": True},
         "droppedAttributesCount": 0},
        {"timeUnixNano": 2, "name": "e", "attributes": {"f": 1},
         "droppedAttributesCount": 0},
        {"timeUnixNano": 3, "name": "e", "attributes": {"f": 1.0},
         "droppedAttributesCount": 0},
        {"timeUnixNano": 4, "name": "e",
         "attributes": {"f": [True, 1, {"g": 0}]},
         "droppedAttributesCount": 0},
        {"timeUnixNano": 5, "name": "e",
         "attributes": {"f": [1, True, {"g": False}]},
         "droppedAttributesCount": 0},
        None,
    ]
    cols = {
        "trace_id": [bytes([i]) * 16 for i in range(n)],
        "span_id": [bytes([i]) * 8 for i in range(n)],
        "trace_state": [""] * n,
        "name": ["GET /"] * n,
        "kind": [2] * n,
        "start_ns": [0, 10, 0, 10, 10, 10],
        "end_ns": [0, 0, 20, 20, 20, 20],
        "attr:http.url": ["", "https://a.example/x", "",
                          "https://a.example/x", "https://a.example/x", ""],
        "attr:n_chars": [5] * n,
        "dropped_links_count": [0] * n,
        "status_message": [""] * n,
        "status_code": [0] * n,
        "parent_span_id": [b"", bytes([7]) * 8, b"", bytes([9]) * 8,
                           b"", b""],
        "dropped_attributes_count": [0, 3, 0, 0, 1, 0],
        "dropped_events_count": [0, 5, 0, 2, 0, 0],
    }
    got = spans_columns_to_proto(
        _arm_frame(cols, events, [None] * n),
        const_attrs={"http.status_code": 200},
        resource_attrs={"service.name": "s"},
        scope=DEFAULT_SCOPE,
    )
    want = spans_rows_to_proto(_arm_rows(cols, events, [None] * n, {}),
                               resource_attrs={"service.name": "s"},
                               scope=DEFAULT_SCOPE)
    assert got == want


def test_columns_marshal_rejects_negative_n_chars():
    """The n_chars attribute is an unsigned varint in the column marshal;
    a negative value must raise, never ship as one mis-encoded byte."""
    import pytest

    from compress_otel_collector_spark.codec.batch import DEFAULT_SCOPE
    from compress_otel_collector_spark.codec.otlp_proto import (
        spans_columns_to_proto,
    )
    from compress_otel_collector_spark.codec.values import CodecError

    def marshal(n_chars):
        cols = {
            "trace_id": [b"\x01" * 16], "span_id": [b"\x01" * 8],
            "trace_state": [""], "name": ["GET /"], "kind": [2],
            "start_ns": [10], "end_ns": [20],
            "attr:http.url": ["https://a.example/x"],
            "attr:n_chars": [n_chars], "dropped_links_count": [0],
            "status_message": [""], "status_code": [0],
        }
        return spans_columns_to_proto(
            _arm_frame(cols, [None], [None]),
            const_attrs={"http.status_code": 200},
            resource_attrs={"service.name": "s"},
            scope=DEFAULT_SCOPE,
        )

    assert marshal(5)
    with pytest.raises(CodecError, match="negative"):
        marshal(-1)
