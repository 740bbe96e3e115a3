"""Codec roundtrip + wire-format semantics tests — FIXTURES.md F4.2-F4.5.

Every observable quirk of the reference wire format
(/root/reference/compress-otel-exporter/encode.go,
 /root/reference/compress-otel-receiver/decode.go) is pinned here.
"""

import pytest

from compress_otel_collector_spark.codec import (
    decode,
    encode,
    load_definition,
    normalize,
    topological_pool_order,
    trace_model,
)
from compress_otel_collector_spark.codec.decoder import decode_meta
from compress_otel_collector_spark.codec.definition import (
    ARRAY,
    BYTES,
    INTEGER,
    OBJECT,
    STRING,
    SchemaError,
    field_path_to_definition,
)
from compress_otel_collector_spark.codec.values import CodecError


def span(i=0, **over):
    s = {
        "traceId": bytes([i]) * 16,
        "spanId": bytes([i + 1]) * 8,
        "traceState": "",
        "parentSpanId": b"",
        "name": f"GET /p{i % 3}",
        "kind": i % 6,
        "startTimeUnixNano": 1_700_000_000_000_000_000 + i * 1000,
        "endTimeUnixNano": 1_700_000_000_000_000_000 + i * 1000 + 500,
        "attributes": {"http.status_code": 200, "http.url": f"https://x/{i}"},
        "droppedAttributesCount": 0,
        "events": [],
        "droppedEventsCount": 0,
        "links": [],
        "droppedLinksCount": 0,
        "status": {"message": "", "code": 0},
    }
    s.update(over)
    return s


def traces(spans, resource_attrs=None):
    return {
        "resourceSpans": [
            {
                "resource": {
                    "attributes": resource_attrs
                    or {"service.name": "crawler-en"},
                    "droppedAttributesCount": 0,
                },
                "scopeSpans": [
                    {
                        "scope": {
                            "name": "scope",
                            "version": "1.0",
                            "attributes": {},
                            "droppedAttributesCount": 0,
                        },
                        "spans": spans,
                        "schemaUrl": "",
                    }
                ],
                "schemaUrl": "https://opentelemetry.io/schemas/1.0.0",
            }
        ]
    }


def roundtrip(doc, definition=None):
    d = definition or trace_model()
    return decode(encode(doc, d), d)


class TestRoundtrip:
    def test_single_span(self):
        doc = traces([span(1)])
        assert roundtrip(doc) == normalize(doc, trace_model())

    def test_many_spans_pools_dedup(self):
        doc = traces([span(i % 4) for i in range(20)])
        blob = encode(doc, trace_model())
        assert decode(blob, trace_model()) == normalize(doc, trace_model())
        # 4 distinct spans repeated 5x must not blow up the blob: pooled
        # names/status/attributes/ids are stored once each, so each repeat
        # costs only stream bytes (indices + flags + diffs), ~20-40 B.
        solo = encode(traces([span(i % 4) for i in range(4)]), trace_model())
        assert len(blob) < len(solo) + 16 * 40

    def test_deterministic_blob(self):
        doc = traces([span(i) for i in range(7)])
        assert encode(doc, trace_model()) == encode(doc, trace_model())

    def test_events_and_links(self):
        s = span(
            2,
            events=[
                {
                    "timeUnixNano": 1_700_000_000_000_000_111,
                    "name": "fetch",
                    "attributes": {"retry": True},
                    "droppedAttributesCount": 0,
                },
                {
                    "timeUnixNano": 1_700_000_000_000_000_222,
                    "name": "parse",
                    "attributes": {},
                    "droppedAttributesCount": 1,
                },
            ],
            links=[
                {
                    "traceId": b"\x05" * 16,
                    "spanId": b"\x06" * 8,
                    "traceState": "vendor=1",
                    "attributes": {"rel": "parent"},
                    "droppedAttributesCount": 0,
                }
            ],
        )
        doc = traces([s, span(3)])
        assert roundtrip(doc) == normalize(doc, trace_model())


class TestNullCoercion:
    """F4.2 — encode.go:600-614 + receiver null-skip."""

    def test_nullable_zeroes_become_none(self):
        s = span(
            0,
            kind=0,
            traceState="",
            parentSpanId=b"",
            droppedAttributesCount=0,
            events=[],
            attributes={},
        )
        out = roundtrip(traces([s]))
        got = out["resourceSpans"][0]["scopeSpans"][0]["spans"][0]
        assert got["kind"] is None
        assert got["traceState"] is None
        assert got["parentSpanId"] is None
        assert got["droppedAttributesCount"] is None
        assert got["events"] is None
        assert got["attributes"] is None

    def test_non_nullable_zero_kept(self):
        # span.name (non-nullable string) and status.code (non-nullable int)
        s = span(0, name="", status={"message": "", "code": 0})
        got = roundtrip(traces([s]))["resourceSpans"][0]["scopeSpans"][0][
            "spans"
        ][0]
        assert got["name"] == ""
        assert got["status"]["code"] == 0
        assert got["status"]["message"] is None  # nullable "" coerces

    def test_false_and_zero_double_not_coerced(self):
        d = load_definition(
            {
                "type": OBJECT,
                "fields": {
                    "attrs": {"type": OBJECT, "nullable": True, "pooled": True}
                },
            }
        )
        doc = {"attrs": {"flag": False, "score": 0.0, "n": 0}}
        assert roundtrip(doc, d) == doc

    def test_none_for_non_nullable_raises(self):
        with pytest.raises(CodecError):
            encode(traces([span(0, name=None)]), trace_model())


class TestPools:
    """F4.3/F4.4 — first-occurrence indices, shared pools across fields."""

    def test_first_occurrence_index_order(self):
        doc = traces([span(0, name="b"), span(1, name="a"),
                      span(2, name="b")])
        blob = encode(doc, trace_model())
        # name pool must store "b" (index 0) then "a" (index 1): first-seen
        # document order, encode.go:191.
        pool_path = "resourceSpans item scopeSpans item spans item name"
        names = _extract_string_pool_entries(blob, pool_path)
        assert names == ["b", "a"]

    def test_shared_span_id_pool(self):
        a = span(0)
        b = span(1, parentSpanId=a["spanId"])
        blob_shared = encode(traces([a, b]), trace_model())
        b2 = span(1, parentSpanId=b"\x99" * 8)
        blob_distinct = encode(traces([a, b2]), trace_model())
        # sharing the pool entry saves the 9 bytes of the duplicate spanId
        assert len(blob_shared) < len(blob_distinct)
        out = roundtrip(traces([a, b]))
        spans = out["resourceSpans"][0]["scopeSpans"][0]["spans"]
        assert spans[1]["parentSpanId"] == a["spanId"]

    def test_resource_pool_dedup(self):
        doc = {
            "resourceSpans": [
                {
                    "resource": {"attributes": {"service.name": "x"},
                                 "droppedAttributesCount": 0},
                    "scopeSpans": [],
                    "schemaUrl": "",
                },
                {
                    "resource": {"attributes": {"service.name": "x"},
                                 "droppedAttributesCount": 0},
                    "scopeSpans": [],
                    "schemaUrl": "",
                },
            ]
        }
        assert roundtrip(doc) == normalize(doc, trace_model())


class TestDiffEncode:
    """F4.5 — encode.go:144-165 / decode.go:101-114."""

    def test_deltas_roundtrip_including_negative(self):
        t = 1_700_000_000_000_000_000
        starts = [t, t + 5, t + 3]  # second delta is negative
        doc = traces(
            [span(i, startTimeUnixNano=s, endTimeUnixNano=s + 1)
             for i, s in enumerate(starts)]
        )
        out = roundtrip(doc)
        got = [
            s["startTimeUnixNano"]
            for s in out["resourceSpans"][0]["scopeSpans"][0]["spans"]
        ]
        assert got == starts

    def test_diff_state_resets_per_blob(self):
        doc = traces([span(0)])
        assert encode(doc, trace_model()) == encode(doc, trace_model())

    def test_diff_shrinks_encoding(self):
        import copy

        from compress_otel_collector_spark.codec.definition import (
            TRACE_MODEL_DICT,
        )

        def strip_diff(node):
            node.pop("diff_encode", None)
            for child in (node.get("fields") or {}).values():
                strip_diff(child)
            if node.get("item"):
                strip_diff(node["item"])

        no_diff_dict = copy.deepcopy(TRACE_MODEL_DICT)
        strip_diff(no_diff_dict)
        no_diff_model = load_definition(no_diff_dict)

        t = 1_700_000_000_000_000_000
        doc = traces(
            [span(i, startTimeUnixNano=t + i, endTimeUnixNano=t + i + 1,
                  name="n", attributes={}) for i in range(50)]
        )
        with_diff = encode(doc, trace_model())
        without_diff = encode(doc, no_diff_model)
        # 100 timestamps at 9 bytes absolute vs ~1 byte delta each: diff
        # encoding must save the bulk of (9-1)*98 bytes.
        assert len(without_diff) - len(with_diff) > 600
        assert decode(without_diff, no_diff_model) == normalize(
            doc, no_diff_model
        )


class TestFreeMap:
    def test_all_seven_types_nested(self):
        attrs = {
            "http.url": "https://example.com",
            "http.status_code": 200,
            "success": True,
            "score": 0.97,
            "blob": b"\x00\x01\x02",
            "nested": {"a": [1, "x", True], "b": {"c": None}},
            "nullattr": None,
        }
        doc = traces([span(0, attributes=attrs)])
        out = roundtrip(doc)
        got = out["resourceSpans"][0]["scopeSpans"][0]["spans"][0][
            "attributes"
        ]
        assert got == attrs

    def test_free_array_null_raises(self):
        doc = traces([span(0, attributes={"arr": [1, None]})])
        with pytest.raises(CodecError):
            encode(doc, trace_model())

    def test_string_pool_shared_keys_and_values(self):
        doc = traces(
            [span(i, attributes={"k": "shared-value"}) for i in range(30)]
        )
        blob = encode(doc, trace_model())
        # "k" and "shared-value" appear once in the string pool regardless of
        # 30 occurrences (attributes maps themselves dedup via the pool too).
        assert blob.count(b"shared-value") == 1


class TestTopologicalOrder:
    def test_children_before_parents(self):
        order = topological_pool_order(trace_model())
        spans = "resourceSpans item scopeSpans item spans item "
        # nested pooled fields come before the pooled container using them
        assert order.index(spans + "status message") < order.index(
            spans + "status"
        )
        assert order.index(spans + "links item attributes") < order.index(
            spans + "links item"
        )
        for shared in ("traceId", "spanId", "traceState"):
            assert shared in order
        assert len(order) == len(set(order))

    def test_order_is_deterministic(self):
        assert topological_pool_order(trace_model()) == topological_pool_order(
            trace_model()
        )


class TestSchemaValidation:
    def test_shared_pool_type_conflict(self):
        with pytest.raises(SchemaError):
            load_definition(
                {
                    "type": OBJECT,
                    "fields": {
                        "a": {"type": BYTES, "share_pooled": True,
                              "share_pool_id": "p"},
                        "b": {"type": STRING, "share_pooled": True,
                              "share_pool_id": "p"},
                    },
                }
            )

    def test_nested_shared_pool_on_path(self):
        with pytest.raises(SchemaError):
            load_definition(
                {
                    "type": OBJECT,
                    "pooled": False,
                    "fields": {
                        "o": {
                            "type": OBJECT,
                            "share_pooled": True,
                            "share_pool_id": "p",
                            "fields": {
                                "inner": {
                                    "type": OBJECT,
                                    "share_pooled": True,
                                    "share_pool_id": "p",
                                    "fields": {},
                                }
                            },
                        }
                    },
                }
            )

    def test_diff_inside_pool_rejected(self):
        with pytest.raises(SchemaError):
            load_definition(
                {
                    "type": OBJECT,
                    "fields": {
                        "o": {
                            "type": OBJECT,
                            "pooled": True,
                            "fields": {
                                "t": {"type": INTEGER, "diff_encode": True}
                            },
                        }
                    },
                }
            )

    def test_field_path_resolution(self):
        d = field_path_to_definition(
            "resourceSpans item scopeSpans item spans item status",
            trace_model(),
        )
        assert d.type == OBJECT and d.pooled
        shared = field_path_to_definition("spanId", trace_model())
        assert shared.type == BYTES and shared.share_pool_id == "spanId"
        arr = field_path_to_definition("resourceSpans", trace_model())
        assert arr.type == ARRAY


def _extract_string_pool_entries(blob, pool_path):
    """One value pool's entries, as the meta block decodes them."""
    return decode_meta(blob, trace_model())[1][pool_path]
