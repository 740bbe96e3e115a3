"""Property-based batch↔scalar equivalence over randomized span batches."""

import pandas as pd
from hypothesis import given, settings, strategies as st

from compress_otel_collector_spark.codec import decode, encode, normalize, \
    trace_model
from compress_otel_collector_spark.codec.batch import encode_span_dataframe
from tests.test_batch_codec import event_cells, link_cells, \
    pdf_to_document

T = 1_700_000_000_000_000_000

_attr_value = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.binary(max_size=8),
    st.text(max_size=12),
    st.none(),
)

#: span-attribute column values: 'str' mixes in NUL-bearing lookalikes
#: ('a' vs 'a\x00b', '' vs '\x00') and empties; 'int' the int64 extremes
_column_value = {
    "str": st.one_of(st.text(max_size=10),
                     st.text(alphabet="a\x00b", max_size=4)),
    "int": st.one_of(st.integers(-(2**63), 2**63 - 1),
                     st.sampled_from([0, -1, 2**63 - 1, -(2**63)])),
}


#: free text plus NUL-bearing lookalikes ('a' vs 'a\x00b', '' vs '\x00')
_text = st.one_of(st.text(max_size=6), st.text(alphabet="a\x00b", max_size=4))


@st.composite
def span_batches(draw):
    """(frame, attributes spec): typed ``attr:<key>`` span-attribute
    columns, at most one event and one link per span in their typed
    columns, random event and link attribute dicts."""
    n = draw(st.integers(min_value=1, max_value=12))
    spec = draw(st.dictionaries(st.text(max_size=5),
                                st.sampled_from(["str", "int"]), max_size=3))
    rows = []
    for i in range(n):
        event = draw(st.none() | st.fixed_dictionaries({
            "timeUnixNano": st.integers(0, 2**62),
            "name": _text,
            "attributes": st.dictionaries(
                st.text(max_size=5), _attr_value, max_size=2),
            "droppedAttributesCount": st.integers(0, 3),
        }))
        link = draw(st.none() | st.fixed_dictionaries({
            "traceId": st.binary(min_size=0, max_size=16),
            "spanId": st.binary(min_size=0, max_size=8),
            "traceState": _text,
            "attributes": st.dictionaries(
                st.text(max_size=5), _attr_value, max_size=2),
            "droppedAttributesCount": st.integers(0, 3),
        }))
        rows.append({
            "trace_id": draw(st.binary(min_size=0, max_size=16)),
            "span_id": draw(st.binary(min_size=0, max_size=8)),
            "parent_span_id": draw(st.binary(min_size=0, max_size=8)),
            "trace_state": draw(st.text(max_size=8)),
            "name": draw(st.text(max_size=8)),
            "kind": draw(st.integers(0, 5)),
            "start_ns": T + draw(st.integers(-10**6, 10**6)),
            "end_ns": T + draw(st.integers(-10**6, 10**6)),
            **{f"attr:{k}": draw(_column_value[t]) for k, t in spec.items()},
            "dropped_attributes_count": draw(st.integers(0, 2)),
            **event_cells(event),
            "dropped_events_count": draw(st.integers(0, 2)),
            **link_cells(link),
            "dropped_links_count": draw(st.integers(0, 2)),
            "status_message": draw(st.text(max_size=6)),
            "status_code": draw(st.integers(0, 2)),
        })
    return pd.DataFrame(rows), spec


@settings(max_examples=60, deadline=None)
@given(batch=span_batches(), resource=st.dictionaries(
    st.text(max_size=5), st.text(max_size=5), min_size=1, max_size=2))
def test_batch_equals_scalar_on_random_batches(batch, resource):
    """Zero ints and empty strings stay values inside the attribute free
    map (only an absent key is absent); an empty spec null-coerces."""
    pdf, spec = batch
    blob = encode_span_dataframe(pdf, spec, resource)
    doc = pdf_to_document(pdf, spec, resource)
    m = trace_model()
    assert decode(blob, m) == decode(encode(doc, m), m) == normalize(doc, m)


@st.composite
def typed_attr_columns(draw):
    """Random typed attribute columns for the columnar attributes path."""
    n = draw(st.integers(min_value=1, max_value=10))
    ints = draw(st.lists(st.integers(-(2**63), 2**63 - 1),
                         min_size=n, max_size=n))
    strs = draw(st.lists(st.text(max_size=10), min_size=n, max_size=n))
    return n, ints, strs


@settings(max_examples=40, deadline=None)
@given(cols=typed_attr_columns())
def test_columnar_attributes_equal_scalar(cols):
    """The attributes path (attr:<key> columns + spec) must decode
    identically to the scalar encoder over the same attribute dicts,
    built here straight from the drawn values — including embedded NULs,
    empty strings, int64 extremes, and zero values (which must NOT
    null-coerce inside free maps: only None does).
    """
    n, ints, strs = cols
    columnar = pd.DataFrame({
        "trace_id": [bytes([i + 1]) * 16 for i in range(n)],
        "span_id": [bytes([i + 1]) * 8 for i in range(n)],
        "parent_span_id": [b""] * n,
        "trace_state": [""] * n,
        "name": ["q"] * n,
        "kind": [1] * n,
        "start_ns": [T + i for i in range(n)],
        "end_ns": [T + 10 + i for i in range(n)],
        "dropped_attributes_count": [0] * n,
        "dropped_events_count": [0] * n,
        "dropped_links_count": [0] * n,
        **{c: [v] * n for c, v in {**event_cells(), **link_cells()}.items()},
        "status_message": [""] * n,
        "status_code": [0] * n,
    })
    columnar["attr:i"] = pd.Series(ints, dtype=object)
    columnar["attr:s"] = pd.Series(strs, dtype=object)
    resource = {"service.name": "crawler"}
    blob = encode_span_dataframe(columnar, {"i": "int", "s": "str"}, resource)

    doc = pdf_to_document(columnar, {}, resource)
    spans = doc["resourceSpans"][0]["scopeSpans"][0]["spans"]
    for k, span in enumerate(spans):
        span["attributes"] = {"i": ints[k], "s": strs[k]}
    m = trace_model()
    assert decode(blob, m) == decode(encode(doc, m), m)
