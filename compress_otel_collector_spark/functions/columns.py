"""Reusable Column expressions for the pages pipeline, and ``SPAN_SHAPE``,
the one statement of the span shape: the span frame the encoder reads and
the values the round-trip gate expects are both generated from it, so it
changes in lockstep with ``plans.projector`` alone.

Everything here is JVM-side (``pyspark.sql.functions`` or SQL strings) so
Catalyst keeps whole-stage codegen and pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..codec.definition import (
    BYTES,
    INTEGER,
    STRING,
    field_path_to_definition,
    trace_model,
)

#: the grok/regex that recovers the page text from the html bytes.
#: (?s) lets the text span newlines; non-greedy up to the closing tag.
TEXT_RE = r"(?s)<p>(.*?)</p>"


def extract_text_expr(html_col: str = "html") -> Column:
    """Native parse: html binary → UTF-8 → regex group 1 (byte-identical).

    ``make_valid_utf8`` instead of strict ``decode``: at 10^12 crawled
    pages malformed UTF-8 is a certainty, and strict decode fails the
    whole TASK on one bad page (MALFORMED_CHARACTER_CODING). Invalid
    sequences become U+FFFD and valid input is untouched, so the
    byte-identical invariant holds everywhere it can.
    """
    return F.regexp_extract(
        F.make_valid_utf8(F.col(html_col).cast("string")), TEXT_RE, 1)


def host_of_url_expr(url_col: str = "url") -> Column:
    return F.regexp_extract(F.col(url_col), r"^https?://([^/]+)/", 1)


def host_bucket_expr(host_col: str = "host", n_buckets: int = 8) -> Column:
    """Stable route bucket: first 32 bits of md5(host), mod n_buckets.

    md5-derived (not xxhash64) for two reasons: buckets survive cluster
    resizes (unlike hashpartitioning's seed-dependent layout), and md5 is
    bit-identical in DuckDB, so the production bucket function itself is
    oracle-verified (HOST_BUCKET_SQL is the lockstep twin)."""
    return F.pmod(
        F.conv(F.substring(F.md5(F.col(host_col)), 1, 8), 16, 10)
        .cast("long"),
        F.lit(n_buckets),
    ).cast("int")


#: DuckDB-SQL twin of host_bucket_expr — keep in lockstep (oracle parity)
HOST_BUCKET_SQL = (
    "CAST(CAST('0x' || substr(md5({host}), 1, 8) AS BIGINT) "
    "% {n} AS INT)"
)


def salt_expr(url_col: str, n: int) -> Column:
    """Skew salt: splits a mega-host's route bucket across ``n`` shuffle
    partitions while keeping (lang, host_bucket) routing intact."""
    return F.pmod(F.xxhash64(F.col(url_col)), F.lit(n)).cast("int")


def warc_day_expr(ts_col: str = "warc_ts") -> Column:
    return F.date_trunc("day", F.col(ts_col)).cast("date")


#: every EVENTS_EVERY-th page (by doc_id) has one "fetch" event 1 ms after
#: its start; every LINKS_EVERY-th page links back to its own trace
EVENTS_EVERY = 10
LINKS_EVERY = 7

#: the event and link attribute maps, indexed by the frame's
#: ``event_attributes`` / ``link_attributes`` code (0: no event, no link).
#: Every 20th page's event carries a NESTED value (an object holding an
#: array), so the free-map nested wire path (encode.go:520-597) runs at
#: pipeline scale. One object per map, never mutated: the codec's freeze
#: memo and the proto arm's suffix cache key them by ``id()``.
EVENT_ATTRIBUTES = (
    None, {}, {"phase": "connect", "probe": {"ttl": 64, "hops": [1, 2]}})
LINK_ATTRIBUTES = (None, {"rel": "prev"})

_ZERO = "CAST(0 AS BIGINT)"
_START = f"coalesce(unix_micros(warc_ts) * 1000, {_ZERO})"
_N_CHARS = f"coalesce({{n_chars}}, {_ZERO})"
_EVENT = f"doc_id % {EVENTS_EVERY} = 0"
_LINK = f"doc_id % {LINKS_EVERY} = 0"

#: The span shape: span-frame column → (SQL over the page row, the
#: trace-model field under a span whose flags give its ``roundtrip_sql``;
#: None for the ``attr:n_chars`` attribute value). Dirty-data guards
#: (10^12-page corpus): a null warc_ts or n_chars must not reach the
#: codec's NON-nullable start/end/n_chars fields, whose type check would
#: fail the whole task, so epoch 0 and length 0 mean unknown.
SPAN_SHAPE = {
    "trace_id": ("unhex(md5(url))", "traceId"),
    "span_id": ("unhex(substring(md5(url), 1, 16))", "spanId"),
    "parent_span_id": ("unhex('')", "parentSpanId"),
    "trace_state": ("CASE WHEN doc_id % 10 = 0 THEN 'cc=1' ELSE '' END",
                    "traceState"),
    "name": ("concat('GET /p', CAST(doc_id % 20 AS STRING))", "name"),
    "kind": ("CAST(doc_id % 6 AS BIGINT)", "kind"),
    "start_ns": (_START, "startTimeUnixNano"),
    "end_ns": (f"{_START} + {_N_CHARS} * 1000000", "endTimeUnixNano"),
    "dropped_attributes_count": (_ZERO, "droppedAttributesCount"),
    "dropped_events_count": (_ZERO, "droppedEventsCount"),
    "dropped_links_count": ("CAST(doc_id % 2 AS BIGINT)", "droppedLinksCount"),
    "status_message": ("CASE WHEN doc_id % 4 = 0 THEN 'OK' ELSE '' END",
                       "status message"),
    "status_code": ("CAST(doc_id % 3 AS BIGINT)", "status code"),
    "n_chars": (_N_CHARS, None),
    "event_time_ns": (
        f"CASE WHEN {_EVENT} THEN {_START} + 1000000 ELSE {_ZERO} END",
        "events item timeUnixNano"),
    "event_name": (f"CASE WHEN {_EVENT} THEN 'fetch' END",
                   "events item name"),
    "event_attributes": (
        f"CASE WHEN {_EVENT} THEN IF(doc_id % 20 = 0, 2, 1) ELSE 0 END",
        "events item attributes"),
    "event_dropped_attributes_count": (
        _ZERO, "events item droppedAttributesCount"),
    "link_trace_id": (f"CASE WHEN {_LINK} THEN unhex(md5(url)) END",
                      "links item traceId"),
    "link_span_id": (
        f"CASE WHEN {_LINK} THEN unhex(substring(md5(url), 17, 16)) END",
        "links item spanId"),
    "link_trace_state": (f"CASE WHEN {_LINK} THEN '' END",
                         "links item traceState"),
    "link_attributes": (f"CASE WHEN {_LINK} THEN 1 ELSE 0 END",
                        "links item attributes"),
    "link_dropped_attributes_count": (
        _ZERO, "links item droppedAttributesCount"),
}


def span_columns_sql(n_chars_col: str) -> list[str]:
    """``SPAN_SHAPE`` as ``selectExpr`` strings (one py4j call; building
    Column objects cost ~50 round trips per query, r8), ``n_chars_col``
    naming a precomputed ``length(text)`` long column. The attribute codes
    are never null: a nullable int would reach pandas as float64."""
    return [f"{sql.format(n_chars=n_chars_col)} AS {col}"
            for col, (sql, _) in SPAN_SHAPE.items()]


def roundtrip_sql(column: str) -> tuple[str, str]:
    """(SQL type, SQL) of the value ``column`` decodes to, over a
    ``SPAN_SHAPE`` row: its field's null coercion (encode.go:600-614), and
    ids in the projector's lower-case hex."""
    _, field = SPAN_SHAPE[column]
    d = field_path_to_definition(
        f"resourceSpans item scopeSpans item spans item {field}",
        trace_model())
    if d.type == BYTES:
        return "string", f"NULLIF(lower(hex({column})), '')"
    sql_type, zero = {STRING: ("string", "''"), INTEGER: ("bigint", "0")}[
        d.type]
    return sql_type, f"NULLIF({column}, {zero})" if d.nullable else column
