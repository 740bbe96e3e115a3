"""Reusable Column expressions for the pages pipeline.

Everything here is JVM-side (``pyspark.sql.functions`` or SQL strings) so
Catalyst keeps whole-stage codegen and pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

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


def span_columns_sql(n_chars_col: str) -> list[str]:
    """The OTel-shaped span columns of a parsed page row, as ``selectExpr``
    strings — the one span-column definition (it changes in lockstep with
    ``plans.pipeline._group_spans_frame``,
    ``plans.pipeline.expected_roundtrip`` and ``plans.projector``). SQL
    strings build the projection in one py4j call; Column-API construction
    (~50 round trips) was a measurable share of every pipeline query's wall
    (r8).

    Deterministic functions of (url, doc_id, warc_ts, ``n_chars_col``),
    where ``n_chars_col`` names a precomputed ``length(text)`` long column:
    trace_id = md5(url) (16B), span_id = first 8B, parent empty (→ null-
    coerced), timestamps in unix-nanos (reference keeps them as integers,
    model/trace.json:108-117). Dirty-data guards (10^12-page corpus): a
    null warc_ts or null n_chars must not surface as a null in the codec's
    NON-nullable startTimeUnixNano/endTimeUnixNano/n_chars fields — that
    fails the whole task in the encoder's type check. Epoch 0 / length 0
    are the explicit "unknown" sentinels.
    """
    nc = f"coalesce({n_chars_col}, CAST(0 AS BIGINT))"
    start = "coalesce(unix_micros(warc_ts) * 1000, CAST(0 AS BIGINT))"
    return [
        "unhex(md5(url)) AS trace_id",
        "unhex(substring(md5(url), 1, 16)) AS span_id",
        "unhex('') AS parent_span_id",
        "CASE WHEN doc_id % 10 = 0 THEN 'cc=1' ELSE '' END AS trace_state",
        "concat('GET /p', CAST(doc_id % 20 AS STRING)) AS name",
        "CAST(doc_id % 6 AS BIGINT) AS kind",
        f"{start} AS start_ns",
        f"{start} + {nc} * 1000000 AS end_ns",
        "CAST(0 AS BIGINT) AS dropped_attributes_count",
        "CAST(0 AS BIGINT) AS dropped_events_count",
        "CAST(doc_id % 2 AS BIGINT) AS dropped_links_count",
        "CASE WHEN doc_id % 4 = 0 THEN 'OK' ELSE '' END AS status_message",
        "CAST(doc_id % 3 AS BIGINT) AS status_code",
        f"{nc} AS n_chars",
    ]
