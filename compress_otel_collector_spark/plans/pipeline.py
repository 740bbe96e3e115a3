"""The flagship pipeline: parse → enrich → encode+compress → route → aggregate.

Spark-first equivalent of the reference collector pipeline (OTLP source →
batch → value-tree encode → zstd → HTTP route, SURVEY.md §3.1), recast for a
Common-Crawl-style pages table:

- **parse**: native regexp over the html bytes (Catalyst keeps codegen +
  column pruning).
- **enrich**: broadcast lang-lookup join (5-row dim — never a shuffle) +
  warc_ts day bucketing + host/route-bucket derivation.
- **encode**: ``mapInPandas`` — one wire blob per (lang, host_bucket) group
  per Arrow batch, dictionary pools scoped per blob exactly like the
  reference's per-``Encode()`` pools (encode.go:40-44). This is what makes
  the design shuffle-free at 100 TB: dictionaries are partition-local, so no
  global state, no extra shuffle, and pool hit-rate is maximized by routing
  the repartition on (lang, host_bucket) with a salt column to split the
  mega-host skew across tasks.
- **route**: fan-out sink partitioned by (lang, host_bucket); each blob row
  doubles as its own lineage record (n_spans, doc-id range, sha256, sizes).
  ``route_stage``, the sink's one writer, commits by dynamic partition
  overwrite: the commit protocol renames each staged route dir into place
  whole, so on HDFS or local disk a route dir is absent or complete —
  reruns resume without a manifest and never append a second copy. Not
  covered: a file deleted by hand from a committed route, and object
  stores without atomic directory rename (there the sink is Iceberg).
- **aggregate**: per-sink counts + compression-ratio metrics (the reference's
  size-comparison arms, trace.go:40-181: custom+zstd vs JSON+zstd vs gzip).

Scale notes (100 TB / 1000 executors): the only wide exchange is the single
``repartition(lang, host_bucket, salt)`` before encode — everything upstream
is narrow, the lookup join is broadcast, and the sink write is
partition-aligned with the shuffle so no second exchange happens. AQE can
coalesce small route partitions; the salt spreads a mega host over most
tasks once P > n_buckets (``encode_pages``).
"""

from __future__ import annotations

import hashlib
from typing import Iterator, Optional

import pandas as pd
import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..codec.batch import DEFAULT_SCOPE, encode_span_dataframe
from ..codec.definition import trace_model
from ..codec.otlp_proto import spans_columns_to_proto
from ..functions.columns import (
    extract_text_expr,
    host_bucket_expr,
    host_of_url_expr,
    salt_expr,
    span_columns_sql,
    warc_day_expr,
)
from ..sources.tables import _hadoop_fs, lang_lookup

ENCODED_SCHEMA = StructType([
    StructField("lang", StringType()),
    StructField("host_bucket", IntegerType()),
    StructField("part_id", IntegerType()),
    StructField("n_spans", LongType()),
    StructField("min_doc_id", LongType()),
    StructField("max_doc_id", LongType()),
    StructField("raw_bytes", LongType()),
    StructField("zstd_bytes", LongType()),
    StructField("gzip_bytes", LongType()),
    StructField("json_zstd_bytes", LongType()),
    StructField("proto_zstd_bytes", LongType()),
    StructField("arrow_zstd_bytes", LongType()),
    StructField("blob_sha256", StringType()),
    StructField("blob", BinaryType()),
])

#: every LINKS_EVERY-th page (by doc_id) carries one self-trace span link
LINKS_EVERY = 7


def parse_stage(pages: DataFrame) -> DataFrame:
    """Extract page text from the html bytes; keep rows that parse.

    The per-row invariant (BASELINE.json input_hint) is byte-identical
    extraction: ``text_extracted == text`` for every url — asserted by the
    ``parse_extract`` oracle query and tests, not silently assumed.
    """
    # url is the identity key of the whole pipeline (trace/span ids,
    # routing salt, dedup) — a crawl record without one is not a page.
    # null html → null extraction → dropped by the same predicate.
    return pages.where(F.col("url").isNotNull()).withColumn(
        "text_extracted", extract_text_expr("html")).where(
        F.col("text_extracted").isNotNull()
    )


def enrich_stage(df: DataFrame, spark: SparkSession,
                 n_buckets: int = 8) -> DataFrame:
    """Broadcast lookup enrich + routing keys. Unmatched langs keep nulls.
    ``host_bucket`` carries ``n_buckets`` as metadata for ``encode_pages``."""
    dim = F.broadcast(lang_lookup(spark))
    return (
        df.join(dim, on="lang", how="left")
        .withColumn("host", host_of_url_expr("url"))
        .withColumn("host_bucket", host_bucket_expr("host", n_buckets).alias(
            "host_bucket", metadata={"n_buckets": n_buckets}))
        .withColumn("warc_day", warc_day_expr("warc_ts"))
    )


def span_stage(df: DataFrame) -> DataFrame:
    """Project the OTel-shaped span columns (all JVM-side expressions).

    ``n_chars`` derives from ``text_extracted`` — what the parse actually
    produced — not the input's ``text`` column (identical on rows passing
    the byte-identical-extraction invariant, but only the former is
    guaranteed non-null after ``parse_stage``)."""
    keep = ["url", "lang", "host", "host_bucket", "warc_day", "doc_id"]
    return df.withColumn(
        "n_chars_pre", F.length(F.col("text_extracted")).cast("long")
    ).selectExpr(*keep, *span_columns_sql("n_chars_pre"))


def _hex_column(vals, width: int):
    """Vectorized bytes→hex for a column of fixed-width ids: one
    ``hexlify`` over the concatenated buffer + a numpy fixed-width view,
    instead of a Python ``.hex()`` call per row (r3 verdict #6 — the JSON
    arm's per-row hexing)."""
    import binascii

    import numpy as np

    return np.frombuffer(
        binascii.hexlify(b"".join(vals)), dtype=f"S{width * 2}"
    ).astype(f"U{width * 2}")


def _json_arm_bytes(spans: pd.DataFrame) -> bytes:
    """records-JSON marshal of the span frame (the JSON comparison arm,
    trace.go:95-105). orjson when available (~1.4× pandas ``to_json`` on
    this shape — arm byte counts shift <1% vs the pandas form, both are
    fidelity-equivalent records-JSON); the pandas path is the fallback
    and the semantic reference: hex ids (``""`` for an empty parent),
    NaN → null, and the ``event_*``/``link_*`` columns as
    OTLP-style ``events``/``links`` lists (hex link ids, null without)."""
    import numpy as np

    n = len(spans)
    col = {c: spans[c].to_numpy() for c in spans.columns}
    nested = {"events": [None] * n, "links": [None] * n}
    rows = np.flatnonzero(pd.notna(col["event_name"]))
    for i, t, nm, a, d in zip(
            rows.tolist(), col["event_time_ns"][rows].tolist(),
            col["event_name"][rows], col["event_attributes"][rows],
            col["event_dropped_attributes_count"][rows].tolist()):
        nested["events"][i] = [{"timeUnixNano": t, "name": nm,
                                "attributes": a, "droppedAttributesCount": d}]
    rows = np.flatnonzero(pd.notna(col["link_trace_id"]))
    for i, t, sp, st, a, d in zip(
            rows.tolist(),
            _hex_column(col["link_trace_id"][rows], 16).tolist(),
            _hex_column(col["link_span_id"][rows], 8).tolist(),
            col["link_trace_state"][rows], col["link_attributes"][rows],
            col["link_dropped_attributes_count"][rows].tolist()):
        nested["links"][i] = [{"traceId": t, "spanId": sp, "traceState": st,
                               "attributes": a, "droppedAttributesCount": d}]
    hex_tid = _hex_column(col["trace_id"], 16)
    hex_sid = _hex_column(col["span_id"], 8)
    # per row, not _hex_column: a root's parent is b"" and a child's is 8
    # bytes, so the joined buffer has no fixed width to split on
    hex_parent = [p.hex() if p else "" for p in col["parent_span_id"]]
    flat = [c for c in spans.columns if not c.startswith(("event_", "link_"))]
    try:
        import orjson
    except ImportError:
        json_view = spans[flat].assign(
            trace_id=hex_tid, span_id=hex_sid, parent_span_id=hex_parent,
            **nested)
        return json_view.to_json(orient="records").encode()
    cols: dict = {}
    for c in flat:
        if c == "trace_id":
            cols[c] = hex_tid.tolist()
        elif c == "span_id":
            cols[c] = hex_sid.tolist()
        elif c == "parent_span_id":
            cols[c] = hex_parent
        else:
            a = col[c]
            if a.dtype.kind == "f":
                # nullable ints arrive as float64 + NaN; orjson rejects NaN
                o = a.astype(object)
                o[np.isnan(a)] = None
                cols[c] = o.tolist()
            else:
                cols[c] = a.tolist()
    cols.update(nested)
    # compiled literal-dict row builder: a dict display with constant keys
    # (BUILD_CONST_KEY_MAP) is ~2× dict(zip()) per row, and this listcomp
    # was the arm's single largest component (same generated-code pattern
    # as plans/projector's walker). Bytes are identical — only how the
    # per-row dicts are constructed changes.
    names = list(cols)
    src = "lambda r: {" + ", ".join(
        f"{name!r}: r[{i}]" for i, name in enumerate(names)) + "}"
    make_rec = eval(src)  # noqa: S307 - constant keys from our own columns
    recs = list(map(make_rec, zip(*cols.values())))
    return orjson.dumps(recs)


def _group_spans_frame(g: pd.DataFrame, lang, bucket, events_every: int):
    """One route group → (span frame, attrs spec, resource attributes):
    the arguments of ``codec.batch.encode_span_dataframe``, also read by
    the comparison arms. Its own function so the no-JVM tests can encode
    exactly what ``_encode_batches`` encodes. Span-shape lockstep note
    (CLAUDE.md) applies here.

    Event and link columns (numpy, no per-row dicts): every
    ``events_every``-th page (0: none) has one "fetch" event 1 ms after
    its start, and every 20th page's event carries a NESTED attribute
    value (an object containing an array) so the free-map nested wire
    path (encode.go:520-597) runs at pipeline scale; every
    ``LINKS_EVERY``-th page links back to its own trace (spanId = tail 8
    bytes of the 16-byte trace id). Attribute cells share ONE dict per
    shape, never mutated downstream: the encoder's freeze memo and the
    proto arm's suffix cache are keyed by ``id()``.
    """
    import numpy as np

    n = len(g)
    doc_ids = g["doc_id"].to_numpy()
    trace_ids = g["trace_id"].to_numpy()
    cols = {
        c: g[c].to_numpy()
        for c in ("trace_id", "span_id", "parent_span_id",
                  "trace_state", "name", "kind", "start_ns",
                  "end_ns", "dropped_attributes_count",
                  "dropped_events_count", "dropped_links_count",
                  "status_message", "status_code")
    }
    # columnar attributes (no per-row dict building): the codec
    # encodes the free-map pool entries columnwise
    cols["attr:http.url"] = g["url"].to_numpy()
    cols["attr:http.status_code"] = np.full(n, 200)
    cols["attr:n_chars"] = g["n_chars"].to_numpy()
    attrs_spec = {
        "http.url": "str", "http.status_code": "int",
        "n_chars": "int",
    }
    resource = {"host.bucket": int(bucket)}
    # a null-lang group (unmatched routing key) simply omits the lang
    # attribute and service.name — free-map entries are absent, never
    # null (``expected_roundtrip``'s concat('crawler-', NULL) is NULL)
    if lang is not None and not pd.isna(lang):
        lang_col = np.empty(n, dtype=object)
        lang_col[:] = lang
        cols["attr:lang"] = lang_col
        attrs_spec["lang"] = "str"
        resource = {"service.name": f"crawler-{lang}", **resource}
    ev = (doc_ids % events_every == 0) if events_every else np.zeros(n, bool)
    nested = {"phase": "connect", "probe": {"ttl": 64, "hops": [1, 2]}}
    # int64 BEFORE the add: a float64 ns timestamp rounds at 256 ns
    cols["event_time_ns"] = np.where(
        ev, cols["start_ns"].astype(np.int64) + 1_000_000, 0)
    cols["event_name"] = np.where(ev, "fetch", None)
    cols["event_attributes"] = np.where(
        ev, np.where(doc_ids % 20 == 0, nested, {}), None)
    cols["event_dropped_attributes_count"] = np.zeros(n, np.int64)
    ln = doc_ids % LINKS_EVERY == 0
    cols["link_trace_id"] = np.where(ln, trace_ids, None)
    cols["link_span_id"] = np.full(n, None, dtype=object)
    cols["link_span_id"][ln] = [t[8:] for t in trace_ids[ln]]
    cols["link_trace_state"] = np.where(ln, "", None)
    cols["link_attributes"] = np.where(ln, {"rel": "prev"}, None)
    cols["link_dropped_attributes_count"] = np.zeros(n, np.int64)
    # ONE construction (r8): the former build-then-5×__setitem__ shape
    # paid a pandas block-manager consolidation per added column
    return pd.DataFrame(cols, copy=False), attrs_spec, resource


def _arm_sizes(spans: pd.DataFrame, lang, resource: dict, blob: bytes,
               zstd, gzip):
    """Comparison-arm byte counts for one group: (gzip, proto+zstd,
    json+zstd, arrow+zstd)."""
    import pyarrow as pa

    gz = len(gzip.compress(blob, asbytes=True))
    # protobuf arm — the reference's REAL comparison
    # (trace.go:41-67: ptrace ProtoMarshaler + zstd), full
    # fidelity incl. events/links/attributes. Column-driven
    # marshal (no per-row dicts); wire-equality with the
    # row marshaler is pinned by tests.
    lang_attr = (
        {} if lang is None or pd.isna(lang)
        else {"lang": lang})
    proto = spans_columns_to_proto(
        spans, const_attrs={"http.status_code": 200, **lang_attr},
        resource_attrs=resource, scope=DEFAULT_SCOPE)
    pz = len(zstd.compress(proto, asbytes=True))
    # JSON marshal arm (the reference's JSONMarshaler
    # comparison, trace.go:95-105): OTLP-JSON-style hex ids;
    # attr:* columns carry the attribute content; events and
    # links serialize too (full fidelity, like the codec)
    js = _json_arm_bytes(spans)
    jz = len(zstd.compress(js, asbytes=True))
    # binary columnar arm (stand-in for the proto arm,
    # trace.go:41-47): Arrow IPC stream + zstd. Direct
    # pa.array construction — from_pandas pays index and
    # pandas-metadata handling per group (measured 2.3× on
    # the table build, ~2× on the whole arm)
    sink = pa.BufferOutputStream()
    tbl = pa.table({
        c: pa.array(spans[c].to_numpy())
        for c in spans.columns
        if not c.startswith(("event_", "link_"))
    })
    with pa.ipc.new_stream(sink, tbl.schema) as w:
        w.write_table(tbl)
    az = len(zstd.compress(sink.getvalue(), asbytes=True))
    return gz, pz, jz, az


def _encode_batches(arms: bool, events_every: int = 10):
    """Returns the mapInPandas function: Arrow batch → one blob per group.

    Every ``events_every``-th page (by doc_id; 0 disables) gets one span
    event ("fetch", 1 ms after start, attributes on every 20th page) and
    every ``LINKS_EVERY``-th page one self-trace link — so the events and
    links wire paths run at pipeline scale, not only in codec unit tests.
    """

    def fn(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa
        from pyspark import TaskContext

        zstd = pa.Codec("zstd")
        # level 6 = Go's gzip.DefaultCompression, the reference's setting
        # (pgzip writer, trace.go:32-38); pyarrow's default is 9, which is
        # ~1.5x slower for ~0.3% size
        gzip = pa.Codec("gzip", compression_level=6)
        ctx = TaskContext.get()
        part_id = ctx.partitionId() if ctx is not None else -1
        for pdf in iterator:
            if not len(pdf):
                continue
            out = []
            for (lang, bucket), g in pdf.groupby(["lang", "host_bucket"],
                                                 sort=True, dropna=False):
                spans, attrs_spec, resource = _group_spans_frame(
                    g, lang, bucket, events_every)
                blob = encode_span_dataframe(spans, attrs_spec, resource)
                blob_z = zstd.compress(blob, asbytes=True)
                if arms:
                    gz, pz, jz, az = _arm_sizes(
                        spans, lang, resource, blob, zstd, gzip)
                else:
                    gz, jz, az, pz = -1, -1, -1, -1
                out.append({
                    "lang": lang,
                    "host_bucket": int(bucket),
                    "part_id": part_id,
                    "n_spans": len(g),
                    "min_doc_id": int(g["doc_id"].min()),
                    "max_doc_id": int(g["doc_id"].max()),
                    "raw_bytes": len(blob),
                    "zstd_bytes": len(blob_z),
                    "gzip_bytes": gz,
                    "json_zstd_bytes": jz,
                    "proto_zstd_bytes": pz,
                    "arrow_zstd_bytes": az,
                    "blob_sha256": hashlib.sha256(blob).hexdigest(),
                    "blob": blob_z,
                })
            if out:
                yield pd.DataFrame(out)

    return fn


def encode_pages(enriched: DataFrame, arms: bool = True,
                 events_every: int = 10) -> DataFrame:
    """Route-aligned repartition with a NARROW shuffle payload, then
    vectorized encode: the pipeline's one encode path.

    The exchange ships only ``(url, lang, host_bucket, doc_id, warc_ts,
    n_chars, salt)``, 31.4 B/row against 99.0 B/row for the derived span
    row (1M pages, stage metrics); the span columns are deterministic
    expressions of those and are derived after it, in the encode task.
    At 100 TB the single keyed exchange is the job's dominant IO.

    Salts: one while P (the session's ``spark.sql.shuffle.partitions``)
    ≤ the n_buckets ``enrich_stage`` recorded on ``host_bucket``, so a
    route's pages meet in one task, in one blob per Arrow batch; P beyond
    that, so a mega host spreads over most tasks. With many buckets and P
    at or under n_buckets a mega host's route is one task (ARCHITECTURE.md
    §exchange has the measurements). The layout is the session's: with
    AQE coalescing on it may merge the P partitions; a caller that pins
    the layout sets P with ``spark.sql.adaptive.coalescePartitions.enabled
    =false`` (``bench.make_spark``, perfbench's session). Pinned by
    ``tests/test_plans.py`` (derivation above the exchange, one shuffle)
    and the roundtrip tests and gate (``bench.py --gate``).
    """
    spans = _pre_encode_frame(enriched)
    return spans.mapInPandas(_encode_batches(arms, events_every),
                             schema=ENCODED_SCHEMA)


def _pre_encode_frame(enriched: DataFrame) -> DataFrame:
    """The frame ``encode_pages`` feeds to ``_encode_batches``: narrow
    exchange, group-cohesion sort, span derivation. Its columns (url,
    lang, host_bucket, doc_id and the ``span_columns_sql`` spans) are
    what ``_group_spans_frame`` reads per route group."""
    p = int(enriched.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_buckets = enriched.schema["host_bucket"].metadata["n_buckets"]
    narrow = enriched.select(
        "url", "lang", "host_bucket", "doc_id", "warc_ts",
        F.length(F.col("text_extracted")).cast("long").alias("n_chars_pre"),
        salt_expr("url", 1 if p <= n_buckets else p).alias("salt"),
    )
    routed = narrow.repartition("lang", "host_bucket", "salt")
    # group cohesion under AQE coalescing: the narrow payload makes map
    # output small enough that AQE merges many (lang,bucket,salt) hash
    # partitions into one reduce partition, interleaving groups across the
    # 20k-row Arrow batches — which fragments blobs and costs pool
    # amortization (measured +22% zstd bytes on the telemetry-repeats
    # shape). A cheap partition-local sort makes each group contiguous —
    # one blob per group per batch; no extra exchange
    # (sortWithinPartitions is narrow).
    routed = routed.sortWithinPartitions("lang", "host_bucket", "doc_id")
    return routed.selectExpr(
        "url", "lang", "host_bucket", "doc_id",
        *span_columns_sql("n_chars_pre"))


def route_stage(encoded: DataFrame, out_dir: str,
                batch_id: Optional[int] = None) -> None:
    """Fan-out sink and the only writer of ``routed/``: one partition dir
    per (lang, host_bucket) route, under a leading ``batch_id=`` dir for a
    streaming micro-batch.

    Dynamic partition overwrite: task output is staged under
    ``routed/.spark-staging-<job>/``, then ``commitJob`` deletes each route
    dir the write produced and renames its staged twin into place, one
    whole directory at a time; other routes are untouched. A route dir is
    thus absent or complete, a rewrite replaces it instead of appending,
    and a crash before the renames leaves only the dot-prefixed staging
    dir, which readers skip. Blob rows are the lineage records
    (``read_routed(...).drop("blob")``). Not covered: a file deleted by
    hand from a committed route, and object stores without atomic
    directory rename — there the sink is an Iceberg table, whose
    ``overwritePartitions`` commit gives the same guarantee.
    """
    keys = ("lang", "host_bucket")
    if batch_id is not None:
        encoded = encoded.withColumn("batch_id", F.lit(int(batch_id)))
        keys = ("batch_id",) + keys
    (encoded.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy(*keys)
     .parquet(f"{out_dir}/routed"))


def read_routed(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/routed")


def completed_sinks(spark: SparkSession, out_dir: str) -> Optional[DataFrame]:
    """Distinct (lang, host_bucket) routes already materialized, or None
    when the sink holds no data files yet (no ``routed/`` dir, or one an
    aborted first write left empty). Any other failure — an unreadable
    file, a permission error — raises: treating it as "no sink" would
    re-encode every route."""
    fs, path, _ = _hadoop_fs(spark, f"{out_dir}/routed")
    if not fs.exists(path):
        return None
    try:
        return read_routed(spark, out_dir).select(
            "lang", "host_bucket").distinct()
    except AnalysisException as e:
        if e.getCondition() == "UNABLE_TO_INFER_SCHEMA":
            return None
        raise


def aggregate_stage(encoded_or_routed: DataFrame) -> DataFrame:
    """Per-sink counts + compression-ratio metrics (the reference's
    size-comparison artifacts, trace.go:49-181, as one aggregation)."""
    return (
        encoded_or_routed.groupBy("lang", "host_bucket")
        .agg(
            F.sum("n_spans").alias("pages"),
            F.count("*").alias("blobs"),
            F.sum("raw_bytes").alias("raw_bytes"),
            F.sum("zstd_bytes").alias("zstd_bytes"),
            F.sum("gzip_bytes").alias("gzip_bytes"),
            F.sum("json_zstd_bytes").alias("json_zstd_bytes"),
            F.sum("proto_zstd_bytes").alias("proto_zstd_bytes"),
            F.sum("arrow_zstd_bytes").alias("arrow_zstd_bytes"),
            (F.sum("zstd_bytes") / F.sum("json_zstd_bytes"))
            .alias("zstd_vs_json_ratio"),
            (F.sum("zstd_bytes") / F.sum("proto_zstd_bytes"))
            .alias("zstd_vs_proto_ratio"),
        )
        .orderBy("lang", "host_bucket")
    )


#: every span field the reference's receiver rebuilds
#: (compress-otel-receiver/trace.go:61-187): ids, trace state, name/kind,
#: timestamps, status (message+code), dropped counts, attributes, events
#: (time/name/attributes), links (traceId/spanId/attributes), plus resource
#: attributes and scope name/version from the enclosing groups.
_ROUNDTRIP_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("lang", StringType()),
    StructField("trace_id_hex", StringType()),
    StructField("span_id_hex", StringType()),
    StructField("parent_span_id_hex", StringType()),
    StructField("trace_state", StringType()),
    StructField("name", StringType()),
    StructField("kind", LongType()),
    StructField("start_ns", LongType()),
    StructField("end_ns", LongType()),
    StructField("status_message", StringType()),
    StructField("status_code", LongType()),
    StructField("dropped_attributes_count", LongType()),
    StructField("dropped_events_count", LongType()),
    StructField("dropped_links_count", LongType()),
    StructField("http_status", LongType()),
    StructField("n_chars", LongType()),
    StructField("n_events", LongType()),
    StructField("event_name", StringType()),
    StructField("event_time_ns", LongType()),
    StructField("event_phase", StringType()),
    StructField("event_probe_ttl", LongType()),
    StructField("event_probe_hops", StringType()),
    StructField("n_links", LongType()),
    StructField("link_trace_hex", StringType()),
    StructField("link_span_hex", StringType()),
    StructField("link_rel", StringType()),
    StructField("service_name", StringType()),
    StructField("host_bucket_attr", LongType()),
    StructField("scope_name", StringType()),
    StructField("scope_version", StringType()),
])


def roundtrip_check(encoded: DataFrame) -> DataFrame:
    """Decode every blob back to full-fidelity span rows.

    Projects every field the reference receiver reconstructs
    (trace.go:61-187) — used by the one-job equality gate in
    ``roundtrip_counts`` and by tests via exceptAll.
    """
    model = trace_model()

    def fn(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pyarrow as pa

        from .projector import project_blob

        zstd = pa.Codec("zstd")
        for pdf in iterator:
            rows: list[tuple] = []
            for blob_z, raw_len in zip(pdf["blob"], pdf["raw_bytes"]):
                # fused token-walk projection with pre-projected pools
                # (plans/projector.py; generic tree path = project_doc,
                # equality pinned by tests/test_projector.py)
                rows.extend(project_blob(
                    zstd.decompress(bytes(blob_z),
                                    decompressed_size=int(raw_len)),
                    model,
                ))
            if rows:
                # column-wise with dtype=object: pd.DataFrame(rows) would
                # turn an int+None column into float64, rounding ns
                # timestamps at 256 ns (ints > 2^53)
                cols = tuple(zip(*rows))
                n = len(rows)
                out = {}
                for i, f in enumerate(_ROUNDTRIP_SCHEMA.fields):
                    a = np.empty(n, dtype=object)
                    a[:] = cols[i]
                    out[f.name] = a
                yield pd.DataFrame(out, copy=False)

    return encoded.mapInPandas(fn, schema=_ROUNDTRIP_SCHEMA)


def expected_roundtrip(spans: DataFrame, events_every: int = 10) -> DataFrame:
    """What ``roundtrip_check`` must return, derived pre-encode.

    Pure JVM expressions over the span stage applying the codec's documented
    null coercion (encode.go:600-614): nullable int 0 → null, nullable empty
    string → null. Column-for-column aligned with ``_ROUNDTRIP_SCHEMA``.
    """
    # ONE selectExpr call (r8): the Column-API form issued several
    # hundred py4j round trips to assemble these 31 expressions, ~0.5 s
    # of driver-side Python per invocation at any data size; the SQL
    # strings build the identical expression tree in a single call.
    ev = (f"(doc_id % {events_every} = 0)" if events_every else "false")
    lk = f"(doc_id % {LINKS_EVERY} = 0)"
    return spans.selectExpr(
        "url", "lang",
        "md5(url) AS trace_id_hex",
        "substring(md5(url), 1, 16) AS span_id_hex",
        "CAST(NULL AS STRING) AS parent_span_id_hex",  # empty bytes → null
        "CASE WHEN doc_id % 10 = 0 THEN 'cc=1' END AS trace_state",
        "name",
        "CASE WHEN doc_id % 6 = 0 THEN CAST(NULL AS BIGINT) "
        "ELSE CAST(doc_id % 6 AS BIGINT) END AS kind",
        "start_ns", "end_ns",
        "CASE WHEN doc_id % 4 = 0 THEN 'OK' END AS status_message",
        # non-nullable: 0 kept
        "CAST(doc_id % 3 AS BIGINT) AS status_code",
        "CAST(NULL AS BIGINT) AS dropped_attributes_count",
        "CAST(NULL AS BIGINT) AS dropped_events_count",
        "CASE WHEN doc_id % 2 = 1 THEN CAST(1 AS BIGINT) END "
        "AS dropped_links_count",
        "CAST(200 AS BIGINT) AS http_status",
        "n_chars",
        f"CAST(CASE WHEN {ev} THEN 1 ELSE 0 END AS BIGINT) AS n_events",
        f"CASE WHEN {ev} THEN 'fetch' END AS event_name",
        f"CASE WHEN {ev} THEN start_ns + 1000000 END AS event_time_ns",
        f"CASE WHEN {ev} AND doc_id % 20 = 0 THEN 'connect' END "
        "AS event_phase",
        # the nested free-map attribute (object-in-map with an int + an
        # int array): ttl and the joined hops list must survive the wire
        f"CASE WHEN {ev} AND doc_id % 20 = 0 THEN CAST(64 AS BIGINT) END "
        "AS event_probe_ttl",
        f"CASE WHEN {ev} AND doc_id % 20 = 0 THEN '1,2' END "
        "AS event_probe_hops",
        f"CAST(CASE WHEN {lk} THEN 1 ELSE 0 END AS BIGINT) AS n_links",
        f"CASE WHEN {lk} THEN md5(url) END AS link_trace_hex",
        f"CASE WHEN {lk} THEN substring(md5(url), 17, 16) END "
        "AS link_span_hex",
        f"CASE WHEN {lk} THEN 'prev' END AS link_rel",
        "concat('crawler-', lang) AS service_name",
        "CAST(host_bucket AS BIGINT) AS host_bucket_attr",
        "'compress-otel-collector-spark' AS scope_name",
        "'0.1.0' AS scope_version",
    )


def roundtrip_counts(decoded: DataFrame, expected: DataFrame,
                     exact: bool = False) -> DataFrame:
    """(decoded_spans, missing, extra) in ONE Spark job.

    Tag-union multiset difference: expected rows weigh +1, decoded rows -1;
    grouping on a per-row key and summing gives per-row-value imbalance, so
    missing = Σ max(d,0), extra = Σ max(-d,0), and the decoded count rides
    along in the same aggregate. Replaces the r1 shape (3 actions over an
    unpersisted encode lineage → the pipeline re-encoded 3×) — at 100 TB an
    unpersisted multi-action verification stage re-encodes the planet twice.

    Default key: a 128-bit row fingerprint (two independent ``xxhash64``
    streams over every column, each value prefixed with its null flag so a
    value sliding between adjacent columns changes the hash — Spark's hash
    functions skip nulls, which would otherwise make ``(x, null)`` collide
    with ``(null, x)``). Shuffling two longs instead of ~31 wide columns
    cut the 1M-page gate's compare stage from ~26 s to a few seconds, and
    at 100 TB a full-row verification shuffle is a non-starter. A false
    match needs a 128-bit collision between a specific wrong row and a
    specific expected row (~2⁻¹²⁸·pairs ≈ 10⁻²⁶ at 10¹² rows).
    ``exact=True`` keeps the full-column groupBy (the byte-for-byte form;
    tests pin that both modes agree on clean and corrupted inputs).
    """
    cols = decoded.columns
    if exact:
        key_cols = cols

        def tag(df):
            return df.select(*cols)
    else:
        # one selectExpr call (r8): the Column-API form built 124 input
        # expressions × 2 hashes via individual py4j round trips
        parts = ", ".join(
            f"CAST(isnull({c}) AS INT), {c}" for c in cols)
        key_cols = ["_h1", "_h2"]

        def tag(df):
            return df.selectExpr(
                f"xxhash64({parts}) AS _h1",
                f"xxhash64(-7, {parts}) AS _h2",
            )

    tagged = (
        tag(expected).withColumn("_w", F.lit(1))
        .unionByName(tag(decoded).withColumn("_w", F.lit(-1)))
    )
    per_value = tagged.groupBy(*key_cols).agg(
        F.sum("_w").alias("_d"),
        F.sum(F.when(F.col("_w") < 0, 1).otherwise(0)).alias("_dec"),
    )
    return per_value.agg(
        F.coalesce(F.sum("_dec"), F.lit(0)).cast("long")
        .alias("decoded_spans"),
        F.coalesce(F.sum(F.when(F.col("_d") > 0, F.col("_d")).otherwise(0)),
                   F.lit(0)).cast("long").alias("missing"),
        F.coalesce(F.sum(F.when(F.col("_d") < 0, -F.col("_d")).otherwise(0)),
                   F.lit(0)).cast("long").alias("extra"),
    )


def pin_bucket_layout(spark: SparkSession, out_dir: str,
                      n_buckets: int) -> None:
    """Pin the sink's bucket layout in ``_pipeline_meta.json``: record
    ``n_buckets`` on the first run, raise ``ValueError`` on a later run
    with a different value — resuming would silently split routes across
    two bucketings. Both the batch and the streaming entry point call it."""
    import json

    fs, path, jvm = _hadoop_fs(
        spark, f"{out_dir.rstrip('/')}/_pipeline_meta.json")
    if not fs.exists(path):
        out = fs.create(path, True)
        try:
            out.write(bytearray(json.dumps(
                {"n_buckets": n_buckets}).encode("utf-8")))
        finally:
            out.close()
        return
    stream = fs.open(path)
    try:
        prior = json.loads(bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)))
    finally:
        stream.close()
    if prior.get("n_buckets") != n_buckets:
        raise ValueError(
            f"sink at {out_dir} was written with n_buckets="
            f"{prior.get('n_buckets')}; resuming with n_buckets="
            f"{n_buckets} would mix bucket layouts — pass the original "
            "value or use a fresh output dir"
        )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 8,
    arms: bool = True,
    resume: bool = True,
) -> DataFrame:
    """End-to-end run; returns the per-sink aggregate DataFrame.

    ``resume=True`` skips (lang, host_bucket) routes whose partition dirs
    already exist — rerunning after a partial failure recomputes only the
    missing routes (per-partition lineage = the blob rows themselves). That
    is sound because ``route_stage`` renames each route dir into place
    whole, so an existing dir is complete; a file deleted by hand from one
    is not detected. ``resume=False`` replaces every route the input
    covers, never appending a copy. ``pin_bucket_layout`` refuses a
    different ``n_buckets``.
    """
    pin_bucket_layout(spark, out_dir, n_buckets)
    parsed = parse_stage(pages)
    enriched = enrich_stage(parsed, spark, n_buckets=n_buckets)
    if resume:
        done = completed_sinks(spark, out_dir)
        if done is not None:
            # null-safe: unmatched-lang rows route with lang = NULL; a plain
            # equality anti-join would never match them against completed
            # routes and re-encode them on every resume.
            cond = (
                enriched["lang"].eqNullSafe(done["lang"])
                & enriched["host_bucket"].eqNullSafe(done["host_bucket"])
            )
            enriched = enriched.join(F.broadcast(done), cond, "left_anti")
    encoded = encode_pages(enriched, arms=arms)
    route_stage(encoded, out_dir)
    return aggregate_stage(read_routed(spark, out_dir))
