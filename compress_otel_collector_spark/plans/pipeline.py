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
  ``run_pipeline`` sums the lineage rows its route write observed, on the
  driver, like the reference reports the batch it just sent; it never
  re-reads the sink it wrote.

Scale notes (100 TB / 1000 executors): the only wide exchange is the single
``repartition(lang, host_bucket, salt)`` before encode — everything upstream
is narrow, the lookup join is broadcast, and the sink write is
partition-aligned with the shuffle so no second exchange happens. AQE can
coalesce small route partitions; the salt spreads a mega host over most
tasks once P > n_buckets (``encode_pages``).
"""

from __future__ import annotations

import hashlib
import os
import sys
import zipimport
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..codec.batch import DEFAULT_SCOPE, SPAN_COLUMNS, encode_span_dataframe
from ..codec.definition import trace_model
from ..codec.otlp_proto import spans_columns_to_proto
from ..functions.columns import (
    EVENT_ATTRIBUTES,
    LINK_ATTRIBUTES,
    extract_text_expr,
    host_bucket_expr,
    host_of_url_expr,
    roundtrip_sql,
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
    StructField("blob_sha256", StringType()),
    StructField("blob", BinaryType()),
])


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

    return np.frombuffer(
        binascii.hexlify(b"".join(vals)), dtype=f"S{width * 2}"
    ).astype(f"U{width * 2}")


def _json_arm_bytes(spans: pd.DataFrame) -> bytes:
    """records-JSON marshal of the span frame (the JSON comparison arm,
    trace.go:95-105), one orjson ``dumps`` of per-row dicts: hex ids
    (``""`` for an empty parent), NaN → null, and the
    ``event_*``/``link_*`` columns as OTLP-style ``events``/``links``
    lists (hex link ids, null without). orjson is a hard dependency, so
    ``json_zstd_bytes`` is the same wherever the arm runs."""
    import orjson

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
    flat = [c for c in spans.columns if c not in _NESTED]
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


_EVENT_MAPS = np.array(EVENT_ATTRIBUTES, dtype=object)
_LINK_MAPS = np.array(LINK_ATTRIBUTES, dtype=object)
_NESTED = tuple(c for c in SPAN_COLUMNS if c.startswith(("event_", "link_")))


def _group_spans_frame(g: pd.DataFrame, lang, bucket):
    """One route group → (span frame, attrs spec, resource attributes):
    the arguments of ``codec.batch.encode_span_dataframe``, also read by
    the comparison arms. Its own function so the no-JVM tests can encode
    exactly what ``_encode_batches`` encodes.

    The span columns arrive derived (``functions.columns.SPAN_SHAPE``);
    one take turns each attribute code into its shared map, the one object
    the ``id()``-keyed freeze memo and proto suffix cache expect. The
    column order is the JSON arm's record layout, which its bytes follow.
    """
    n = len(g)
    cols = {c: g[c].to_numpy() for c in SPAN_COLUMNS if c not in _NESTED}
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
    cols.update((c, g[c].to_numpy()) for c in _NESTED)
    cols["event_attributes"] = _EVENT_MAPS.take(cols["event_attributes"])
    cols["link_attributes"] = _LINK_MAPS.take(cols["link_attributes"])
    # ONE construction (r8): the former build-then-5×__setitem__ shape
    # paid a pandas block-manager consolidation per added column
    return pd.DataFrame(cols, copy=False), attrs_spec, resource


def _arm_sizes(spans: pd.DataFrame, lang, resource: dict, blob: bytes,
               zstd, gzip):
    """Comparison-arm byte counts for one group: (gzip, proto+zstd,
    json+zstd)."""
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
    return gz, pz, jz


def _share_zip_directory_reads() -> None:
    """Idempotent, process-wide: pyspark's worker runs
    ``importlib.invalidate_caches()`` before every task, and before Python
    3.13 each of the 14–16 zipimporters over ``pyspark.zip`` and the py4j
    zip then re-parses its archive (150–270 ms of worker CPU per task).
    Patched, an archive whose (mtime_ns, size, inode) equals the last
    read's keeps its cached directory; a changed one (a new ``--py-files``
    zip) is re-read, the stdlib ``FileFinder``'s mtime convention. Delete
    once executors run 3.13, whose ``invalidate_caches`` only drops the
    cache entry."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(reread, "shares_reads"):
        return
    last_read: dict = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return reread(self)
        sig = (st.st_mtime_ns, st.st_size, st.st_ino)
        cache = zipimport._zip_directory_cache
        if last_read.get(self.archive) == sig and self.archive in cache:
            self._files = cache[self.archive]
        else:
            reread(self)
            last_read[self.archive] = sig

    invalidate_caches.shares_reads = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _encode_batches(arms: bool):
    """Returns the mapInPandas function: Arrow batch → one blob per group.
    The frame carries ``SPAN_SHAPE``'s events and links, so those wire
    paths run at pipeline scale, not only in codec unit tests."""

    def fn(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        _share_zip_directory_reads()
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
                    g, lang, bucket)
                blob = encode_span_dataframe(spans, attrs_spec, resource)
                blob_z = zstd.compress(blob, asbytes=True)
                if arms:
                    gz, pz, jz = _arm_sizes(
                        spans, lang, resource, blob, zstd, gzip)
                else:
                    gz, pz, jz = -1, -1, -1
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
                    "blob_sha256": hashlib.sha256(blob).hexdigest(),
                    "blob": blob_z,
                })
            if out:
                yield pd.DataFrame(out)

    return fn


def encode_pages(enriched: DataFrame, arms: bool = True) -> DataFrame:
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
    return spans.mapInPandas(_encode_batches(arms), schema=ENCODED_SCHEMA)


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
    """The sink's blob rows, read with ``ENCODED_SCHEMA`` given, so no job
    reads parquet footers to infer it. Partition discovery still finds the
    route keys and a streaming sink's ``batch_id``; the columns and their
    order are those of an inferring read. An empty ``routed/`` dir reads
    as no rows."""
    return spark.read.schema(ENCODED_SCHEMA).parquet(f"{out_dir}/routed")


#: one blob row's lineage record: every ``ENCODED_SCHEMA`` column but the
#: blob (``route_stage``'s docstring)
LINEAGE_SCHEMA = StructType(
    [f for f in ENCODED_SCHEMA.fields if f.name != "blob"])
LINEAGE_ARROW_SCHEMA = to_arrow_schema(LINEAGE_SCHEMA)

#: the per-route sums, (output column, lineage column), that
#: ``aggregate_stage`` and ``run_pipeline``'s driver totals both build.
#: A sum counts only values ≥ 0: an arms-off blob carries −1 in every arm
#: column, so a route with no arm sums, and divides, to NULL.
ROUTE_SUMS = (
    ("pages", "n_spans"),
    ("raw_bytes", "raw_bytes"),
    ("zstd_bytes", "zstd_bytes"),
    ("gzip_bytes", "gzip_bytes"),
    ("json_zstd_bytes", "json_zstd_bytes"),
    ("proto_zstd_bytes", "proto_zstd_bytes"),
)
#: (output column, summed arm): ``zstd_bytes`` over that arm's bytes
ROUTE_RATIOS = (
    ("zstd_vs_json_ratio", "json_zstd_bytes"),
    ("zstd_vs_proto_ratio", "proto_zstd_bytes"),
)
ROUTE_KEYS = ["lang", "host_bucket"]

#: what ``aggregate_stage`` returns, one row per route
AGGREGATE_SCHEMA = StructType(
    [LINEAGE_SCHEMA[k] for k in ROUTE_KEYS]
    + [StructField("pages", LongType()),
       StructField("blobs", LongType(), nullable=False)]
    + [StructField(out, LongType()) for out, _ in ROUTE_SUMS[1:]]
    + [StructField(out, DoubleType()) for out, _ in ROUTE_RATIOS])


def prior_lineage(spark: SparkSession, out_dir: str) -> Optional[pa.Table]:
    """The lineage rows of every blob already in the sink, or None when
    there is no ``routed/`` dir. Read with the schema given, so a dir an
    aborted first write left empty reads as no rows. Any other failure —
    an unreadable file, a permission error — raises: treating it as "no
    sink" would re-encode every route."""
    fs, path, _ = _hadoop_fs(spark, f"{out_dir}/routed")
    if not fs.exists(path):
        return None
    return (spark.read.schema(LINEAGE_SCHEMA).parquet(f"{out_dir}/routed")
            .select(*LINEAGE_SCHEMA.fieldNames()).toArrow()
            .cast(LINEAGE_ARROW_SCHEMA))


def aggregate_stage(encoded_or_routed: DataFrame) -> DataFrame:
    """Per-sink counts + compression-ratio metrics (the reference's
    size-comparison artifacts, trace.go:49-181, as one aggregation)."""
    def summed(c):
        return F.sum(F.when(F.col(c) >= 0, F.col(c)))

    sums = [summed(src).alias(out) for out, src in ROUTE_SUMS]
    return (
        encoded_or_routed.groupBy(*ROUTE_KEYS)
        .agg(sums[0], F.count("*").alias("blobs"), *sums[1:],
             *[(summed("zstd_bytes") / summed(arm)).alias(out)
               for out, arm in ROUTE_RATIOS])
        .orderBy(*ROUTE_KEYS)
    )


def route_totals(lineage: pa.Table) -> pa.Table:
    """``aggregate_stage`` on the driver: lineage rows → one row per
    route in ``AGGREGATE_SCHEMA``, sorted like it (nulls first)."""
    import pyarrow.compute as pc

    cols = {k: lineage[k] for k in ROUTE_KEYS}
    for out, src in ROUTE_SUMS:
        c = lineage[src]
        cols[out] = pc.if_else(pc.greater_equal(c, 0), c, None)
    g = pa.table(cols).group_by(ROUTE_KEYS).aggregate(
        [(out, "sum") for out, _ in ROUTE_SUMS] + [([], "count_all")])
    out = {k: g[k] for k in ROUTE_KEYS}
    out["pages"] = g["pages_sum"]
    out["blobs"] = g["count_all"]
    for name, _ in ROUTE_SUMS[1:]:
        out[name] = g[f"{name}_sum"]
    for name, arm in ROUTE_RATIOS:
        out[name] = pc.divide(pc.cast(g["zstd_bytes_sum"], pa.float64()),
                              pc.cast(g[f"{arm}_sum"], pa.float64()))
    return pa.table(out).sort_by([(k, "ascending") for k in ROUTE_KEYS],
                                 null_placement="at_start")


def _by_code(column: str, maps, *path) -> str:
    """SQL: the value at ``path`` in the map ``column``'s code picks, NULL
    where there is none; a list as its items joined by ',' (as the
    projector joins them). A str's or int's ``repr`` is its SQL literal."""
    whens = []
    for code, v in enumerate(maps):
        for key in path:
            v = (v or {}).get(key)
        if isinstance(v, list):
            v = ",".join(map(str, v))
        if v is not None:
            whens.append(f"WHEN {code} THEN {v!r}")
    return f"CASE {column} {' '.join(whens)} END"


_EV = ("event_attributes", EVENT_ATTRIBUTES)

#: every span field the reference's receiver rebuilds (trace.go:61-187),
#: in ``plans.projector``'s tuple order: (column, SQL type, value over a
#: ``span_stage`` row). A span-frame column's value is its
#: ``roundtrip_sql``; the rest come from the page's attributes, the
#: shared attribute maps, and the group's resource and scope.
_ROUNDTRIP = (
    ("url", "string", "url"),
    ("lang", "string", "lang"),
    *((f"{c}_hex", *roundtrip_sql(c))
      for c in ("trace_id", "span_id", "parent_span_id")),
    *((c, *roundtrip_sql(c)) for c in (
        "trace_state", "name", "kind", "start_ns", "end_ns",
        "status_message", "status_code", "dropped_attributes_count",
        "dropped_events_count", "dropped_links_count")),
    ("http_status", "bigint", "200"),
    ("n_chars", "bigint", "n_chars"),
    ("n_events", "bigint", "event_name IS NOT NULL"),
    *((c, *roundtrip_sql(c)) for c in ("event_name", "event_time_ns")),
    ("event_phase", "string", _by_code(*_EV, "phase")),
    ("event_probe_ttl", "bigint", _by_code(*_EV, "probe", "ttl")),
    ("event_probe_hops", "string", _by_code(*_EV, "probe", "hops")),
    ("n_links", "bigint", "link_trace_id IS NOT NULL"),
    ("link_trace_hex", *roundtrip_sql("link_trace_id")),
    ("link_span_hex", *roundtrip_sql("link_span_id")),
    ("link_rel", "string",
     _by_code("link_attributes", LINK_ATTRIBUTES, "rel")),
    # a null-lang group has no service.name: concat(.., NULL) is NULL
    ("service_name", "string", "concat('crawler-', lang)"),
    ("host_bucket_attr", "bigint", "host_bucket"),
    ("scope_name", "string", repr(DEFAULT_SCOPE["name"])),
    ("scope_version", "string", repr(DEFAULT_SCOPE["version"])),
)
_ROUNDTRIP_SCHEMA = StructType([
    StructField(c, {"string": StringType(), "bigint": LongType()}[t])
    for c, t, _ in _ROUNDTRIP])
_ROUNDTRIP_ARROW_SCHEMA = to_arrow_schema(_ROUNDTRIP_SCHEMA)


def roundtrip_check(encoded: DataFrame) -> DataFrame:
    """Decode every blob back to full-fidelity span rows.

    Projects every field the reference receiver reconstructs
    (trace.go:61-187) — used by the equality gate in ``roundtrip_counts``
    and by tests via exceptAll. Only ``blob`` and ``raw_bytes`` cross to
    Python, and the rows come back as Arrow record batches built column
    by column; int64 columns keep ns timestamps exact.
    """
    model = trace_model()

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        _share_zip_directory_reads()
        import pyarrow as pa

        from .projector import project_blob

        zstd = pa.Codec("zstd")
        for batch in batches:
            rows: list[tuple] = []
            for blob_z, raw_len in zip(batch.column(0).to_pylist(),
                                       batch.column(1).to_pylist()):
                # fused token-walk projection with pre-projected pools
                # (plans/projector.py; generic tree path = project_doc,
                # equality pinned by tests/test_projector.py)
                rows.extend(project_blob(
                    zstd.decompress(blob_z, decompressed_size=raw_len),
                    model,
                ))
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(col, type=f.type)
                     for col, f in zip(zip(*rows), _ROUNDTRIP_ARROW_SCHEMA)],
                    schema=_ROUNDTRIP_ARROW_SCHEMA)

    return encoded.select("blob", "raw_bytes").mapInArrow(
        fn, schema=_ROUNDTRIP_SCHEMA)


def expected_roundtrip(spans: DataFrame) -> DataFrame:
    """What ``roundtrip_check`` must return, derived pre-encode:
    ``_ROUNDTRIP`` over the span stage, each value cast to its schema
    type, in one ``selectExpr`` (the Column-API form cost ~0.5 s of py4j
    calls, r8)."""
    return spans.selectExpr(
        *(f"CAST({sql} AS {t}) AS {c}" for c, t, sql in _ROUNDTRIP))


def roundtrip_counts(decoded: DataFrame, expected: DataFrame,
                     exact: bool = False) -> DataFrame:
    """(decoded_spans, missing, extra) as a one-row frame. Eager: the
    phase-1 job runs when this is called.

    Expected rows weigh +1 and decoded rows −1. Each row gets a 128-bit
    fingerprint: two independent ``xxhash64`` streams over every column,
    each value prefixed with its null flag so a value sliding between
    adjacent columns changes the hash (Spark's hash functions skip nulls,
    which would otherwise make ``(x, null)`` collide with ``(null, x)``).

    Phase 1 is one global aggregate: the decoded count, Σw, and Σw·h for
    both streams, each hash cast to ``DECIMAL(38,0)`` so the sums are
    exact (Spark 4 runs ANSI mode, where a long sum raises on overflow;
    38 digits hold 10¹⁹ rows of 2⁶³). Partial aggregation runs map-side,
    so the shuffle is one row per task. When all three sums are 0 the
    multisets agree, and the result is a literal frame on the JVM side.
    A false "equal" needs Σ cᵢ·h(xᵢ) = 0 in ℤ for both independent 64-bit
    streams at once (cᵢ the imbalance of row value xᵢ): about 2⁻¹²⁸ for
    any corruption.

    Phase 2 runs only when phase 1 differs: ``_row_diff``, the tag-union
    multiset diff grouped on the fingerprint, gives exact ``missing`` and
    ``extra``. There a false match needs a 128-bit collision between a
    specific wrong row and a specific expected row (~2⁻¹²⁸·pairs ≈ 10⁻²⁶
    at 10¹² rows). ``exact=True`` skips phase 1 and groups on the full
    columns (the byte-for-byte form; tests pin that both modes agree on
    clean and corrupted inputs).
    """
    cols = decoded.columns
    if exact:
        keys = cols
    else:
        # one selectExpr per side (r8): the Column-API form built 124
        # input expressions × 2 hashes via individual py4j round trips
        parts = ", ".join(f"CAST(isnull({c}) AS INT), {c}" for c in cols)
        keys = [f"xxhash64({parts}) AS _h1", f"xxhash64(-7, {parts}) AS _h2"]
    tagged = (expected.selectExpr(*keys, "1 AS _w")
              .unionByName(decoded.selectExpr(*keys, "-1 AS _w")))
    if not exact:
        n, *sums = tagged.agg(
            F.expr("count_if(_w < 0)"), F.sum("_w"),
            *(F.expr(f"sum(CAST({h} AS DECIMAL(38,0)) * _w)")
              for h in ("_h1", "_h2"))).first()
        if not any(sums):
            return decoded.sparkSession.sql(
                f"SELECT CAST({n} AS BIGINT) AS decoded_spans, "
                "CAST(0 AS BIGINT) AS missing, CAST(0 AS BIGINT) AS extra")
    return _row_diff(tagged)


def _row_diff(tagged: DataFrame) -> DataFrame:
    """(decoded_spans, missing, extra) of rows tagged ``_w`` = +1
    (expected) or −1 (decoded): grouped on every other column, a row
    value's imbalance d gives missing = Σ max(d, 0) and
    extra = Σ max(−d, 0)."""
    per_value = tagged.groupBy(
        *[c for c in tagged.columns if c != "_w"]).agg(
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

    The totals are ``aggregate_stage`` of the sink as the run leaves it,
    computed without reading it back: the route write observes each
    blob's lineage row, and the driver sums those per route
    (``route_totals``), together with the rows of prior routes this run
    did not rewrite. Those come from the one read of the prior sink's
    lineage that also gives resume its completed routes; on a fresh sink
    no Spark job runs after the write. The result is a snapshot of
    values (a local relation), not a scan of the sink. Driver memory
    grows with blobs, not pages: about 150 B per lineage row, 273 rows
    at 1M pages.
    """
    pin_bucket_layout(spark, out_dir, n_buckets)
    parsed = parse_stage(pages)
    enriched = enrich_stage(parsed, spark, n_buckets=n_buckets)
    prior = prior_lineage(spark, out_dir)
    if resume and prior is not None and prior.num_rows:
        done = spark.createDataFrame(
            prior.group_by(ROUTE_KEYS).aggregate([]),
            StructType([LINEAGE_SCHEMA[k] for k in ROUTE_KEYS]))
        # null-safe: unmatched-lang rows route with lang = NULL; a plain
        # equality anti-join would never match them against completed
        # routes and re-encode them on every resume.
        cond = (
            enriched["lang"].eqNullSafe(done["lang"])
            & enriched["host_bucket"].eqNullSafe(done["host_bucket"])
        )
        enriched = enriched.join(F.broadcast(done), cond, "left_anti")
    seen = Observation()
    route_stage(encode_pages(enriched, arms=arms).observe(
        seen, F.collect_list(F.struct(*LINEAGE_SCHEMA.fieldNames()))
        .alias("lineage")), out_dir)
    rows = pa.Table.from_pylist(
        [r.asDict() for r in seen.get["lineage"]],
        schema=LINEAGE_ARROW_SCHEMA)
    if prior is not None:
        def routes(t):
            return zip(t["lang"].to_pylist(), t["host_bucket"].to_pylist())

        rewritten = set(routes(rows))
        kept = pa.array([r not in rewritten for r in routes(prior)],
                        pa.bool_())
        rows = pa.concat_tables([rows, prior.filter(kept)])
    return spark.createDataFrame(route_totals(rows), AGGREGATE_SCHEMA)
