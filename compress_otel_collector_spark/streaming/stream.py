"""Structured Streaming wrapper for the encode pipeline.

The reference collector is itself a streaming system (OTLP receiver →
batch processor → exporter, SURVEY.md §3.1) whose state is per-batch only —
diff/pool state resets every ``Encode()`` call. That maps exactly onto
``foreachBatch``: each micro-batch runs the same parse → enrich → encode →
route stages, blobs stay batch-scoped, and Spark's checkpoint gives the
collector's missing resumability (exactly-once sink appends per batch id).

``trigger(availableNow=True)`` drains whatever input exists and stops — the
batch/stream unification point: the same job is a backfill today and a
continuous tailer in production. No event-time watermarks are needed
(north_rule: resumability = checkpoint + lineage, not late-data windows);
the aggregate stage is recomputed from the routed sink, not kept as
streaming state.

``foreachBatch`` is at-least-once: a crash after the sink write but before
the checkpoint commit replays the batch. Each batch is therefore written by
the batch path's writer, ``plans.pipeline.route_stage``, with the batch id
as the leading partition column: its **dynamic partition overwrite** commit
renames each staged route dir into place whole, so a replayed batch
replaces exactly its own partitions instead of appending duplicates. That
makes the routed output effectively exactly-once on HDFS or local disk —
not against a file deleted by hand from a committed route, nor on object
stores without atomic directory rename (there the sink is Iceberg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.pipeline import (
    encode_pages,
    enrich_stage,
    parse_stage,
    pin_bucket_layout,
    route_stage,
)
from ..sources.tables import synthetic_pages


def pages_stream(spark: SparkSession, input_dir: str,
                 max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream over a pages parquet directory."""
    schema = synthetic_pages(spark, 0).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )


def run_streaming_pipeline(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    arms: bool = False,
    dedup_horizon: str | None = None,
):
    """Drain the input with availableNow; resumable via checkpoint.

    Each micro-batch runs the full stage chain and writes the routed sink
    idempotently (``route_stage`` with the batch id) — rerunning after a
    crash replays only unprocessed files, and a replayed batch overwrites
    rather than duplicates. Returns the terminated StreamingQuery.

    ``dedup_horizon`` (e.g. ``"1 hour"``) inserts the
    :func:`dedup_pages_stream` stage before the encode chain: crawler
    re-deliveries of the same text within the event-time horizon are
    dropped ACROSS micro-batches, with the dedup state store riding the
    same checkpoint as the file-source offsets — a resumed job neither
    re-emits already-kept pages nor forgets which texts it saw.
    """
    pin_bucket_layout(spark, out_dir, n_buckets)

    stream = pages_stream(spark, input_dir)
    if dedup_horizon is not None:
        stream = dedup_pages_stream(stream, horizon=dedup_horizon) \
            .drop("text_hash")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # an empty batch routes no rows, so its write changes nothing
        enriched = enrich_stage(parse_stage(batch_df), spark,
                                n_buckets=n_buckets)
        encoded = encode_pages(enriched, arms=arms)
        route_stage(encoded, out_dir, batch_id)

    query = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def dedup_pages_stream(pages: DataFrame, horizon: str = "1 hour",
                       ts_col: str = "warc_ts",
                       text_col: str = "text") -> DataFrame:
    """Cross-micro-batch exact content dedup for continuous ingestion.

    The batch dedup family (``operators.dedup``) assumes the corpus is
    at rest; a crawler tail re-delivers the same page minutes apart in
    DIFFERENT micro-batches, where per-batch ``dropDuplicates`` can't
    see the earlier copy. This keeps the first arrival per ``md5(text)``
    across batches using ``dropDuplicatesWithinWatermark``: the state
    store holds one 16-byte-key entry per distinct text seen within the
    event-time ``horizon``, and the watermark EVICTS entries whose event
    time falls behind it.

    Documented trade (what makes this viable at 100 TB/day): state is
    bounded by ingest-rate × horizon, not stream lifetime — a duplicate
    re-arriving AFTER its key was evicted is emitted again. Exactness
    beyond the horizon belongs to the batch compaction pass
    (``dedup_keep_first``), the standard lambda split. Scale shape: one
    shuffle on the hash key into the state store; keys are md5-uniform,
    so no skew surface.

    Streaming-only by contract (batch DataFrames should use
    ``operators.dedup.dedup_keep_first`` — Spark rejects
    ``dropDuplicatesWithinWatermark`` on batch plans); gate tests pin
    stream ≡ batch ``dropDuplicates`` when all duplicates arrive within
    the horizon, and re-emission beyond it.
    """
    return (
        pages.withColumn("text_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, horizon)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def windowed_route_counts(pages: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours",
                          n_buckets: int = 8) -> DataFrame:
    """Event-time windowed aggregation with a late-data watermark.

    Streaming counterpart of the batch ``route_counts``: pages per
    (event-time window, lang) with ``warc_ts`` as event time. The watermark
    bounds state — windows older than (max event time − watermark) finalize
    and drop from the store, so state size is O(active windows × routes)
    regardless of stream length; late rows inside the watermark still land
    in their window, later ones are dropped (counted by Spark's
    numDroppedRows metric). Works identically on a batch DataFrame (the
    watermark is a no-op there), which is how the oracle checks it.
    """
    return (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(
            F.window("warc_ts", window).alias("w"),
            "lang",
        )
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "lang", "n_pages",
        )
    )
