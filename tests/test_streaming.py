"""Structured Streaming pipeline: checkpointed, resumable, incremental."""

from pyspark.sql import functions as F

from compress_otel_collector_spark.plans.pipeline import read_routed
from compress_otel_collector_spark.sources.tables import synthetic_pages
from compress_otel_collector_spark.streaming.stream import (
    run_streaming_pipeline,
)


def test_streaming_drain_and_resume(spark, tmp_path):
    input_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    synthetic_pages(spark, 300, partitions=3).write.parquet(input_dir)
    run_streaming_pipeline(spark, input_dir, out_dir, ckpt)
    total1 = read_routed(spark, out_dir).agg(
        F.sum("n_spans")).collect()[0][0]
    assert total1 == 300

    # rerun with the same checkpoint → nothing reprocessed
    run_streaming_pipeline(spark, input_dir, out_dir, ckpt)
    total2 = read_routed(spark, out_dir).agg(
        F.sum("n_spans")).collect()[0][0]
    assert total2 == 300

    # new files arrive → only they are processed on the next drain
    synthetic_pages(spark, 100, partitions=1).withColumn(
        "doc_id", F.col("doc_id") + 1000
    ).write.mode("append").parquet(input_dir)
    run_streaming_pipeline(spark, input_dir, out_dir, ckpt)
    total3 = read_routed(spark, out_dir).agg(
        F.sum("n_spans")).collect()[0][0]
    assert total3 == 400


def test_stream_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch id must overwrite
    its own partitions, not append duplicates (dynamic partition overwrite
    on the leading batch_id column)."""
    from compress_otel_collector_spark.plans.pipeline import (
        encode_pages,
        enrich_stage,
        parse_stage,
        route_stage,
    )

    out_dir = str(tmp_path / "out")
    pages = synthetic_pages(spark, 120, partitions=2)
    encoded = encode_pages(enrich_stage(parse_stage(pages), spark),
                           arms=False)

    route_stage(encoded, out_dir, batch_id=0)
    total1 = read_routed(spark, out_dir).agg(F.sum("n_spans")).collect()[0][0]
    route_stage(encoded, out_dir, batch_id=0)  # simulated replay
    total2 = read_routed(spark, out_dir).agg(F.sum("n_spans")).collect()[0][0]
    assert total1 == total2 == 120

    # a *new* batch id still appends
    route_stage(encoded, out_dir, batch_id=1)
    total3 = read_routed(spark, out_dir).agg(F.sum("n_spans")).collect()[0][0]
    assert total3 == 240


def test_empty_batch_leaves_the_sink_untouched(spark, tmp_path):
    """An empty micro-batch writes nothing: routing an empty encode into a
    sink leaves every prior lineage row and adds no ``batch_id=`` dir, so
    ``process_batch`` needs no separate emptiness job."""
    import os

    from compress_otel_collector_spark.plans.pipeline import (
        encode_pages,
        enrich_stage,
        parse_stage,
        prior_lineage,
        route_stage,
    )

    out_dir = str(tmp_path / "out")

    def encoded(n):
        pages = synthetic_pages(spark, n, partitions=2)
        return encode_pages(enrich_stage(parse_stage(pages), spark),
                            arms=False)

    route_stage(encoded(60), out_dir, batch_id=0)
    before = prior_lineage(spark, out_dir)
    route_stage(encoded(0), out_dir, batch_id=1)
    assert prior_lineage(spark, out_dir).equals(before)
    assert before.num_rows > 0
    assert not os.path.exists(os.path.join(out_dir, "routed", "batch_id=1"))


def test_streaming_refuses_bucket_layout_mismatch(spark, tmp_path):
    """The streaming path honors the same bucket-layout meta marker as the
    batch path: resuming a sink with a different n_buckets must refuse."""
    import pytest

    input_dir = str(tmp_path / "pages_in2")
    out_dir = str(tmp_path / "out2")
    synthetic_pages(spark, 60, partitions=1).write.parquet(input_dir)
    run_streaming_pipeline(spark, input_dir, out_dir,
                           str(tmp_path / "ck1"), n_buckets=8)
    with pytest.raises(ValueError, match="bucket layouts"):
        run_streaming_pipeline(spark, input_dir, out_dir,
                               str(tmp_path / "ck2"), n_buckets=4)


def test_windowed_watermark_aggregation(spark, tmp_path):
    """Event-time windows + watermark over a real stream: the complete-mode
    drain must equal the batch computation; an append-mode drain emits only
    watermark-finalized windows (a subset)."""
    from compress_otel_collector_spark.streaming.stream import (
        windowed_route_counts,
    )

    import time as _time

    input_dir = str(tmp_path / "wpages")
    pages = synthetic_pages(spark, 500, partitions=4)
    # feed the stream in EVENT-TIME ORDER (warc_ts is monotone in doc_id;
    # chunks written sequentially so mtimes strictly increase and the file
    # source replays them in order). Out-of-order files are legitimate
    # watermark semantics — rows later than max-seen − watermark DROP, so
    # append-mode counts would be partial and the exact-subset assertion
    # below would flake (observed with tied mtimes).
    from pyspark.sql import functions as F
    for i in range(4):
        (pages.where((F.col("doc_id") >= i * 125)
                     & (F.col("doc_id") < (i + 1) * 125))
         .coalesce(1).write.mode("append").parquet(input_dir))
        _time.sleep(1.1)
    batch = {
        (r["window_start_us"], r["lang"], r["n_pages"])
        for r in windowed_route_counts(
            spark.read.parquet(input_dir)).collect()
    }
    assert len(batch) > 5

    stream = (
        spark.readStream.schema(spark.read.parquet(input_dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(input_dir)
    )
    q = (
        windowed_route_counts(stream)
        .writeStream.format("memory").queryName("winagg")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["window_start_us"], r["lang"], r["n_pages"])
        for r in spark.sql("SELECT * FROM winagg").collect()
    }
    assert got == batch

    q2 = (
        windowed_route_counts(stream)
        .writeStream.format("memory").queryName("winagg_append")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q2.awaitTermination()
    finalized = {
        (r["window_start_us"], r["lang"], r["n_pages"])
        for r in spark.sql("SELECT * FROM winagg_append").collect()
    }
    # append emits only windows older than max-event-time - watermark
    assert finalized <= batch
    assert len(finalized) < len(batch)


#: event-time base well past the epoch — a row at EXACTLY the initial
#: watermark (epoch 0) is filtered as late by the stateful operator,
#: which silently breaks a ts_sec=0 fixture
_TS_BASE = 1_700_000_000


def _write_dedup_file(path, rows):
    """One parquet file of (doc_id, text, ts_sec) — written via pyarrow so
    each call is exactly one file (the file source batches per file with
    maxFilesPerTrigger=1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "ts_sec": pa.array([_TS_BASE + r[2] for r in rows],
                               pa.int64()),
        }),
        path,
    )


def _dedup_stream_drain(spark, in_dir, name, horizon):
    from compress_otel_collector_spark.streaming.stream import (
        dedup_pages_stream,
    )

    src = (
        spark.readStream
        .schema("doc_id long, text string, ts_sec long")
        .option("maxFilesPerTrigger", 1).parquet(str(in_dir))
        .withColumn("warc_ts", F.timestamp_seconds(F.col("ts_sec")))
    )
    q = (
        dedup_pages_stream(src, horizon=horizon)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT doc_id, text FROM {name}").collect()


def test_dedup_stream_cross_batch_within_horizon(spark, tmp_path):
    """Ingestion dedup: a duplicate arriving in a LATER micro-batch within
    the event-time horizon is dropped (per-batch dropDuplicates cannot do
    this), and the drained stream equals batch dropDuplicates over the
    union — the stream ≡ batch gate."""
    import time as _time

    in_dir = tmp_path / "dd_in"
    in_dir.mkdir()
    # batch 1: alpha, beta, alpha (in-batch dup); batch 2: alpha again
    # (cross-batch dup, 5 min later — inside the 1 h horizon) + gamma
    _write_dedup_file(in_dir / "f1.parquet",
                      [(1, "alpha", 0), (2, "beta", 60),
                       (3, "alpha", 120)])
    _time.sleep(1.1)  # strictly increasing mtimes → file order = batch order
    _write_dedup_file(in_dir / "f2.parquet",
                      [(4, "alpha", 300), (5, "gamma", 360)])

    got = _dedup_stream_drain(spark, in_dir, "dedup_within", "1 hour")
    texts = sorted(r["text"] for r in got)
    assert texts == ["alpha", "beta", "gamma"]
    # the kept alpha is a batch-1 arrival, NOT the batch-2 re-delivery
    alpha_id = next(r["doc_id"] for r in got if r["text"] == "alpha")
    assert alpha_id in (1, 3)
    # stream ≡ batch when every duplicate falls within the horizon
    batch_texts = sorted(
        r["text"] for r in spark.read.parquet(str(in_dir))
        .dropDuplicates(["text"]).collect())
    assert texts == batch_texts


def test_dedup_stream_reemits_beyond_horizon(spark, tmp_path):
    """The bounded-state trade, pinned: once the watermark passes a key's
    event time its state entry is evicted, and a duplicate arriving AFTER
    that re-emits. This is what keeps the state store at ingest-rate ×
    horizon instead of stream-lifetime size; exactness beyond the horizon
    belongs to the batch compaction pass.

    Watermark mechanics the fixture must respect: the watermark advances
    BETWEEN batches (batch N runs under max-event-time-through-N−1 −
    delay) and state eviction runs at batch END — so alpha's entry
    (event 0, horizon 10 min) survives batch f2 (still under the f1
    watermark), is evicted at the end of batch f3 (under watermark
    3600−600 = 3000 > 0), and only the batch-f4 re-arrival emits; the
    f3 re-arrival is still deduplicated against the not-yet-evicted
    entry. Both arrivals ride along to pin exactly that boundary."""
    import time as _time

    in_dir = tmp_path / "dd_evict"
    in_dir.mkdir()
    _write_dedup_file(in_dir / "f1.parquet", [(1, "alpha", 0)])
    _time.sleep(1.1)
    # advances the watermark (from f3 on) to 3600 − 600 = 3000 s > 0
    _write_dedup_file(in_dir / "f2.parquet", [(4, "delta", 3600)])
    _time.sleep(1.1)
    # dropped: alpha's entry is evicted at this batch's END, after dedup
    _write_dedup_file(in_dir / "f3.parquet", [(5, "alpha", 3660)])
    _time.sleep(1.1)
    # re-emitted: state no longer holds alpha
    _write_dedup_file(in_dir / "f4.parquet", [(7, "alpha", 3720)])

    got = _dedup_stream_drain(spark, in_dir, "dedup_evict", "10 minutes")
    by_text = sorted((r["text"], r["doc_id"]) for r in got)
    assert by_text == [("alpha", 1), ("alpha", 7), ("delta", 4)]


def test_streaming_pipeline_with_ingestion_dedup(spark, tmp_path):
    """The composed surface (r7): dedup_pages_stream as a pipeline stage
    (run_streaming_pipeline(dedup_horizon=...)) — a re-delivered crawl
    (same text + warc_ts, new doc_id) within the horizon encodes ZERO
    extra spans, the dedup state rides the same checkpoint as the source
    offsets (a resumed drain stays at the deduped count), and the
    no-dedup run over identical input doubles."""
    input_dir = str(tmp_path / "ddp_in")
    pages = synthetic_pages(spark, 100, partitions=1)
    pages.write.parquet(input_dir)
    # re-delivery: same text/warc_ts/url, different doc_id
    spark.read.parquet(input_dir).withColumn(
        "doc_id", F.col("doc_id") + 1000
    ).coalesce(1).write.mode("append").parquet(input_dir)

    out_d = str(tmp_path / "out_dedup")
    ckpt_d = str(tmp_path / "ckpt_dedup")
    # horizon far beyond the fixture's warc_ts spread so no state is
    # evicted mid-drain; boundedness itself is pinned in the unit tests
    run_streaming_pipeline(spark, input_dir, out_d, ckpt_d,
                           dedup_horizon="90 days")
    deduped = read_routed(spark, out_d).agg(
        F.sum("n_spans")).collect()[0][0]
    # ~5% of synthetic texts are empty and identical → they dedup too
    distinct_texts = spark.read.parquet(input_dir) \
        .select("text").distinct().count()
    assert deduped == distinct_texts < 100 + 1

    # resume: nothing reprocessed, count unchanged
    run_streaming_pipeline(spark, input_dir, out_d, ckpt_d,
                           dedup_horizon="90 days")
    assert read_routed(spark, out_d).agg(
        F.sum("n_spans")).collect()[0][0] == deduped

    out_p = str(tmp_path / "out_plain")
    run_streaming_pipeline(spark, input_dir, out_p,
                           str(tmp_path / "ckpt_plain"))
    assert read_routed(spark, out_p).agg(
        F.sum("n_spans")).collect()[0][0] == 200
