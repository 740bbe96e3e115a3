"""HTTP transport analog: exporter POST → receiver decode (O24/O25 letter).

Mirrors the reference hop end-to-end in-process: the sink POSTs raw cprval
frames (trace.go:183-195), the test receiver decodes each body with the
real decoder (receiver/trace.go:21-50) and tallies spans.
"""

from pyspark.sql import functions as F

from compress_otel_collector_spark.plans.http_transport import (
    http_post_sink,
    start_test_receiver,
)
from compress_otel_collector_spark.plans.pipeline import (
    encode_pages,
    enrich_stage,
    parse_stage,
)
from compress_otel_collector_spark.sources.tables import synthetic_pages


def test_post_sink_delivers_every_frame(spark):
    pages = synthetic_pages(spark, 300, partitions=3)
    encoded = encode_pages(enrich_stage(parse_stage(pages), spark),
                           arms=False).cache()
    n_frames = encoded.count()
    n_spans = encoded.agg(F.sum("n_spans")).collect()[0][0]

    url, state, shutdown = start_test_receiver()
    try:
        delivered = http_post_sink(encoded, url)
    finally:
        shutdown()
    assert delivered == n_frames
    assert state.frames == n_frames
    assert state.spans == n_spans == 300


def test_post_sink_raises_on_dead_endpoint(spark):
    pages = synthetic_pages(spark, 50, partitions=1)
    encoded = encode_pages(enrich_stage(parse_stage(pages), spark),
                           arms=False)
    import pytest

    with pytest.raises(Exception):
        http_post_sink(encoded, "http://127.0.0.1:9/", max_retries=2,
                       timeout=0.5, backoff=0.01)
