from .pipeline import (  # noqa: F401
    ENCODED_SCHEMA,
    aggregate_stage,
    encode_pages,
    enrich_stage,
    parse_stage,
    roundtrip_check,
    route_stage,
    run_pipeline,
    span_stage,
)
