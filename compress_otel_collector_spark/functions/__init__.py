from .columns import (  # noqa: F401
    extract_text_expr,
    host_bucket_expr,
    host_of_url_expr,
    salt_expr,
    span_columns_sql,
    warc_day_expr,
)
