"""Sources: testdata parquet loaders + deterministic synthetic pages tables.

The input table shape is the authoritative one from BASELINE.json
``input_hint``: ``pages(url string, warc_ts timestamp, html binary,
text string, lang string)`` — Common-Crawl-style web pages.

Two constructions:

- :func:`pages_from_documents` derives pages deterministically from the
  driver's ``documents.parquet`` with pure SQL-expressible column formulas,
  so DuckDB oracles can reproduce every downstream result exactly.
- :func:`synthetic_pages` generates pages of arbitrary row count from
  ``spark.range`` with only JVM-side expressions (no data files, no Python) —
  used by the benchmark to scale input independent of testdata size.

At 100 TB the pages table would be an Iceberg/parquet scan instead; both
constructions keep the same schema so every downstream stage is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: epoch seconds of 2026-01-01T00:00:00Z — base of warc_ts
WARC_TS_BASE = 1767225600

# 200-word deterministic vocabulary for synthetic_pages text
_VOCAB = [
    f"w{i:03d}" for i in range(180)
] + [
    "the", "a", "data", "spark", "query", "table", "row", "scan", "fast",
    "value", "key", "join", "sort", "hash", "batch", "stream", "agg",
    "filter", "merge", "window",
]


#: per-process parquet SCHEMA cache (metadata only — never rows). Every
#: ``spark.read.parquet(path)`` without a schema reads footers eagerly at
#: DataFrame-construction time (~0.1 s/table measured); a catalog-backed
#: deployment (Hive/Iceberg) never pays that per query, so caching the
#: inferred StructType models the production shape. Data is still scanned
#: from parquet on every execution. Each path's entry carries the data
#: files' fingerprint (:func:`_files_fingerprint`) it was inferred under:
#: a table rewritten in this process is re-inferred, never read with a
#: stale schema (which would null-fill its new columns).
_SCHEMA_CACHE: dict[str, tuple] = {}


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path, jvm) for any URI scheme the cluster knows
    (file/s3/hdfs).

    The pipeline's resume meta marker and :func:`load_table`'s file
    fingerprint must work on object stores too — local ``os.path`` APIs
    silently never fire on ``s3://`` paths.
    """
    from py4j.java_gateway import JavaClass

    sc = spark.sparkContext
    # JavaClass by full name: one py4j round trip, where walking
    # ``jvm.org.apache.hadoop.fs`` costs one per package segment (~7 ms)
    path = JavaClass("org.apache.hadoop.fs.Path",
                     sc._gateway._gateway_client)(path_str)
    fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, path, sc._jvm


def _files_fingerprint(spark: SparkSession, path: str):
    """``(size, mtime)`` of every entry directly under ``path``, from one
    Hadoop ``listStatus``; ``None`` when the path cannot be listed
    (``spark.read`` then raises its own error)."""
    from py4j.protocol import Py4JJavaError

    try:
        fs, hpath, _ = _hadoop_fs(spark, path)
        statuses = fs.listStatus(hpath)
    except Py4JJavaError:
        return None
    return tuple(sorted((st.getLen(), st.getModificationTime())
                        for st in statuses))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    fingerprint = _files_fingerprint(spark, path)
    cached = _SCHEMA_CACHE.get(path)
    if cached is not None and cached[0] == fingerprint:
        return spark.read.schema(cached[1]).parquet(path)
    df = spark.read.parquet(path)
    if fingerprint is not None:
        _SCHEMA_CACHE[path] = (fingerprint, df.schema)
    return df


def host_expr(doc_id_col: str) -> F.Column:
    """Zipf-ish host: ~30%% of rows land on one mega host (skew fixture)."""
    c = F.col(doc_id_col)
    return F.when(c % 10 < 3, F.lit("mega.example.com")).otherwise(
        F.concat(F.lit("host"), (c % 47).cast("string"),
                 F.lit(".example.com"))
    )


#: DuckDB-SQL twin of host_expr — keep in lockstep (oracle parity)
HOST_SQL = (
    "CASE WHEN {id} % 10 < 3 THEN 'mega.example.com' "
    "ELSE 'host' || CAST({id} % 47 AS VARCHAR) || '.example.com' END"
)


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) derived from documents.parquet.

    Every column is a pure function of (doc_id, text, lang) with a DuckDB-SQL
    twin (see ``__spark_entry__.oracle_sql``), so oracle comparisons hold.
    """
    d = load_table(spark, sf_dir, "documents")
    # ONE selectExpr call (r8 driver-overhead discipline): identical
    # expression tree to the former Column-API form in a single py4j
    # round trip; host stays in lockstep with HOST_SQL / host_expr
    host = ("CASE WHEN doc_id % 10 < 3 THEN 'mega.example.com' "
            "ELSE concat('host', CAST(doc_id % 47 AS STRING), "
            "'.example.com') END")
    html_str = ("concat('<html><head><title>T', CAST(doc_id AS STRING), "
                "'</title></head><body><p>', text, '</p></body></html>')")
    return d.selectExpr(
        f"concat('https://', {host}, '/p', CAST(doc_id AS STRING)) AS url",
        f"timestamp_seconds({WARC_TS_BASE} + doc_id * 37) AS warc_ts",
        f"encode({html_str}, 'UTF-8') AS html",
        "text",
        "lang",
        "doc_id",  # kept for lineage/oracle joins; dropped by stages
    )


def synthetic_pages(spark: SparkSession, n_rows: int,
                    partitions: int | None = None,
                    realistic: bool = False) -> DataFrame:
    """Deterministic pages table of any size, pure spark.range + JVM exprs.

    Default (adversarial-to-the-codec) shape: text_i = 3-40 words drawn from
    a fixed 200-word vocabulary by a hash of (i, position); ~5% of rows get
    empty text (null-coercion fixture, FIXTURES.md F1); every url — and so
    every md5-derived trace/span id and http.url attribute — is unique, which
    puts the compressed size at the random-id entropy floor.

    ``realistic=True`` is the telemetry-repeats shape (the reference codec's
    whole premise, encode.go:180-196: bounded name/url/trace-id cardinality
    per host session): each host serves a 64-slot url pool (crawl revisits),
    and the text is a function of the slot, so urls, trace ids, and attribute
    tuples recur and the dictionary pools can win. No Python runs per row in
    either shape.
    """
    df = spark.range(0, n_rows, 1, partitions or spark.sparkContext.defaultParallelism)
    c = F.col("id")
    seed = F.pmod(c, 64) if realistic else c  # url/text slot
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    n_words = (F.pmod(seed * 2654435761, 38) + 3).cast("int")
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.element_at(
            vocab, (F.pmod(seed * 31 + j * 7, 200) + 1).cast("int")),
    )
    text = F.when(c % 20 == 19, F.lit("")).otherwise(
        F.concat_ws(" ", words))
    lang = (
        F.when(F.pmod(c * 40503, 100) < 50, "en")
        .when(F.pmod(c * 40503, 100) < 70, "zh")
        .when(F.pmod(c * 40503, 100) < 80, "de")
        .when(F.pmod(c * 40503, 100) < 90, "fr")
        .when(F.pmod(c * 40503, 100) < 95, "es")
        .otherwise("unknown")
    )
    host = host_expr("id")
    html_str = F.concat(
        F.lit("<html><head><title>T"), c.cast("string"),
        F.lit("</title></head><body><p>"), text,
        F.lit("</p></body></html>"),
    )
    url_tail = seed if realistic else c
    return df.select(
        F.concat(F.lit("https://"), host, F.lit("/p"),
                 url_tail.cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(WARC_TS_BASE) + c * 37).alias("warc_ts"),
        F.encode(html_str, "UTF-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
        c.alias("doc_id"),
    )


LANG_ROWS = [
    ("en", "English", "Latn"),
    ("zh", "Chinese", "Hans"),
    ("de", "German", "Latn"),
    ("fr", "French", "Latn"),
    ("es", "Spanish", "Latn"),
]

#: DuckDB twin of lang_lookup (inline VALUES) — keep in lockstep
LANG_LOOKUP_SQL = (
    "(VALUES ('en','English','Latn'),('zh','Chinese','Hans'),"
    "('de','German','Latn'),('fr','French','Latn'),"
    "('es','Spanish','Latn')) AS lang_lookup(lang, lang_name, script)"
)


def lang_lookup(spark: SparkSession) -> DataFrame:
    """FIXTURES.md F2 broadcast enrich dim (5 rows — always broadcast).

    Built as a SQL VALUES LocalRelation (r8): ``createDataFrame(list)``
    makes a Python-RDD-backed frame, so every query that broadcasts the
    dim first ran a 32-task PYTHON stage (pickle scan + worker round-trip
    per task — measured 8.5 task-seconds per pipeline run, stage-metrics
    audit). A LocalRelation broadcasts straight from the driver: zero
    tasks, zero Python workers, identical rows/schema."""
    values = ", ".join(
        "('{}', '{}', '{}')".format(*row) for row in LANG_ROWS)
    return spark.sql(
        f"SELECT * FROM (VALUES {values}) "
        "AS lang_lookup(lang, lang_name, script)")
