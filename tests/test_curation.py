"""Beyond-ledger curation operators: URL canonicalization, sequence
packing and PII redaction (operators/curation.py). The ledger is
at the driver's 50-row cap, so these are proof-mapped here, including the
DuckDB-twin parity for the canonicalizer (twin SQL emitted by
canonical_url_sql from the same step table the Spark expression uses).
CASES is the hand-written independent oracle — the fuzz tests only prove
engine-portability, so every rule gets an adversarial CASES row."""

import duckdb
import pytest

from compress_otel_collector_spark.operators.curation import (
    TRACKING_PARAMS,
    canonical_url,
    canonical_url_sql,
)

CASES = [
    ("https://Example.COM/Path/Page?utm_source=x&id=5#frag",
     "https://example.com/Path/Page?id=5"),
    ("HTTP://A.com:80/x/", "http://a.com/x"),
    ("https://a.com:443/", "https://a.com"),
    ("https://a.com/x?utm_medium=m", "https://a.com/x"),
    ("https://a.com/x?gclid=1&keep=2", "https://a.com/x?keep=2"),
    ("https://a.com/x?keep=2&fbclid=9", "https://a.com/x?keep=2"),
    ("https://a.com/UPPER", "https://a.com/UPPER"),
    ("https://a.com:8080/x", "https://a.com:8080/x"),
    ("https://a.com/x?a=1&b=2", "https://a.com/x?a=1&b=2"),
    ("https://a.com", "https://a.com"),
    # tracker-first with >=2 surviving params: '?' must be restored on the
    # FIRST survivor (a greedy repair would emit the malformed 'p&a=1?b=2')
    ("http://h.com/p?utm_source=x&a=1&b=2", "http://h.com/p?a=1&b=2"),
    # literal '&' in a query-less path: the repair must NOT fire
    ("http://h.com/a&b", "http://h.com/a&b"),
    # tracker-SHAPED segment in a query-less path: without a '?', '&' is
    # literal content — the '&'-form strip must not fire (r5 advice)
    ("http://h.com/a&utm_source=b", "http://h.com/a&utm_source=b"),
    # ...but with a real query present the '&'-form still strips, even
    # several trackers interleaved with survivors
    ("http://h.com/p?a=1&utm_source=x&b=2&fbclid=y",
     "http://h.com/p?a=1&b=2"),
    # default-port removal is scheme-specific: these are distinct origins
    ("http://h.com:443/x", "http://h.com:443/x"),
    ("https://h.com:80/x", "https://h.com:80/x"),
    # all params are trackers -> query gone entirely
    ("https://a.com/x?utm_source=a&utm_medium=b", "https://a.com/x"),
    # three leading trackers before the survivor
    ("https://a.com/x?utm_source=a&gclid=b&ref=c&id=1",
     "https://a.com/x?id=1"),
]


def _duck_canon(urls):
    """Canonicalize urls in DuckDB via the emitted twin SQL."""
    con = duckdb.connect()
    con.sql("CREATE TABLE t(url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(u,) for u in urls])
    return [r[0] for r in con.sql(
        f"SELECT {canonical_url_sql('url')} FROM t").fetchall()]


class TestCanonicalUrl:
    def test_rules(self, spark):
        df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
        got = [r[0] for r in df.select(canonical_url("url")).collect()]
        assert got == [want for _, want in CASES]

    def test_duckdb_twin_parity(self, spark):
        """The emitted twin must produce byte-identical canonical forms —
        the canonicalizer is thereby engine-portable like the md5 route
        bucket (and usable verbatim inside oracle_sql)."""
        df = spark.createDataFrame([(u,) for u, _ in CASES], "url string")
        got = [r[0] for r in df.select(canonical_url("url")).collect()]
        assert _duck_canon([u for u, _ in CASES]) == got

    def test_duckdb_twin_matches_handwritten_oracle(self):
        """The twin alone (no Spark) must reproduce the hand-written
        expected values — so the twin is checked against an independent
        oracle, not merely against the Spark expression."""
        assert _duck_canon([u for u, _ in CASES]) == \
            [want for _, want in CASES]


class TestCanonicalUrlFuzzParity:
    def test_random_urls_match_duckdb(self, spark):
        """Engine-portability under fuzz: 300 seeded random URLs (tracker
        mixes — including tracker-FIRST shapes with multiple survivors —
        case, ports, fragments, literal '&' path segments, trailing
        slashes) must canonicalize byte-identically in Spark and DuckDB."""
        import random
        import string

        random.seed(99)

        def rand_url():
            scheme = random.choice(["http", "https", "HTTP", "Https"])
            host = "".join(random.choices(
                string.ascii_letters + "09.-",
                k=random.randint(3, 12))).strip("-.") or "a"
            port = random.choice(["", ":80", ":443", ":8080"])
            path = "/" + "/".join(
                "".join(random.choices(string.ascii_letters + "09._~%-&",
                                       k=random.randint(0, 6)))
                for _ in range(random.randint(0, 3)))
            params = []
            for _ in range(random.randint(0, 4)):
                k = random.choice(list(TRACKING_PARAMS)
                                  + ["id", "q", "page", "UTM_SOURCE"])
                v = "".join(random.choices(string.ascii_letters + "09%",
                                           k=random.randint(0, 5)))
                params.append(f"{k}={v}")
            q = ("?" + "&".join(params)) if params else ""
            frag = random.choice(["", "#x", "#a/b?c=1"])
            trail = random.choice(["", "/"])
            return f"{scheme}://{host}{port}{path}{trail}{q}{frag}"

        urls = [rand_url() for _ in range(300)]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        got = [r[0] for r in df.select(canonical_url("url")).collect()]
        assert got == _duck_canon(urls)


class TestSqlEmitterGuard:
    """The twin emitters interpolate step-table entries into
    single-quoted SQL literals with no escaping — the emit-time guard
    must reject entries that would silently produce broken/wrong SQL
    (r5 advice)."""

    def test_quote_in_pattern_rejected(self, monkeypatch):
        from compress_otel_collector_spark.operators import curation

        monkeypatch.setattr(
            curation, "PII_STEPS",
            (("bad", r"it's", "<X>"),))
        with pytest.raises(ValueError, match="single quote"):
            curation.pii_scrub_sql("text")
        with pytest.raises(ValueError, match="single quote"):
            curation.pii_count_sql("text")

    def test_dollar_replacement_charset(self):
        from compress_otel_collector_spark.operators.curation import (
            _assert_sql_safe,
        )

        _assert_sql_safe(r"(a)(b)", "$1$2")     # group refs: fine
        _assert_sql_safe(r"x", "<EMAIL>")       # token: fine
        with pytest.raises(ValueError, match="charset"):
            _assert_sql_safe(r"x", "a b")       # space not in charset
        with pytest.raises(ValueError, match="charset"):
            _assert_sql_safe(r"x", r"a\b")      # backslash neither

    def test_current_tables_pass(self):
        from compress_otel_collector_spark.operators.curation import (
            canonical_url_sql,
            pii_count_sql,
            pii_scrub_sql,
        )

        assert "regexp_replace" in canonical_url_sql("url")
        assert "regexp_replace" in pii_scrub_sql("text")
        assert "regexp_extract_all" in pii_count_sql("text")


class TestPackSequences:
    """Fixed-length training-sequence packing (operators/curation.py
    pack_sequences): hand-computed oracle, DuckDB twin parity on real
    testdata, and the cluster-invariance the operator promises."""

    def test_hand_computed_single_shard(self, spark):
        # one shard -> pure sequential packing in doc_id order
        docs = [(1, "a b c"), (2, "d e f g"), (3, "h"), (4, "i j k l m")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        from compress_otel_collector_spark.operators.curation import (
            pack_sequences)
        got = {r["doc_id"]: r.asDict() for r in
               pack_sequences(df, seq_len=4, n_shards=1).collect()}
        # cum_before: d1=0, d2=3, d3=7, d4=8 (tokens 3,4,1,5)
        assert got[1] == {"doc_id": 1, "shard": 0, "n_tokens": 3,
                          "seq_first": 0, "offset": 0, "seq_last": 0}
        assert got[2] == {"doc_id": 2, "shard": 0, "n_tokens": 4,
                          "seq_first": 0, "offset": 3, "seq_last": 1}
        assert got[3] == {"doc_id": 3, "shard": 0, "n_tokens": 1,
                          "seq_first": 1, "offset": 3, "seq_last": 1}
        assert got[4] == {"doc_id": 4, "shard": 0, "n_tokens": 5,
                          "seq_first": 2, "offset": 0, "seq_last": 3}

    def test_empty_docs_excluded_and_offset_bounded(self, spark):
        docs = [(1, "x y"), (2, "   "), (3, ""), (4, "z")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        from compress_otel_collector_spark.operators.curation import (
            pack_sequences)
        rows = pack_sequences(df, seq_len=3, n_shards=2).collect()
        assert sorted(r["doc_id"] for r in rows) == [1, 4]
        assert all(0 <= r["offset"] < 3 for r in rows)
        assert all(r["seq_last"] >= r["seq_first"] for r in rows)

    def test_duckdb_twin_parity_real_docs(self, spark):
        """Bit-identical packing assignment vs DuckDB on the sf0.001
        documents table: portable md5 shard + the same window cumsum."""
        sf = "/root/testdata/sf0.001"
        from compress_otel_collector_spark.operators.curation import (
            pack_sequences)
        df = spark.read.parquet(f"{sf}/documents.parquet")
        got = sorted(
            tuple(r) for r in pack_sequences(
                df, seq_len=512, n_shards=8).collect())
        import duckdb
        con = duckdb.connect()
        duck = sorted(tuple(r) for r in con.sql(f"""
            WITH base AS (
              SELECT doc_id,
                     len(list_filter(string_split(text, ' '),
                                     t -> t != '')) AS n_tokens,
                     CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                              1, 8) AS BIGINT)
                          % 8 AS INT) AS shard
              FROM read_parquet('{sf}/documents.parquet')
            ), packed AS (
              SELECT doc_id, shard, n_tokens,
                     COALESCE(SUM(n_tokens) OVER (
                         PARTITION BY shard ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS cum_before
              FROM base WHERE n_tokens >= 1
            )
            SELECT doc_id, shard, n_tokens,
                   CAST(cum_before // 512 AS BIGINT) AS seq_first,
                   CAST(cum_before % 512 AS BIGINT) AS "offset",
                   CAST((cum_before + n_tokens - 1) // 512 AS BIGINT)
                       AS seq_last
            FROM packed
        """).fetchall())
        assert len(got) > 100
        assert got == duck

    def test_partitioning_invariance(self, spark):
        """The packing assignment must not depend on input partitioning —
        the retry/cluster-resize guarantee."""
        sf = "/root/testdata/sf0.001"
        from compress_otel_collector_spark.operators.curation import (
            pack_sequences)
        df = spark.read.parquet(f"{sf}/documents.parquet")
        a = sorted(tuple(r) for r in pack_sequences(
            df.repartition(1), seq_len=256, n_shards=4).collect())
        b = sorted(tuple(r) for r in pack_sequences(
            df.repartition(13), seq_len=256, n_shards=4).collect())
        assert a == b


class TestPiiScrub:
    """PII redaction (operators/curation.py pii_scrub): the
    hand-written CASES are the independent oracle; the DuckDB twin
    (emitted by pii_scrub_sql from the same step table) proves
    engine-portability on both CASES and real documents."""

    CASES = [
        ("mail me at jane.doe+x@example.co.uk today",
         "mail me at <EMAIL> today"),
        ("server 192.168.0.1 and 10.0.0.255 up", "server <IP> and <IP> up"),
        ("call +1 (555) 123-4567 now", "call <PHONE> now"),
        ("call +49 30 9018 20", "call <PHONE>"),
        ("no pii here, just text 42", "no pii here, just text 42"),
        # email wins over phone: digits in a local-part never half-redact
        ("contact 555123@corp.com", "contact <EMAIL>"),
        # dotted quad is <IP> even when not a valid address (pattern-scoped)
        ("v 1.2.345.67 shipped", "v <IP> shipped"),
        ("", ""),
    ]

    def test_hand_written_oracle(self, spark):
        from compress_otel_collector_spark.operators.curation import (
            pii_scrub)
        df = spark.createDataFrame([(t,) for t, _ in self.CASES],
                                   "text string")
        got = [r[0] for r in df.select(pii_scrub("text")).collect()]
        assert got == [want for _, want in self.CASES]

    def test_duckdb_twin_parity(self, spark):
        import duckdb

        from compress_otel_collector_spark.operators.curation import (
            pii_scrub, pii_scrub_sql)
        texts = [t for t, _ in self.CASES]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = [r[0] for r in df.select(pii_scrub("text")).collect()]
        con = duckdb.connect()
        con.sql("CREATE TABLE t(text VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in texts])
        duck = [r[0] for r in con.sql(
            f"SELECT {pii_scrub_sql('text')} FROM t").fetchall()]
        assert got == duck == [want for _, want in self.CASES]

    def test_twin_parity_real_docs(self, spark):
        """Engine-portability on the sf0.001 documents table with planted
        PII appended (real text exercises boundary cases the hand list
        can't)."""
        import duckdb

        from compress_otel_collector_spark.operators.curation import (
            pii_scrub, pii_scrub_sql)
        sf = "/root/testdata/sf0.001"
        df = (spark.read.parquet(f"{sf}/documents.parquet")
              .orderBy("doc_id").limit(200)
              .selectExpr("doc_id",
                          "concat(text, ' a@b.io 8.8.8.8 "
                          "+44 20 7946 0958') AS text"))
        got = {r["doc_id"]: r["s"] for r in
               df.select("doc_id", pii_scrub("text").alias("s")).collect()}
        con = duckdb.connect()
        twin = pii_scrub_sql(
            "concat(text, ' a@b.io 8.8.8.8 +44 20 7946 0958')")
        duck = {r[0]: r[1] for r in con.sql(f"""
            SELECT doc_id, {twin}
            FROM read_parquet('{sf}/documents.parquet')
            ORDER BY doc_id LIMIT 200
        """).fetchall()}
        assert got == duck
        assert all("<EMAIL>" in s and "<IP>" in s and "<PHONE>" in s
                   for s in got.values())
