"""The benchmark's workloads: seeded inputs, set-up, one timed pass, checks.

Exporter workloads (``encode_unique``, ``crawl_repeats``) time
``run_pipeline`` — parse → enrich → narrow exchange → span derivation →
``encode_span_dataframe`` → zstd → ``route_stage`` → ``aggregate_stage`` —
from the parquet scan to the collected per-route aggregate, each pass into a
fresh sink. The receiver workload (``roundtrip_read``) times reading a sink
that set-up wrote through ``run_pipeline``: ``read_routed`` →
``roundtrip_check`` (zstd + ``plans.projector.project_blob``) →
``roundtrip_counts`` against ``expected_roundtrip``.

The seed picks the window of page ids that ``synthetic_pages`` draws; every
page property is a function of the id, so the seed changes which pages are
drawn and not the shape of the workload. The program receives only the
generated parquet table.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

from session import INPUT_PARTITIONS

#: pages per pass, sized so a warm pass takes a few seconds on 4 cores
PAGES = {
    "encode_unique": 20_000,
    "crawl_repeats": 8_000,
    "roundtrip_read": 20_000,
}

#: why each workload is in the benchmark (mirrored in BENCHMARK.json)
WHY = {
    "encode_unique": (
        "every url and trace id unique: dictionary pools miss and zstd runs "
        "at the entropy floor, so the encode UDF does the most per-page "
        "work; parse is light"),
    "crawl_repeats": (
        "64-url pool per host and ~25 KB html: pools hit so encode is "
        "cheap, scan+parse dominate; the codec's intended traffic"),
    "roundtrip_read": (
        "receiver side: decode and verify a repeats-shape sink run_pipeline "
        "wrote in set-up; no encode in the timed pass; set-up's arms give "
        "the repeats-shape compression headline"),
}

#: synthetic ids are 8 digits for every seed, so url length — part of the
#: page shape — does not depend on the seed
_ID_LOW, _ID_HIGH = 10_000_000, 100_000_000

#: html of Common-Crawl size: ~15-35 KB of navigation, script and footer
#: markup around the one ``<p>`` the parser extracts. No ``<p>`` occurs
#: before the text, so extraction stays byte-identical.
CRAWL_HTML_SQL = (
    "encode(concat("
    "'<html><head><title>T', CAST(doc_id AS STRING), '</title><script>', "
    "repeat(concat('var s', CAST(doc_id % 89 AS STRING), '=1;'), 80), "
    "'</script></head><body><ul>', "
    "repeat(concat('<li class=\"nav-item\"><a href=\"/section/', "
    "CAST(pmod(doc_id * 7, 997) AS STRING), '\">Section ', "
    "CAST(doc_id % 13 AS STRING), '</a></li>'), "
    "CAST(200 + pmod(doc_id * 2654435761, 300) AS INT)), "
    "'</ul><p>', text, '</p><div class=\"footer\">', "
    "repeat('<a class=\"footer-link\" href=\"/about\">About us</a>', 60), "
    "'</div></body></html>'), 'UTF-8')"
)


def id_offset(seed: int, n_pages: int) -> int:
    return _ID_LOW + (seed * 2_654_435_761) % (_ID_HIGH - _ID_LOW - n_pages)


class _IdWindow:
    """Stands in for the session inside ``synthetic_pages``: its ``range``
    starts at ``offset``, so the generator draws ids
    ``[offset, offset + n)`` in the same partition layout."""

    def __init__(self, spark, offset: int):
        self._spark = spark
        self._offset = offset
        self.sparkContext = spark.sparkContext

    def range(self, start, end=None, step=1, numPartitions=None):
        return self._spark.range(start + self._offset, end + self._offset,
                                 step, numPartitions)


def write_pages(spark, path: str, n_pages: int, seed: int,
                realistic: bool, crawl_html: bool) -> None:
    from pyspark.sql import functions as F

    from compress_otel_collector_spark.sources.tables import synthetic_pages

    pages = synthetic_pages(_IdWindow(spark, id_offset(seed, n_pages)),
                            n_pages, partitions=INPUT_PARTITIONS,
                            realistic=realistic)
    if crawl_html:
        pages = pages.withColumn("html", F.expr(CRAWL_HTML_SQL))
    pages.write.parquet(path)


def parse_census(spark, pages) -> tuple[int, int]:
    """(pages the parse keeps, kept pages whose extracted text differs from
    the input text) — the second must be 0 (byte-identical extraction)."""
    from compress_otel_collector_spark.plans.pipeline import parse_stage

    row = parse_stage(pages).selectExpr(
        "count(*) AS n",
        "coalesce(sum(CASE WHEN text_extracted <=> text THEN 0 ELSE 1 END),"
        " 0) AS differ").collect()[0]
    return int(row["n"]), int(row["differ"])


def sink_blobs(spark, out_dir: str) -> list[tuple[str, int, int, int]]:
    """(blob_sha256, n_spans, raw_bytes, zstd_bytes) of every blob."""
    from compress_otel_collector_spark.plans.pipeline import read_routed

    return [(r[0], int(r[1]), int(r[2]), int(r[3])) for r in
            read_routed(spark, out_dir).select(
                "blob_sha256", "n_spans", "raw_bytes", "zstd_bytes"
            ).collect()]


def blob_digest(blobs) -> str:
    """sha256 over the sorted ``blob_sha256`` multiset of a sink."""
    return hashlib.sha256(
        "\n".join(sorted(b[0] for b in blobs)).encode()).hexdigest()


@dataclass
class PassResult:
    wall: float
    pages: int
    failed: int = 0
    problems: list[str] = field(default_factory=list)


class Workload:
    """One workload on one session. Set-up is ``write_input`` (repeatable),
    ``census`` and ``warm_up`` (whose reference run, on the receiver side,
    writes the sink); ``timed_pass`` is the measured unit of work and
    ``check`` verifies that pass's output."""

    realistic = False
    crawl_html = False

    def __init__(self, spark, work_dir: str, n_pages: int, seed: int):
        self.spark = spark
        self.work_dir = work_dir
        self.n_pages = n_pages
        self.seed = seed
        self.pages_path: str | None = None
        self.parsed = 0
        self.reference_digest: str | None = None
        self.blobs = 0
        self.zstd_bytes = 0
        self.arms_ratio = 0.0
        self._seq = 0

    def fresh_dir(self, stem: str) -> str:
        self._seq += 1
        return os.path.join(self.work_dir, f"{stem}-{self._seq}")

    def pages(self):
        return self.spark.read.parquet(self.pages_path)

    def write_input(self) -> None:
        """Write this seed's input table to a fresh path (replacing the
        previous one; every write of one seed holds the same pages)."""
        if self.pages_path:
            shutil.rmtree(self.pages_path, ignore_errors=True)
        self.pages_path = self.fresh_dir("pages")
        write_pages(self.spark, self.pages_path, self.n_pages, self.seed,
                    self.realistic, self.crawl_html)

    def census(self) -> list[str]:
        """Count the pages the parse keeps; returns set-up problems."""
        self.parsed, differ = parse_census(self.spark, self.pages())
        problems = []
        if differ:
            problems.append(f"{differ} pages extract text that differs "
                            "from the input text")
        if self.parsed != self.n_pages:
            problems.append(f"parse kept {self.parsed} of {self.n_pages} "
                            "pages")
        return problems

    def _write_sink(self, out_dir: str, arms: bool = False) -> list:
        from compress_otel_collector_spark.plans.pipeline import run_pipeline

        return run_pipeline(self.spark, self.pages(), out_dir,
                            arms=arms).collect()

    def warm_up(self) -> list[str]:
        """The reference write, then ``warm_passes`` untimed, checked
        passes; returns their problems."""
        self.write_reference()
        problems = []
        for _ in range(self.warm_passes):
            res, out = self.timed_pass()
            self.check(res, out)
            problems += res.problems
        return problems

    def _write_reference(self, out_dir: str) -> None:
        """One ``arms=True`` pipeline run. Its blobs are the seed's
        reference multiset, and its comparison arms give ``arms_ratio`` —
        codec+zstd over OTLP-proto+zstd bytes for exactly these blobs."""
        rows = self._write_sink(out_dir, arms=True)
        self.arms_ratio = (sum(r["zstd_bytes"] for r in rows)
                           / sum(r["proto_zstd_bytes"] for r in rows))
        blobs = sink_blobs(self.spark, out_dir)
        self.reference_digest = blob_digest(blobs)
        self.blobs = len(blobs)
        self.zstd_bytes = sum(b[3] for b in blobs)


class ExporterWorkload(Workload):
    warm_passes = 1

    def write_reference(self) -> None:
        ref = self.fresh_dir("reference")
        self._write_reference(ref)
        shutil.rmtree(ref, ignore_errors=True)

    def timed_pass(self) -> tuple[PassResult, str]:
        out = self.fresh_dir("sink")
        t0 = time.monotonic()
        rows = self._write_sink(out)
        wall = time.monotonic() - t0
        return PassResult(wall, sum(int(r["pages"]) for r in rows)), out

    def check(self, res: PassResult, out: str) -> None:
        """Pages in the sink equal parsed pages, and the blob multiset is
        the one set-up wrote for this seed."""
        blobs = sink_blobs(self.spark, out)
        in_sink = sum(b[1] for b in blobs)
        lost_or_dup = abs(in_sink - self.parsed)
        if lost_or_dup:
            res.problems.append(
                f"sink holds {in_sink} pages, parse kept {self.parsed}")
        if res.pages != in_sink:
            res.problems.append(
                f"aggregate counts {res.pages} pages, sink holds {in_sink}")
        if blob_digest(blobs) != self.reference_digest:
            res.problems.append("blob_sha256 multiset differs from set-up")
            lost_or_dup = max(lost_or_dup, self.parsed)
        res.failed = lost_or_dup
        shutil.rmtree(out, ignore_errors=True)


class EncodeUnique(ExporterWorkload):
    name = "encode_unique"


class CrawlRepeats(ExporterWorkload):
    name = "crawl_repeats"
    realistic = True
    crawl_html = True


class RoundtripRead(Workload):
    name = "roundtrip_read"
    realistic = True
    sink: str | None = None
    warm_passes = 2  # a verify pass is cheaper than an exporter pass

    def write_reference(self) -> None:
        """The reference run writes the sink the timed passes read."""
        self.sink = self.fresh_dir("sink")
        self._write_reference(self.sink)

    def verify(self):
        from compress_otel_collector_spark.plans.pipeline import (
            enrich_stage,
            expected_roundtrip,
            parse_stage,
            read_routed,
            roundtrip_check,
            roundtrip_counts,
            span_stage,
        )

        decoded = roundtrip_check(read_routed(self.spark, self.sink))
        expected = expected_roundtrip(
            span_stage(enrich_stage(parse_stage(self.pages()), self.spark)))
        return roundtrip_counts(decoded, expected).collect()[0]

    def timed_pass(self) -> tuple[PassResult, object]:
        t0 = time.monotonic()
        row = self.verify()
        wall = time.monotonic() - t0
        return PassResult(wall, int(row["decoded_spans"])), row

    def check(self, res: PassResult, row) -> None:
        """Nothing missing, nothing extra, every parsed page decoded."""
        missing, extra = int(row["missing"]), int(row["extra"])
        if missing or extra:
            res.problems.append(f"decode: {missing} missing, {extra} extra")
        if res.pages != self.parsed:
            res.problems.append(
                f"decoded {res.pages} spans, parse kept {self.parsed}")
        res.failed = missing + extra


WORKLOADS = {w.name: w for w in (EncodeUnique, CrawlRepeats, RoundtripRead)}
