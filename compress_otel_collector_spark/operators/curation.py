"""Corpus-curation operators beyond the 50-entry driver ledger: URL
canonicalization, fixed-length training-sequence packing, and PII
redaction. All JVM-side expressions; the canonicalizer and the PII
scrubber each have a DuckDB-twin emitter (``canonical_url_sql`` /
``pii_scrub_sql``) generated from the SAME step table, so the Spark
expression and the oracle SQL can never drift.

Scale notes: canonicalization is a narrow per-row expression; sequence
packing is one shard-partitioned window cumsum — no global sort, shard
count scales with the cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: query parameters that never change page content — the common tracker set
TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "utm_term",
                   "utm_content", "gclid", "fbclid", "ref")

_TRK = "|".join(TRACKING_PARAMS)

#: Canonicalization steps BEFORE the host-lowercase split, in order:
#: (pattern, replacement, guard). A step with guard ``'?'`` applies only
#: when its input still CONTAINS a '?' — the '&'-form tracker strip must
#: not fire on a query-less URL where '&' is literal path content
#: (http://h.com/a&utm_source=b has no query; stripping would
#: false-merge it with http://h.com/a). Tracker removal is
#: position-aware so the '?' repair can never fire on a URL that had no
#: tracker, and the repair always lands on the FIRST surviving param:
#:   1. drop the '#fragment'
#:   2. non-leading trackers: '&trk=v' anywhere  -> ''  (iff a '?' exists)
#:   3. leading tracker with survivors: '?trk=v&' -> '?'
#:   4. sole tracker: '?trk=v' at end            -> ''
#:   5. dangling '?'                             -> ''
_PRE_STEPS = (
    (r"#.*$", "", None),
    (rf"(?i)&(?:{_TRK})=[^&#]*", "", "?"),
    (rf"(?i)\?(?:{_TRK})=[^&#]*&", "?", None),
    (rf"(?i)\?(?:{_TRK})=[^&#]*$", "", None),
    (r"\?$", "", None),
)

#: scheme://host prefix (the only case-insensitive region of a URL)
_HEAD_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)"

#: Steps AFTER the lowercase split. Default-port removal is
#: scheme-specific — http://h:443 and https://h:80 are DIFFERENT origins
#: from their portless forms and must not be conflated.
_POST_STEPS = (
    (r"^(http://[^/:]+):80(/|$)", "$1$2"),
    (r"^(https://[^/:]+):443(/|$)", "$1$2"),
    (r"(.+?)/$", "$1"),
)


def _assert_sql_safe(pat: str, rep: str) -> None:
    """Emit-time guard for the SQL twin emitters: patterns and
    replacements are interpolated into single-quoted DuckDB literals
    with NO escaping, and the ``$N`` -> ``\\N`` group-ref translation is
    a blind ``str.replace`` — a future step-table entry containing a
    single quote (or a replacement with a non-group-ref ``$``) would
    silently emit broken or wrong oracle SQL. Fail loudly here instead."""
    import re as _re

    if "'" in pat or "'" in rep:
        raise ValueError(
            f"step table entry contains a single quote, which the SQL "
            f"twin emitters do not escape: pat={pat!r} rep={rep!r}")
    if not _re.fullmatch(r"[$\d<>A-Za-z?]*", rep):
        raise ValueError(
            f"replacement {rep!r} outside the emitter-safe charset "
            r"[$\d<>A-Za-z?] — extend the twin emitters before using it")


def canonical_url(url_col: str = "url") -> Column:
    """Canonical form of a URL, as one composable JVM expression.

    Rules: drop fragment; drop tracking params (``TRACKING_PARAMS``,
    position-aware so '?' survives iff a non-tracker param survives);
    lowercase scheme+host (path stays case-sensitive); drop the default
    port for the matching scheme only; drop a single trailing ``/`` on a
    non-root path. ``canonical_url_sql`` emits the DuckDB twin from the
    same step table.
    """
    u = F.col(url_col)
    for pat, rep, guard in _PRE_STEPS:
        r = F.regexp_replace(u, pat, rep)
        u = r if guard is None else \
            F.when(u.contains(guard), r).otherwise(u)
    # lowercase scheme://host only: split at the first '/' after '//'
    head = F.regexp_extract(u, _HEAD_RE, 1)
    u = F.concat(F.lower(head),
                 F.substring(u, F.length(head) + 1, F.lit(1 << 30)))
    for pat, rep in _POST_STEPS:
        u = F.regexp_replace(u, pat, rep)
    return u


def canonical_url_sql(expr: str) -> str:
    """DuckDB SQL expression computing the same canonical form over
    ``expr`` — emitted from the SAME step tables as ``canonical_url`` so
    the two engines cannot drift (replacement syntax translated
    ``$N`` -> ``\\N``; DuckDB needs the explicit 'g' flag Spark defaults
    to). Patterns are RE2-compatible (inline ``(?i)``, non-capturing
    groups) on both engines.
    """
    u = expr
    for pat, rep, guard in _PRE_STEPS:
        _assert_sql_safe(pat, rep)
        r = f"regexp_replace({u}, '{pat}', '{rep}', 'g')"
        u = r if guard is None else \
            f"(CASE WHEN contains({u}, '{guard}') THEN {r} ELSE {u} END)"
    head = f"regexp_extract({u}, '{_HEAD_RE}', 1)"
    u = f"concat(lower({head}), substring({u}, length({head}) + 1))"
    for pat, rep in _POST_STEPS:
        _assert_sql_safe(pat, rep)
        u = f"regexp_replace({u}, '{pat}', '{rep.replace('$', chr(92))}', 'g')"
    return u


def pack_sequences(df: DataFrame, seq_len: int = 2048,
                   n_shards: int = 16, text_col: str = "text",
                   id_col: str = "doc_id",
                   tokenizer: str = "ws",
                   merges: str | None = None) -> DataFrame:
    """Assign documents to fixed-length training sequences (the packing
    pass every LLM data pipeline runs before writing training shards):
    docs are concatenated head-to-tail, ``seq_len`` tokens per sequence,
    no padding between docs and no truncation — a doc longer than the
    remaining space spans into the next sequence(s).

    Deterministic and cluster-invariant: each doc goes to shard
    ``first-32-bits-of-md5(doc_id) % n_shards`` (the portable
    ``host_bucket_expr`` construction — stable across cluster resizes
    and bit-identical in DuckDB), docs pack within a shard in ``doc_id``
    order, so a retry or a different executor count yields byte-identical
    shards. Whitespace tokenization, consistent with ``subdoc_dedup`` /
    ``textstats.token_count``; zero-token docs are excluded (they occupy
    no sequence space).

    Returns per doc: ``shard``, ``n_tokens``, ``seq_first`` / ``offset``
    (sequence index and token position where the doc starts) and
    ``seq_last`` (where it ends) — exactly what a shard writer needs to
    materialize sequences, and enough to audit packing (``fill ratio`` =
    sum(n_tokens) / (max(seq_last)+1) / seq_len per shard).

    ``tokenizer``: ``"ws"`` (whitespace, JVM-only, DuckDB-twinnable) or
    ``"bpe"`` (deterministic byte-level BPE, ``operators.bpe`` — what a
    real pipeline budgets in; whitespace under-counts subwords 1.3-1.5x
    on web text). The BPE path swaps ONLY the count source (one narrow
    mapInPandas stage); the shard/window/packing plan is identical, and
    ``tests/test_bpe_packing.py`` pins ws ≡ bpe given equal counts.

    100 TB shape: one narrow token-count pass, ONE hash exchange on
    ``shard`` + an in-partition ordered window cumsum — no global sort,
    no driver state; shard count is chosen per cluster (each shard's
    running sum is an independent sequential chain, which is exactly the
    training-shard layout). DuckDB twin: same window
    ``SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)``.
    """
    def shard_of(col):
        return F.pmod(
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8),
                   16, 10).cast("long"),
            F.lit(n_shards),
        ).cast("int")

    if tokenizer == "bpe":
        from .bpe import bpe_token_counts

        counts = bpe_token_counts(df, text_col=text_col, id_col=id_col,
                                  merges=merges)
        base = (
            counts.select("doc_id",
                          F.col("bpe_tokens").alias("n_tokens"),
                          shard_of(F.col("doc_id")).alias("shard"))
            .where(F.col("n_tokens") >= 1)
        )
    elif tokenizer == "ws":
        nt = F.size(F.filter(F.split(F.col(text_col), " "),
                             lambda t: t != ""))
        base = (
            df.select(F.col(id_col).alias("doc_id"), nt.alias("n_tokens"),
                      shard_of(F.col(id_col)).alias("shard"))
            .where(F.col("n_tokens") >= 1)
        )
    else:
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    seq_len = int(seq_len)
    # integer DIV, not float `/`+cast: exact at any cumsum magnitude (a
    # double round-trip is exact only below 2^53 — and DuckDB's `/`
    # additionally ROUNDS on cast, so the twin uses `//`)
    packed = base.select("doc_id", "shard", "n_tokens",
                         cum_before.cast("long").alias("cum_before"))
    return packed.select(
        "doc_id", "shard", "n_tokens",
        F.expr(f"cum_before DIV {seq_len}").alias("seq_first"),
        F.pmod(F.col("cum_before"), F.lit(seq_len)).cast("long")
        .alias("offset"),
        F.expr(f"(cum_before + n_tokens - 1) DIV {seq_len}")
        .alias("seq_last"),
    )


#: PII redaction steps, in order: (label, pattern, replacement token).
#: Order matters — emails are matched before phone numbers so the digits
#: inside a local-part are never half-redacted. Patterns are RE2-safe
#: (no backrefs/lookarounds) and compose identically in Spark and DuckDB;
#: ``pii_scrub_sql`` emits the twin from this SAME table.
PII_STEPS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone",
     r"\+?\d{1,3}[-. (]{1,2}\d{2,4}[-. )]{1,2}\d{3,4}[-. ]?\d{2,4}\b",
     "<PHONE>"),
)


def pii_scrub(text_col: str = "text") -> Column:
    """Redact emails, IPv4 addresses and international-format phone
    numbers from a text column — the standard PII pass a web corpus runs
    before training (C4/RefinedWeb-style), as one composable chain of
    JVM ``regexp_replace`` steps (``PII_STEPS``). Narrow per-row
    expression: zero shuffles, pipelines into any scan.

    Deliberately pattern-scoped: only formats that are unambiguous in
    running text are redacted (a bare 10-digit integer is NOT treated as
    a phone number — the false-merge cost on web text outweighs the
    recall). ``pii_scrub_sql`` emits the DuckDB twin from the same step
    table, so the redaction is engine-portable and oracle-checkable.
    """
    u = F.col(text_col)
    for _label, pat, rep in PII_STEPS:
        u = F.regexp_replace(u, pat, rep)
    return u


def pii_scrub_sql(expr: str) -> str:
    """DuckDB SQL twin of ``pii_scrub`` — emitted from ``PII_STEPS`` so
    the two engines cannot drift (DuckDB needs the explicit 'g' flag
    Spark defaults to)."""
    u = expr
    for _label, pat, rep in PII_STEPS:
        _assert_sql_safe(pat, rep)
        u = f"regexp_replace({u}, '{pat}', '{rep}', 'g')"
    return u


def pii_count_expr(text_col: str = "text") -> Column:
    """Total PII redaction count for a text column — the number of
    ``<EMAIL>``/``<IP>``/``<PHONE>`` substitutions ``pii_scrub`` would
    make, with the same sequential step semantics (each step counts on
    the previous step's output). Narrow; composes into any aggregate.
    ``pii_count_sql`` emits the DuckDB twin from the same step table."""
    u = F.col(text_col)
    total = F.lit(0)
    for _label, pat, rep in PII_STEPS:
        total = total + F.regexp_count(u, F.lit(pat))
        u = F.regexp_replace(u, pat, rep)
    return total.cast("long")


def pii_count_sql(expr: str) -> str:
    """DuckDB SQL twin of ``pii_count_expr`` — emitted from
    ``PII_STEPS`` (sequential counts via ``len(regexp_extract_all)`` on
    the progressively redacted text)."""
    u = expr
    parts = []
    for _label, pat, rep in PII_STEPS:
        _assert_sql_safe(pat, rep)
        parts.append(f"len(regexp_extract_all({u}, '{pat}'))")
        u = f"regexp_replace({u}, '{pat}', '{rep}', 'g')"
    return "(" + " + ".join(parts) + ")"
