"""Deduplication operators over the ``documents`` table.

Each operator is a pure ``DataFrame -> DataFrame`` function built from
JVM-side expressions only (no Python UDFs), with a DuckDB-SQL oracle twin in
``__spark_entry__.oracle_sql``. Hash functions are md5-based because md5 is
bit-identical across Spark and DuckDB — that is what makes the oracles exact.

Scale notes (the 100 TB story):

- exact: one hash-aggregate shuffle on the text digest — optimal.
- n-gram Jaccard: the all-pairs shingle self-join is quadratic in duplicate
  cluster size; it is the *verifier*, not the candidate generator, at scale.
- MinHash+LSH: the scale path — signatures are one narrow pass; the only
  shuffle is groupBy(band, bucket), and candidate verification touches just
  bucket-mates. Band/row parameters trade recall vs candidate volume.
- SimHash: one narrow pass producing a 64-bit fingerprint; near-dup pairs =
  equal or small-hamming fingerprints (banded bucket join, 4 × 16-bit).
- embedding cosine: see ``similarity.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content digest: keep the smallest id per group."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
    )


def word_shingles(df: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id", distinct: bool = True) -> DataFrame:
    """Word n-gram shingles per document (empty texts drop out).

    Empty tokens (consecutive/leading/trailing spaces) are dropped before
    shingling — in lockstep with ``textstats._tokens`` and the DuckDB oracle
    CTE (``list_filter(t <> '')``).

    ``distinct=False`` skips the per-(doc, shingle) dedup SHUFFLE — correct
    whenever the consumer is duplicate-insensitive (MinHash: ``min`` over a
    multiset equals ``min`` over its set). Jaccard needs the set semantics
    and keeps the default.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    sz = F.size(toks)
    # n-grams via array-level zip_with over shifted slices. The obvious
    # form — transform(sequence(...), i -> concat(element_at(toks, i+j)))
    # — re-evaluates the whole split+filter subtree PER ELEMENT (Catalyst
    # does no CSE inside lambda bodies), i.e. O(tokens²) string work per
    # document; measured 5.5s for 260k shingles at sf0.1. zip_with/slice
    # take the array as an operand, so the subtree evaluates a constant
    # number of times per ROW. zip_with pads the shorter side with nulls;
    # the guard keeps only full n-grams.
    acc = toks
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, j + 1, sz),
            lambda a, b: F.when(a.isNotNull() & b.isNotNull(),
                                F.concat(a, F.lit(" "), b)),
        )
    shingle = F.filter(acc, lambda x: x.isNotNull())
    out = (
        df.where(sz >= n)
        .select(F.col(id_col).alias("doc_id"),
                F.explode(shingle).alias("shingle"))
    )
    return out.distinct() if distinct else out


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.5,
                        n: int = 3) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold (a_id < b_id).

    Exact but quadratic in cluster size — at scale, run on LSH candidates.
    """
    sh = word_shingles(df, n=n)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    # pairs per shared shingle, generated WITHIN the shingle group (one
    # lineage — a self-join would recompute the shingle pipeline twice)
    by_shingle = sh.groupBy("shingle").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids"))
    pair_arr = F.flatten(F.transform(
        F.col("ids"),
        lambda a, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda b: F.struct(a.alias("a"), b.alias("b")))))
    common = (
        by_shingle.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .agg(F.count("*").alias("common"))
    )
    # melt each pair into its two member rows and join `sizes` ONCE —
    # joining sizes per side would re-evaluate the whole shingle lineage
    # twice more (pairs ≪ corpus, so the melt shuffle is the cheap side)
    melted = common.select(
        "a_id", "b_id", "common",
        F.explode(F.array(
            F.struct(F.col("a_id").alias("doc_id"),
                     F.lit("a").alias("role")),
            F.struct(F.col("b_id").alias("doc_id"),
                     F.lit("b").alias("role")),
        )).alias("s"),
    ).select("a_id", "b_id", "common", "s.doc_id", "s.role")
    per_pair = (
        melted.join(sizes, "doc_id")
        .groupBy("a_id", "b_id", "common")
        .agg(
            F.max(F.when(F.col("role") == "a", F.col("n_sh"))).alias("na"),
            F.max(F.when(F.col("role") == "b", F.col("n_sh"))).alias("nb"),
        )
    )
    return (
        per_pair
        .withColumn(
            "jaccard",
            F.round(F.col("common")
                    / (F.col("na") + F.col("nb") - F.col("common")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def minhash_signatures(df: DataFrame, num_hashes: int = 8,
                       n: int = 3) -> DataFrame:
    """doc_id → minhash signature columns sig0..sig{num_hashes-1}.

    Each group of 4 hash functions is carved from ONE md5: component
    ``s`` = lexicographic min over shingles of hex digits
    ``[8·(s%4), 8·(s%4)+8)`` of ``md5(shingle || '#' || s//4)`` — the
    classic split-one-strong-hash-into-k-pieces construction (distinct
    output bits of md5 are independent min-wise hash functions). 8-hex-char
    (32-bit) pieces keep the min-collision probability ≈ Jaccard with
    negligible ties, at ⌈num_hashes/4⌉ md5 evaluations per shingle.

    Shape (guide §2.4/§4.2): shingle → md5 → per-doc min runs as ONE
    Arrow-batched pandas UDF (``_minhash_signatures``), a narrow
    projection with NO shuffle. Shingles stay non-distinct: ``min`` is
    duplicate-insensitive. Lexicographic min over equal-length
    lowercase-hex substrings ≡ numeric min over the big-endian 32-bit
    words of the digest, so the uint32 kernel reproduces the SQL min
    bit-for-bit (pinned by the DuckDB twin). The ≥ n-token filter is a
    JVM predicate BELOW the UDF (guide §4.4: never filter on a UDF output
    column).

    Precondition: ``doc_id`` is unique in ``df``. The UDF emits one row
    per input row, while the DuckDB twin aggregates by ``doc_id``, so a
    repeated ``doc_id`` yields one signature row per copy here and one
    merged row there.
    """
    from pyspark.sql.functions import pandas_udf

    ret_type = ", ".join(f"sig{s} string" for s in range(num_hashes))

    @pandas_udf(ret_type)
    def _sigs_batch(texts):
        return _minhash_signatures(texts, num_hashes, n)

    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    return (
        df.where(F.size(toks) >= n)
        .select(F.col("doc_id"), _sigs_batch(F.col("text")).alias("_s"))
        .select("doc_id", "_s.*")
    )


#: shingles per chunk of the minhash kernel's shingle stream
_MINHASH_CHUNK_SHINGLES = 200_000


def _minhash_signatures(texts, num_hashes: int, n: int):
    """The ``minhash_signatures`` UDF body: one row of hex signature
    components per text of a batch ("" for a text under ``n`` tokens)."""
    import hashlib

    import numpy as np
    import pandas as pd

    # NUL-exact factorize (CLAUDE.md): raw pd.factorize truncates str
    # keys at embedded NULs, which would conflate distinct shingles
    from compress_otel_collector_spark.codec.batch import _factorize_exact

    n_md5 = (num_hashes + 3) // 4
    salts = [f"#{g}".encode() for g in range(n_md5)]
    mins = np.full((len(texts), n_md5 * 4), 0xFFFFFFFF, dtype=np.uint32)
    seen = np.zeros(len(texts), dtype=bool)
    flat: list = []  # the chunk's shingles, document after document
    rows: list = []  # (row, offset in flat) of each document piece in it

    def fold():
        # hash each DISTINCT shingle once (duplicate shingles are the
        # whole reason minhash works); codes gather them per occurrence
        codes, uniq = _factorize_exact(flat)
        digests = b"".join(hashlib.md5(u8 + salt).digest()
                           for sh in uniq for u8 in (sh.encode("utf-8"),)
                           for salt in salts)
        # (U, n_md5·4) big-endian 32-bit words; component s = word
        # (s%4) of digest (s//4) = hex chars [8·(s%4), 8·(s%4)+8)
        words = np.frombuffer(digests, dtype=">u4").reshape(
            len(uniq), n_md5 * 4)
        docs, starts = np.array(rows, dtype=np.intp).T
        mins[docs] = np.minimum(mins[docs], np.minimum.reduceat(
            words[codes], starts, axis=0))
        seen[docs] = True
        flat.clear()
        rows.clear()

    # chunk the shingle stream, not the documents, so the live shingle
    # strings and the gathered (shingles, words) matrix stay bounded at
    # any Arrow batch size AND any document size: a document straddling
    # a chunk boundary gets a partial min from each chunk, and mins fold
    join = " ".join
    for row, s in enumerate(texts):
        toks = [t for t in s.split(" ") if t]
        i, m = 0, len(toks) - (n - 1)
        while i < m:
            take = min(m - i, _MINHASH_CHUNK_SHINGLES - len(flat))
            rows.append((row, len(flat)))
            flat.extend(join(toks[j:j + n]) for j in range(i, i + take))
            i += take
            if len(flat) == _MINHASH_CHUNK_SHINGLES:
                fold()
    if flat:
        fold()
    seen = seen.tolist()
    return pd.DataFrame({
        f"sig{s}": [f"{v:08x}" if hit else ""
                    for v, hit in zip(mins[:, s].tolist(), seen)]
        for s in range(num_hashes)})


def _lsh_stacked(df: DataFrame, num_hashes: int, bands: int,
                 n: int) -> DataFrame:
    """(doc_id, bucket) rows — one row per document per band."""
    sigs = minhash_signatures(df, num_hashes=num_hashes, n=n)
    r = num_hashes // bands
    band_cols = [
        F.concat_ws("|", *[F.col(f"sig{b * r + i}") for i in range(r)])
        .alias(f"band{b}")
        for b in range(bands)
    ]
    banded = sigs.select("doc_id", *band_cols)
    return banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.concat_ws("=", F.lit(str(b)), F.col(f"band{b}"))
                for b in range(bands)
            ])
        ).alias("bucket"),
    )


def lsh_hot_buckets(df: DataFrame, max_bucket: int, num_hashes: int = 8,
                    bands: int = 2, n: int = 3) -> DataFrame:
    """Buckets whose membership exceeds ``max_bucket`` (the dropped mass).

    Standard LSH practice: a degenerate band value (e.g. thousands of
    near-empty docs sharing one minhash band) makes that bucket's self-join
    quadratic; production runs cap the bucket size, drop the hot buckets
    from candidate generation, and report them here so the dropped mass is
    observable rather than silent.
    """
    return (
        _lsh_stacked(df, num_hashes, bands, n)
        .groupBy("bucket").agg(F.count("*").alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket)
    )


#: default hot-bucket cap: a bucket is a candidate *cluster*, and real
#: near-dup clusters are small; anything larger is a degenerate band value
#: (boilerplate/empty docs) whose in-bucket pairing is quadratic. 100 keeps
#: every real cluster at tested scales while bounding any bucket's pair
#: fan-out at 100·99/2 ≈ 5k pairs per bucket.
DEFAULT_MAX_BUCKET = 100


def minhash_lsh_pairs(df: DataFrame, num_hashes: int = 8, bands: int = 2,
                      n: int = 3,
                      max_bucket: int | None = DEFAULT_MAX_BUCKET
                      ) -> DataFrame:
    """LSH candidate pairs: docs sharing any band of minhash components.

    rows-per-band = num_hashes/bands; a pair collides on a band iff all its
    components match — the classic banding scheme (prob ≈ 1-(1-j^r)^b).

    Pairs are generated WITHIN each bucket group (collect the bucket's
    sorted member ids, emit ordered combinations via array transforms) —
    not by a self-join. A self-join of the unpersisted signature lineage
    computes the whole scan→shingle→md5 pipeline twice (one per join side;
    measured: 2 FileScans, 32 md5 exprs vs 1 and 16) — at 100 TB that is
    double the cluster CPU for identical output. The in-bucket form keeps
    one lineage, and its only shuffle is the groupBy(bucket).

    ``max_bucket`` caps the per-bucket fan-out: buckets larger than the cap
    are dropped AFTER the single groupBy(bucket) aggregate, INSIDE the one
    lineage (``size(ids) > cap`` ⇒ drop before pair explosion). This kills
    the quadratic bomb — a B-member hot bucket would emit B·(B−1)/2 pairs;
    the residual cost of having collected its id array once is linear in B
    and is paid exactly once. (A pre-filter anti-join would bound that
    buffer too, but it recomputes the whole scan→shingle→md5 pipeline a
    second time for EVERY run — 2× cluster CPU always, to protect a rare
    degenerate case; the plan pin ``tests/test_plans.py`` keeps this
    operator at one parquet scan.) See :func:`lsh_hot_buckets` for the
    observable dropped mass. The cap is ON by default
    (:data:`DEFAULT_MAX_BUCKET`) — r2 shipped it opt-in, which left the
    default path carrying the quadratic hot-bucket risk the cap exists to
    remove; pass ``max_bucket=None`` to disable explicitly.
    """
    stacked = _lsh_stacked(df, num_hashes, bands, n)
    grouped = stacked.groupBy("bucket").agg(
        F.sort_array(F.collect_set("doc_id")).alias("ids"))
    if max_bucket is not None:
        grouped = grouped.where(F.size("ids") <= max_bucket)
    pair_arr = F.flatten(F.transform(
        F.col("ids"),
        lambda a, i: F.transform(
            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
            lambda b: F.struct(a.alias("a"), b.alias("b")))))
    return (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .distinct()
    )


def contamination_check(df: DataFrame, eval_df: DataFrame, n: int = 3,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Benchmark-contamination scan: training docs sharing any word n-gram
    with an evaluation set.

    The standard decontamination pass for LLM training data: the eval
    set's distinct shingles are tiny (benchmarks are small by definition),
    so they BROADCAST; the training side is one narrow shingle pass + a
    broadcast hash join — no shuffle of the corpus at 100 TB. Returns
    (doc_id, n_shared) for contaminated docs with the count of distinct
    shared shingles (the evidence strength).
    """
    train_sh = word_shingles(df, n=n, text_col=text_col, id_col=id_col)
    eval_sh = (
        word_shingles(eval_df, n=n, text_col=text_col, id_col=id_col)
        .select("shingle").distinct()
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


def repetition_ratio(df: DataFrame, n: int = 3, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Intra-document repetition: 1 − distinct/total word n-grams.

    The classic boilerplate/spam signal (MassiveText/Gopher-style repetition
    filters): near-0 for natural prose, → 1 for looped/template text. One
    narrow shingle pass + one per-doc aggregate; docs shorter than ``n``
    tokens drop out (no shingles → undefined)."""
    sh = word_shingles(df, n=n, text_col=text_col, id_col=id_col,
                       distinct=False)
    return (
        sh.groupBy("doc_id")
        .agg(F.count("*").alias("total_ngrams"),
             F.countDistinct("shingle").alias("distinct_ngrams"))
        .select(
            "doc_id", "total_ngrams", "distinct_ngrams",
            F.round(1 - F.col("distinct_ngrams") / F.col("total_ngrams"), 4)
            .alias("repetition"),
        )
    )


#: tokens per chunk of the simhash kernel's (tokens, bits) int32 gather
_SIMHASH_CHUNK_TOKENS = 200_000


def _simhash_fingerprints(texts, bits: int):
    """The ``simhash`` UDF body: one fingerprint per text of a batch."""
    import hashlib

    import numpy as np
    import pandas as pd

    n_digits = bits // 4
    n_bytes = (n_digits + 1) // 2
    md5 = hashlib.md5
    flat: list = []
    counts = np.empty(len(texts), dtype=np.int64)
    for row, s in enumerate(texts):
        toks = [t for t in s.split(" ") if t]
        counts[row] = len(toks)
        flat.extend(toks)
    total = len(flat)
    if total == 0:
        return pd.Series(np.zeros(len(texts), dtype=np.int64))
    # hash each DISTINCT token once (corpora repeat tokens heavily);
    # codes gather the per-occurrence bit rows back. NUL-exact
    # factorize (CLAUDE.md): raw pd.factorize truncates str keys at
    # embedded NULs, which would conflate distinct tokens.
    from compress_otel_collector_spark.codec.batch import (
        _factorize_exact,
    )

    codes, uniques = _factorize_exact(flat)
    digests = b"".join(
        md5(t.encode("utf-8")).digest()[:n_bytes] for t in uniques)
    byt = np.frombuffer(digests, dtype=np.uint8).reshape(
        len(uniques), n_bytes)
    # hex digit p: high nibble of byte p//2 when p even, low when odd
    digits = np.empty((len(uniques), n_digits), dtype=np.uint8)
    digits[:, 0::2] = byt[:, :(n_digits + 1) // 2] >> 4
    digits[:, 1::2] = byt[:, :n_digits // 2] & 15
    # bit i of a token = bit i%4 of digit i//4; int32 so the per-doc
    # reduceat cannot overflow (uint8 would wrap at 256 same-bit
    # tokens in one document)
    uniq_bits = (
        (digits[:, :, None] >> np.arange(4, dtype=np.uint8)) & 1
    ).reshape(len(uniques), bits).astype(np.int32)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    ones = np.zeros((len(texts), bits), dtype=np.int64)
    # chunk the token stream, not the documents, so the gathered
    # (tokens, bits) int32 matrix stays bounded (~50 MB) at any Arrow
    # batch size AND any document size: a document straddling a chunk
    # boundary gets partial sums from each chunk, and bit counts add
    nz_rows = np.flatnonzero(counts)
    nz_starts = starts[nz_rows]
    nz_ends = nz_starts + counts[nz_rows]
    for t0 in range(0, total, _SIMHASH_CHUNK_TOKENS):
        t1 = min(t0 + _SIMHASH_CHUNK_TOKENS, total)
        # the non-empty documents overlapping [t0, t1); only the first
        # can start before t0, so the clipped offsets stay increasing
        lo = np.searchsorted(nz_ends, t0, side="right")
        hi = np.searchsorted(nz_starts, t1, side="left")
        rows = nz_rows[lo:hi]
        ones[rows] += np.add.reduceat(
            uniq_bits[codes[t0:t1]],
            (np.maximum(nz_starts[lo:hi], t0) - t0).astype(np.intp), axis=0)
    # ±1 sign-of-sum ≡ majority: sum(±1) = 2·ones − n > 0 ⇔ 2·ones > n
    maj = (2 * ones) > counts[:, None]
    pows = (np.uint64(1) << np.arange(bits, dtype=np.uint64))
    fp = (maj.astype(np.uint64) * pows).sum(axis=1, dtype=np.uint64)
    return pd.Series(fp.view(np.int64), dtype="int64")


def simhash(df: DataFrame, bits: int = 64, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash from token md5 nibbles (engine-portable derivation).

    bit ``i`` of a token = bit ``i % 4`` of hex digit ``i // 4`` of
    md5(token) — 4 bits per hex char, 16 hex chars for 64 bits (the DuckDB
    twin computes the identical bits). The fingerprint bit is the sign of
    the token-weighted sum; bit 63 enters as -2**63 so the fingerprint is
    an ordinary two's-complement BIGINT in both engines. One narrow pass;
    near-dups share fingerprints (or land within small hamming distance).

    64 bits matter at scale: banding into 4 × 16-bit bands gives each band
    ~min(N, 65536) buckets, so bucket membership shrinks with corpus
    growth — the r2 16-bit variant had only 16 values per band, which made
    per-bucket candidate generation effectively quadratic.

    Shape (r8, guide §2.4/§4.2): a NARROW projection with no shuffle —
    the per-doc bit-majority runs as one Arrow-batched pandas UDF
    (hashlib md5 + numpy ``add.reduceat`` bit counting), replacing the
    r2–r7 explode + 65-aggregate ``groupBy(doc_id)``, which (a) shuffled
    the whole token stream and (b) carried a ~900-node Catalyst tree
    (64 bit columns × 65 sum aggregates) costing ~1.2 s of driver-side
    planning per invocation at ANY data size. The zero-token filter is a
    JVM predicate BELOW the UDF (never a filter on the UDF output — that
    shape makes the optimizer evaluate the UDF twice, guide §4.4).
    Fingerprints are bit-identical (same md5-nibble bits, same
    2·ones > n majority rule, same -2**63 top-bit representation —
    pinned by the unchanged DuckDB twin and tests).

    Precondition: ``id_col`` is unique in ``df``. The UDF emits one row
    per input row, while the DuckDB twin aggregates by ``doc_id``, so a
    repeated id yields one fingerprint row per copy here and one merged
    row there."""
    if bits % 4 or not 0 < bits <= 64:
        raise ValueError(f"bits must be a positive multiple of 4 <= 64, "
                         f"got {bits}")
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _simhash_batch(texts):
        return _simhash_fingerprints(texts, bits)

    # ≥1 non-empty token ⇔ some non-space char ⇔ trim(text) != '' — the
    # split/filter form re-tokenized every document in the JVM just to
    # test emptiness (the UDF tokenizes anyway)
    return (
        df.where(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col).alias("doc_id"),
                _simhash_batch(F.col(text_col)).alias("simhash"))
    )


def simhash_hamming_pairs(df: DataFrame, max_distance: int = 3,
                          bits: int = 64) -> DataFrame:
    """Near-dup pairs within hamming distance ``max_distance`` of SimHash.

    Banding on the fingerprint: the 64-bit fingerprint splits into 4
    16-bit bands; ≤3 differing bits touch ≤3 bands, so every pair within
    distance 3 shares at least one (band, value) bucket — full recall by
    the pigeonhole argument (requires ``max_distance < n_bands``, enforced
    below). Candidates join only on bucket-mates (the same bucketed shape
    as MinHash-LSH, never all-pairs), then exact ``bit_count(xor)``
    verifies the distance. With 16-bit band values each band has
    ~min(N, 65536) distinct buckets, so candidate volume tracks the true
    near-dup tail instead of N²/16 (the r2 16-bit defect).
    """
    n_bands = 4
    if max_distance >= n_bands:
        raise ValueError(
            f"max_distance={max_distance} breaks the pigeonhole recall "
            f"guarantee: {n_bands} bands only guarantee full recall for "
            f"distance <= {n_bands - 1}")
    width = bits // n_bands
    s = simhash(df, bits=bits)
    banded = s.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.concat_ws(
                ":", F.lit(str(b)),
                F.shiftright(F.col("simhash"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1)).cast("string"))
            for b in range(n_bands)
        ])).alias("bucket"),
    )
    # candidates generated within each nibble bucket (one simhash lineage;
    # a banded self-join would run the token-explode pipeline twice)
    grouped = banded.groupBy("bucket").agg(
        F.sort_array(F.collect_set(F.struct("doc_id", "simhash")))
        .alias("members"))
    pair_arr = F.flatten(F.transform(
        F.col("members"),
        lambda a, i: F.transform(
            F.slice(F.col("members"), i + 2, F.size(F.col("members"))),
            lambda b: F.struct(a.alias("a"), b.alias("b")))))
    cand = (
        grouped.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.a.doc_id").alias("a_id"),
                F.col("p.a.simhash").alias("a_sim"),
                F.col("p.b.doc_id").alias("b_id"),
                F.col("p.b.simhash").alias("b_sim"))
        .distinct()
    )
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
            .cast("long"))
        .where(F.col("hamming") <= max_distance)
        .select("a_id", "b_id", "hamming")
    )


def embedding_dup_pairs(embeddings: DataFrame,
                        threshold: float = 0.95) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold (brute-force exact)."""
    from .similarity import cosine_pairs

    return (
        cosine_pairs(embeddings)
        .where(F.col("cos") >= threshold)
        .select(F.col("a_id"), F.col("b_id"), F.col("cos"))
    )


def dedup_keep_first(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Materialized exact dedup: the surviving rows themselves."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def subdoc_dedup(df: DataFrame, width: int = 8, delim: str | None = None,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact SUB-document dedup — the Lee et al. / RefinedWeb pass every
    production corpus runs after doc-level dedup: duplicated passages are
    removed even when the containing documents differ.

    Units are paragraphs (``delim`` given, e.g. ``"\\n\\n"``) or fixed
    ``width``-token chunks (``delim=None`` — robust when the corpus has no
    paragraph structure). Keep policy is keep-longest-doc: a duplicated
    unit survives only in the document with the most tokens (ties broken
    by smallest doc id, then smallest unit index), so boilerplate is
    attributed to the fullest context.

    Returns per doc: ``n_units`` (units in the doc), ``n_dup_units``
    (instances dropped as duplicates of a kept unit elsewhere),
    ``kept_tokens`` (token budget surviving the pass). Docs with no
    tokens (empty/whitespace-only text) drop out — the ``nt >= 1`` guard
    also keeps ``sequence(0, n_units-1)`` well-formed (Spark's sequence
    RUNS DOWNWARD for stop < start, so an unguarded empty doc would fan
    out to two bogus empty chunks).

    100 TB shape: the same as ``exact_dedup`` one level down — a narrow
    chunking pass (rows fan out ×(tokens/width), bytes do not), ONE
    hash-partitioned window over md5(unit), then a per-doc hash-agg.
    No joins, no driver state; the unit hash is uniform so there is no
    skew to salt. Same dedup-by-content-hash bet as the reference's
    dictionary pools (custom_map.go:25-41), applied to corpus text.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    nt = F.size(toks)
    if delim is None:
        n_units = F.ceil(nt / F.lit(width)).cast("int")
        units = F.transform(
            F.sequence(F.lit(0), n_units - 1),
            lambda i: F.array_join(F.slice(toks, i * width + 1, width), " "),
        )
    else:
        units = F.filter(F.split(F.col(text_col), delim, -1),
                         lambda p: p != "")
    exploded = (
        df.where(nt >= 1)
        .select(F.col(id_col).alias("doc_id"), nt.alias("nt"),
                F.posexplode(units).alias("ui", "unit"))
    )
    w = Window.partitionBy(F.md5(F.col("unit"))).orderBy(
        F.col("nt").desc(), F.col("doc_id").asc(), F.col("ui").asc())
    ranked = exploded.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_units"),
            F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_units"),
            F.sum(F.when(F.col("rn") == 1,
                         F.size(F.split(F.col("unit"), " ", -1)))
                  .otherwise(0).cast("long")).alias("kept_tokens"),
        )
    )
