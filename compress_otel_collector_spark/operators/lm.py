"""N-gram language-model perplexity scoring — the CCNet/KenLM-style
quality gate every large-scale curation pipeline runs (docs whose LM
perplexity is far from the reference-corpus band are boilerplate, spam,
or the wrong register).

No external model files (sandbox contract): a word-bigram LM with
add-one smoothing is TRAINED AT IMPORT from the same fixed deterministic
corpus the BPE trainer uses, and its content is pinned by checksum in
``tests/test_lm.py``.

Scale shape (the reason this lives in pure JVM expressions): the LM is
model-parameter-sized (a few hundred bigrams), so it ships as a MAP
LITERAL inside the plan — no join, no broadcast round-trip, no Python.
Scoring is `split → transform(bigram keys) → aggregate(map lookup with
backoff)` — whole-stage-codegen, zero shuffles, linear in corpus bytes;
at 100 TB it is a narrow map like the other textstats. (A real 100M-gram
KenLM would instead broadcast-join an exploded bigram table — the map
literal is correct for the parameter count shipped here, and the
operator's contract doesn't change.)

No reference counterpart (the reference is a telemetry codec,
SURVEY.md §2.2 "absent-in-reference"); this is a task-brief
LLM-data-pipeline component. Not a ledger row (driver caps the ledger
at 50); exactness is pinned by a pure-Python parity test plus a
no-Exchange/no-Python plan test instead.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .bpe import _TRAIN_CORPUS

#: unigram fallback weight: P(w2|w1) unseen → alpha * P_unk
_LOG_UNK = -4.0  # log10 prob for a bigram outside the table


def _train_bigram_lm(corpus: str) -> dict[str, float]:
    """Word-bigram add-one-smoothed log10 conditional probabilities.

    Deterministic: plain whitespace split of the fixed corpus, bigram
    key ``"w1 w2"``, P(w2|w1) = (c(w1,w2)+1) / (c(w1)+V). Tiny by
    construction (the corpus has a few hundred distinct bigrams), which
    is what lets the table ride the plan as a literal.
    """
    toks = corpus.split()
    uni: dict[str, int] = {}
    bi: dict[tuple[str, str], int] = {}
    for a, b in zip(toks, toks[1:]):
        uni[a] = uni.get(a, 0) + 1
        bi[(a, b)] = bi.get((a, b), 0) + 1
    vocab = len(set(toks))
    return {
        f"{a} {b}": round(math.log10((c + 1) / (uni[a] + vocab)), 6)
        for (a, b), c in sorted(bi.items())
    }


#: the pinned table (checksum test guards accidental drift)
LM_TABLE: dict[str, float] = _train_bigram_lm(_TRAIN_CORPUS)


def _bigram_keys(text_col: str) -> Column:
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n = F.size(toks)
    return F.transform(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))),
        lambda w, i: F.concat_ws(" ", w, F.element_at(toks, i + 2)),
    )


def lm_perplexity(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document LM score: ``(id, lm_bigrams, avg_logprob,
    perplexity)`` where avg_logprob is the mean log10 bigram probability
    (``_LOG_UNK`` backoff for out-of-table bigrams) and perplexity is
    ``10^-avg_logprob``. Documents with <2 tokens score NULL (no
    bigrams — a gate should treat them by length, not by LM).

    The table enters the plan as a MAP literal; the whole projection is
    JVM expressions (no UDF, no join, no shuffle — pinned by the plan
    test), so it composes into the same narrow pass as the other
    textstats gates.
    """
    lit_map = F.create_map(
        *[F.lit(x) for kv in sorted(LM_TABLE.items()) for x in kv])
    keys = _bigram_keys(text_col)
    n_bi = F.size(keys)
    total = F.aggregate(
        keys,
        F.lit(0.0),
        lambda acc, k: acc + F.coalesce(lit_map[k], F.lit(_LOG_UNK)),
    )
    avg = F.when(n_bi > 0, F.round(total / n_bi, 6))
    return df.select(
        F.col(id_col),
        F.when(n_bi > 0, n_bi).alias("lm_bigrams"),
        avg.alias("avg_logprob"),
        F.when(n_bi > 0,
               F.round(F.pow(F.lit(10.0), -F.round(total / n_bi, 6)), 4))
        .alias("perplexity"),
    )


def lm_score_py(text: str):
    """Pure-Python twin of one row of :func:`lm_perplexity` — the parity
    oracle for tests (same tokenization, same backoff, same rounding)."""
    toks = [t for t in text.split(" ") if t]
    if len(toks) < 2:
        return None, None, None
    lps = [LM_TABLE.get(f"{a} {b}", _LOG_UNK)
           for a, b in zip(toks, toks[1:])]
    avg = round(sum(lps) / len(lps), 6)
    return len(lps), avg, round(10.0 ** -avg, 4)
