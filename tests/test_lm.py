"""LM-perplexity quality scorer (operators/lm.py): pinned table,
pure-Python parity, and the zero-shuffle/zero-Python plan contract."""

import hashlib
import json

from hypothesis import given, settings
from hypothesis import strategies as st

from compress_otel_collector_spark.operators import lm
from compress_otel_collector_spark.operators.bpe import _TRAIN_CORPUS


class TestTable:
    def test_table_checksum_pinned(self):
        """The self-trained default table is part of the operator's
        contract (scores must be reproducible across sessions); any
        drift in corpus, tokenization, or smoothing fails HERE."""
        digest = hashlib.md5(
            json.dumps(lm.LM_TABLE, sort_keys=True).encode()).hexdigest()
        assert len(lm.LM_TABLE) == 170
        assert digest == "5a324089bf6e0194800f7b1a23e2efdc"

    def test_probabilities_are_log10_conditionals(self):
        # every table value is a valid log10 probability
        assert all(v < 0 for v in lm.LM_TABLE.values())
        # and smoothing keeps unseen-bigram backoff strictly worse than
        # the table's best-attested bigram
        assert lm._LOG_UNK < max(lm.LM_TABLE.values())


class TestPyScorer:
    def test_in_corpus_beats_gibberish(self):
        fluent = " ".join(_TRAIN_CORPUS.split()[:40])
        _, _, p_fluent = lm.lm_score_py(fluent)
        _, _, p_junk = lm.lm_score_py("zxq qqv wvx zzk pqd mnb vvz kjh")
        assert p_fluent < p_junk
        # all-unseen bigrams score exactly the backoff
        assert p_junk == round(10.0 ** -lm._LOG_UNK, 4)

    def test_degenerate_inputs(self):
        assert lm.lm_score_py("") == (None, None, None)
        assert lm.lm_score_py("word") == (None, None, None)
        assert lm.lm_score_py("  ") == (None, None, None)
        n, avg, p = lm.lm_score_py("a b")
        assert n == 1 and p == round(10.0 ** -avg, 4)

    @settings(max_examples=200, deadline=None)
    @given(st.text(alphabet="ab x", max_size=30))
    def test_scorer_is_total_and_bounded(self, s):
        n, avg, p = lm.lm_score_py(s)
        if n is None:
            assert len([t for t in s.split(" ") if t]) < 2
        else:
            # avg ∈ [unk, best-attested]; perplexity consistent
            assert lm._LOG_UNK <= avg <= max(lm.LM_TABLE.values()) + 1e-9
            assert p == round(10.0 ** -avg, 4)


class TestSpark:
    def test_parity_with_python_scorer(self, spark):
        corpus_words = _TRAIN_CORPUS.split()
        rows = [
            (1, " ".join(corpus_words[:30])),
            (2, " ".join(corpus_words[100:140])),
            (3, "zxq qqv wvx zzk"),
            (4, "the of and " + " ".join(corpus_words[50:60])),
            (5, ""),
            (6, "solo"),
            (7, None),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["lm_bigrams"], r["avg_logprob"],
                             r["perplexity"])
               for r in lm.lm_perplexity(df).collect()}
        assert set(got) == {r[0] for r in rows}
        for doc_id, text in rows:
            n, avg, p = lm.lm_score_py(text or "")
            gn, gavg, gp = got[doc_id]
            assert gn == n
            if n is None:
                assert gavg is None and gp is None
            else:
                # identical fold order; tolerance only covers the
                # HALF_UP (Spark round) vs HALF_EVEN (Python round)
                # boundary on the last kept digit
                assert abs(gavg - avg) <= 2e-6
                assert abs(gp - p) <= max(1e-3, abs(p) * 1e-4)

    def test_plan_is_jvm_only_and_narrow(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox")], "doc_id long, text string")
        out = lm.lm_perplexity(df)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan
