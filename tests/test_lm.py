"""On-corpus bigram LM trainer + scorer (operators/lm.py).

Hand-computed oracle on a 2-doc corpus, unseen-bigram / unseen-context
backoff, untrained-language NULL, and the broadcast plan shape."""

import math

import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark.operators import lm


@pytest.fixture(scope="module")
def tiny(spark):
    # train corpus: "a b" and "a b b" (lang en)
    return spark.createDataFrame(
        [(1, "a b", "en"), (2, "a b b", "en")], ["doc_id", "text", "lang"]
    )


def test_train_counts_and_logp(spark, tiny):
    model = lm.train_bigram_lm(tiny)
    rows = {(r.w1, r.w2): r for r in model["bigrams"].collect()}
    # padded seqs: <s> a b </s>  and  <s> a b b </s>
    # bigrams: (<s>,a)x2 (a,b)x2 (b,</s>)x2 (b,b)x1
    assert {(k, v.c12) for k, v in rows.items()} == {
        (("<s>", "a"), 2),
        (("a", "b"), 2),
        (("b", "</s>"), 2),
        (("b", "b"), 1),
    }
    # contexts: <s>=2, a=2, b=3 ; V = distinct w2 = {a, b, </s>} = 3
    ctx = {r.w1: r.c1 for r in model["contexts"].collect()}
    assert ctx == {"<s>": 2, "a": 2, "b": 3}
    assert model["vocab"].collect()[0].v == 3
    # add-1 logp, rounded 6dp: p(b|a) = (2+1)/(2+3)
    assert rows[("a", "b")].logp == round(math.log10(3 / 5), 6)
    assert rows[("b", "b")].logp == round(math.log10(2 / 6), 6)


def test_score_hand_computed(spark, tiny):
    model = lm.train_bigram_lm(tiny)
    # "a b": all three bigrams seen; n_grams = 3
    # "a c": (<s>,a) seen; (a,c) unseen w2 -> log10(1/(2+3));
    #        (c,</s>) unseen context -> log10(1/(0+3))
    score = spark.createDataFrame(
        [(10, "a b", "en"), (11, "a c", "en")], ["doc_id", "text", "lang"]
    )
    out = {r.doc_id: r for r in lm.score_bigram_pp(score, model).collect()}
    lp_sa = round(math.log10(3 / 5), 6)  # (<s>,a): (2+1)/(2+3)
    lp_ab = round(math.log10(3 / 5), 6)
    lp_bs = round(math.log10(3 / 6), 6)  # (b,</s>): (2+1)/(3+3)
    exp10 = round(10 ** (-(lp_sa + lp_ab + lp_bs) / 3), 4)
    assert out[10].n_grams == 3 and out[10].lm_pp == exp10
    lp_ac = round(math.log10(1 / 5), 6)
    lp_cs = round(math.log10(1 / 3), 6)
    exp11 = round(10 ** (-(lp_sa + lp_ac + lp_cs) / 3), 4)
    assert out[11].n_grams == 3 and out[11].lm_pp == exp11


def test_untrained_language_is_null(spark, tiny):
    model = lm.train_bigram_lm(tiny)
    score = spark.createDataFrame([(20, "a b", "fr")], ["doc_id", "text", "lang"])
    row = lm.score_bigram_pp(score, model).collect()[0]
    assert row.lm_pp is None and row.n_grams == 3


def test_score_join_broadcasts_model(spark, tiny):
    model = lm.train_bigram_lm(tiny)
    score = spark.createDataFrame([(30, "a b", "en")], ["doc_id", "text", "lang"])
    plan = lm.score_bigram_pp(score, model)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
