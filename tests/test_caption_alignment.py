"""caption_image_alignment: CLIP-score-style caption-image filter.

Covers the non-oracle surface: engine caption embeddings are
bit-identical to the independent fixture re-implementation, the
zero-vector caption path (NULL alignment, aligned=false, no ANSI
divide-by-zero), threshold semantics, and plan shape (two Arrow
crossings, narrow projections, no all-pairs join).
"""

import hashlib
import os
import sys

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ccnet_spark_spark.operators.multimodal import (  # noqa: E402
    caption_embedding,
    caption_image_alignment,
)
from ccnet_spark_spark.schema import PAIRS_SCHEMA  # noqa: E402


def test_caption_embedding_matches_independent_fixture(spark):
    from ccnet_spark_spark.synth import generate_pairs

    got = caption_embedding(generate_pairs(spark, 40)).toPandas()
    exp = pd.read_parquet(os.path.join(REPO, "fixtures", "caption_embed200_expected.parquet"))
    merged = got.merge(exp, on="image_id", suffixes=("_got", "_exp"))
    assert len(merged) == 40
    for _, r in merged.iterrows():
        assert np.array_equal(
            np.asarray(r.embedding_got, dtype=np.float32),
            np.asarray(r.embedding_exp, dtype=np.float32),
        ), r.image_id


def test_zero_caption_vector_gives_null_alignment(spark):
    from ccnet_spark_spark.codecs import encode_ppm

    px = bytearray(encode_ppm(np.full((2, 2, 3), 16, dtype=np.uint8)))
    rows = [
        ("img_a", px, 2, 2, "ppm", "   \n ", 0),
        ("img_b", px, 2, 2, "ppm", None, 0),
        ("img_c", px, 2, 2, "ppm", "a real caption", 0),
    ]
    out = {
        r.image_id: r
        for r in caption_image_alignment(spark.createDataFrame(rows, PAIRS_SCHEMA)).collect()
    }
    assert out["img_a"].alignment is None and out["img_a"].aligned is False
    assert out["img_b"].alignment is None and out["img_b"].aligned is False
    assert out["img_c"].alignment is not None


def test_threshold_splits_on_tau(spark):
    from ccnet_spark_spark.synth import generate_pairs

    pdf = caption_image_alignment(generate_pairs(spark, 120), tau=0.1).toPandas()
    scored = pdf[pdf.alignment.notna()]
    assert ((scored.alignment >= 0.1) == scored.aligned).all()
    # tau at the median splits the corpus non-trivially
    assert 0 < scored.aligned.sum() < len(scored)


def test_plan_two_arrow_crossings_no_cartesian(spark):
    from ccnet_spark_spark.synth import generate_pairs

    df = caption_image_alignment(generate_pairs(spark, 30))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # generator (x2 branches) + image tower + caption tower mapInPandas;
    # the cosine itself must add no Python stage
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_token_digest_cache_evicts_oldest_half(monkeypatch):
    from ccnet_spark_spark.operators import multimodal

    monkeypatch.setattr(multimodal, "_TOK_DIGEST_CACHE", {})
    monkeypatch.setattr(multimodal, "_TOK_DIGEST_CACHE_MAX", 4)
    for tok in ["a", "b", "c", "d"]:
        multimodal._tok_digest(tok)
    multimodal._tok_digest("b")  # a hit never reorders: eviction is by insertion
    d = multimodal._tok_digest("e")
    assert list(multimodal._TOK_DIGEST_CACHE) == ["c", "d", "e"]
    assert d == int.from_bytes(hashlib.blake2b(b"e", digest_size=8).digest(), "big")
