"""Operator-level unit tests: near-dup detection on planted duplicates,
ANN vs a numpy oracle, normalizer edge cases. The multimodal operators
are tested in test_multimodal.py."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from ccnet_spark_spark.functions.normalize import normalize_for_dedup_expr, normalize_for_dedup_py
from ccnet_spark_spark.functions.scrub import scrub_py
from ccnet_spark_spark.operators import dedup, similarity

TRICKY = [
    "Hello, World! 123",
    "  spaced  out  ",
    "ALLCAPS with 42 Digits 7",
    "tab\tand ctrl\x01chars\x9f",
    "中文，标点。测试！《引号》",
    "café crème élégant ÀÉÎ",
    "",
    "   ",
    "!!!???...",
    "a1b2c3",
]


def test_dedup_nokeep_drops_every_copy_keeps_null_hashes(spark):
    rows = [
        ("a", 0, "x", "h1"),
        ("b", 0, "x", "h1"),  # dup of a's line
        ("a", 1, "y", "h2"),
        ("c", 0, "z", "h3"),
        ("c", 1, "z2", "h3"),  # dup within doc
        ("d", 0, "n1", None),  # NULL hashes: unknown content, NOT dups of
        ("e", 0, "n2", None),  # each other — both must survive
    ]
    lines = spark.createDataFrame(rows, ["doc_id", "line_id", "line", "hash_value"])
    got = sorted((r["doc_id"], r["line_id"]) for r in dedup.dedup_nokeep(lines).collect())
    assert got == [("a", 1), ("d", 0), ("e", 0)]


def test_normalize_expr_matches_python(spark):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(TRICKY)], ["i", "t"])
    got = {r["i"]: r["n"] for r in df.select("i", normalize_for_dedup_expr(F.col("t")).alias("n")).collect()}
    for i, t in enumerate(TRICKY):
        assert got[i] == normalize_for_dedup_py(t), repr(t)


def test_normalize_collapses_near_dups():
    a = normalize_for_dedup_py("The Quick Brown Fox 123!")
    b = normalize_for_dedup_py("the quick brown fox 987?")
    assert a == b


def test_scrub_patterns():
    assert scrub_py("mail bob.smith+x@foo-bar.example.com now") == "mail <EMAIL> now"
    assert scrub_py("call 555-123-4567 today") == "call <PHONE> today"
    assert scrub_py("host 10.0.255.1 down") == "host <IP> down"
    assert scrub_py("what a frakk day") == "what a <TOX> day"
    assert scrub_py("normal text 1234 stays") == "normal text 1234 stays"


def _near_dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river stones every single morning"
    rows = [
        (1, base),
        (2, base.replace("morning", "evening")),  # near-dup of 1
        (3, "completely different content about distant lands and ancient songs of travelers resting"),
        (4, base.upper()),  # near-dup of 1 after normalization
        (5, "another unrelated document with warm fires and tall trees waving softly under clear skies"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_lsh_finds_planted_neardups(spark):
    docs = _near_dup_docs(spark)
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    pairs = dedup.minhash_lsh_candidates(sigs, "doc_id", num_bands=8, rows_per_band=2).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found
    assert (1, 4) in found
    assert (3, 5) not in found


def test_minhash_lsh_dedup_drops_losers(spark):
    docs = _near_dup_docs(spark)
    kept = dedup.minhash_lsh_dedup(docs, "doc_id", "text", num_hashes=16, num_bands=8)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert 1 in ids and 2 not in ids and 4 not in ids
    assert 3 in ids and 5 in ids


def test_ngram_jaccard_exact(spark):
    docs = _near_dup_docs(spark)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # identical post-normalize
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0


def test_simhash_dedup(spark):
    docs = _near_dup_docs(spark)
    kept = sorted(r["doc_id"] for r in dedup.simhash_dedup(docs, "doc_id", "text", prefix_bits=12).collect())
    # 4 is an exact twin of 1 after normalization -> identical simhash -> dropped
    assert 1 in kept and 4 not in kept
    assert 3 in kept and 5 in kept


def test_exact_dedup(spark):
    docs = _near_dup_docs(spark)
    kept = sorted(r["doc_id"] for r in dedup.exact_dedup(docs, "doc_id", "text").collect())
    assert kept == [1, 2, 3, 5]  # 4 == 1 after normalization


def test_brute_force_topk_vs_numpy(spark):
    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((60, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    got = (
        similarity.brute_force_topk(df, df.where(F.col("vec_id") < 3), k=4)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )
    for q in range(3):
        sims = vecs @ vecs[q] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[q]))
        sims = np.round(sims.astype(np.float64), 4)
        order = sorted(range(60), key=lambda i: (-sims[i], i))
        expected = [i for i in order if i != q][:4]
        assert list(got[got.query_id == q]["neighbor_id"]) == expected


def test_lsh_ann_recall(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    # plant an exact near-neighbor for vec 0
    base[1] = base[0] + rng.standard_normal(16).astype(np.float32) * 0.01
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(base)], ["vec_id", "embedding"])
    got = similarity.lsh_topk(df, df.where(F.col("vec_id") == 0), k=3, n_planes=4, dim=16).collect()
    assert any(r["neighbor_id"] == 1 for r in got)  # near-identical vec shares all hyperplane signs


def test_embedding_near_dup(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((30, 16)).astype(np.float32)
    base[7] = base[3] * 1.001
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(base)], ["vec_id", "embedding"])
    pairs = similarity.embedding_near_dup(df, threshold=0.99, n_planes=4, dim=16).collect()
    assert any(r["id_a"] == 3 and r["id_b"] == 7 for r in pairs)


def test_decode_unknown_format_raises():
    from ccnet_spark_spark import codecs

    with pytest.raises(NotImplementedError):
        codecs.decode(b"\xff\xd8\xff", "jpeg")


def test_ivf_topk_recall(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((200, 16)).astype(np.float32)
    base[5] = base[0] * 0.99  # planted near-identical neighbor of vec 0
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(base)], ["vec_id", "embedding"])
    got = similarity.ivf_topk(df, df.where(F.col("vec_id") < 3), k=5, n_centroids=8, nprobe=3)
    pdf = got.toPandas()
    assert set(pdf["query_id"]) == {0, 1, 2}
    assert (pdf.groupby("query_id").size() <= 5).all()
    # the planted twin shares vec 0's cluster by construction
    assert 5 in list(pdf[pdf.query_id == 0]["neighbor_id"])
    # recall sanity vs brute force: IVF top-1 == exact top-1 for the twin
    bf = similarity.brute_force_topk(df, df.where(F.col("vec_id") == 0), k=1).collect()
    assert bf[0]["neighbor_id"] == 5
