"""Regression tests for round-3 ADVICE/VERDICT fixes.

1. Sentinel-signature filtering: shingle-less docs (< shingle_n tokens) must
   never band-match each other — previously they all shared the identical
   sentinel signature, creating O(k^2) candidate pairs within one skewed
   band group and silently dropping every shingle-less doc but one.
2. simhash_neardup_pairs: exact duplicates are found at hamming 0; docs in
   different prefix buckets are never paired.
"""

import pyspark.sql.functions as F
import pytest

from ccnet_spark_spark.operators import dedup

LONG_A = "the quick brown fox jumps over the lazy dog near the river"
LONG_B = "a completely different sentence about mountains and weather patterns today"


@pytest.fixture()
def mixed_docs(spark):
    rows = [
        ("d0", ""),  # shingle-less
        ("d1", "one"),  # shingle-less
        ("d2", "two words"),  # shingle-less
        ("d3", LONG_A),
        ("d4", LONG_A),  # true near-dup of d3
        ("d5", LONG_B),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("algo", ["sha2", "xxhash64"])
def test_sentinel_signatures_never_band(spark, mixed_docs, algo):
    sigs = dedup.minhash_signatures(mixed_docs, "doc_id", "text", num_hashes=8, shingle_n=3, algo=algo)
    pairs = dedup.minhash_lsh_candidates(sigs, "doc_id", num_bands=4, rows_per_band=2).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert got == {("d3", "d4")}  # identical docs pair; shingle-less docs never do


def test_lsh_dedup_keeps_all_shingleless_docs(spark, mixed_docs):
    survivors = {
        r["doc_id"]
        for r in dedup.minhash_lsh_dedup(mixed_docs, "doc_id", "text", num_hashes=8, num_bands=4).collect()
    }
    # only the true near-dup (d4, larger id of the d3/d4 pair) is dropped
    assert survivors == {"d0", "d1", "d2", "d3", "d5"}


def test_simhash_neardup_exact_dup_at_zero(spark):
    rows = [("d1", LONG_A), ("d2", LONG_A), ("d3", LONG_B)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = dedup.simhash_neardup_pairs(df, "doc_id", "text", prefix_bits=16, max_hamming=8).collect()
    assert {(r["id_a"], r["id_b"], r["hamming"]) for r in got} == {("d1", "d2", 0)}


def test_simhash_neardup_plan_is_bucketed_equijoin(spark):
    """Scale shape: the pair space is pruned by a bucket equi-join, never a
    cartesian product."""
    rows = [("d1", LONG_A), ("d2", LONG_B)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    plan = (
        dedup.simhash_neardup_pairs(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pipeline_on_empty_input(spark):
    """0-row input -> 0-row output with the full engine schema, no crash
    (empty aggregations, empty Arrow batches, empty broadcast sides)."""
    from ccnet_spark_spark.operators.bucket import load_cutoffs_dict
    from ccnet_spark_spark.plans.pipeline import ENGINE_COLUMNS, Config, Pipeline
    from ccnet_spark_spark.synth import generate_pairs

    empty = generate_pairs(spark, 4).limit(0)
    out = Pipeline(spark, Config(cutoffs=load_cutoffs_dict())).run(empty)
    assert out.count() == 0
    for col in ENGINE_COLUMNS:
        if col == "tokenized":
            continue  # dropped by the default "drop" step (reference DROP step)
        assert col in out.columns, col


def test_connected_components_collapses_chains(spark):
    """CC must label whole components, including the transitive chain the
    pair-wise min-id dedup under-collapses: pairs (1,3),(2,3) are ONE
    cluster {1,2,3} -> all labeled 1 (min-id dedup would keep both 1 and 2)."""
    from ccnet_spark_spark.operators.graph import connected_components, dup_clusters

    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (10, 11), (11, 12), (12, 13), (20, 21)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["cluster"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 20, 21, 99]], ["doc_id"])
    clusters = {r["doc_id"]: r["cluster"] for r in dup_clusters(docs, edges).collect()}
    assert clusters == {1: 1, 2: 1, 3: 1, 20: 20, 21: 20, 99: 99}  # 99 = singleton
