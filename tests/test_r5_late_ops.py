"""Round-5 late additions: self-calibrating alignment filter,
cluster-balanced diverse sampling, release pipelines.

The contract queries are value-checked against DuckDB by the oracle
harness; these tests pin the operator-level semantics (quota bound,
percentile keep rule) and the plan shapes.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ccnet_spark_spark.schema import PAIRS_SCHEMA
from ccnet_spark_spark.synth import gen_quarantine_pairs


# ------------------------------------------------------- diverse sampling
def test_diverse_sample_quota_and_determinism(spark):
    from ccnet_spark_spark.operators import sample, similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    planes = similarity.hyperplanes(64, 6, seed=7)
    b = similarity.with_lsh_bucket(emb, "embedding", planes)
    out = sample.group_quota(b, "lsh_bucket", quota=8, id_col="vec_id")
    pdf = out.toPandas()
    assert pdf.groupby("lsh_bucket").size().max() <= 8
    # groups at/below quota are kept whole
    sizes = b.groupBy("lsh_bucket").count().toPandas().set_index("lsh_bucket")["count"]
    kept = pdf.groupby("lsh_bucket").size()
    for bucket, n in sizes.items():
        assert kept.get(bucket, 0) == min(int(n), 8)
    # partition-layout invariance: same kept id set from a reshuffled input
    pdf2 = sample.group_quota(
        b.repartition(13, "vec_id"), "lsh_bucket", quota=8, id_col="vec_id"
    ).toPandas()
    assert sorted(pdf2.vec_id) == sorted(pdf.vec_id)


# ------------------------------------------------- alignment self-calibration
def test_alignment_selfcal_keep_rule(spark):
    import __spark_entry__ as entry

    kept = entry.q_alignment_selfcal(spark, "/root/testdata/sf0.001").toPandas()
    assert len(kept) > 0
    # every kept row clears its own language's cutoff
    assert (kept.alignment >= kept.cutoff).all()
    # one cutoff per language group (null lang is its own group)
    per_lang = kept.groupby(kept.lang.fillna("__null__")).cutoff.nunique()
    assert (per_lang == 1).all()
    # self-calibration keeps roughly the top 30% of each language — never
    # more than 40% of the group, never empty for groups of >= 4 rows
    from ccnet_spark_spark.operators import lid as lid_op
    from ccnet_spark_spark.operators.multimodal import caption_image_alignment
    from ccnet_spark_spark.synth import generate_pairs

    pairs = generate_pairs(spark, 200)
    al = caption_image_alignment(pairs, tau=0.1).where(F.col("alignment").isNotNull())
    langs = lid_op.with_lang(pairs.select("image_id", "caption"), "caption").select(
        "image_id", "lang"
    )
    scored = al.join(langs, "image_id").toPandas()
    group_sizes = scored.groupby(scored.lang.fillna("__null__")).size()
    kept_sizes = kept.groupby(kept.lang.fillna("__null__")).size()
    for lang, n in group_sizes.items():
        k = int(kept_sizes.get(lang, 0))
        assert k <= max(1, int(0.4 * n) + 1), (lang, k, n)
        if n >= 4:
            assert k >= 1, (lang, n)


# ------------------------------------------------- pipeline quarantine stage
def test_pipeline_quarantine_gates_the_scrub(spark):
    """The motivation pin: payload_scrub PARSES headers and must fail on a
    corrupt corpus; quarantine=True in front makes the same corpus run
    clean and drop exactly the corrupt plants."""
    from ccnet_spark_spark.plans.pipeline import Config, Pipeline
    from ccnet_spark_spark.synth import generate_pairs

    corrupt = spark.createDataFrame(gen_quarantine_pairs(3), schema=PAIRS_SCHEMA)
    corpus = generate_pairs(spark, 40).unionByName(corrupt)

    with pytest.raises(Exception):
        Pipeline(spark, Config(payload_scrub=True)).run(corpus).count()

    out = Pipeline(spark, Config(quarantine=True, payload_scrub=True)).run(corpus)
    ids = [r.image_id for r in out.select("image_id").collect()]
    assert not any(
        i.startswith(("img_bad_", "img_dims_")) for i in ids
    ), "corrupt plants must be quarantined before the scrub"
    assert any(i.startswith("img_ok_copy_") for i in ids), "control copies must survive"


# ------------------------------------------------- semantic decontamination
def test_semantic_decontaminate_catches_exact_leaks(spark):
    from ccnet_spark_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    evals = emb.where(F.col("vec_id") < 10).select("embedding")
    out = similarity.semantic_decontaminate(
        emb, evals, threshold=0.3, n_planes=4, dim=64, seed=11
    )
    ids = {r.vec_id for r in out.select("vec_id").collect()}
    # exact leaks (cosine 1.0, always bucket-colocated) must ALL drop
    assert not (ids & set(range(10)))
    # and decontamination must not wipe the corpus
    assert len(ids) > 400
    # eval side broadcasts; corpus is never cross-joined
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


# ----------------------------------------------------------- empty inputs
def test_late_ops_empty_inputs(spark):
    """Empty-input behavior of the session's operators: empty frames in,
    empty (not crashed) frames out; empty eval set decontaminates nothing."""
    from ccnet_spark_spark.operators import sample, similarity
    from ccnet_spark_spark.operators.multimodal import (
        quarantine_passthrough,
        validate_payloads,
    )

    empty_pairs = spark.createDataFrame([], schema=PAIRS_SCHEMA)
    assert validate_payloads(empty_pairs).count() == 0
    assert quarantine_passthrough(empty_pairs).count() == 0

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    empty_emb = emb.limit(0)
    # empty corpus -> empty selection
    planes = similarity.hyperplanes(64, 6, seed=7)
    b = similarity.with_lsh_bucket(empty_emb, "embedding", planes)
    assert sample.group_quota(b, "lsh_bucket", quota=8, id_col="vec_id").count() == 0
    # empty EVAL set -> nothing flagged, whole corpus survives
    n = emb.count()
    out = similarity.semantic_decontaminate(
        emb, empty_emb.select("embedding"), threshold=0.3, n_planes=4, dim=64, seed=11
    )
    assert out.count() == n


# ------------------------------------------------- hard-negative mining
def test_hard_negatives_semantics(spark):
    from ccnet_spark_spark.operators import similarity
    from ccnet_spark_spark.operators.multimodal import caption_embedding, image_embedding
    from ccnet_spark_spark.synth import generate_pairs

    pairs = generate_pairs(spark, 120)
    img = image_embedding(pairs.where(F.col("image_id") < "img0000000015"))
    cap = caption_embedding(pairs)
    out = similarity.hard_negatives(
        img, cap, id_col="image_id", vec_col="embedding", k=2, n_planes=3, dim=64, seed=5
    ).toPandas()
    # never the positive (own caption), ranks contiguous, cosine sorted
    assert (out.query_id != out.negative_id).all()
    for _, g in out.groupby("query_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, len(g) + 1))
        assert list(g.cosine) == sorted(g.cosine, reverse=True)
    # the plan is the bucket equi-join shape, never all-pairs
    plan = (
        similarity.hard_negatives(img, cap, id_col="image_id", vec_col="embedding")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the query tower must BROADCAST into the bucket join (a plain join on
    # an 8-value bucket key would funnel the corpus through 8 tasks)
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------- full release pipeline
def test_dataset_release_invariants(spark):
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    out = entry.q_dataset_release(spark, sf).toPandas()
    assert len(out) > 0
    # budget respected
    assert int(out.n_tokens.sum()) <= 5_000
    # the eval slice (doc_id % 50 == 0) is drawn from the corpus, so every
    # released doc must NOT be an exact eval leak
    assert not (out.doc_id % 50 == 0).any()
    # training order is complete and contiguous per shard
    for _, g in out.groupby("shard"):
        assert sorted(g.pos) == list(range(1, len(g) + 1))
    # released docs all pass the word gates
    from ccnet_spark_spark.operators import quality_rules

    docs = spark.read.parquet(os.path.join(sf, "documents.parquet")).select("doc_id", "text")
    gate = quality_rules.gopher_word_rules(docs, min_words=40).toPandas().set_index("doc_id")
    assert gate.loc[out.doc_id].keep.all()


def test_pairs_release_invariants(spark):
    import __spark_entry__ as entry

    out = entry.q_pairs_release(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    # corrupt plants and byte-copy plants never reach the manifest
    assert not out.image_id.str.startswith(("img_bad_", "img_dims_")).any()
    assert not out.image_id.str.endswith("_copy").any()
    # the per-language cap holds (null lang is its own group)
    assert out.groupby(out.lang.fillna("__null__")).size().max() <= 10
