"""Physical-plan shape assertions: the scale properties we claim must be
visible in explain() output — filter pushdown to the parquet scan, column
pruning (bytes excluded from the text plan), broadcast join for cutoffs,
and shuffle counts per operator."""

import pyspark.sql.functions as F

from ccnet_spark_spark.operators import bucket as bucket_op
from ccnet_spark_spark.operators import bpe, dedup, sample
from ccnet_spark_spark.operators.bucket import load_cutoffs_dict
from ccnet_spark_spark.operators.lines import explode_lines, with_line_hash
from ccnet_spark_spark.plans.pipeline import Config, Pipeline
from ccnet_spark_spark.synth import generate_pairs


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_min_len_filter_pushes_down(spark, tmp_path):
    path = str(tmp_path / "pairs")
    generate_pairs(spark, 200).write.parquet(path)
    df = spark.read.parquet(path).where(F.length("caption") >= 300).select("image_id", "caption")
    plan = _plan(df)
    # column pruning: the scan must read only the two projected columns
    assert "bytes" not in plan.split("ReadSchema")[-1]
    rs = plan.split("ReadSchema:")[-1]
    assert "caption" in rs and "image_id" in rs


def test_text_plan_never_reads_bytes(spark, tmp_path):
    path = str(tmp_path / "pairs2")
    generate_pairs(spark, 200).write.parquet(path)
    pairs = spark.read.parquet(path)
    deduped = dedup.line_dedup(pairs.select("image_id", "caption"), "image_id", "caption")
    plan = _plan(deduped)
    for chunk in plan.split("ReadSchema:")[1:]:
        first_line = chunk.split("\n")[0]
        assert "bytes" not in first_line, "image payload leaked into the text plan scan"


def test_cutoffs_join_is_broadcast(spark):
    df = spark.createDataFrame(
        [("en", 100.0), ("fr", 200.0)], ["lang", "perplexity"]
    )
    out = bucket_op.with_bucket(df, bucket_op.load_cutoffs(spark, cutoffs=load_cutoffs_dict()))
    assert "BroadcastHashJoin" in _plan(out) or "BroadcastNestedLoopJoin" in _plan(out)


def test_lookup_frames_are_local_relations(spark):
    """Python-side lookup tables plan as a LocalTableScan (rows in the
    plan): building them fires no job, and scanning them needs no Python
    worker, unlike createDataFrame(list)'s ExistingRDD."""
    sc = spark.sparkContext
    docs = spark.range(40).select(
        F.col("id").cast("string").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("fr").alias("lang"),
        (F.col("id") * 10.0).alias("perplexity"),
    )
    sc.setJobGroup("lookup_build", "lookup_build")
    try:
        frames = [
            bucket_op.with_bucket(docs, bucket_op.load_cutoffs(spark, cutoffs=load_cutoffs_dict())),
            sample.stratified_hash_sample(docs, "doc_id", "lang", {"en": 128}),
            sample.weighted_repeat(docs, "lang", {"en": 2.5}, id_col="doc_id"),
        ]
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("lookup_build")) == []
    merges, _vocab = bpe.train_bpe(spark, docs.select(F.lit("abab abc").alias("text")), num_merges=2)
    for df in frames + [merges]:
        plan = _plan(df)
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    for df in frames:
        assert "BroadcastHashJoin" in _plan(df)


def test_dedup_keep_is_single_shuffle(spark):
    lines = with_line_hash(
        explode_lines(
            spark.createDataFrame([("a", "x\ny"), ("b", "x\nz")], ["image_id", "caption"])
        )
    ).select("image_id", "line_id", "line", "hash_value")
    plan = _plan(dedup.dedup_keep(lines))
    # one Exchange (shuffle by hash_value); min_by => HashAggregate, no Window/Sort/Join
    assert plan.count("Exchange") <= 2  # partial/final agg pair shares one exchange; AQE may add a read
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_dedup_nokeep_plan_shapes(spark):
    lines = with_line_hash(
        explode_lines(
            spark.createDataFrame([("a", "x\ny"), ("b", "x\nz")], ["image_id", "caption"])
        )
    ).select("image_id", "line_id", "line", "hash_value")
    # default single-shuffle form: window count, no join, ONE exchange of
    # the line set (the reference's form shuffles it twice)
    plan = _plan(dedup.dedup_nokeep(lines))
    assert "Window" in plan and "Join" not in plan
    assert plan.count("Exchange") == 1


def test_pipeline_has_no_cartesian_and_uses_codegen(spark, tmp_path):
    path = str(tmp_path / "pairs3")
    generate_pairs(spark, 100).write.parquet(path)
    pairs = spark.read.parquet(path)
    out = Pipeline(spark, Config(cutoffs=load_cutoffs_dict())).run(pairs)
    pre = _plan(out)  # pre-execution adaptive plan: no stage duplication
    # scrub/normalize are expressions, not python UDFs: the only Python
    # evaluation nodes are the model stages (LID + fused tok/pp)
    assert pre.count("ArrowEvalPython") <= 2
    assert "BatchEvalPython" not in pre  # no row-at-a-time python anywhere
    assert "CartesianProduct" not in pre
    assert "BroadcastExchange" in pre  # cutoffs join broadcast
    out.collect()  # finalize THIS QueryExecution so AQE shows codegen stages
    final = _plan(out)
    assert "isFinalPlan=true" in final
    assert final.count("*(") >= 5  # WholeStageCodegen stages render as *(n)


def test_partition_prune_on_result(spark, tmp_path):
    out = str(tmp_path / "res")
    res = Pipeline(spark, Config(cutoffs=load_cutoffs_dict())).run(generate_pairs(spark, 200))
    res = res.withColumn("lang", F.coalesce("lang", F.lit("__null__")))
    res.write.mode("overwrite").partitionBy("lang", "bucket").parquet(out)
    one = spark.read.parquet(out).where((F.col("lang") == "en") & (F.col("bucket") == "head"))
    plan = _plan(one)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "lang" in seg and "bucket" in seg


def test_no_contract_query_plans_cartesian(spark):
    """Structural guard over the WHOLE contract surface: no queries() entry
    may plan a CartesianProduct or BroadcastNestedLoopJoin — except
    cosine_neardup, the explicitly-labeled bounded exactness baseline.
    Streaming/pipeline entries that execute on build are skipped (they are
    covered by their own tests); plan construction at sf0.001 is cheap."""
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as em

    skip = {
        "cosine_neardup",   # labeled cartesian baseline (bounded 200x200)
        "ann_topk",         # brute-force BY DESIGN: corpus x broadcast(small
                            # query set) IS a BroadcastNestedLoopJoin; the
                            # corpus never shuffles, the NLJ side is tiny
        "streaming_dedup",  # executes a stream on build
        "pairs_pipeline",   # generator + full pipeline, covered elsewhere
        "image_stats",      # generator-driven
        "ivf_ann",          # driver-side k-means sample on build
    }
    sf_dir = "/root/testdata/sf0.001"
    offenders = {}
    for name, fn in em.queries().items():
        if name in skip:
            continue
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders[name] = True
    assert not offenders, f"cartesian/nested-loop joins in: {sorted(offenders)}"


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval-gram set must broadcast (benchmarks are tiny vs a 10^12-row
    corpus) and the corpus must never self-join."""
    from ccnet_spark_spark.operators.dedup import decontaminate

    corpus = spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(50)],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame([(0, "alpha beta gamma delta epsilon zeta eta theta")],
                               "doc_id long, text string")
    plan = _plan(decontaminate(corpus, ev, "doc_id", "text"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_broadcasts_rates(spark):
    from ccnet_spark_spark.operators.sample import stratified_hash_sample

    df = spark.createDataFrame([(i, "en") for i in range(100)], "doc_id long, lang string")
    plan = _plan(stratified_hash_sample(df, "doc_id", "lang", {"en": 26}))
    assert "BroadcastHashJoin" in plan
    # the big side must not shuffle: only broadcast exchanges allowed
    import re

    assert not re.search(r"Exchange hashpartitioning", plan)


def test_gopher_ngrams_has_no_join(spark):
    """The sentinel-branch design replaced the zero-gram join-back; the plan
    must be pure scan -> union -> two aggregation exchanges, no join."""
    from ccnet_spark_spark.operators.quality_rules import gopher_ngram_stats

    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = _plan(gopher_ngram_stats(df))
    assert "Join" not in plan
