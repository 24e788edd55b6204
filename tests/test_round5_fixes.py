"""Round-5 additions: batched BPE training and StagedParquetWriter
isolation/empty-write fixes."""

from __future__ import annotations

import os

import pandas as pd
import pytest

FIX = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


# ---------------------------------------------------------------- batched BPE


def test_select_disjoint_rules():
    """Greedy symbol-disjoint selection: shared left/right blocks, a
    candidate whose merged string collides with a selected symbol or
    merged string blocks, cap respected, order preserved."""
    from ccnet_spark_spark.operators.bpe import select_disjoint

    cands = [
        ("a", "b", 10),  # selected
        ("b", "c", 9),  # blocked: shares b
        ("c", "d", 8),  # selected
        ("x", "cd", 7),  # blocked: cd is a selected merged string
        ("a", "a", 6),  # blocked: shares a
        ("e", "f", 5),  # selected
        ("g", "h", 4),  # beyond cap
    ]
    got = select_disjoint(cands, 3)
    assert got == [("a", "b", 10), ("c", "d", 8), ("e", "f", 5)]
    # batch_size=1 == classic argmax
    assert select_disjoint(cands, 1) == [("a", "b", 10)]
    # merged-string collision in the other direction: selecting (a,b)->ab
    # blocks a later candidate whose SYMBOL is ab
    got2 = select_disjoint([("a", "b", 10), ("ab", "q", 9), ("q", "r", 8)], 3)
    assert got2 == [("a", "b", 10), ("q", "r", 8)]


def test_bpe_batched_hand_computed(spark):
    """'ab ab ab abc abc zz', batch_size=2. Round 1 candidates sorted:
    (a,b)=5, (b,c)=2, (z,z)=1 -> select (a,b); (b,c) blocked (shares b);
    select (z,z). Round 2: only (ab,c)=2 remains -> rank 2. The batched
    ORDER differs from classic ([ab, abc, zz]) exactly as documented:
    the mid-batch pair (ab,c) waits one round."""
    from ccnet_spark_spark.operators import bpe

    docs = spark.createDataFrame([(1, "ab ab ab abc abc zz")], ["doc_id", "text"])
    merges, vocab = bpe.train_bpe(spark, docs, "text", num_merges=5, batch_size=2)
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in merges.orderBy("rank").collect()
    ]
    assert got == [(0, "a", "b", 5), (1, "z", "z", 1), (2, "ab", "c", 2)]
    v = {r["word"]: r["symbols"] for r in vocab.collect()}
    assert v == {"ab": "ab", "abc": "abc", "zz": "zz"}


def test_bpe_batched_fixture_exact(spark):
    """batch_size=16 / num_merges=128 over the sf0.001 documents table must
    reproduce the INDEPENDENT batched-schedule fixture bit-for-bit — merge
    table (order, pairs, counts) and final vocab. The 31-word corpus
    exhausts at ~89 merges, identically on both sides."""
    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("no sf0.001 testdata")
    from ccnet_spark_spark.operators import bpe

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    merges, vocab = bpe.train_bpe(spark, docs, "text", num_merges=128, batch_size=16)
    mp = merges.orderBy("rank").toPandas().astype({"rank": "int32"}).reset_index(drop=True)
    fm = pd.read_parquet(os.path.join(FIX, "bpe_merges_b16_sf0.001.parquet"))
    assert len(mp) == len(fm) and len(mp) < 128  # exhaustion, same on both sides
    pd.testing.assert_frame_equal(mp, fm)
    vp = (
        vocab.orderBy("word")
        .toPandas()[["word", "symbols", "freq"]]
        .astype({"freq": "int64"})
        .reset_index(drop=True)
    )
    fv = pd.read_parquet(os.path.join(FIX, "bpe_vocab_b16_sf0.001.parquet")).astype(
        {"freq": "int64"}
    )
    pd.testing.assert_frame_equal(vp, fv)


def test_bpe_batch1_unchanged(spark):
    """batch_size=1 must remain classic BPE — same result as the r4
    sequential trainer on the hand-computed corpus (regression guard for
    the batching rewrite)."""
    from ccnet_spark_spark.operators import bpe

    docs = spark.createDataFrame([(1, "ab ab ab abc abc zz")], ["doc_id", "text"])
    merges, _ = bpe.train_bpe(spark, docs, "text", num_merges=3, batch_size=1)
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in merges.orderBy("rank").collect()
    ]
    assert got == [(0, "a", "b", 5), (1, "ab", "c", 2), (2, "z", "z", 1)]


# ------------------------------------------------ bloom probe strategies


def test_bloom_probe_strategies_agree(spark):
    """The broadcast/numpy probe (large-bloom scale path, forced here by
    passing a broadcast handle) must return bit-identical verdicts to the
    hex-string-literal probe (small-bloom codegen path), including zero
    false negatives for every built key."""
    import numpy as np
    from pyspark.sql import functions as F

    from ccnet_spark_spark.operators import dedup

    keys = spark.range(2000).select(F.concat(F.lit("k"), F.col("id")).alias("hv"))
    words = dedup.build_bloom_words(keys, "hv", m_bits=1 << 14)
    probe_df = spark.range(4000).select(F.concat(F.lit("k"), F.col("id")).alias("hv"))
    lit_hits = {
        r["hv"]: r["_bloom_hit"]
        for r in dedup.bloom_might_contain(probe_df, "hv", words).collect()
    }
    handle = spark.sparkContext.broadcast(np.array(words, dtype=np.int64))
    bc_hits = {
        r["hv"]: r["_bloom_hit"]
        for r in dedup.bloom_might_contain(probe_df, "hv", handle).collect()
    }
    assert lit_hits == bc_hits
    # no false negatives: every built key must hit
    for i in range(2000):
        assert lit_hits[f"k{i}"] is True


# ------------------------------------------- StagedParquetWriter isolation


class _Msg:
    def __init__(self, staged):
        self.staged = staged


def _make_writer(path, overwrite=False):
    from ccnet_spark_spark.sources.pairs_source import StagedParquetWriter

    class _Schema:
        names = ["doc_id", "text"]

    return StagedParquetWriter({"path": path}, _Schema(), overwrite)


def test_staged_writer_empty_write_to_missing_path(tmp_path):
    """A fully-empty write to a not-yet-existing target dir must still
    commit: makedirs + _SUCCESS, no crash (every partition empty means
    write() never created the dir)."""
    target = str(tmp_path / "out")
    w = _make_writer(target)
    msgs = [w.write(iter([])), w.write(iter([]))]
    assert all(m.staged == "" for m in msgs)
    w.commit(msgs)
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    assert not [f for f in os.listdir(target) if f.endswith(".parquet")]


def test_custom_sink_crash_between_staging_and_commit_streaming(spark, tmp_path):
    """VERDICT r4 stretch: the custom two-phase-commit sink driven by a
    foreachBatch stream that DIES between staging and commit, then
    restarts from the same checkpoint. Readers must see old-complete
    (the pre-crash publish) during the failure window and new-complete
    after the replay — never a mix. The crash is injected via the sink's
    filesystem fault hook because the commit planner runs in a separate
    Python worker process."""
    import time

    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from ccnet_spark_spark.sources.pairs_source import PairsDataSource

    em._ensure_pkg(spark)
    spark.dataSource.register(PairsDataSource)
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def write_src(tag, n):
        spark.createDataFrame(
            [(f"{tag}{i}", f"caption {tag} {i}") for i in range(n)],
            "doc_id string, text string",
        ).coalesce(1).write.mode("append").parquet(src)

    def run_stream():
        stream = spark.readStream.schema("doc_id string, text string").parquet(src)

        def sink_batch(df, _bid):
            # publish-latest pattern: every micro-batch overwrites the
            # published table through the 2PC custom sink
            df.write.format("ccnet_pairs").mode("overwrite").option("path", out).save()

        return (
            stream.writeStream.foreachBatch(sink_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    def published():
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            return None
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    # batch 1 commits cleanly
    write_src("a", 5)
    q = run_stream()
    q.awaitTermination(120)
    assert published() == {f"a{i}" for i in range(5)}

    # batch 2: crash injected between staging and commit
    with open(os.path.join(out, "_FAULT_CRASH_COMMIT"), "w"):
        pass
    write_src("b", 7)
    q = run_stream()
    failed = False
    try:
        q.awaitTermination(120)
        failed = q.exception() is not None
    except Exception:
        failed = True
    assert failed, "stream must fail on the injected commit crash"
    # old publish intact, no partial rows from the crashed attempt
    assert published() == {f"a{i}" for i in range(5)}
    assert os.path.exists(os.path.join(out, "_FAULT_CRASH_DONE"))

    # restart from the SAME checkpoint: batch 2 replays and commits. The
    # publish-latest overwrite means the replayed batch's rows (only the
    # b-file — the a-file's batch is already checkpoint-committed)
    # REPLACE the previous publish.
    q = run_stream()
    q.awaitTermination(120)
    want = {f"b{i}" for i in range(7)}
    deadline = time.time() + 60
    while time.time() < deadline and published() != want:
        time.sleep(1)
    assert published() == want
    # an orphaned staging dir (hard kill, no abort) is invisible to
    # readers: underscore-prefixed dirs are excluded by convention
    orphan = os.path.join(out, "_staging-deadbeef")
    os.makedirs(orphan)
    spark.createDataFrame([("zz", "junk")], "doc_id string, text string").toPandas().to_parquet(
        os.path.join(orphan, "part-junk.parquet"), index=False
    )
    assert published() == want


def test_staged_writer_concurrent_writes_isolated(tmp_path):
    """Two writers targeting the SAME path stage into disjoint dirs: one
    job's commit (or abort) must never delete the other's staged files or
    published output."""
    target = str(tmp_path / "out")
    a = _make_writer(target)
    b = _make_writer(target)
    assert a.staging != b.staging
    ma = a.write(iter([("d1", "from-a")]))
    mb = b.write(iter([("d2", "from-b")]))
    # a commits while b is still staged: b's file must survive
    a.commit([ma])
    assert os.path.exists(mb.staged)
    b.commit([mb])
    out = pd.read_parquet(target)
    assert sorted(out["doc_id"]) == ["d1", "d2"]
    # abort of a third writer leaves published data alone
    c = _make_writer(target)
    c.write(iter([("d3", "aborted")]))
    c.abort([])
    out2 = pd.read_parquet(target)
    assert sorted(out2["doc_id"]) == ["d1", "d2"]
    assert not os.path.exists(c.staging)


# ------------------------------------------- curated pipeline composition


def test_curated_pipeline_cascade(spark):
    """Config(caption_budget, model_gates) composes the DataComp cascade
    in cost order: the 20 stock-caption plants (gate-passing metadata)
    die at the BUDGET stage, never reaching the towers; survivors are a
    subset of the gates-only run; NULL captions are budget-exempt."""
    import pyspark.sql.functions as F

    from ccnet_spark_spark.operators.image_quality import keep_expr
    from ccnet_spark_spark.plans.pipeline import Config, Pipeline
    from ccnet_spark_spark.synth import generate_pairs

    from __spark_entry__ import _cutoffs

    base = generate_pairs(spark, 400)
    plants = base.where(keep_expr() & (F.col("image_id") < "img0000000100")).select(
        F.concat("image_id", F.lit("_bp")).alias("image_id"),
        "bytes",
        "w",
        "h",
        "fmt",
        F.lit("stock photo of a generic product").alias("caption"),
        "phash",
    )
    corpus = base.unionByName(plants)
    assert plants.count() == 20

    gated = Pipeline(spark, Config(cutoffs=_cutoffs(), image_gates=True)).run(corpus)
    gated_ids = {r[0] for r in gated.select("image_id").collect()}
    # plants pass the metadata gates (they were selected to)
    assert sum(1 for i in gated_ids if i.endswith("_bp")) == 20

    budgeted = Pipeline(
        spark, Config(cutoffs=_cutoffs(), image_gates=True, caption_budget=10)
    ).run(corpus)
    budgeted_ids = {r[0] for r in budgeted.select("image_id").collect()}
    # ... and ALL die at the budget; no base row does (unique captions)
    assert not any(i.endswith("_bp") for i in budgeted_ids)
    assert budgeted_ids == {i for i in gated_ids if not i.endswith("_bp")}

    curated = Pipeline(
        spark,
        Config(cutoffs=_cutoffs(), image_gates=True, caption_budget=10, model_gates=True),
    ).run(corpus)
    curated_ids = {r[0] for r in curated.select("image_id").collect()}
    assert curated_ids and curated_ids < budgeted_ids


def test_caption_budget_null_exempt(spark):
    """NULL captions pass the budget stage regardless of group size (the
    metadata gates own NULL captions; gates off here to isolate it)."""
    from ccnet_spark_spark.plans.pipeline import Config, Pipeline

    rows = [("d%02d" % i, None) for i in range(20)] + [("k%02d" % i, "una palabra distinta %d" % i) for i in range(3)]
    df = spark.createDataFrame(rows, "image_id string, caption string")
    out = Pipeline(spark, Config(caption_budget=10)).run(df)
    ids = {r[0] for r in out.select("image_id").collect()}
    assert {"d%02d" % i for i in range(20)} <= ids


def test_model_gates_requires_pair_schema(spark):
    """model_gates hard-fails on a non-pair schema instead of silently
    embedding the wrong columns."""
    import pytest as _pytest

    from ccnet_spark_spark.plans.pipeline import Config, Pipeline

    df = spark.createDataFrame([("a", "x")], "doc_id string, text string")
    with _pytest.raises(ValueError, match="model_gates"):
        Pipeline(spark, Config(model_gates=True)).run(df, id_col="doc_id", text_col="text")


# ------------------------------------------- fused model-gate passthrough


def test_model_gates_mode_validated(spark):
    import pytest as _pytest

    from ccnet_spark_spark.plans.pipeline import Config, Pipeline
    from ccnet_spark_spark.synth import generate_pairs

    with _pytest.raises(ValueError, match="model_gates_mode"):
        Pipeline(spark, Config(model_gates=True, model_gates_mode="bogus")).run(
            generate_pairs(spark, 2)
        )


# ------------------------------------------------- image decontamination


def test_hash64_decontaminate_exact_vs_bruteforce(spark):
    """EXACTNESS of the rotated-prefix bucket recall: with prefix_bits=16
    and passes=4, the operator must equal the brute-force all-pairs radius
    predicate at max_hamming <= 3 on seeded-random 64-bit fingerprints
    (that equality is what licenses the plain-SQL DuckDB oracle)."""
    import numpy as np

    from ccnet_spark_spark.operators.dedup import hash64_decontaminate

    rng = np.random.default_rng(7)
    corpus_h = rng.integers(-(1 << 63), 1 << 63, size=200, dtype=np.int64)
    # eval = 25 perturbations of corpus hashes at hamming 1..3 with bit
    # positions spread across all four 16-bit windows + 15 fresh randoms
    evals = []
    for i in range(25):
        bits = rng.choice(64, size=(i % 3) + 1, replace=False)
        h = int(corpus_h[i * 7])
        for b in bits:
            h ^= 1 << int(b)
        evals.append(h - (1 << 64) if h >= 1 << 63 else h)
    evals += [int(x) for x in rng.integers(-(1 << 63), 1 << 63, size=15, dtype=np.int64)]

    df = spark.createDataFrame(
        [(f"id{i:04d}", int(h)) for i, h in enumerate(corpus_h)], "id string, h long"
    )
    edf = spark.createDataFrame([(h,) for h in evals], "eh long")
    got = sorted(
        r.id
        for r in hash64_decontaminate(
            df, edf, "id", "h", eval_hash_col="eh", prefix_bits=16, max_hamming=3, passes=4
        ).collect()
    )
    mask = (1 << 64) - 1
    want = sorted(
        f"id{i:04d}"
        for i, h in enumerate(corpus_h)
        if all(bin((int(h) ^ e) & mask).count("1") > 3 for e in evals)
    )
    assert got == want
    assert len(want) < 200  # the planted perturbations actually removed rows


def test_hash64_decontaminate_plan_broadcasts_eval(spark):
    """The eval side must reach the join as a broadcast (no shuffle of the
    corpus beyond the bucket projection) and the anti-join must prune the
    payload from the hit-id plan branches."""
    from ccnet_spark_spark.operators.dedup import hash64_decontaminate
    from ccnet_spark_spark.synth import generate_pairs

    base = generate_pairs(spark, 50).select("image_id", "phash")
    edf = base.limit(5).select(base.phash.alias("eval_phash"))
    out = hash64_decontaminate(base, edf, "image_id", "phash", eval_hash_col="eval_phash")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# ------------------------------------------------- image metadata scrub


def test_pipeline_payload_scrub_stage(spark):
    """Config(payload_scrub=True): every payload goes through the
    metadata strip BEFORE any retention decision — output rows carry the
    n_meta_removed audit count and clean bytes equal to the pre-plant
    originals (pixels bit-identical by construction)."""
    from ccnet_spark_spark.plans.pipeline import Config, Pipeline
    from ccnet_spark_spark.synth import generate_pairs

    base = generate_pairs(spark, 30)
    orig = {r["image_id"]: bytes(r["bytes"]) for r in base.select("image_id", "bytes").collect()}

    def plant(pdf):
        import pandas as _pd  # noqa: F401

        pdf = pdf.copy()
        pdf["bytes"] = [
            bytearray(
                bytes(b)[: bytes(b).index(b" ")] + b"\n# GPS 1 2\n" + bytes(b)[bytes(b).index(b" ") + 1 :]
            )
            for b in pdf["bytes"]
        ]
        return pdf

    tagged = spark.createDataFrame(base.toPandas().pipe(plant), schema=base.schema)
    out = Pipeline(spark, Config(payload_scrub=True)).run(tagged).collect()
    assert len(out) == 30
    for r in out:
        assert r["n_meta_removed"] == 1
        assert bytes(r["bytes"]) == orig[r["image_id"]]
