"""Round-4 fix regressions: IVF sampling determinism, CC convergence guard,
explicit has_shingles marker, fixture/sf mismatch guard."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark.operators import dedup, similarity
from ccnet_spark_spark.operators.graph import connected_components


def _emb_df(spark, n=300, dim=8, partitions=4, seed=7):
    rng = np.random.default_rng(seed)
    rows = [(i, rng.standard_normal(dim).round(4).tolist()) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>").repartition(
        partitions
    )


def test_ivf_centroids_partition_order_invariant(spark):
    """Centroid training must be a corpus-wide deterministic draw: shuffling
    the input rows across a different partition layout yields IDENTICAL
    centroids (a limit()-based sample would train on whichever partition
    happened to scan first)."""
    df = _emb_df(spark, partitions=2)
    # different partition count AND a different row order within partitions
    reshuffled = _emb_df(spark, partitions=7).orderBy(F.col("vec_id").desc())
    c1 = similarity.train_ivf_centroids(df, "embedding", k=4, sample_rows=128, seed=1)
    c2 = similarity.train_ivf_centroids(reshuffled, "embedding", k=4, sample_rows=128, seed=1)
    assert np.allclose(c1, c2)


def test_ivf_centroids_sample_is_corpus_wide(spark):
    """With two clearly separated partitions of vectors, the hash-ordered
    sample must mix rows from both (limit() would see only the first)."""
    import pandas as pd

    a = [(i, [float(i + 1), 0.0]) for i in range(100)]
    b = [(i + 1000, [0.0, float(i + 50)]) for i in range(100)]
    df = spark.createDataFrame(a + b, "vec_id bigint, embedding array<double>").repartition(
        2, F.col("vec_id")
    )
    sample = (
        df.select("embedding")
        .orderBy(F.xxhash64(F.col("embedding")))
        .limit(50)
        .toPandas()["embedding"]
    )
    firsts = pd.Series([v[0] for v in sample])
    seconds = pd.Series([v[1] for v in sample])
    assert (firsts > 0).any() and (seconds > 0).any()  # both populations drawn


def test_connected_components_raises_on_nonconvergence(spark):
    # a 12-node path graph has diameter 11 -> cannot converge in 3 rounds
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iterations=3)
    # and with enough rounds it converges to one component labeled 0
    labels = connected_components(edges, max_iterations=15).collect()
    assert {r["cluster"] for r in labels} == {0}


def test_minhash_signatures_carry_has_shingles(spark):
    docs = spark.createDataFrame(
        [("a", "one two three four"), ("b", "xy")], ["doc_id", "text"]
    )
    sigs = dedup.minhash_signatures(docs, "doc_id", "text", num_hashes=8)
    rows = {r["doc_id"]: r["has_shingles"] for r in sigs.collect()}
    assert rows == {"a": True, "b": False}
    # banding filters on the explicit marker: the shingle-less doc never bands
    cand = dedup.minhash_lsh_candidates(sigs, "doc_id", num_bands=4, rows_per_band=2)
    assert cand.count() == 0


def test_minhash_candidates_sentinel_fallback(spark):
    """A bare signature frame (no has_shingles column) still filters via the
    sentinel value — external callers keep working."""
    from ccnet_spark_spark.functions import hashing

    sigs = spark.createDataFrame(
        [
            ("a", ["11111111"] * 8),
            ("b", ["11111111"] * 8),
            ("s", [hashing.SENTINEL_SHA2] * 8),
        ],
        "doc_id string, signature array<string>",
    )
    cand = dedup.minhash_lsh_candidates(sigs, "doc_id", num_bands=4, rows_per_band=2)
    pairs = [(r["id_a"], r["id_b"]) for r in cand.collect()]
    assert pairs == [("a", "b")]  # the sentinel row never bands


def test_bloom_dedup_matches_exact(spark):
    """incremental_dedup_bloom is a prefilter, not an approximation: its
    survivor set must EQUAL incremental_dedup's on a corpus/batch with
    planted cross-snapshot and within-batch duplicates."""
    # letter-distinct texts: ccnet normalization maps every digit to zero,
    # so numeric suffixes would collapse into one hash
    def word(i):
        return "".join(chr(ord("a") + int(d)) for d in str(i))

    corpus = spark.createDataFrame(
        [(i, f"committed doc {word(i)} body") for i in range(60)], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        # 20 re-ingestions of committed docs + 30 fresh + 2 within-batch dups
        [(1000 + i, f"committed doc {word(i)} body") for i in range(20)]
        + [(2000 + i, f"fresh doc {word(i)}") for i in range(30)]
        + [(3000, f"fresh doc {word(0)}"), (3001, f"fresh doc {word(1)}")],
        ["doc_id", "text"],
    )
    exact = sorted(
        r["doc_id"] for r in dedup.incremental_dedup(batch, corpus, "doc_id", "text").collect()
    )
    bloom = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup_bloom(batch, corpus, "doc_id", "text").collect()
    )
    assert bloom == exact
    assert len(bloom) == 30  # the 20 re-ingestions and 2 batch dups are gone


def test_bloom_has_no_false_negatives(spark):
    """Every member of the build set must hit the bloom (false positives are
    allowed and corrected downstream; a false negative would lose a dup)."""
    hashes = spark.createDataFrame([(f"h{i}",) for i in range(500)], ["hv"])
    words = dedup.build_bloom_words(hashes, "hv", m_bits=1 << 14, k=5)
    probed = dedup.bloom_might_contain(hashes, "hv", words, k=5)
    assert probed.where(~F.col("_bloom_hit")).count() == 0


def test_duplicate_passage_spans_hand_computed(spark):
    """Known geometry: doc a and doc b share tokens 0..9 (a's opening); with
    n=4 the shared 4-grams anchor positions 0..6 in both docs, merging to
    span [0, 9]. Doc c is unique and too short to collide; doc d repeats
    its own opening at positions 8.. (within-doc duplication)."""
    from ccnet_spark_spark.operators import passages

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            ("a", shared + " unique tail for doc one here"),
            ("b", shared + " totally different ending words go here"),
            ("c", "nothing here repeats at all"),
            ("d", "one two three four five six qq rr one two three four five six"),
        ],
        ["doc_id", "text"],
    )
    spans = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["dup_tokens"])
        for r in passages.duplicate_passage_spans(docs, gram_n=4).collect()
    }
    assert ("a", 0, 9, 10) in spans and ("b", 0, 9, 10) in spans
    assert not any(s[0] == "c" for s in spans)
    # d: "one two three four five six" at positions 0-5 and 8-13; 4-gram
    # anchors at 0,1,2 and 8,9,10 -> two spans [0,5] and [8,13]
    assert ("d", 0, 5, 6) in spans and ("d", 8, 13, 6) in spans
    assert len([s for s in spans if s[0] == "d"]) == 2

    stats = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["keep_passage"])
        for r in passages.dup_passage_stats(docs, gram_n=4, max_dup_frac=0.5).collect()
    }
    assert stats["c"] == (5, 0, True)
    assert stats["d"] == (14, 12, False)  # 12/14 duplicated -> drop
    assert stats["a"][1] == 10

    trimmed = {
        r["doc_id"]: (r["trimmed_text"], r["kept_tokens"], r["removed_tokens"])
        for r in passages.trim_duplicate_passages(docs, gram_n=4).collect()
    }
    assert trimmed["d"] == ("qq rr", 2, 12)
    assert trimmed["a"] == ("unique tail for doc one here", 6, 10)
    assert trimmed["c"] == ("nothing here repeats at all", 5, 0)


def test_bloom_dedup_empty_corpus(spark):
    """First-ever ingestion: empty committed corpus -> all-zero bloom ->
    every batch row is definitely-new; within-batch keep-min still applies."""
    corpus = spark.createDataFrame([], "doc_id bigint, text string")
    batch = spark.createDataFrame(
        [(1, "some fresh text"), (2, "other fresh text"), (3, "some fresh text")],
        ["doc_id", "text"],
    )
    out = sorted(
        r["doc_id"]
        for r in dedup.incremental_dedup_bloom(batch, corpus, "doc_id", "text").collect()
    )
    assert out == [1, 2]


def test_passages_empty_and_short_inputs(spark):
    from ccnet_spark_spark.operators import passages

    empty = spark.createDataFrame([], "doc_id string, text string")
    assert passages.duplicate_passage_spans(empty, gram_n=8).count() == 0
    assert passages.dup_passage_stats(empty, gram_n=8).count() == 0
    # docs shorter than the anchor n can never produce spans, only zeros
    short = spark.createDataFrame([("a", "too short"), ("b", "too short")], ["doc_id", "text"])
    assert passages.duplicate_passage_spans(short, gram_n=8).count() == 0
    stats = {r["doc_id"]: r["dup_tokens"] for r in passages.dup_passage_stats(short, gram_n=8).collect()}
    assert stats == {"a": 0, "b": 0}


def test_bpe_trainer_hand_computed(spark):
    """Tiny corpus with known pair statistics: 'ab' x3, 'abc' x2, 'zz' x1.
    Pair counts: (a,b)=5, (b,c)=2, (z,z)=1 -> merge 0 = ab(5); then
    (ab,c)=2 beats (z,z)=1 -> merge 1 = abc(2); then only (z,z)=1."""
    from ccnet_spark_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "ab ab ab abc abc zz")], ["doc_id", "text"]
    )
    merges, vocab = bpe.train_bpe(spark, docs, "text", num_merges=3)
    got = [(r["rank"], r["left"], r["right"], r["pair_count"]) for r in merges.orderBy("rank").collect()]
    assert got == [(0, "a", "b", 5), (1, "ab", "c", 2), (2, "z", "z", 1)]
    v = {r["word"]: r["symbols"] for r in vocab.collect()}
    assert v == {"ab": "ab", "abc": "abc", "zz": "zz"}


def test_bpe_merge_same_pass_rescan(spark):
    """'aaaa' with pair (a,a) must merge to [aa, aa] in ONE round (the
    same-pass leftmost rescan a single non-rescanning string replace gets
    wrong), and round 2 then merges to [aaaa]."""
    from ccnet_spark_spark.operators import bpe

    docs = spark.createDataFrame([(1, "aaaa")], ["doc_id", "text"])
    merges, vocab = bpe.train_bpe(spark, docs, "text", num_merges=2)
    got = [(r["rank"], r["merged"]) for r in merges.orderBy("rank").collect()]
    assert got == [(0, "aa"), (1, "aaaa")]
    assert vocab.collect()[0]["symbols"] == "aaaa"


def test_pairs_datasource_partitions_and_parity(spark):
    """The registered Python DataSource must honor its partition option and
    yield exactly the rows the mapInPandas generator produces."""
    import __spark_entry__ as em
    from ccnet_spark_spark.sources.pairs_source import PairsDataSource
    from ccnet_spark_spark.synth import generate_pairs

    em._ensure_pkg(spark)
    spark.dataSource.register(PairsDataSource)
    df = spark.read.format("ccnet_pairs").option("n", 60).option("partitions", 5).load()
    assert df.rdd.getNumPartitions() == 5
    a = df.orderBy("image_id").collect()
    b = generate_pairs(spark, 60).orderBy("image_id").collect()
    assert a == b


def test_custom_sink_overwrite_and_append_modes(spark, tmp_path):
    """mode('overwrite') must replace the previous contents (old data files
    dropped at commit); mode('append') must accumulate."""
    import os

    import __spark_entry__ as em
    from ccnet_spark_spark.sources.pairs_source import PairsDataSource

    em._ensure_pkg(spark)
    spark.dataSource.register(PairsDataSource)
    out = str(tmp_path / "sink")
    os.makedirs(out)
    a = spark.range(10).selectExpr("id", "cast(id as string) as v")
    b = spark.range(100, 105).selectExpr("id", "cast(id as string) as v")
    a.write.format("ccnet_pairs").option("path", out).mode("append").save()
    b.write.format("ccnet_pairs").option("path", out).mode("append").save()
    assert spark.read.parquet(out).count() == 15  # append accumulates
    b.write.format("ccnet_pairs").option("path", out).mode("overwrite").save()
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == [100, 101, 102, 103, 104]  # overwrite replaced everything
    # empty partitions contribute no file (a null-typed parquet from an
    # empty pandas frame would poison schema merge on read)
    sparse = spark.range(3).repartition(8).selectExpr("id", "cast(id as string) as v")
    out2 = str(tmp_path / "sink_sparse")
    os.makedirs(out2)
    sparse.write.format("ccnet_pairs").option("path", out2).mode("append").save()
    assert spark.read.parquet(out2).count() == 3
    n_files = sum(1 for f in os.listdir(out2) if f.endswith(".parquet"))
    assert n_files <= 3  # at most one file per non-empty partition


def test_stream_reader_replay_path():
    """readBetweenOffsets (failure-recovery replay) must regenerate exactly
    the rows the original read() emitted for that offset range — no Spark
    needed, the reader is a plain object."""
    from ccnet_spark_spark.sources.pairs_source import PairsStreamReader

    r = PairsStreamReader({"n": "100", "rows_per_batch": "25"})
    replay = list(r.readBetweenOffsets({"pos": 10}, {"pos": 15}))
    assert [row[0] for row in replay] == [f"img{i:010d}" for i in range(10, 15)]
    normal, end = r.read({"pos": 10})
    assert replay == list(normal)[:5]
    assert end == {"pos": 35}


def test_pipeline_passage_trim_step(spark):
    """Opt-in passage_trim stage: corpus-duplicated token runs vanish from
    dedup_caption, `length` is recomputed, and with the flag OFF the output
    is byte-identical to the default pipeline."""
    from ccnet_spark_spark.operators.bucket import load_cutoffs_dict
    from ccnet_spark_spark.plans.pipeline import Config, Pipeline

    boiler = "shared boilerplate header tokens appearing in every doc"
    # per-doc tails are fully distinct LETTER-ONLY token sequences: digits
    # would be normalized to 0 by the dedup hash, collapsing all docs into
    # one (round-4 memory gotcha), and any shared run >= n would itself be
    # a duplicated passage and correctly get trimmed
    rows = [
        (
            f"id{i:03d}",
            boiler + " " + " ".join(f"uq{'abcdef'[i]}{'abcdefghijkl'[k]}" for k in range(12)),
        )
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["image_id", "caption"])
    base_cfg = dict(min_len=10, cutoffs=load_cutoffs_dict(), steps=["real_len", "dedup", "scrub"])
    plain = Pipeline(spark, Config(**base_cfg)).run(docs).select("image_id", "dedup_caption", "length").collect()
    trimmed = (
        Pipeline(spark, Config(**base_cfg, passage_trim=True, passage_gram_n=4))
        .run(docs)
        .select("image_id", "dedup_caption", "length")
        .collect()
    )
    p = {r["image_id"]: r for r in plain}
    t = {r["image_id"]: r for r in trimmed}
    for i in p:
        assert boiler in p[i]["dedup_caption"]
        assert boiler not in t[i]["dedup_caption"]  # duplicated passage cut
        assert f"uq{'abcdef'[int(i[2:])]}a" in t[i]["dedup_caption"]  # unique part kept
        assert t[i]["length"] == len(t[i]["dedup_caption"])  # recomputed
    # flag off == unchanged default output
    again = Pipeline(spark, Config(**base_cfg)).run(docs).select("image_id", "dedup_caption", "length").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, plain))


def test_image_embed_neardup_finds_planted_copies(spark):
    """decode -> embed -> LSH -> cosine must surface exactly the 10 planted
    exact-payload copies as cosine-1.0 pairs (and nothing else at 0.9999)."""
    import __spark_entry__ as em

    rows = em.q_image_embed_neardup(spark, "/root/testdata/sf0.01").collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    assert got == {(f"img{i:010d}", f"img{i:010d}_dup") for i in range(10)}
    assert all(r["cosine"] == 1.0 for r in rows)


def test_fixture_sf_mismatch_raises(monkeypatch):
    import __spark_entry__ as entry

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    entry._assert_fixture_sf("/root/testdata/sf0.01")  # match: no raise
    with pytest.raises(RuntimeError, match="fixture/sf mismatch"):
        entry._assert_fixture_sf("/root/testdata/sf0.1")
    # unset env = no oracle side to disagree with (standalone runs): no raise
    monkeypatch.delenv("SPARK_GRAFT_SF_DIR")
    entry._assert_fixture_sf("/root/testdata/sf0.001")
