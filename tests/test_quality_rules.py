"""Value tests for the published quality-filter rules
(operators/quality_rules.py): Gopher repetition/word gates and C4 line
filters, against hand-computed expectations on crafted documents."""

import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark.operators import bucket as bucket_op
from ccnet_spark_spark.operators.quality_rules import (
    c4_line_filters,
    gopher_line_stats,
    gopher_ngram_stats,
    gopher_word_rules,
)


def _rows(df, key="doc_id"):
    return {r[key]: r.asDict() for r in df.collect()}


class TestGopherNgrams:
    def test_repeated_bigram(self, spark):
        # "ab cd ab cd ab": 2-grams = [ab cd, cd ab, ab cd, cd ab] ->
        # top 2-gram 'ab cd' cnt=2 chars=2*5=10; total chars = 14
        df = spark.createDataFrame([(1, "ab cd ab cd ab")], "doc_id long, text string")
        out = _rows(gopher_ngram_stats(df, top_ns=(2,), dup_ns=(2,)))
        assert out[1]["top_2gram_char_frac"] == round(10 / 14, 4)
        # both distinct 2-grams occur twice: (2*5 + 2*5)/14 > 1 -> clamped
        assert out[1]["dup_2gram_char_frac"] == 1.0

    def test_no_repetition_and_short(self, spark):
        df = spark.createDataFrame(
            [(1, "all words unique here now"), (2, "one"), (3, "")],
            "doc_id long, text string",
        )
        out = _rows(gopher_ngram_stats(df, top_ns=(2,), dup_ns=(5,)))
        # all 2-grams unique: max of cnt*len picks the longest gram
        assert out[1]["top_2gram_char_frac"] == round(len("words unique") / 25, 4)
        assert out[1]["dup_5gram_char_frac"] == 0.0
        # note: 0.48 > 0.20 -> even a UNIQUE long 2-gram trips the threshold
        # on a tiny doc; Gopher's thresholds assume page-length text
        assert out[1]["keep_rep"] is False
        # shingle-less docs survive with zeroed stats (sentinel branch)
        assert out[2]["top_2gram_char_frac"] == 0.0
        assert out[3]["keep_rep"] is True

    def test_keep_flag_threshold(self, spark):
        # 'spam ham ' * 30: top 2-gram frac ~1.0 >> 0.20 -> dropped
        df = spark.createDataFrame([(1, "spam ham " * 30)], "doc_id long, text string")
        out = _rows(gopher_ngram_stats(df, top_ns=(2,), dup_ns=(5,)))
        assert out[1]["keep_rep"] is False


class TestGopherLines:
    def test_dup_line_fracs(self, spark):
        # 4 line occurrences, 'dup' twice: dup_line_frac = 2/4;
        # chars: dup(3)*2 + aaaa(4) + bb(2) = 12 total, 6 duplicated
        df = spark.createDataFrame([(1, "dup\naaaa\ndup\nbb")], "doc_id long, text string")
        out = _rows(gopher_line_stats(df))
        assert out[1]["n_lines"] == 4
        assert out[1]["dup_line_frac"] == 0.5
        assert out[1]["dup_line_char_frac"] == 0.5

    def test_all_unique(self, spark):
        df = spark.createDataFrame([(1, "a\nb\nc")], "doc_id long, text string")
        out = _rows(gopher_line_stats(df))
        assert out[1]["dup_line_frac"] == 0.0
        assert out[1]["dup_line_char_frac"] == 0.0


class TestGopherWordRules:
    def test_stats_and_gates(self, spark):
        df = spark.createDataFrame(
            [
                (1, "solid normal words flowing along nicely here today okay fine"),
                (2, "### ### 12345 67890"),  # symbols + no alpha
                (3, "hi"),  # too few words
            ],
            "doc_id long, text string",
        )
        out = _rows(gopher_word_rules(df, min_words=5))
        assert out[1]["word_count"] == 10
        assert out[1]["keep"] is True
        assert out[2]["symbol_word_ratio"] == 1.5  # six '#' chars / 4 words
        assert out[2]["alpha_word_frac"] == 0.0
        assert out[2]["keep"] is False
        assert out[3]["keep"] is False

    def test_mean_word_len(self, spark):
        df = spark.createDataFrame([(1, "ab abcd")], "doc_id long, text string")
        out = _rows(gopher_word_rules(df))
        assert out[1]["mean_word_len"] == 3.0

    def test_ellipsis_counts(self, spark):
        df = spark.createDataFrame([(1, "wait... what... ok then")], "doc_id long, text string")
        out = _rows(gopher_word_rules(df))
        assert out[1]["symbol_word_ratio"] == 0.5  # 2 ellipses / 4 words


def test_gopher_gates_fused_matches_standalone(spark):
    """The fused one-scan gates must agree row-for-row with the standalone
    word-rule and ngram-stat operators they replace in composed pipelines."""
    from ccnet_spark_spark.operators import quality_rules as qr

    texts = [
        ("a", "the quick brown fox jumps over the lazy dog again and again and again"),
        ("b", "word " * 60),  # heavy repetition -> fails rep gates
        ("c", "ok"),  # too short -> fails word gate, zero grams
        ("d", "### ### ### some text with many symbols ### ..."),
        ("e", "a reasonable sentence with enough distinct words to pass every gate fine"),
        ("f", ""),  # empty
    ]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    fused = {
        r["doc_id"]: (r["word_keep"], r["keep_rep"])
        for r in qr.gopher_gates(docs, min_words=5, top_ns=(2, 3), dup_ns=(5,)).collect()
    }
    words = {r["doc_id"]: r["keep"] for r in qr.gopher_word_rules(docs, min_words=5).collect()}
    reps = {
        r["doc_id"]: r["keep_rep"]
        for r in qr.gopher_ngram_stats(docs, top_ns=(2, 3), dup_ns=(5,)).collect()
    }
    assert set(fused) == set(words) == set(reps)
    for d in fused:
        assert fused[d] == (words[d], reps[d]), d


class TestC4Filters:
    def test_line_rules(self, spark):
        text = "\n".join(
            [
                "a good proper sentence.",  # kept
                "no terminal punctuation",  # dropped: no punct
                "enable javascript to view.",  # dropped: javascript
                "ok.",  # dropped: < 3 words
                "another fine long sentence!",  # kept
            ]
        )
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = _rows(c4_line_filters(df))
        assert out[1]["n_lines"] == 5
        assert out[1]["n_kept"] == 2
        assert out[1]["clean_text"] == "a good proper sentence.\nanother fine long sentence!"
        assert out[1]["keep"] is True

    def test_doc_poison(self, spark):
        df = spark.createDataFrame(
            [
                (1, "fine line number one.\nlorem ipsum dolor sit amet."),
                (2, "fine line number one.\nvar x = { a: 1 }"),
                (3, "nothing survives here"),
            ],
            "doc_id long, text string",
        )
        out = _rows(c4_line_filters(df))
        assert out[1]["keep"] is False  # lorem ipsum
        assert out[2]["keep"] is False  # curly brace
        assert out[3]["keep"] is False  # zero kept lines
        assert out[3]["clean_text"] == ""


class TestCutoffTrain:
    def test_percentiles_match_numpy(self, spark):
        import numpy as np

        vals = [float(v) for v in (5, 1, 9, 3, 7, 2, 8, 4, 6, 10)]
        df = spark.createDataFrame([("en", v) for v in vals], "lang string, pp double")
        out = bucket_op.train_cutoff_matrix(df, pp_col="pp", lang_col="lang", n_points=5)
        got = {r["pct"]: r["cutoff"] for r in out.collect()}
        exp = np.percentile(vals, [0, 25, 50, 75, 100])
        assert got == {i: round(float(e), 4) for i, e in enumerate(exp)}

    def test_null_and_negative_excluded(self, spark):
        df = spark.createDataFrame(
            [("en", 1.0), ("en", 3.0), ("en", None), ("en", -5.0)],
            "lang string, pp double",
        )
        out = bucket_op.train_cutoff_matrix(df, pp_col="pp", lang_col="lang", n_points=3)
        got = {r["pct"]: r["cutoff"] for r in out.collect()}
        assert got == {0: 1.0, 1: 2.0, 2: 3.0}

    def test_matrix_feeds_loader(self, spark, tmp_path):
        # the trained matrix round-trips through the cc_net-style loader
        df = spark.createDataFrame(
            [("en", float(i)) for i in range(101)], "lang string, pp double"
        )
        out = bucket_op.train_cutoff_matrix(df, pp_col="pp", lang_col="lang").toPandas()
        pivot = out.pivot(index="pct", columns="lang", values="cutoff")
        csv = tmp_path / "matrix.csv"
        pivot.to_csv(csv)
        cut = bucket_op.cutoffs_from_percentile_matrix(str(csv))
        assert cut["en"] == (30.0, 60.0)


class TestStratifiedSample:
    def test_rates_and_determinism(self, spark):
        from ccnet_spark_spark.operators.sample import stratified_hash_sample

        rows = [(i, ["en", "fr", "zh", "de"][i % 4]) for i in range(800)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = stratified_hash_sample(df, "doc_id", "lang", {"en": 128, "fr": 256, "zh": 26})
        counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        assert counts["fr"] == 200          # rate 256 keeps the whole stratum
        assert "de" not in counts           # default 0 drops unlisted strata
        assert 60 <= counts["en"] <= 140    # ~50% of 200
        assert 0 < counts["zh"] <= 50       # ~10% of 200
        # determinism: same ids selected on a re-run
        again = stratified_hash_sample(df, "doc_id", "lang", {"en": 128, "fr": 256, "zh": 26})
        assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in again.collect())

    def test_subset_of_unstratified(self, spark):
        # stratified at rate r selects exactly hash_sample(r) within the stratum
        from ccnet_spark_spark.operators.sample import hash_sample, stratified_hash_sample

        df = spark.createDataFrame([(i, "en") for i in range(500)], "doc_id long, lang string")
        strat = {r.doc_id for r in stratified_hash_sample(df, "doc_id", "lang", {"en": 26}).collect()}
        plain = {r.doc_id for r in hash_sample(df, "doc_id", 26).collect()}
        assert strat == plain

    def test_bad_rate_rejected(self, spark):
        from ccnet_spark_spark.operators.sample import stratified_hash_sample

        df = spark.createDataFrame([(1, "en")], "doc_id long, lang string")
        with pytest.raises(ValueError):
            stratified_hash_sample(df, "doc_id", "lang", {"en": 300})


class TestDecontaminate:
    def test_leaked_docs_dropped(self, spark):
        from ccnet_spark_spark.operators.dedup import decontaminate

        corpus = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),       # clean
                (2, "the quick brown fox jumps over lazy dogs"),  # = eval doc
                (3, "totally unrelated words live here friends"), # clean
                (4, "padding quick brown fox jumps over lazy dogs trailing"),  # shares 8-gram? no: 'quick..dogs' is 7 words
            ],
            "doc_id long, text string",
        )
        eval_df = spark.createDataFrame(
            [(100, "the quick brown fox jumps over lazy dogs")], "doc_id long, text string"
        )
        out = {r.doc_id for r in decontaminate(corpus, eval_df, "doc_id", "text", shingle_n=8).collect()}
        assert out == {1, 3, 4}

    def test_partial_overlap_hits(self, spark):
        from ccnet_spark_spark.operators.dedup import decontaminate

        # doc embeds the full 8-gram inside longer text -> dropped
        corpus = spark.createDataFrame(
            [(1, "intro words then the quick brown fox jumps over lazy dogs outro")],
            "doc_id long, text string",
        )
        eval_df = spark.createDataFrame(
            [(9, "the quick brown fox jumps over lazy dogs")], "doc_id long, text string"
        )
        assert decontaminate(corpus, eval_df, "doc_id", "text", shingle_n=8).count() == 0

    def test_short_eval_docs_contribute_nothing(self, spark):
        from ccnet_spark_spark.operators.dedup import decontaminate

        corpus = spark.createDataFrame([(1, "tiny words")], "doc_id long, text string")
        eval_df = spark.createDataFrame([(9, "tiny words")], "doc_id long, text string")
        # both under 8 tokens: no shingles, nothing dropped
        assert decontaminate(corpus, eval_df, "doc_id", "text", shingle_n=8).count() == 1


class TestIncrementalDedup:
    def test_committed_and_within_batch_dups(self, spark):
        from ccnet_spark_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(1, "already committed text"), (2, "another committed doc")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [
                (10, "a genuinely new document"),
                (11, "already committed text"),     # dup of corpus -> dropped
                (12, "batch internal duplicate"),
                (13, "batch internal duplicate"),   # within-batch -> keep min id
                (14, "ALREADY Committed TEXT"),     # case-normalized dup -> dropped
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id for r in incremental_dedup(batch, corpus, "doc_id", "text").collect()}
        assert out == {10, 12}


class TestEmptyInputs:
    """Every new operator must return an empty (not crashing) result on an
    empty input — partitions are routinely empty at scale."""

    def _empty(self, spark, schema="doc_id long, text string"):
        return spark.createDataFrame([], schema)

    def test_gopher_ops_empty(self, spark):
        from ccnet_spark_spark.operators.quality_rules import (
            c4_line_filters,
            gopher_line_stats,
            gopher_ngram_stats,
            gopher_word_rules,
        )

        e = self._empty(spark)
        assert gopher_ngram_stats(e).count() == 0
        assert gopher_line_stats(e).count() == 0
        assert gopher_word_rules(e).count() == 0
        assert c4_line_filters(e).count() == 0

    def test_dedup_ops_empty(self, spark):
        from ccnet_spark_spark.operators.dedup import decontaminate, incremental_dedup

        e = self._empty(spark)
        docs = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
        assert decontaminate(e, docs, "doc_id", "text").count() == 0
        assert decontaminate(docs, e, "doc_id", "text").count() == 1  # empty eval: keep all
        assert incremental_dedup(e, docs, "doc_id", "text").count() == 0
        assert incremental_dedup(docs, e, "doc_id", "text").count() == 1

    def test_trainer_and_sampler_empty(self, spark):
        from ccnet_spark_spark.operators.bucket import train_cutoff_matrix
        from ccnet_spark_spark.operators.sample import stratified_hash_sample

        e = spark.createDataFrame([], "lang string, pp double")
        assert train_cutoff_matrix(e, pp_col="pp", lang_col="lang").count() == 0
        e2 = self._empty(spark, "doc_id long, lang string")
        assert stratified_hash_sample(e2, "doc_id", "lang", {"en": 26}).count() == 0


class TestHash64NearDup:
    def test_planted_flip_found_cross_bucket_missed(self, spark):
        from ccnet_spark_spark.operators.dedup import hash64_neardup_pairs

        base = 0x1234_5678_9ABC_DEF0
        rows = [
            ("a", base),
            ("b", base ^ 0b101),            # hamming 2, same top-16 -> found
            ("c", base ^ (1 << 60)),        # flips inside top-16 -> different bucket, missed
            ("d", -(2**62)),                # unrelated
        ]
        df = spark.createDataFrame(rows, "image_id string, phash long")
        out = {(r.id_a, r.id_b): r.hamming for r in
               hash64_neardup_pairs(df, "image_id", "phash", 16, 8).collect()}
        assert out == {("a", "b"): 2}

    def test_negative_hashes_bucket_correctly(self, spark):
        from ccnet_spark_spark.operators.dedup import hash64_neardup_pairs

        # negative int64: shiftrightunsigned must treat the sign bit as data
        rows = [("a", -42), ("b", -42 ^ 0b11)]
        df = spark.createDataFrame(rows, "image_id string, phash long")
        out = hash64_neardup_pairs(df, "image_id", "phash", 16, 8).collect()
        assert len(out) == 1 and out[0].hamming == 2

    def test_rotated_second_pass_recalls_prefix_straddlers(self, spark):
        from ccnet_spark_spark.operators.dedup import hash64_neardup_pairs

        base = 0x1234_5678_9ABC_DEF0
        rows = [("a", base), ("c", base ^ (1 << 60))]  # flip inside top-16
        df = spark.createDataFrame(rows, "image_id string, phash long")
        # one pass: different pass-0 buckets -> missed
        assert hash64_neardup_pairs(df, "image_id", "phash", 16, 8, passes=1).count() == 0
        # second pass buckets on the rotated hash -> found, and no dup rows
        out = hash64_neardup_pairs(df, "image_id", "phash", 16, 8, passes=2).collect()
        assert [(r.id_a, r.id_b, r.hamming) for r in out] == [("a", "c", 1)]

    def test_passes_dedup_pairs_found_twice(self, spark):
        from ccnet_spark_spark.operators.dedup import hash64_neardup_pairs

        rows = [("a", 99), ("b", 99 ^ 0b1)]  # same bucket in EVERY rotation window
        df = spark.createDataFrame(rows, "image_id string, phash long")
        assert hash64_neardup_pairs(df, "image_id", "phash", 16, 8, passes=4).count() == 1


class TestApproxCutoffTrainer:
    def test_approx_tracks_exact(self, spark):
        """The 10^12-row path (percentile_approx sketch) must track the
        exact percentiles within the sketch's rank-error bound."""
        import random

        rng = random.Random(7)
        rows = [("en", round(rng.gauss(300, 60), 1)) for _ in range(4000)]
        rows += [("fr", round(rng.gauss(200, 40), 1)) for _ in range(2000)]
        df = spark.createDataFrame(rows, "lang string, pp double")
        exact = {
            (r["lang"], r["pct"]): r["cutoff"]
            for r in bucket_op.train_cutoff_matrix(df, "pp", "lang", n_points=21).collect()
        }
        approx = {
            (r["lang"], r["pct"]): r["cutoff"]
            for r in bucket_op.train_cutoff_matrix(
                df, "pp", "lang", n_points=21, exact=False
            ).collect()
        }
        assert exact.keys() == approx.keys()
        for key, ev in exact.items():
            # rank error 1/accuracy => tiny value error on a smooth CDF;
            # allow a loose 2% relative tolerance
            assert abs(approx[key] - ev) <= max(abs(ev) * 0.02, 0.5), (key, ev, approx[key])


class TestApproxDistinct:
    def test_hll_within_tolerance_of_exact(self, spark):
        """approx_count_distinct (HLL++) tracks the exact distinct count
        within its relative-error knob — the 10^12-row cardinality path
        (the exact per-group variant is the oracle-checked distinct_counts
        contract query)."""
        rows = [(i % 7, f"value_{i % 1234}") for i in range(20_000)]
        df = spark.createDataFrame(rows, "grp int, v string")
        got = {
            r["grp"]: (r["exact"], r["approx"])
            for r in df.groupBy("grp")
            .agg(
                F.countDistinct("v").alias("exact"),
                F.approx_count_distinct("v", rsd=0.02).alias("approx"),
            )
            .collect()
        }
        assert len(got) == 7
        for grp, (exact, approx) in got.items():
            assert abs(approx - exact) <= max(3, exact * 0.06), (grp, exact, approx)

    def test_user_stratum_named_column_survives(self, spark):
        # a USER column literally named "stratum" must survive the join
        from ccnet_spark_spark.operators.sample import stratified_hash_sample

        df = spark.createDataFrame(
            [(i, "en", f"keep_me_{i}") for i in range(50)],
            "doc_id long, lang string, stratum string",
        )
        out = stratified_hash_sample(df, "doc_id", "lang", {"en": 256})
        assert out.columns == ["doc_id", "lang", "stratum"]
        assert out.count() == 50
        assert out.where(F.col("stratum").startswith("keep_me_")).count() == 50


class TestVideoAudioOps:
    def test_frame_sample_every_k_and_roundtrip(self, spark):
        from ccnet_spark_spark.codecs import decode_ppm
        from ccnet_spark_spark.operators.multimodal import frame_sample
        from ccnet_spark_spark.synth import gen_video_row, generate_videos

        out = frame_sample(generate_videos(spark, 4, n_frames=6), every_k=3).collect()
        # frames 0 and 3 of each of 4 videos
        assert sorted({r.frame_idx for r in out}) == [0, 3]
        assert len(out) == 8
        # sampled frame decodes to the exact generated pixels
        r0 = next(r for r in out if r.video_id == "vid00000002" and r.frame_idx == 3)
        import numpy as np

        v = gen_video_row(2, 6)
        # frame 3 of the source video: decode via the engine codec
        px = decode_ppm(bytes(r0.frame_bytes))
        assert px.shape == (4, 6, 3)
        # regenerate frame 3 independently from the pure generator
        from ccnet_spark_spark.synth import DEFAULT_SEED

        rng = np.random.default_rng([DEFAULT_SEED, 101, 2, 3])
        exp = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
        assert (px == exp).all()

    def test_audio_stats_known_waveform(self, spark):
        import numpy as np

        from ccnet_spark_spark.operators.multimodal import audio_stats

        pcm = np.array([0, 100, -100, 32767], dtype="<i2")
        df = spark.createDataFrame(
            [("a1", bytearray(pcm.tobytes()), 16000)],
            "audio_id string, bytes binary, sample_rate int",
        )
        row = audio_stats(df).collect()[0]
        assert row.n_samples == 4
        assert row.duration_ms == 0  # 4 samples @16k = 0.25 ms -> floor 0
        assert row.peak == 32767
        assert row.rms == round(float(np.sqrt((0 + 100**2 + 100**2 + 32767**2) / 4)), 4)

    def test_audio_stats_empty_payload(self, spark):
        from ccnet_spark_spark.operators.multimodal import audio_stats

        df = spark.createDataFrame(
            [("e", bytearray(b""), 16000)], "audio_id string, bytes binary, sample_rate int"
        )
        row = audio_stats(df).collect()[0]
        assert (row.n_samples, row.duration_ms, row.rms, row.peak) == (0, 0, 0.0, 0)


class TestRound3QueryEdges:
    def test_gapfill_single_event_user(self, spark):
        # a user with one event gets a one-hour spine with exactly that count
        from pyspark.sql import functions as F2

        df = spark.createDataFrame(
            [(1, "2024-01-01 10:15:00", 1.0)], "user_id long, ts string, value double"
        ).select("user_id", F2.col("ts").cast("timestamp").alias("ts"), "value")
        hour = F2.date_trunc("hour", F2.col("ts"))
        per = df.select("user_id", hour.alias("h")).groupBy("user_id", "h").count()
        spans = df.select("user_id", hour.alias("h")).groupBy("user_id").agg(
            F2.min("h").alias("h0"), F2.max("h").alias("h1")
        )
        spine = spans.select(
            "user_id", F2.explode(F2.sequence("h0", "h1", F2.expr("interval 1 hour"))).alias("h")
        )
        out = spine.join(per, ["user_id", "h"], "left").collect()
        assert len(out) == 1 and out[0]["count"] == 1

    def test_merge_upsert_replaces_not_duplicates(self, spark):
        import __spark_entry__ as e

        out = e.q_merge_upsert(spark, "/root/testdata/sf0.001")
        ids = [r.doc_id for r in out.select("doc_id").collect()]
        assert len(ids) == len(set(ids))  # exactly-once per key

    def test_table_diff_statuses(self, spark):
        import __spark_entry__ as e

        rows = e.q_table_diff(spark, "/root/testdata/sf0.001").collect()
        statuses = {r.status for r in rows}
        assert statuses == {"added", "removed", "changed"}
        added = [r.doc_id for r in rows if r.status == "added"]
        assert all(i >= 900000 for i in added) and len(added) == 5
