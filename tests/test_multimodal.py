"""Multimodal payload operators (operators/multimodal.py).

The adversarial matrix runs every public payload operator over four
inputs: an empty frame; a NULL payload batched together with valid rows;
the corrupt payloads of gen_quarantine_pairs (truncated header, wrong
magic, short raster); and one payload of at least 3 MB. The rule it pins
is the module's payload rule: a NULL payload gives NULL outputs (or the
passthrough form's fail-closed values) and leaves every other row exactly
as a NULL-free run computes it; a corrupt payload raises a ValueError
that names the row's id, or is classified (validate) or dropped
(quarantine). Below the matrix sit the operator-level pins.
"""

import inspect
import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark import codecs
from ccnet_spark_spark.operators import multimodal
from ccnet_spark_spark.operators.multimodal import classify_payload, validate_payloads
from ccnet_spark_spark.schema import PAIRS_SCHEMA
from ccnet_spark_spark.synth import (
    AUDIO_RATE,
    AUDIO_SCHEMA,
    QUARANTINE_KINDS,
    VIDEOS_SCHEMA,
    gen_audio_row,
    gen_pandas,
    gen_quarantine_pairs,
    gen_video_row,
    generate_pairs,
)

DROPPED = "dropped"  # the operator emits no row for the NULL payload
CORRUPT_KINDS = ("bad_header", "bad_magic", "bad_raster")
# public functions of multimodal.py that take no payload column
NON_PAYLOAD = {"classify_payload", "caption_embedding"}


@dataclass
class Case:
    run: Callable
    family: str = "pairs"  # input table: pairs, audio or video
    # the NULL row's expected outputs: None = every non-id output is NULL
    null: object = None
    # corrupt payload: "raise", "classify", "drop", or (kind, data) -> must raise
    corrupt: object = "raise"

    @property
    def id_col(self):
        return {"pairs": "image_id", "audio": "audio_id", "video": "video_id"}[self.family]


CASES = {
    "image_stats": Case(multimodal.image_stats),
    "image_entropy": Case(multimodal.image_entropy),
    "image_embedding": Case(multimodal.image_embedding),
    "resize": Case(lambda df: multimodal.resize(df, target=8)),
    "resize_to": Case(
        lambda df: multimodal.resize_to(
            df.withColumn("target_w", F.lit(12)).withColumn("target_h", F.lit(6))
        )
    ),
    "caption_image_alignment": Case(
        multimodal.caption_image_alignment, null={"alignment": None, "aligned": False}
    ),
    # header-only scrub: a short raster passes through untouched
    "scrub_image_metadata": Case(
        multimodal.scrub_image_metadata,
        null={"bytes": None, "n_meta_removed": 0},
        corrupt=lambda kind, data: kind != "bad_raster",
    ),
    "scrub_metadata_passthrough": Case(
        multimodal.scrub_metadata_passthrough,
        null={"bytes": None, "n_meta_removed": 0, "caption": "null payload"},
        corrupt=lambda kind, data: kind != "bad_raster",
    ),
    "model_gate_passthrough": Case(
        multimodal.model_gate_passthrough,
        null={"model_keep": False, "aligned": False, "caption": "null payload"},
    ),
    "validate_payloads": Case(
        multimodal.validate_payloads,
        null={"ok": False, "reason": "bad_header"},
        corrupt="classify",
    ),
    "quarantine_passthrough": Case(
        multimodal.quarantine_passthrough, null=DROPPED, corrupt="drop"
    ),
    # any even-length byte string is valid s16le PCM
    "audio_stats": Case(
        multimodal.audio_stats, family="audio", corrupt=lambda kind, data: len(data) % 2 == 1
    ),
    "frame_sample": Case(multimodal.frame_sample, family="video", null=DROPPED),
}


def _valid(family: str) -> pd.DataFrame:
    if family == "pairs":
        return gen_pandas(0, 6)
    if family == "audio":
        return pd.DataFrame([gen_audio_row(i) for i in range(6)])
    return pd.DataFrame([gen_video_row(i, n_frames=3) for i in range(6)])


def _as_family(family: str, pairs: pd.DataFrame) -> pd.DataFrame:
    """Pairs-shaped rows as the family's input table: a payload becomes a
    PCM clip, or a one-frame video."""
    if family == "pairs":
        return pairs
    if family == "audio":
        return pd.DataFrame(
            {"audio_id": pairs.image_id, "bytes": pairs.bytes, "sample_rate": AUDIO_RATE}
        )
    video = {"video_id": pairs.image_id, "bytes": pairs.bytes, "n_frames": 1}
    return pd.DataFrame({**video, "w": pairs.w, "h": pairs.h})


def _frame(spark, family: str, pdf: pd.DataFrame):
    schema = {"pairs": PAIRS_SCHEMA, "audio": AUDIO_SCHEMA, "video": VIDEOS_SCHEMA}[family]
    # one partition, so the NULL row shares its Arrow batch with valid rows
    return spark.createDataFrame(pdf, schema=schema).coalesce(1)


def _rows_by_id(out, id_col: str) -> dict:
    rows = {}
    for r in out.collect():
        rows.setdefault(r[id_col], []).append(r.asDict())
    return rows


@pytest.mark.parametrize("name", sorted(CASES))
def test_empty_frame(spark, name):
    case = CASES[name]
    empty = _valid(case.family).iloc[:0]
    assert case.run(_frame(spark, case.family, empty)).count() == 0


@pytest.mark.parametrize("name", sorted(CASES))
def test_null_payload_gives_null_outputs_and_leaves_other_rows(spark, name):
    case = CASES[name]
    valid = _valid(case.family)
    null_row = valid.iloc[:1].copy()
    null_row[case.id_col] = "null_payload"
    null_row["bytes"] = None
    if case.family == "pairs":
        null_row["caption"] = "null payload"
    with_null = pd.concat([valid.iloc[:3], null_row, valid.iloc[3:]], ignore_index=True)

    got = _rows_by_id(case.run(_frame(spark, case.family, with_null)), case.id_col)
    clean = _rows_by_id(case.run(_frame(spark, case.family, valid)), case.id_col)
    null_out = got.pop("null_payload", [])
    # every other row equals the NULL-free run, value for value (an int64
    # that took a float64 detour through pandas would differ here)
    assert got == clean
    if case.null == DROPPED:
        assert null_out == []
        return
    assert len(null_out) == 1
    row = null_out[0]
    expect = case.null or {c: None for c in row if c != case.id_col}
    assert {c: row[c] for c in expect} == expect


@pytest.mark.parametrize("kind", CORRUPT_KINDS)
@pytest.mark.parametrize("name", sorted(CASES))
def test_corrupt_payload_names_its_id(spark, name, kind):
    case = CASES[name]
    plants = gen_quarantine_pairs(2)  # one ppm and one qjpg variant per kind
    plants = plants[plants.image_id.str.startswith(f"img_{kind}_")]
    for i in range(len(plants)):
        plant = plants.iloc[i : i + 1]
        rid, data = plant.image_id.iloc[0], bytes(plant.bytes.iloc[0])
        df = _frame(spark, case.family, _as_family(case.family, plant))
        if case.corrupt == "classify":
            (row,) = case.run(df).collect()
            assert (row.ok, row.reason) == (False, kind)
        elif case.corrupt == "drop":
            assert case.run(df).count() == 0
        elif case.corrupt == "raise" or case.corrupt(kind, data):
            with pytest.raises(Exception) as err:
                case.run(df).collect()
            assert f"ValueError: {case.id_col}='{rid}'" in str(err.value)
        else:
            assert len(case.run(df).collect()) >= 1


@pytest.mark.parametrize("name", sorted(CASES))
def test_wide_payload(spark, name):
    case = CASES[name]
    rng = np.random.default_rng(7)
    if case.family == "audio":
        pcm = rng.integers(-32768, 32767, size=1_600_000, dtype=np.int16)
        wide = pd.DataFrame(
            {"audio_id": ["wide"], "bytes": [pcm.tobytes()], "sample_rate": [AUDIO_RATE]}
        )
    else:
        payload = codecs.encode_ppm(rng.integers(0, 256, size=(1024, 1024, 3), dtype=np.uint8))
        pairs = gen_pandas(0, 1).assign(image_id="wide", bytes=[payload], w=1024, h=1024, fmt="ppm")
        wide = _as_family(case.family, pairs)
    assert len(wide.bytes[0]) >= 3_000_000
    rows = _rows_by_id(case.run(_frame(spark, case.family, wide)), case.id_col)["wide"]
    assert rows and all(v is not None for r in rows for v in r.values())


def test_every_public_operator_is_in_the_matrix():
    public = {
        n
        for n, f in inspect.getmembers(multimodal, inspect.isfunction)
        if f.__module__ == multimodal.__name__ and not n.startswith("_")
    }
    assert public - NON_PAYLOAD == set(CASES), "add the operator to CASES or NON_PAYLOAD"


# ------------------------------------------------------ operator-level pins
def test_audio_peak_counts_a_full_scale_negative_sample(spark):
    pcm = np.array([-32768, 5, -7], dtype="<i2").tobytes()
    df = spark.createDataFrame([("a", pcm, AUDIO_RATE)], schema=AUDIO_SCHEMA)
    assert multimodal.audio_stats(df).first().peak == 32768


def test_image_stats_phash_roundtrip(spark):
    pairs = generate_pairs(spark, 60)
    stats = multimodal.image_stats(pairs).select("image_id", "fmt", "phash_check", "w", "h")
    pdf = stats.join(pairs.select("image_id", "phash"), "image_id").toPandas()
    assert len(pdf) == 60
    # lossless rows: recomputed average-hash must equal stored phash
    ppm = pdf[pdf.fmt == "ppm"]
    assert len(ppm) > 0
    assert (ppm["phash_check"] == ppm["phash"]).all()
    assert pdf["w"].notna().all() and pdf["h"].notna().all()


def test_resize_and_embedding(spark):
    pairs = generate_pairs(spark, 30)
    small = multimodal.resize(pairs, target=8).toPandas()
    assert (small["w"] == 8).all() and (small["h"] == 8).all()
    emb = multimodal.image_embedding(pairs, dim=64).toPandas()
    assert all(len(e) == 64 for e in emb["embedding"])
    norms = [float(np.linalg.norm(np.array(e))) for e in emb["embedding"]]
    assert all(abs(n - 1.0) < 1e-3 for n in norms)


def test_scrub_image_metadata_operator(spark):
    """Spark-side: payload sha equality vs the pre-plant original, audit
    counts surface per row, pixels decode identically after scrub."""
    from ccnet_spark_spark import codecs
    from ccnet_spark_spark.operators.multimodal import scrub_image_metadata
    from ccnet_spark_spark.synth import generate_pairs

    base = generate_pairs(spark, 20).select("image_id", "bytes", "fmt")
    orig = {r["image_id"]: bytes(r["bytes"]) for r in base.collect()}

    def plant(pdf):
        pdf = pdf.copy()
        pdf["bytes"] = [
            bytearray(
                bytes(b)[: bytes(b).index(b" ")]
                + b"\n# Created by x\n"
                + bytes(b)[bytes(b).index(b" ") + 1 :]
            )
            for b in pdf["bytes"]
        ]
        return pdf

    tagged = base.toPandas().pipe(plant)
    out = scrub_image_metadata(spark.createDataFrame(tagged, schema=base.schema)).collect()
    assert len(out) == 20
    for r in out:
        assert r["n_meta_removed"] == 1
        assert bytes(r["bytes"]) == orig[r["image_id"]]
        assert (
            codecs.decode(bytes(r["bytes"]), r["fmt"]) == codecs.decode(orig[r["image_id"]], r["fmt"])
        ).all()


def test_fused_gate_null_payload_fails_closed(spark):
    from ccnet_spark_spark.operators.model_heads import model_score_gates

    pairs = generate_pairs(spark, 3).withColumn(
        "bytes", F.when(F.col("image_id") != "img0000000000", F.col("bytes"))
    )
    out = {r["image_id"]: r for r in multimodal.model_gate_passthrough(pairs).collect()}
    assert out["img0000000000"]["model_keep"] is False
    assert out["img0000000000"]["aligned"] is False
    # the join form gives every row, the NULL one included, the same verdicts
    keep = model_score_gates(multimodal.image_embedding(pairs)).collect()
    keep = {r["image_id"]: r["model_keep"] for r in keep}
    aligned = {r["image_id"]: r["aligned"] for r in multimodal.caption_image_alignment(pairs).collect()}
    assert keep == {i: r["model_keep"] for i, r in out.items()}
    assert aligned == {i: r["aligned"] for i, r in out.items()}


def test_classify_payload_reason_ladder():
    r = gen_pandas(0, 1).iloc[0]
    data = bytes(r.bytes)
    assert classify_payload(data, r.fmt, r.w, r.h) == "ok"
    assert classify_payload(data[:6], r.fmt, r.w, r.h) == "bad_header"
    assert classify_payload(b"XX" + data[2:], r.fmt, r.w, r.h) == "bad_magic"
    assert classify_payload(data[:-1], r.fmt, r.w, r.h) == "bad_raster"
    assert classify_payload(data + b"x", r.fmt, r.w, r.h) == "bad_raster"
    assert classify_payload(data, r.fmt, r.w + 1, r.h) == "dims_mismatch"
    assert classify_payload(data, r.fmt, r.w, r.h - 1) == "dims_mismatch"
    assert classify_payload(data, "png", r.w, r.h) == "unsupported_fmt"
    assert classify_payload(data, None, r.w, r.h) == "unsupported_fmt"
    # ladder ORDER: a wrong-magic payload with lying dims reports the
    # magic first (shared spec with the independent fixture validator)
    assert classify_payload(b"XX" + data[2:], r.fmt, r.w + 1, r.h) == "bad_magic"
    # header with a non-integer field is bad_header, not a crash
    assert classify_payload(b"P6 ab 8 255\n" + b"\0" * 192, "ppm", 8, 8) == "bad_header"
    # empty payload
    assert classify_payload(b"", r.fmt, r.w, r.h) == "bad_header"


def test_validate_payloads_never_raises_and_matches_kinds(spark):
    plants = spark.createDataFrame(gen_quarantine_pairs(4), schema=PAIRS_SCHEMA)
    out = validate_payloads(plants).toPandas().set_index("image_id")
    for kind in QUARANTINE_KINDS:
        for i in range(4):
            row = out.loc[f"img_{kind}_{i:03d}"]
            expect = "ok" if kind.startswith("ok_") else kind
            assert row.reason == expect, (kind, i, row.reason)
            assert bool(row.ok) == (expect == "ok")


def test_validate_payloads_plan_no_shuffle(spark):
    plants = spark.createDataFrame(gen_quarantine_pairs(2), schema=PAIRS_SCHEMA)
    plan = validate_payloads(plants)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_quarantine_fixture_fresh():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    disk = pd.read_parquet(os.path.join(repo, "fixtures", "payload_quarantine_expected.parquet"))
    assert len(disk) == 256, "stale fixture — rerun tools/make_fixtures.py"
    assert int((~disk.ok).sum()) == 32
    # engine classifier agrees with the independent validator row-for-row
    src = pd.concat([gen_pandas(0, 200), gen_quarantine_pairs(8)], ignore_index=True)
    got = [
        classify_payload(bytes(r.bytes), r.fmt, int(r.w), int(r.h)) for r in src.itertuples()
    ]
    assert got == disk.reason.tolist()


def test_quarantine_passthrough_filters_and_survives_nulls(spark):
    from pyspark.sql import Row

    from ccnet_spark_spark.operators.multimodal import quarantine_passthrough

    plants = spark.createDataFrame(gen_quarantine_pairs(4), schema=PAIRS_SCHEMA)
    nulls = spark.createDataFrame(
        [
            Row(image_id="null_bytes", bytes=None, w=8, h=8, fmt="ppm", caption="c", phash=0),
            Row(
                image_id="null_dims",
                bytes=bytearray(gen_pandas(0, 1).iloc[0].bytes),
                w=None,
                h=None,
                fmt=gen_pandas(0, 1).iloc[0].fmt,
                caption="c",
                phash=0,
            ),
        ],
        schema=PAIRS_SCHEMA,
    )
    out = quarantine_passthrough(plants.unionByName(nulls)).toPandas()
    # only the spec-valid variants survive (untouched copies + the
    # comment/multi-whitespace non-canonical headers); NULL payload/dims drop
    expect = sorted(
        f"img_{kind}_{i:03d}"
        for kind in ("ok_copy", "ok_comment", "ok_multispace")
        for i in range(4)
    )
    assert sorted(out.image_id) == expect
    # schema is unchanged (full-row passthrough)
    assert list(out.columns) == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def test_quarantine_passthrough_works_on_streams(spark, tmp_path):
    """Stage-0 quarantine at STREAMING ingest: mapInPandas composes with
    readStream, so the same operator gates a continuous ingestion job —
    corrupt payloads drop in-flight, valid rows reach the sink."""
    src = str(tmp_path / "qstream_src")
    sink = str(tmp_path / "qstream_sink")
    ckpt = str(tmp_path / "qstream_ckpt")
    from ccnet_spark_spark.operators.multimodal import quarantine_passthrough

    plants = spark.createDataFrame(gen_quarantine_pairs(4), schema=PAIRS_SCHEMA)
    plants.write.parquet(src)
    stream = spark.readStream.schema(PAIRS_SCHEMA).parquet(src)
    q = (
        quarantine_passthrough(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    ids = sorted(r.image_id for r in spark.read.parquet(sink).select("image_id").collect())
    expect = sorted(
        f"img_{kind}_{i:03d}"
        for kind in ("ok_copy", "ok_comment", "ok_multispace")
        for i in range(4)
    )
    assert ids == expect


def test_fused_model_gates_equal_join_form(spark):
    """model_gate_passthrough (zero-shuffle fused form) keeps EXACTLY the
    rows the join form keeps, over the whole 400-pair corpus — the engine-
    internal pin that lets either form back the curated cascade."""
    from ccnet_spark_spark.plans.pipeline import Config, Pipeline
    from ccnet_spark_spark.synth import generate_pairs

    from __spark_entry__ import _cutoffs

    base = generate_pairs(spark, 400)
    join_cfg = Config(cutoffs=_cutoffs(), image_gates=True, caption_budget=10, model_gates=True)
    fused_cfg = Config(
        cutoffs=_cutoffs(),
        image_gates=True,
        caption_budget=10,
        model_gates=True,
        model_gates_mode="fused",
    )
    a = Pipeline(spark, join_cfg).run(base)
    b = Pipeline(spark, fused_cfg).run(base)
    cols = [c for c in a.columns if c != "bytes"]
    ra = sorted(repr(tuple(r)) for r in a.select(*cols).collect())
    rb = sorted(repr(tuple(r)) for r in b.select(*cols).collect())
    assert ra == rb


def test_strip_metadata_fidelity_and_idempotence():
    """Plant comments -> decode still works (comment-tolerant parser),
    scrub restores the EXACT original bytes, decoded pixels bit-identical
    at every step, scrub is idempotent, counts are right."""
    import numpy as np

    from ccnet_spark_spark import codecs

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    for fmt, enc in (("ppm", codecs.encode_ppm), ("qjpg", codecs.encode_qjpg)):
        orig = enc(px)
        sp = orig.index(b" ")
        tagged = orig[:sp] + b"\n# Created by tool\n# GPS 1.5 2.5\n" + orig[sp + 1 :]
        # comment-tolerant decode sees the same pixels
        assert (codecs.decode(tagged, fmt) == codecs.decode(orig, fmt)).all()
        clean, n = codecs.strip_metadata(tagged, fmt)
        assert n == 2 and clean == orig
        again, n2 = codecs.strip_metadata(clean, fmt)
        assert n2 == 0 and again == clean
    # glued comment (no whitespace before '#') still terminates the token
    hdr = b"P6 5#c\n7 255\n" + bytes(5 * 7 * 3)
    clean, n = codecs.strip_metadata(hdr, "ppm")
    assert n == 1 and clean.startswith(b"P6 5 7 255\n")
    # error paths: unknown fmt gated, truncated header loud
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        codecs.strip_metadata(b"\xff\xd8", "jpeg")
    with _pytest.raises(ValueError):
        codecs.strip_metadata(b"P6 5 7", "ppm")
