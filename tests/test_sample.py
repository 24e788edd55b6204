"""Pins for operators/sample.py: content-hash sampling, group quotas,
weighted repetition, epoch shuffles, token-budget selection and the
bucketed prefix_sum they rest on. Each pin checks the operator against a
plain-Python reference or a plan shape; the contract queries are
value-checked against DuckDB by the oracle harness."""

from __future__ import annotations

import functools
import hashlib

import pytest
from pyspark.sql import functions as F

from ccnet_spark_spark.operators import sample


# ------------------------------------------------------------ hash_sample
def test_hash_sample_is_deterministic_and_scan_pushed(spark):
    from ccnet_spark_spark.operators.sample import hash_sample

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"] for r in hash_sample(df, "doc_id", 26).collect()}
    b = {r["doc_id"] for r in hash_sample(df, "doc_id", 26).collect()}
    assert a == b  # content-derived: identical on every run
    assert 0.06 < len(a) / 2000 < 0.15  # ~26/256 expected rate
    # monotone: raising the rate only ADDS rows (stable slices grow, never churn)
    c = {r["doc_id"] for r in hash_sample(df, "doc_id", 64).collect()}
    assert a <= c
    plan = hash_sample(df, "doc_id", 26)._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan and "Exchange" not in plan  # rides inside the scan


# ----------------------------------------------------------- group_quota


def test_group_quota_caps_and_determinism(spark):
    """At most `quota` rows per group; exact-quota groups kept whole;
    selection invariant under repartition (content-defined)."""
    from ccnet_spark_spark.operators.sample import group_quota

    rows = [(f"d{i:03d}", "big") for i in range(40)]
    rows += [(f"e{i:03d}", "exact") for i in range(10)]
    rows += [(f"s{i:03d}", "small") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = group_quota(df, "lang", 10, id_col="doc_id")
    got = {}
    for r in out.collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    assert len(got["big"]) == 10
    assert len(got["exact"]) == 10
    assert len(got["small"]) == 4
    again = group_quota(df.repartition(13), "lang", 10, id_col="doc_id")
    got2 = {}
    for r in again.collect():
        got2.setdefault(r["lang"], set()).add(r["doc_id"])
    assert got == got2


def test_group_quota_null_group_capped(spark):
    """NULL groups are ONE group (null-safe cutoff join), capped like any
    other — not silently kept whole."""
    from ccnet_spark_spark.operators.sample import group_quota

    rows = [(f"n{i:03d}", None) for i in range(20)] + [("a1", "en")]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = group_quota(df, "lang", 5, id_col="doc_id").collect()
    nulls = [r for r in out if r["lang"] is None]
    assert len(nulls) == 5
    assert [r["doc_id"] for r in out if r["lang"] == "en"] == ["a1"]


def test_group_quota_validates(spark):
    import pytest as _pytest

    from ccnet_spark_spark.operators.sample import group_quota
    from ccnet_spark_spark.synth import generate_pairs

    with _pytest.raises(ValueError, match="quota"):
        group_quota(generate_pairs(spark, 2), "fmt", 0)


def test_group_quota_cutoff_join_is_broadcast(spark):
    """The scale contract: the cutoff table broadcasts; the full rows
    reach the filter without an exchange of their own (the only shuffle
    in the plan is the narrow window's)."""
    from ccnet_spark_spark.operators.sample import group_quota
    from ccnet_spark_spark.synth import generate_pairs

    out = group_quota(generate_pairs(spark, 50), "fmt", 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    import re

    shuffles = re.findall(r"Exchange hashpartitioning\(([^,]+)", plan)
    assert all("__gq_g" in s for s in shuffles), shuffles


# -------------------------------------------------------- weighted_repeat


def test_weighted_repeat_factors(spark):
    """Whole factors copy exactly; fractional factors add the extra copy
    for ~frac of ids; factor 0 drops the stratum; copies carry 1..n."""
    from ccnet_spark_spark.operators.sample import weighted_repeat

    rows = [(f"a{i:03d}", "two") for i in range(30)]
    rows += [(f"b{i:03d}", "half") for i in range(64)]
    rows += [(f"c{i:03d}", "drop") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    out = weighted_repeat(
        df, "lang", {"two": 2.0, "half": 0.5, "drop": 0.0}, id_col="doc_id"
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r["lang"], []).append(r["copy_idx"])
    assert len(by["two"]) == 60 and sorted(set(by["two"])) == [1, 2]
    # ~50% of 64: binomial, bounds generous but meaningful
    assert 16 <= len(by["half"]) <= 48 and set(by["half"]) == {1}
    assert "drop" not in by


def test_weighted_repeat_deterministic_and_no_shuffle(spark):
    from ccnet_spark_spark.operators.sample import weighted_repeat

    rows = [(f"d{i:03d}", "en") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    a = sorted(
        (r["doc_id"], r["copy_idx"])
        for r in weighted_repeat(df, "lang", {"en": 1.5}, id_col="doc_id").collect()
    )
    b = sorted(
        (r["doc_id"], r["copy_idx"])
        for r in weighted_repeat(
            df.repartition(7), "lang", {"en": 1.5}, id_col="doc_id"
        ).collect()
    )
    assert a == b
    plan = (
        weighted_repeat(df, "lang", {"en": 1.5}, id_col="doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" not in plan  # broadcast + map-side explode only


def test_weighted_repeat_validates(spark):
    import pytest as _pytest

    from ccnet_spark_spark.operators.sample import weighted_repeat
    from ccnet_spark_spark.synth import generate_pairs

    with _pytest.raises(ValueError, match="factors"):
        weighted_repeat(generate_pairs(spark, 2), "fmt", {"ppm": -1.0})


# ------------------------------------------------------- epoch shuffling
def test_epoch_shuffle_permutation_properties(spark):
    from ccnet_spark_spark.operators import sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id")
    n = docs.count()
    e0 = sample.epoch_shuffle(docs, epoch=0).toPandas()
    e1 = sample.epoch_shuffle(docs, epoch=1).toPandas()
    for e in (e0, e1):
        # complete permutation: every row present, positions contiguous per shard
        assert len(e) == n and e.doc_id.nunique() == n
        for _, grp in e.groupby("shard"):
            assert sorted(grp.pos) == list(range(1, len(grp) + 1))
    # epochs decorrelate: the global (shard, pos) order genuinely differs
    o0 = e0.sort_values(["shard", "pos"]).doc_id.tolist()
    o1 = e1.sort_values(["shard", "pos"]).doc_id.tolist()
    assert o0 != o1
    same = sum(a == b for a, b in zip(o0, o1))
    assert same < n * 0.05, f"{same}/{n} fixed points — epochs not decorrelated"
    # retry/layout invariance: same epoch, reshuffled input, identical order
    e0b = sample.epoch_shuffle(docs.repartition(13), epoch=0).toPandas()
    assert (
        e0b.sort_values(["shard", "pos"]).doc_id.tolist() == o0
    ), "order must be content-defined, not partition-defined"


# ------------------------------------------------- token-budget selection
def test_token_budget_select_matches_straight_greedy(spark):
    import hashlib

    from ccnet_spark_spark.functions import textstats
    from ccnet_spark_spark.operators import sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id",
        textstats.quality_score_expr("text").alias("score"),
        textstats.token_count_expr("text").alias("n_tokens"),
    )
    pdf = docs.toPandas()
    pdf["h"] = [hashlib.sha256(str(i).encode()).hexdigest() for i in pdf.doc_id]
    ordered = pdf.sort_values(["score", "h", "doc_id"], ascending=[False, True, True])

    def greedy(budget):
        out, spent = [], 0
        for r in ordered.itertuples():
            if spent + r.n_tokens <= budget:
                spent += r.n_tokens
                out.append(r.doc_id)
        # greedy PREFIX: stop at the first row that does not fit
            else:
                break
        return sorted(out)

    total = int(pdf.n_tokens.sum())
    for budget in (0, 37, 5_000, 12_000, total, total + 10):
        got = sorted(
            r.doc_id
            for r in sample.token_budget_select(
                docs, budget=budget, score_col="score", cost_col="n_tokens"
            ).collect()
        )
        assert got == greedy(budget), f"budget={budget}"
        sel = pdf[pdf.doc_id.isin(got)]
        assert int(sel.n_tokens.sum()) <= budget or budget > total


def test_epoch_shuffle_rejects_degenerate_shards(spark):
    from ccnet_spark_spark.operators import sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id")
    with pytest.raises(ValueError, match="shard_chars"):
        sample.epoch_shuffle(docs, epoch=0, shard_chars=0)
    with pytest.raises(ValueError, match="clobber"):
        sample.epoch_shuffle(docs.withColumn("pos", F.lit(1)), epoch=0)

def test_token_budget_select_exact_on_unrounded_scores(spark):
    """150k distinct unrounded scores: the selection is the greedy prefix
    of (score desc, sha256(id), id), as a pandas reference computes it.
    No precondition on the number of distinct scores."""
    df = spark.range(150_000).select(
        F.col("id").alias("doc_id"),
        (F.xxhash64("id").cast("double") / 1e18).alias("score"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 50) + 1).alias("n_tokens"),
    )
    pdf = df.toPandas()
    pdf["h"] = [hashlib.sha256(str(i).encode()).hexdigest() for i in pdf.doc_id]
    ordered = pdf.sort_values(["score", "h", "doc_id"], ascending=[False, True, True])
    cum = ordered.n_tokens.cumsum()
    for budget in (1_000, 1_234_567):
        want = sorted(ordered.doc_id[cum <= budget])
        got = sorted(
            r.doc_id
            for r in sample.token_budget_select(
                df, budget=budget, score_col="score", cost_col="n_tokens"
            ).collect()
        )
        assert got == want, f"budget={budget}"
        assert 0 < len(got) < 150_000


# -------------------------------------------------------------- prefix_sum
def _reference_prefix(rows, keys, inclusive):
    """Running sum of `v` over `keys` = [(name, desc, nulls_first)] with
    Spark's NULL rules: NULL values are skipped, and the sum is NULL
    until the first non-NULL value."""

    def cmp(a, b):
        for name, desc, nulls_first in keys:
            x, y = a[name], b[name]
            if x == y:
                continue
            if x is None or y is None:
                return (-1 if x is None else 1) * (1 if nulls_first else -1)
            return (-1 if x < y else 1) * (-1 if desc else 1)
        return 0

    out, run = {}, None
    for r in sorted(rows, key=functools.cmp_to_key(cmp)):
        before = run
        if r["v"] is not None:
            run = r["v"] if run is None else run + r["v"]
        out[r["id"]] = run if inclusive else before
    return out


def _rows(n):
    return [
        {
            "id": i,
            "same": 5,
            "tie": None if i % 97 == 0 else i // 37,
            "s": hashlib.sha256(str(i).encode()).hexdigest()[:2],
            "v": None if i % 13 == 0 else (i * 7919) % 101 - 30,
        }
        for i in range(n)
    ]


@pytest.mark.parametrize(
    "keys",
    [
        [("same", False, True), ("id", False, True)],  # one leading value: one bucket
        [("tie", True, False), ("id", False, True)],  # ties straddle boundaries, NULLs last
        [("tie", False, False), ("id", True, False)],  # ascending, NULLS LAST
        [("s", False, True), ("id", True, False)],  # string leading key
    ],
    ids=["one-value", "ties-desc", "ties-asc-nulls-last", "string"],
)
@pytest.mark.parametrize("inclusive", [True, False], ids=["inclusive", "exclusive"])
def test_prefix_sum_matches_reference(spark, keys, inclusive):
    rows = _rows(3_000)
    df = spark.createDataFrame(rows, "id long, same int, tie long, s string, v long")

    def col(name, desc, nulls_first):
        c = F.col(name)
        if desc:
            return c.desc_nulls_first() if nulls_first else c.desc_nulls_last()
        return c.asc_nulls_first() if nulls_first else c.asc_nulls_last()

    order = [col(*k) for k in keys]
    want = _reference_prefix(rows, keys, inclusive)
    outs = []
    for parts in (2, 7):
        got = sample.prefix_sum(df.repartition(parts), order, "v", "cum", inclusive=inclusive)
        assert got.columns == df.columns + ["cum"]
        outs.append(sorted(tuple(r) for r in got.collect()))
        assert {r[0]: r[-1] for r in outs[-1]} == want
    assert outs[0] == outs[1]


def test_prefix_sum_empty_input(spark):
    df = spark.createDataFrame([], "id long, v long")
    for inclusive in (True, False):
        got = sample.prefix_sum(df, ["id"], "v", "cum", inclusive=inclusive)
        assert got.columns == ["id", "v", "cum"] and got.collect() == []


def _unpartitioned_windows(df):
    """Output columns of the child of every Window with an empty
    partitionSpec in the physical plan."""
    found = []

    def walk(node):
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty():
            out = node.child().output()
            found.append([out.apply(i).name() for i in range(out.size())])
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().sparkPlan())
    return found


def test_global_orders_have_no_single_task_window(spark):
    """token_budget_select, resample_topk and assign_shards' global stream
    run no Window without a partition key over input rows: the only
    unpartitioned Window turns the per-bucket totals into offsets."""
    from ccnet_spark_spark.operators.dsir import resample_topk
    from ccnet_spark_spark.sources.webdataset import assign_shards
    from ccnet_spark_spark.synth import generate_pairs

    docs = spark.range(1_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("score"), F.lit(1).alias("cost")
    )
    scored = docs.select(
        "doc_id", F.lit(3).alias("n_grams"), (F.col("score") / 7.0).alias("log_w")
    )
    outs = [
        sample.token_budget_select(docs, 450),  # boundary falls inside the score-2 band
        resample_topk(scored, 60),
        assign_shards(generate_pairs(spark, 40), budget_bytes=32_768),
    ]
    for out in outs:
        assert _unpartitioned_windows(out) == [["_ps_b", "_ps_t"]]
