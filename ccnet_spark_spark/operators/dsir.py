"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023).

The standard pretraining data-selection method the reference's pipeline
feeds into: estimate two bag-of-hashed-n-grams models — p over a TARGET
corpus (the distribution you want, e.g. Wikipedia) and q over the RAW
corpus — and keep the raw examples with the highest importance weight
log w(x) = Σ_grams [log p_b − log q_b]. Here both models, the scorer
and the selection are pure DataFrame ops with exact DuckDB twins.

Feature hashing: each word unigram and bigram maps to one of 16³ = 4096
buckets via a 3-hex-char prefix of sha2 — the same hash family as the
engine's line_hash (functions/hashing.py), already proven bit-equal in
DuckDB (sha256 lowercase hex in both engines), so the twin needs no
xxhash lookalike. Bucket probabilities are add-1 smoothed over the FULL
bucket space (a literal 4096 — no vocabulary pass needed); per-bucket
delta log-probs are rounded to 6dp and per-doc sums run over
DECIMAL(20,6) (the engine's standard cross-engine float discipline).

Scale: the model is ≤4096 rows — broadcast by construction. Training is
two explode+groupBy passes (map-side combinable), joined and materialized
once; the two corpus totals are bounded driver-side scalars read from
that frame (the nb_lid trainer's discipline — a 1-row join would be a
BroadcastNestedLoopJoin). Scoring is one broadcast equi-join + one
groupBy. Selection ranks with the bucketed prefix count of
operators/sample.prefix_sum (no single-task window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import hashing
from ..session import materialize
from .sample import prefix_sum

N_HEX = 3
N_BUCKETS = 16**N_HEX  # 4096


def bucket_events_expr(text_col: Column) -> Column:
    """array<string> of 3-hex bucket ids for every word unigram AND bigram
    (DSIR's hashed-n-gram featurization)."""
    words = F.split(text_col, " ")
    grams = F.concat(words, hashing.word_shingles_expr(words, n=2))
    return F.transform(grams, lambda g: F.substring(F.sha2(g, 256), 1, N_HEX))


def bucket_events_sql(text_expr: str) -> str:
    """DuckDB twin: unigrams || bigrams, each mapped to substr(sha256, 1, 3)."""
    words = f"string_split({text_expr}, ' ')"
    bigrams = (
        f"list_transform(range(0, greatest(len({words}) - 1, 0)), "
        f"i -> list_extract({words}, i + 1) || ' ' || list_extract({words}, i + 2))"
    )
    return f"list_transform({words} || {bigrams}, g -> substr(sha256(g), 1, {N_HEX}))"


def _bucket_counts(df: DataFrame, text_col: str) -> DataFrame:
    ev = df.where(F.col(text_col).isNotNull()).select(
        F.explode(bucket_events_expr(F.col(text_col))).alias("bucket")
    )
    return ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))


def train_dsir(
    target_df: DataFrame, raw_df: DataFrame, text_col: str = "text", k: int = 1
) -> dict:
    """Returns {"model": DF(bucket, ct, cr, delta_logp), "unseen_delta",
    "n_target", "n_raw"}. delta_logp = round(log10((ct+k)/(Nt+k·B)), 6) −
    round(log10((cr+k)/(Nr+k·B)), 6); unseen buckets (possible when
    scoring documents outside the training corpora) get the same formula
    at ct = cr = 0, as a closed-form constant."""
    ct = _bucket_counts(target_df, text_col).withColumnRenamed("c", "ct")
    cr = _bucket_counts(raw_df, text_col).withColumnRenamed("c", "cr")
    # <= 4096 rows feeding the totals below and the model: computed once
    joined = materialize(ct.join(cr, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    ))
    n_target, n_raw = (t or 0 for t in joined.agg(F.sum("ct"), F.sum("cr")).collect()[0])
    denom_t, denom_r = n_target + k * N_BUCKETS, n_raw + k * N_BUCKETS
    model = joined.withColumn(
        "delta_logp",
        F.round(F.log10((F.col("ct") + F.lit(k)).cast("double") / F.lit(denom_t)), 6)
        - F.round(F.log10((F.col("cr") + F.lit(k)).cast("double") / F.lit(denom_r)), 6),
    )
    import math

    from ..models import round_half_up  # Spark ROUND / DuckDB round are half-up; python round is banker's

    unseen = round_half_up(math.log10(k / denom_t), 6) - round_half_up(math.log10(k / denom_r), 6)
    return {"model": model, "unseen_delta": unseen, "n_target": n_target, "n_raw": n_raw}


def score_dsir(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_grams, log_w) — importance log-weight per document.
    One broadcast equi-join on bucket + one groupBy; the sum runs over
    DECIMAL(20,6) so it is partition-order independent."""
    ev = df.where(F.col(text_col).isNotNull()).select(
        id_col, F.explode(bucket_events_expr(F.col(text_col))).alias("bucket")
    )
    scored = ev.join(F.broadcast(model["model"].select("bucket", "delta_logp")), "bucket", "left")
    lp = F.coalesce(F.col("delta_logp"), F.lit(model["unseen_delta"])).cast("decimal(20,6)")
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(lp).cast("double").alias("log_w"),
    )


def resample_topk(scored: DataFrame, n: int, id_col: str = "doc_id") -> DataFrame:
    """Deterministic top-n by (log_w desc, id asc): `rank` is the running
    row count over that order (sample.prefix_sum — bucketed, no
    single-task global window), kept while <= n. The narrow scored frame
    is materialized: prefix_sum reads its input three times."""
    keys = [F.col("log_w").desc(), F.col(id_col).asc()]
    return (
        prefix_sum(materialize(scored), keys, F.lit(1), "rank")
        .where(F.col("rank") <= n)
        .select(id_col, "n_grams", "log_w", F.col("rank").cast("int").alias("rank"))
    )


# ------------------------------------------------------------ DuckDB twins
def dsir_ctes_sql(target_rel: str, raw_rel: str, text_col: str = "text", k: int = 1) -> str:
    """CTE bodies rebuilding the model: dsmodel(bucket, ct, cr, delta_logp)
    plus dstot(n_target, n_raw). Totals are scalar subqueries (the oracle
    side has no plan guard to respect)."""
    return (
        f"dst as (select bucket, cast(count(*) as bigint) as ct from {target_rel}, "
        f"lateral unnest({bucket_events_sql(text_col)}) as u(bucket) "
        f"where {text_col} is not null group by 1), "
        f"dsr as (select bucket, cast(count(*) as bigint) as cr from {raw_rel}, "
        f"lateral unnest({bucket_events_sql(text_col)}) as u(bucket) "
        f"where {text_col} is not null group by 1), "
        "dstot as (select coalesce((select sum(ct) from dst), 0) as n_target, "
        "coalesce((select sum(cr) from dsr), 0) as n_raw), "
        "dsmodel as (select coalesce(t.bucket, r.bucket) as bucket, "
        "coalesce(t.ct, 0) as ct, coalesce(r.cr, 0) as cr, "
        f"round(log10(cast(coalesce(t.ct, 0) + {k} as double) / (tot.n_target + {k} * {N_BUCKETS})), 6) "
        f"- round(log10(cast(coalesce(r.cr, 0) + {k} as double) / (tot.n_raw + {k} * {N_BUCKETS})), 6) as delta_logp "
        "from dst t full outer join dsr r on t.bucket = r.bucket, dstot tot)"
    )


def dsir_score_sql(score_rel: str, text_col: str = "text", id_col: str = "doc_id", k: int = 1) -> str:
    """CTE bodies scoring `score_rel` against dsmodel (append after
    dsir_ctes_sql); final relation dsscore(id_col, n_grams, log_w)."""
    unseen = (
        f"round(log10(cast({k} as double) / (tot.n_target + {k} * {N_BUCKETS})), 6) "
        f"- round(log10(cast({k} as double) / (tot.n_raw + {k} * {N_BUCKETS})), 6)"
    )
    return (
        f"dsev as (select {id_col}, bucket from {score_rel}, "
        f"lateral unnest({bucket_events_sql(text_col)}) as u(bucket) "
        f"where {text_col} is not null), "
        f"dsscore as (select e.{id_col}, cast(count(*) as bigint) as n_grams, "
        "cast(sum(cast(coalesce(m.delta_logp, " + unseen + ") as decimal(20,6))) as double) as log_w "
        "from dsev e left join dsmodel m using (bucket), dstot tot "
        f"group by e.{id_col})"
    )
