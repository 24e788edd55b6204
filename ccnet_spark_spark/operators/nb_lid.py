"""Trained character-n-gram Naive-Bayes language identifier.

The reference runs a PRE-TRAINED fastText LID binary
(/root/reference/pipe_lid.py:16-40). fastText's supervised mode is a
linear classifier over character-n-gram features — the same hypothesis
class as multinomial Naive Bayes over char n-grams, which has an exact
closed-form trainer: count n-grams per language, smooth, take logs.
This module trains THAT model from a labeled corpus slice and predicts
with it, entirely as DataFrame expressions (no UDF, whole-stage
codegen), with the identical math expressible in DuckDB for the oracle
gate.

Train: one explode + groupBy over the labeled slice. Per language,
p(g|lang) = (c + k) / (N_lang + k*V) with V = distinct grams across ALL
languages (shared NB vocabulary) and a doc-frequency prior
p(lang) = docs_lang / docs_total. Log-probs are rounded to 6dp
(cross-engine libm safety) and summed as DECIMAL(20,6) at predict time
(partition-order independence).

Predict: the candidate-language axis is attached by EXPLODING a literal
language array on the document side (never a cross join — a 1-row
broadcast nested-loop would trip the engine's no-cartesian plan guard
and does not scale-partition), then ONE broadcast equi-join on
(lang, gram) against the model. Unseen grams contribute in closed form:
score(doc, lang) = Σ_seen logp + (n_doc − n_seen) * unseen_lang +
log-prior_lang, so the join only materializes SEEN (gram, lang) hits.
Argmax is a deterministic row_number over (score desc, lang asc).

Scale: the model is |langs| × |observed grams| — MBs for char trigrams,
broadcast-able; the exploded event stream is n_grams × |langs| rows of
(id, lang, gram) — linear in corpus size with a small constant, shuffled
once by the per-(doc, lang) aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..session import materialize


def char_ngrams_expr(text_col: Column, n: int = 3) -> Column:
    """Character n-grams as built-in expressions: substring windows at
    1-based starts 1..len-n+1. Empty array when the text is shorter than
    n (sequence(1, non-positive) would be descending — guarded)."""
    idx = F.sequence(F.lit(1), F.length(text_col) - (n - 1))
    grams = F.transform(idx, lambda i: text_col.substr(i, F.lit(n)))
    return F.when(F.length(text_col) >= n, grams).otherwise(F.array().cast("array<string>"))


def _gram_events(df: DataFrame, text_col: str, extra_cols: list[str], n: int) -> DataFrame:
    base = df.where(F.col(text_col).isNotNull())
    toks = base.select(*extra_cols, char_ngrams_expr(F.col(text_col), n).alias("_g"))
    return toks.select(*extra_cols, F.explode("_g").alias("gram"))


def train_nb_lid(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang", n: int = 3, k: int = 1
) -> dict[str, DataFrame]:
    """Returns:

    - ``grams``:  (lang, gram, c, logp) — seen-gram log-probs
    - ``langs``:  (lang, n_events, unseen_logp, prior_logp) — per-language
      totals, the unseen-gram contribution, and the doc-frequency prior
    - ``v``, ``n_total``: the two collected scalars (ints)

    The shared vocab size V and the doc total are single-scalar
    aggregations collected DRIVER-SIDE (two bounded values — the same
    eager-trainer discipline as operators/bpe.py) and folded into the
    model as literals: a 1-row frame joined in would plan as a
    BroadcastNestedLoopJoin, which neither partitions at scale nor
    passes the contract's no-cartesian plan guard."""
    labeled = df.where(F.col(lang_col).isNotNull() & F.col(text_col).isNotNull())
    events = _gram_events(labeled, text_col, [lang_col], n).withColumnRenamed(lang_col, "lang")
    # counts is |langs| x |observed grams| — model-sized by construction
    # (same eager-trainer discipline as bpe.py). It feeds FOUR consumers
    # (the vocab-size count below, totals, and grams' join of both);
    # without materialization each consumer replays the corpus explode +
    # aggregation — plan-audited: the full gram scan ran 4x per train call.
    counts = materialize(events.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c")))
    v = counts.select("gram").distinct().count()
    n_total = labeled.count()
    totals = counts.groupBy("lang").agg(F.sum("c").alias("n_events"))
    docs_per_lang = labeled.groupBy(F.col(lang_col).alias("lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    langs = totals.join(docs_per_lang, "lang").select(
        "lang",
        "n_events",
        F.round(F.log10(F.lit(float(k)) / (F.col("n_events") + F.lit(k * v))), 6).alias(
            "unseen_logp"
        ),
        F.round(F.log10(F.col("n_docs").cast("double") / F.lit(n_total)), 6).alias("prior_logp"),
    )
    grams = counts.join(totals, "lang").select(
        "lang",
        "gram",
        "c",
        F.round(
            F.log10((F.col("c") + F.lit(k)).cast("double") / (F.col("n_events") + F.lit(k * v))),
            6,
        ).alias("logp"),
    )
    return {"grams": grams, "langs": langs, "v": v, "n_total": n_total}


def predict_nb_lid(
    df: DataFrame,
    model: dict[str, DataFrame],
    lang_values: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """(id_col, pred_lang, nb_score) — argmax over the trained languages.
    `lang_values` is the explicit candidate list (the model's languages);
    passing it as literals keeps the candidate axis an explode, not a
    join. Documents with no grams (text shorter than n) score on priors
    plus zero likelihood — still a deterministic argmax."""
    events = _gram_events(df, text_col, [id_col], n)
    n_doc = events.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_doc"))
    # every non-null-text doc appears even with zero grams: start from the
    # doc frame (the twin's scnd CTE applies the same not-null filter)
    docs = (
        df.where(F.col(text_col).isNotNull())
        .select(id_col)
        .join(n_doc, id_col, "left")
        .na.fill({"n_doc": 0})
    )
    cand = docs.select(
        id_col, "n_doc", F.explode(F.array(*[F.lit(v) for v in sorted(lang_values)])).alias("lang")
    )
    seen = (
        events.select(id_col, "gram")
        .join(F.broadcast(model["grams"].select("lang", "gram", "logp")), "gram")
        .groupBy(id_col, "lang")
        .agg(
            F.sum(F.col("logp").cast("decimal(20,6)")).alias("seen_sum"),
            F.count(F.lit(1)).alias("n_seen"),
        )
    )
    scored = (
        cand.join(seen, [id_col, "lang"], "left")
        .join(F.broadcast(model["langs"].select("lang", "unseen_logp", "prior_logp")), "lang")
        .select(
            id_col,
            "lang",
            (
                F.coalesce(F.col("seen_sum"), F.lit(0).cast("decimal(20,6)"))
                + (F.col("n_doc") - F.coalesce(F.col("n_seen"), F.lit(0)))
                * F.col("unseen_logp").cast("decimal(20,6)")
                + F.col("prior_logp").cast("decimal(20,6)")
            ).alias("nb_score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("nb_score").desc(), F.col("lang").asc())
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(id_col, F.col("lang").alias("pred_lang"), F.col("nb_score").cast("double").alias("nb_score"))
    )


def load_model(spark, path: str) -> dict:
    """Load a trained artifact written by jobs/run_train.py --mode nb-lid
    (grams/langs parquet + the two scalars in meta)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return {
        "grams": spark.read.parquet(f"{path}/grams"),
        "langs": spark.read.parquet(f"{path}/langs"),
        "v": int(meta.v),
        "n_total": int(meta.n_total),
    }


# ------------------------------------------------------------ DuckDB twins
def nb_lid_ctes_sql(train_rel: str, text_col: str = "text", lang_col: str = "lang", n: int = 3, k: int = 1) -> str:
    """CTE bodies rebuilding the trained model: nbgrams / nblangs."""
    return (
        f"nbev as (select {lang_col} as lang, substr({text_col}, i, {n}) as gram "
        f"from {train_rel}, lateral unnest(range(1, len({text_col}) - {n - 1} + 1)) as u(i) "
        f"where {text_col} is not null and {lang_col} is not null and len({text_col}) >= {n}), "
        "nbcnt as (select lang, gram, cast(count(*) as bigint) as c from nbev group by 1, 2), "
        "nbvocab as (select cast(count(distinct gram) as bigint) as v from nbcnt), "
        "nbtot as (select lang, cast(sum(c) as bigint) as n_events from nbcnt group by 1), "
        f"nbdocs as (select {lang_col} as lang, cast(count(*) as bigint) as n_docs "
        f"from {train_rel} where {text_col} is not null and {lang_col} is not null group by 1), "
        f"nbtotal as (select cast(count(*) as bigint) as n_total from {train_rel} "
        f"where {text_col} is not null and {lang_col} is not null), "
        f"nblangs as (select t.lang, t.n_events, "
        f"round(log10(cast({k} as double) / (t.n_events + {k} * v.v)), 6) as unseen_logp, "
        "round(log10(cast(d.n_docs as double) / nt.n_total), 6) as prior_logp "
        "from nbtot t, nbvocab v, nbdocs d, nbtotal nt where t.lang = d.lang), "
        f"nbgrams as (select c.lang, c.gram, c.c, "
        f"round(log10(cast(c.c + {k} as double) / (t.n_events + {k} * v.v)), 6) as logp "
        "from nbcnt c join nbtot t using (lang), nbvocab v)"
    )


def nb_lid_predict_sql(score_rel: str, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> str:
    """CTE bodies predicting over `score_rel` (append after
    nb_lid_ctes_sql); final relation nbpred(id_col, pred_lang, nb_score)."""
    return (
        f"scnd as (select {id_col}, cast(coalesce(ev.n_doc, 0) as bigint) as n_doc "
        f"from {score_rel} s left join ("
        f"select {id_col} as _i, count(*) as n_doc from ("
        f"select {id_col}, substr({text_col}, i, {n}) as gram "
        f"from {score_rel}, lateral unnest(range(1, len({text_col}) - {n - 1} + 1)) as u(i) "
        f"where {text_col} is not null and len({text_col}) >= {n}) group by 1"
        f") ev on s.{id_col} = ev._i where s.{text_col} is not null), "
        f"sccand as (select {id_col}, n_doc, l.lang from scnd, (select lang from nblangs) l), "
        f"scseen as (select e.{id_col}, g.lang, "
        "cast(sum(cast(g.logp as decimal(20,6))) as decimal(38,6)) as seen_sum, "
        "cast(count(*) as bigint) as n_seen from ("
        f"select {id_col}, substr({text_col}, i, {n}) as gram "
        f"from {score_rel}, lateral unnest(range(1, len({text_col}) - {n - 1} + 1)) as u(i) "
        f"where {text_col} is not null and len({text_col}) >= {n}) e "
        f"join nbgrams g using (gram) group by 1, 2), "
        f"scsc as (select c.{id_col}, c.lang, "
        "coalesce(s.seen_sum, cast(0 as decimal(20,6))) "
        "+ (c.n_doc - coalesce(s.n_seen, 0)) * cast(l.unseen_logp as decimal(20,6)) "
        "+ cast(l.prior_logp as decimal(20,6)) as nb_score "
        f"from sccand c left join scseen s on c.{id_col} = s.{id_col} and c.lang = s.lang "
        "join nblangs l on c.lang = l.lang), "
        f"nbpred as (select {id_col}, lang as pred_lang, cast(nb_score as double) as nb_score from ("
        f"select {id_col}, lang, nb_score, "
        f"row_number() over (partition by {id_col} order by nb_score desc, lang asc) as rn "
        "from scsc) where rn = 1)"
    )
