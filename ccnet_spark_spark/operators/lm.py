"""On-corpus n-gram language model: train + perplexity scoring.

The reference scores perplexity with PRE-TRAINED KenLM binaries
(/root/reference/pipe_perplexity.py:21-36) — cc_net's companion step
(never shipped in the reference repo) trains those models on a
Wikipedia-like reference corpus per language. This module closes that
loop INSIDE the engine: train an add-k-smoothed word-bigram LM per
language from a reference slice of the corpus as a pure DataFrame
aggregation, then score any text column with equi-joins. No UDF
anywhere — both halves are whole-stage-codegen expressions, and the
identical math is expressible in DuckDB SQL for the oracle gate.

Cross-engine float discipline: per-bigram log10 probabilities are
rounded to 6dp at train time (a 1-ulp libm divergence cannot flip a 6dp
rounding except on measure-zero boundaries), and the scorer sums them as
DECIMAL(20,6) — exact integer-scaled arithmetic, associative, immune to
partition-order float drift — before the single closing pow/round.

Scale: the trained model is observed-bigrams-sized (KenLM-style, MBs to
low GBs per language) and the score joins broadcast it. A model too big
to broadcast needs a shuffle equi-join on (lang, w1, w2) instead — the
same partitioning the context join reuses — which this module does not
offer. Training is one explode + one groupBy over the
reference slice (map-side combinable); contexts and vocab sizes are
derived from the bigram-count frame, never from a second corpus pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BOS = "<s>"
EOS = "</s>"


def padded_tokens_expr(text_col: Column) -> Column:
    """[<s>] + whitespace-split words + [</s>] (size >= 3 always — empty
    text splits to [''], matching DuckDB string_split('', ' '))."""
    return F.concat(F.array(F.lit(BOS)), F.split(text_col, " "), F.array(F.lit(EOS)))


def bigram_pairs_expr(pad_col: Column) -> Column:
    """array<struct<w1,w2>> of adjacent pairs over the padded token array.
    size(pad) >= 3, so the 1..size-1 sequence is never descending (the
    Spark sequence(0, negative) trap does not arise here)."""
    idx = F.sequence(F.lit(1), F.size(pad_col) - 1)
    return F.transform(
        idx,
        lambda i: F.struct(
            F.element_at(pad_col, i).alias("w1"), F.element_at(pad_col, i + 1).alias("w2")
        ),
    )


def _bigram_events(df: DataFrame, text_col: str, lang_col: str, extra_cols: list[str]) -> DataFrame:
    """(extra_cols..., lang, w1, w2) — one row per bigram occurrence.
    `_pad` is materialized in its own select so Catalyst does not inline
    the split() subtree into every lambda element access."""
    base = df.where(F.col(text_col).isNotNull() & F.col(lang_col).isNotNull())
    padded = base.select(
        *extra_cols, F.col(lang_col).alias("lang"), padded_tokens_expr(F.col(text_col)).alias("_pad")
    )
    return padded.select(
        *extra_cols, "lang", F.explode(bigram_pairs_expr(F.col("_pad"))).alias("_p")
    ).select(*extra_cols, "lang", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))


def train_bigram_lm(
    df: DataFrame, text_col: str = "text", lang_col: str = "lang", k: int = 1
) -> dict[str, DataFrame]:
    """Train the per-language add-k bigram LM. Returns three frames:

    - ``bigrams``:  (lang, w1, w2, c12, logp) — the model proper;
      logp = round(log10((c12 + k) / (c1 + k*V)), 6)
    - ``contexts``: (lang, w1, c1) — context counts, for unseen-bigram
      backoff at score time (derived FROM the bigram counts: every
      padded token except the trailing </s> is a context exactly once)
    - ``vocab``:    (lang, v) — V = distinct next-word types per language
      (every corpus word appears as a w2 — its predecessor exists because
      of <s> — plus </s>; <s> itself never does), the add-k denominator.

    Integer k keeps (c12 + k) exact in both engines' integer arithmetic
    before the single float division."""
    events = _bigram_events(df, text_col, lang_col, [])
    bigrams = events.groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    contexts = bigrams.groupBy("lang", "w1").agg(F.sum("c12").alias("c1"))
    vocab = bigrams.groupBy("lang").agg(F.countDistinct("w2").alias("v"))
    model = (
        bigrams.join(contexts, ["lang", "w1"])
        .join(vocab, ["lang"])
        .select(
            "lang",
            "w1",
            "w2",
            "c12",
            F.round(
                F.log10((F.col("c12") + F.lit(k)).cast("double") / (F.col("c1") + F.lit(k) * F.col("v"))),
                6,
            ).alias("logp"),
        )
    )
    return {"bigrams": model, "contexts": contexts, "vocab": vocab}


def score_bigram_pp(
    df: DataFrame,
    model: dict[str, DataFrame],
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 1,
) -> DataFrame:
    """Score each row's text with the trained LM: (id_col, lang, n_grams,
    lm_pp) where n_grams = len(words) + 1 (the reference's own length
    convention, pipe_perplexity.py:19-36) and
    lm_pp = round(10 ** (-Σ logp / n_grams), 4).

    Unseen bigram: logp = round(log10(k / (c1 + k*V)), 6) with c1 = 0 for
    an unseen context — the same add-k formula with c12 = 0. A language
    absent from the model yields lm_pp = NULL (no silent cross-language
    scoring). The Σ runs over DECIMAL(20,6) so the result is independent
    of partitioning / engine summation order."""
    events = _bigram_events(df, text_col, lang_col, [id_col])
    unseen = F.round(
        F.log10(F.lit(float(k)) / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(k) * F.col("v"))), 6
    )
    scored = (
        events.join(F.broadcast(model["bigrams"].select("lang", "w1", "w2", "logp")), ["lang", "w1", "w2"], "left")
        .join(F.broadcast(model["contexts"]), ["lang", "w1"], "left")
        .join(F.broadcast(model["vocab"]), ["lang"], "left")
        .withColumn("_lp", F.coalesce(F.col("logp"), unseen).cast("decimal(20,6)"))
    )
    return scored.groupBy(id_col, "lang").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.round(
            F.pow(F.lit(10.0), -(F.sum("_lp").cast("double") / F.count(F.lit(1)))), 4
        ).alias("lm_pp"),
    )


def load_model(spark, path: str) -> dict[str, DataFrame]:
    """Load a trained artifact written by jobs/run_train.py --mode lm
    (three parquet tables under one directory)."""
    return {
        "bigrams": spark.read.parquet(f"{path}/bigrams"),
        "contexts": spark.read.parquet(f"{path}/contexts"),
        "vocab": spark.read.parquet(f"{path}/vocab"),
    }


# ------------------------------------------------------------ DuckDB twins
def lm_ctes_sql(train_rel: str, text_col: str = "text", lang_col: str = "lang", k: int = 1) -> str:
    """CTE bodies (no WITH keyword) rebuilding the trained model in DuckDB:
    lmbi/lmctx/lmvocab/lmmodel. 1-based list indexing; range(1, len) is
    end-exclusive, giving pair starts 1..len-1 exactly like the Spark
    sequence."""
    return (
        f"lmtok as (select {lang_col} as lang, "
        f"['{BOS}'] || string_split({text_col}, ' ') || ['{EOS}'] as seq "
        f"from {train_rel} where {text_col} is not null and {lang_col} is not null), "
        "lmev as (select lang, seq[i] as w1, seq[i + 1] as w2 "
        "from lmtok, lateral unnest(range(1, len(seq))) as u(i)), "
        "lmbi as (select lang, w1, w2, cast(count(*) as bigint) as c12 from lmev group by 1, 2, 3), "
        "lmctx as (select lang, w1, cast(sum(c12) as bigint) as c1 from lmbi group by 1, 2), "
        "lmvocab as (select lang, cast(count(distinct w2) as bigint) as v from lmbi group by 1), "
        f"lmmodel as (select b.lang, b.w1, b.w2, b.c12, "
        f"round(log10(cast(b.c12 + {k} as double) / (c.c1 + {k} * v.v)), 6) as logp "
        "from lmbi b join lmctx c using (lang, w1) join lmvocab v using (lang))"
    )


def lm_score_sql(score_rel: str, text_col: str = "text", lang_col: str = "lang", id_col: str = "doc_id", k: int = 1) -> str:
    """CTE bodies scoring `score_rel` against lmmodel/lmctx/lmvocab (append
    after lm_ctes_sql); final relation is lmscore(id_col, lang, n_grams,
    lm_pp) with the identical decimal-sum arithmetic."""
    return (
        f"sctok as (select {id_col}, {lang_col} as lang, "
        f"['{BOS}'] || string_split({text_col}, ' ') || ['{EOS}'] as seq "
        f"from {score_rel} where {text_col} is not null and {lang_col} is not null), "
        f"scev as (select {id_col}, lang, seq[i] as w1, seq[i + 1] as w2 "
        "from sctok, lateral unnest(range(1, len(seq))) as u(i)), "
        f"scj as (select e.{id_col}, e.lang, "
        f"cast(coalesce(m.logp, round(log10(cast({k} as double) / (coalesce(c.c1, 0) + {k} * v.v)), 6)) "
        "as decimal(20,6)) as lp "
        "from scev e "
        "left join lmmodel m on e.lang = m.lang and e.w1 = m.w1 and e.w2 = m.w2 "
        "left join lmctx c on e.lang = c.lang and e.w1 = c.w1 "
        "left join lmvocab v on e.lang = v.lang), "
        f"lmscore as (select {id_col}, lang, cast(count(*) as bigint) as n_grams, "
        f"round(pow(10, -(cast(sum(lp) as double) / count(*))), 4) as lm_pp "
        f"from scj group by {id_col}, lang)"
    )
