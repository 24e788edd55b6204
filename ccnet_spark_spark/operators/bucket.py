"""Perplexity head/middle/tail bucketing (reference P6,
/root/reference/pipe_line.py:302-336).

The reference folds a driver-side {lang: (head, tail)} dict into a literal
145-branch WHEN chain. We instead **broadcast-join a tiny cutoff table**
(north_rule mandate) — cleaner plan, cutoffs updatable without re-compiling
the query, and identical semantics: pp < head -> head, pp < tail -> middle,
else tail; null/negative pp or unknown lang -> "all" (reference default arm
at pipe_line.py:322-323). The cutoff table is still broadcast, now as a
local relation (session.local_frame): its rows sit in the plan, so the
broadcast runs no job and starts no Python worker.
"""

from __future__ import annotations

import csv

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CUTOFFS_SCHEMA
from ..session import local_frame

# Stub-language cutoffs calibrated on the synthetic corpus (fixtures/cutoffs.csv
# mirrors the reference's cutoff.csv percentile semantics: head = 30th
# percentile of the per-lang pp distribution, tail = 60th —
# /root/reference/pipe_line.py:86-87,123-130).
import os as _os

DEFAULT_CUTOFFS_CSV = _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))), "fixtures", "cutoffs.csv")


def load_cutoffs_dict(csv_path: str | None = None) -> dict[str, tuple[float, float]]:
    out: dict[str, tuple[float, float]] = {}
    with open(csv_path or DEFAULT_CUTOFFS_CSV, newline="") as f:
        for rec in csv.DictReader(f):
            out[rec["lang"]] = (float(rec["pp_head"]), float(rec["pp_tail"]))
    return out


def cutoffs_from_percentile_matrix(csv_path: str, percentile_head: int = 30, percentile_tail: int = 60) -> dict[str, tuple[float, float]]:
    """Load a cc_net-style cutoff matrix: 101 rows (perplexity percentiles
    0..100) x one column per language, header = language codes. head/tail =
    the chosen percentile rows (reference /root/reference/pipe_line.py:86-87,
    123-130, defaults 30/60). Returns {lang: (pp_head, pp_tail)} ready for
    load_cutoffs(cutoffs=...)."""
    import pandas as pd

    m = pd.read_csv(csv_path, index_col=0)
    out: dict[str, tuple[float, float]] = {}
    for lang in m.columns:
        out[str(lang)] = (float(m[lang].iloc[percentile_head]), float(m[lang].iloc[percentile_tail]))
    return out


def load_cutoffs(spark: SparkSession, cutoffs: dict[str, tuple[float, float]] | None = None) -> DataFrame:
    """{lang: (pp_head, pp_tail)} as a local cutoff table; None reads
    fixtures/cutoffs.csv."""
    if cutoffs is None:
        cutoffs = load_cutoffs_dict()
    rows = [(lang, float(h), float(t)) for lang, (h, t) in sorted(cutoffs.items())]
    return local_frame(spark, rows, CUTOFFS_SCHEMA)


def with_bucket(df: DataFrame, cutoffs_df: DataFrame, pp_col: str = "perplexity") -> DataFrame:
    # pp is float32 storage (reference FloatType) but already rounded to 1dp;
    # compare on the double-rounded value so a cutoff equal to a data value
    # (e.g. 311.9) doesn't flip buckets via float32 representation error.
    pp = F.round(F.col(pp_col).cast("double"), 1)
    joined = df.join(F.broadcast(cutoffs_df), on="lang", how="left")
    bucket = (
        F.when(pp.isNull() | (pp < 0) | F.col("pp_head").isNull(), F.lit("all"))
        .when(pp < F.col("pp_head"), F.lit("head"))
        .when(pp < F.col("pp_tail"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return joined.withColumn("bucket", bucket).drop("pp_head", "pp_tail")


def train_cutoff_matrix(
    df: DataFrame,
    pp_col: str = "perplexity",
    lang_col: str = "lang",
    n_points: int = 101,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """The OFFLINE step the reference consumes but never shows: compute the
    cc_net-style percentile cutoff matrix (reference cutoff.csv — 101
    perplexity percentiles per language, /root/reference/pipe_line.py:86-87,
    123-130) FROM the corpus itself. One exact-percentile aggregation per
    language (Spark `percentile` — linear interpolation, single shuffle on
    the language key, array result) exploded to (lang, pct, cutoff) rows, the
    exact shape cutoffs_from_percentile_matrix() loads back.

    Scale note: exact percentile holds per-group values in memory; per
    language that is |docs-per-lang| doubles — at 10^12 rows pass
    exact=False for percentile_approx (bounded-memory mergeable sketch,
    map-side combinable, rank error <= 1/accuracy) with the same output
    shape. The contract keeps the exact form so the DuckDB twin
    (quantile_cont) can verify the math bit-for-bit; the approx path is
    value-tested against the exact one in pytest."""
    pcts = [i / (n_points - 1) for i in range(n_points)]
    pct_array = f"array({', '.join(repr(p) for p in pcts)})"
    if exact:
        arr = F.expr(f"percentile({pp_col}, {pct_array})")
    else:
        arr = F.expr(f"percentile_approx({pp_col}, {pct_array}, {accuracy})")
    per_lang = (
        df.where(F.col(pp_col).isNotNull() & (F.col(pp_col) >= 0))
        .groupBy(lang_col)
        .agg(arr.alias("_qs"))
    )
    return per_lang.select(
        lang_col, F.posexplode("_qs").alias("pct", "_cutoff")
    ).select(lang_col, F.col("pct").cast("int").alias("pct"), F.round("_cutoff", 4).alias("cutoff"))


def train_cutoff_matrix_sql(
    rel: str, pp_expr: str, lang_col: str = "lang", n_points: int = 101
) -> str:
    """DuckDB twin of train_cutoff_matrix: quantile_cont list + lockstep
    generate_subscripts/unnest (both engines use the standard linear
    interpolation at rank p*(n-1))."""
    pcts = ", ".join(repr(i / (n_points - 1)) for i in range(n_points))
    return (
        f"with src as (select {lang_col}, {pp_expr} as pp from {rel}), "
        f"q as (select {lang_col}, quantile_cont(pp, [{pcts}]) as qs from src "
        f"where pp is not null and pp >= 0 group by {lang_col}) "
        f"select {lang_col}, cast(generate_subscripts(qs, 1) - 1 as int) as pct, "
        f"round(unnest(qs), 4) as cutoff from q"
    )


def bucket_case_sql(pp_expr: str, lang_expr: str, cutoffs: dict[str, tuple[float, float]]) -> str:
    """DuckDB oracle twin as an explicit CASE chain (the reference's own
    formulation), for the oracle_sql entries."""
    arms = []
    for lang, (head, tail) in sorted(cutoffs.items()):
        arms.append(f"when {lang_expr} = '{lang}' and {pp_expr} < {head} then 'head'")
        arms.append(f"when {lang_expr} = '{lang}' and {pp_expr} < {tail} then 'middle'")
        arms.append(f"when {lang_expr} = '{lang}' then 'tail'")
    return (
        "case when " + pp_expr + " is null or " + pp_expr + " < 0 then 'all' "
        + " ".join(arms)
        + " else 'all' end"
    )
