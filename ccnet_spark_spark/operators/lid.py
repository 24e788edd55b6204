"""Language identification (reference M1, /root/reference/pipe_lid.py:16-40)
as an Arrow-vectorized pandas UDF returning struct<lang, score>, plus the
skew-handling salted repartition (reference M5/R2 — the reference *wrote* a
salted partitioner at pipe_lid.py:43-48 but never wired it; north_rule
requires it)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..models import predict_lang

LID_RESULT_TYPE = T.StructType(
    [
        T.StructField("lang", T.StringType(), True),
        T.StructField("score", T.FloatType(), True),
    ]
)


def make_lid_udf(model_path: str | None = None):
    @F.pandas_udf(LID_RESULT_TYPE)
    def lid_udf(texts: pd.Series) -> pd.DataFrame:
        out = predict_lang(texts, model_path=model_path)
        out["score"] = out["score"].astype("float32")
        return out

    return lid_udf


def with_lang(df: DataFrame, text_col: str = "caption", model_path: str | None = None) -> DataFrame:
    lid = make_lid_udf(model_path)
    return (
        df.withColumn("_lid", lid(F.col(text_col)))
        .withColumn("lang", F.col("_lid.lang"))
        .withColumn("score", F.col("_lid.score"))
        .drop("_lid")
    )


def lang_filter(df: DataFrame, selected_langs: list[str] | None) -> DataFrame:
    """Reference P4 (/root/reference/pipe_line.py:286-288)."""
    if not selected_langs:
        return df
    return df.filter(F.col("lang").isin(selected_langs))


def salted_repartition(df: DataFrame, num_partitions: int, key_col: str = "lang", salt_buckets: int | None = None, id_col: str | None = None) -> DataFrame:
    """Skew fix for language-imbalanced data (en dominates): repartition by
    (key, salt) so one hot language spreads over salt_buckets partitions
    instead of one. Replaces the reference's blunt repartition(n) at
    /root/reference/pipe_line.py:289-290. The salt is only a partitioning
    column; it is dropped immediately (downstream per-row model UDFs don't
    care about co-location, so salting is semantics-free).

    The salt is DETERMINISTIC — pmod(xxhash64(id_col or all columns),
    buckets) — never rand(): repartitioning on a nondeterministic expression
    can duplicate or lose rows when a shuffle map task is recomputed after a
    fetch failure (partial stage retry would re-roll the salt), exactly the
    failure mode the 100 TB scale path must survive.

    salt_buckets defaults to 16 x num_partitions: with only ~2 x partitions
    salt values, balls-in-bins variance leaves the hottest partition 2x the
    mean (measured: SCALE.md "Skew handling: MEASURED (round 3)", one
    hot key at local[16] — 32 salts 7.2 s vs 256 salts 4.5 s vs 3.5 s
    skew-free bound; the by-lang unsalted shape is 44.8 s, 7-10x worse)."""
    if salt_buckets is None:
        salt_buckets = max(32, 16 * num_partitions)
    salt_src = [F.col(id_col)] if id_col else [F.col(c) for c in df.columns]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*salt_src), F.lit(salt_buckets)).cast("int")
    )
    return salted.repartition(num_partitions, F.col(key_col), F.col("_salt")).drop("_salt")
