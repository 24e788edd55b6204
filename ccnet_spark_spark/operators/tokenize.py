"""SentencePiece tokenization (reference M2, pipe_tokenized.py:24-33) as a
vectorized pandas UDF over models.tokenize: real SentencePiece or the
deterministic stub, unknown/null lang -> null, matching the reference."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import models


def make_tokenize_udf(lm_dir: str | None = None):
    @F.pandas_udf(T.StringType())
    def tokenize_udf(texts: pd.Series, langs: pd.Series) -> pd.Series:
        return models.tokenize(texts, langs, lm_dir)

    return tokenize_udf


def with_tokenized(df: DataFrame, text_col: str = "dedup_caption", lm_dir: str | None = None) -> DataFrame:
    tok = make_tokenize_udf(lm_dir)
    return df.withColumn("tokenized", tok(F.col(text_col), F.col("lang")))
