"""KenLM-style document perplexity (reference M3,
/root/reference/pipe_perplexity.py:21-36): per line, score = Σ log10
p(piece), length = len(split)+1; doc pp = round(10^(-Σscore/Σlength), 1).

Fused with tokenization in one vectorized pandas UDF over
models.perplexity: real KenLM binary models (mmap-loaded once per worker,
the reference's load_method=2 lesson at pipe_perplexity.py:8-18) when
available, deterministic stub otherwise. The stub's piece logscore is
length-only arithmetic, so the exact same math is reproducible in DuckDB —
the oracle gate checks the full formula end-to-end.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import models

TOK_PP_TYPE = T.StructType(
    [
        T.StructField("tokenized", T.StringType(), True),
        T.StructField("perplexity", T.FloatType(), True),
    ]
)


def make_tok_pp_udf(lm_dir: str | None = None):
    """Fused tokenize+perplexity: ONE Arrow crossing instead of two.

    The reference runs SP and LM as separate UDF stages
    (/root/reference/pipe_line.py:291-300) — every row pays the JVM->Python
    boundary twice. Since the tokenized string is an intermediate (the
    reference itself drops it in its DROP step, pipe_line.py:342-343),
    fusing halves the Python-boundary traffic at 10^12 scale. The body is
    models.tokenize then models.perplexity, so fused and separate stages
    cannot disagree."""

    @F.pandas_udf(TOK_PP_TYPE)
    def tok_pp_udf(texts: pd.Series, langs: pd.Series) -> pd.DataFrame:
        tok = models.tokenize(texts, langs, lm_dir)
        pp = models.perplexity(tok, langs, lm_dir)
        return pd.DataFrame({"tokenized": tok, "perplexity": pp.astype("float32")})

    return tok_pp_udf


def with_tokenized_and_perplexity(df: DataFrame, text_col: str = "dedup_caption", lm_dir: str | None = None) -> DataFrame:
    fused = make_tok_pp_udf(lm_dir)
    return (
        df.withColumn("_tp", fused(F.col(text_col), F.col("lang")))
        .withColumn("tokenized", F.col("_tp.tokenized"))
        .withColumn("perplexity", F.col("_tp.perplexity"))
        .drop("_tp")
    )
