"""KenLM-style document perplexity (reference M3,
/root/reference/pipe_perplexity.py:21-36): per line, score = Σ log10
p(piece), length = len(split)+1; doc pp = round(10^(-Σscore/Σlength), 1).

Vectorized pandas UDF; real KenLM binary models (mmap-loaded once per
worker, the reference's load_method=2 lesson at pipe_perplexity.py:8-18)
when available, deterministic stub otherwise. The stub's piece logscore is
length-only arithmetic, so the exact same math is reproducible in DuckDB —
the oracle gate checks the full formula end-to-end.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import models


def _real_kenlm(lang: str, lm_dir: str):
    key = ("kenlm", lang, lm_dir)
    if key not in models._MODEL_CACHE:
        try:
            import kenlm  # noqa: F401 (not in sandbox image)

            cfg = kenlm.Config()
            cfg.load_method = 2  # lazy mmap — page-cache friendly
            models._MODEL_CACHE[key] = kenlm.Model(os.path.join(lm_dir, f"{lang}.arpa.bin"), cfg)
        except Exception:
            models._MODEL_CACHE[key] = None
    return models._MODEL_CACHE[key]


def make_perplexity_udf(lm_dir: str | None = None):
    @F.pandas_udf(T.FloatType())
    def pp_udf(tokenized: pd.Series, langs: pd.Series) -> pd.Series:
        if lm_dir and os.path.isdir(lm_dir):
            out = []
            for tok, lang in zip(tokenized, langs):
                model = _real_kenlm(lang, lm_dir) if lang else None
                if tok is None:
                    out.append(None)
                elif model is None:
                    out.append(models.stub_perplexity_one(tok) if lang in models.VOCAB else None)
                else:
                    score, length = 0.0, 0
                    for line in tok.split("\n"):
                        score += model.score(line)
                        length += len(line.split()) + 1
                    out.append(round(10.0 ** (-score / length), 1) if length else 0.0)
            return pd.Series(out, dtype="float64").astype("float32")
        return models.stub_perplexity(tokenized, langs).astype("float32")

    return pp_udf


def with_perplexity(df: DataFrame, tokenized_col: str = "tokenized", lm_dir: str | None = None) -> DataFrame:
    pp = make_perplexity_udf(lm_dir)
    return df.withColumn("perplexity", pp(F.col(tokenized_col), F.col("lang")))


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
    fusing halves the Python-boundary traffic at 10^12 scale."""
    from .tokenize import _real_sp

    @F.pandas_udf(TOK_PP_TYPE)
    def tok_pp_udf(texts: pd.Series, langs: pd.Series) -> pd.DataFrame:
        use_real = lm_dir and os.path.isdir(lm_dir)
        if not use_real:
            # stub path batched: C-level string ops per row for the
            # tokenizer, closed-form numpy for the perplexity. The per-row
            # loop below stays for the real-model path (model.score is
            # per line anyway).
            tok = models.stub_tokenize(texts, langs)
            pp = models.stub_perplexity(tok, langs)
            return pd.DataFrame(
                {"tokenized": tok, "perplexity": pp.astype("float64").astype("float32")}
            )
        toks: list[str | None] = []
        pps: list[float | None] = []
        for text, lang in zip(texts, langs):
            if lang is None or (lang not in models.VOCAB and not use_real):
                toks.append(None)
                pps.append(None)
                continue
            sp = _real_sp(lang, lm_dir) if use_real else None
            tok = " ".join(sp.encode_as_pieces(text)) if sp else models.stub_tokenize_one(text)
            toks.append(tok)
            model = _real_kenlm(lang, lm_dir) if use_real else None
            if model is None:
                pps.append(models.stub_perplexity_one(tok) if lang in models.VOCAB else None)
            else:
                score, length = 0.0, 0
                for line in tok.split("\n"):
                    score += model.score(line)
                    length += len(line.split()) + 1
                pps.append(round(10.0 ** (-score / length), 1) if length else 0.0)
        return pd.DataFrame(
            {"tokenized": pd.Series(toks, dtype="object"), "perplexity": pd.Series(pps, dtype="float64").astype("float32")}
        )

    return tok_pp_udf


def with_tokenized_and_perplexity(df: DataFrame, text_col: str = "dedup_caption", lm_dir: str | None = None) -> DataFrame:
    fused = make_tok_pp_udf(lm_dir)
    return (
        df.withColumn("_tp", fused(F.col(text_col), F.col("lang")))
        .withColumn("tokenized", F.col("_tp.tokenized"))
        .withColumn("perplexity", F.col("_tp.perplexity"))
        .drop("_tp")
    )
