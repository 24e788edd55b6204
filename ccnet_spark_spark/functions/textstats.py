"""Text-analysis scalar functions (training-data-pipeline additions):
token counting, quality scoring, heuristic language ID, all as pure
built-in Column expressions (JVM-side, codegen'd — UDF-free).

Each has a DuckDB SQL twin for the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish word splitter: words, numbers, or single non-space symbols —
# a public-regex approximation of GPT-2's tokenizer pre-split.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count_expr(col: Column | str) -> Column:
    """Whitespace token count (size of split on runs of whitespace)."""
    c = _c(col)
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(F.size(F.split(F.trim(c), "\\s+")))


def token_count_sql(expr: str) -> str:
    return f"case when length(trim({expr})) = 0 then 0 else len(regexp_split_to_array(trim({expr}), '\\s+')) end"


def word_tokens_expr(col: Column | str) -> Column:
    """Lowercase word tokens: the text trimmed and split on whitespace runs
    (the token rule of the Gopher rules, passage dedup, decontamination,
    the BPE vocabulary and repetition_ratio). Empty text gives ['']."""
    return F.split(F.lower(F.trim(_c(col))), "\\s+")


def word_tokens_sql(expr: str) -> str:
    return f"regexp_split_to_array(lower(trim({expr})), '\\s+')"


def bpe_token_count_expr(col: Column | str) -> Column:
    """Count of BPE-ish regex tokens (letters / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(TOKEN_PATTERN), 0))


def bpe_token_count_sql(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{TOKEN_PATTERN}'))"


def digit_ratio_expr(col: Column | str) -> Column:
    c = _c(col)
    return (F.length(c) - F.length(F.regexp_replace(c, "[0-9]", ""))) / F.greatest(F.length(c), F.lit(1))


def digit_ratio_sql(expr: str) -> str:
    return f"(length({expr}) - length(regexp_replace({expr}, '[0-9]', '', 'g'))) / greatest(length({expr}), 1)"


_PUNCT_CLASS = "[!\"#$%&'()*+,\\-./:;<=>?@\\[\\\\\\]^_`{|}~]"


def punct_ratio_expr(col: Column | str) -> Column:
    c = _c(col)
    return (F.length(c) - F.length(F.regexp_replace(c, _PUNCT_CLASS, ""))) / F.greatest(F.length(c), F.lit(1))


def punct_ratio_sql(expr: str) -> str:
    p = _PUNCT_CLASS.replace("'", "''")
    return f"(length({expr}) - length(regexp_replace({expr}, '{p}', '', 'g'))) / greatest(length({expr}), 1)"


def repetition_ratio_expr(col: Column | str, n: int = 1) -> Column:
    """Within-document repetition: 1 - distinct/total over word n-grams
    (n=1: words). cc_net-style quality signal — boilerplate-heavy docs score
    high. Pure built-ins; 0.0 for docs with no n-grams."""
    from .hashing import word_shingles_expr

    toks = word_tokens_expr(col)
    units = toks if n == 1 else word_shingles_expr(toks, n)
    total = F.size(units)
    ratio = F.when(total > 0, 1 - F.size(F.array_distinct(units)) / total).otherwise(F.lit(0.0))
    return F.round(ratio, 4)


def repetition_ratio_sql(expr: str, n: int = 1) -> str:
    toks = word_tokens_sql(expr)
    if n == 1:
        units = toks
    else:
        gram = " || ' ' || ".join(f"list_extract({toks}, i + {j + 1})" for j in range(n))
        units = f"list_transform(range(0, greatest(len({toks}) - {n - 1}, 0)), i -> {gram})"
    return (
        f"round(case when len({units}) > 0 then "
        f"1 - len(list_distinct({units})) / cast(len({units}) as double) "
        f"else 0.0 end, 4)"
    )


def quality_score_expr(col: Column | str) -> Column:
    """Composite quality in [0,1]: length saturation x (1 - digit ratio)
    x (1 - punct ratio). Deterministic, SQL-twin below."""
    c = _c(col)
    len_sat = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    return F.round(len_sat * (1 - digit_ratio_expr(c)) * (1 - punct_ratio_expr(c)), 4)


def quality_score_sql(expr: str) -> str:
    return (
        f"round(least(length({expr}) / 500.0, 1.0) * (1 - {digit_ratio_sql(expr)})"
        f" * (1 - {punct_ratio_sql(expr)}), 4)"
    )
