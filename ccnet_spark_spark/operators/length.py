"""Length + heuristic drop rules.

- min_len: reference S4 (pipe_load.py:164-170, default 300
  at pipe_line.py:76); the pipeline labels short rows `too_short` instead
  of filtering them.
- digit/char-ratio heuristics: cc_net-style quality drops (north_rule).
All pure built-in expressions — pushed down / codegen'd by Catalyst.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textstats import digit_ratio_expr

DEFAULT_MIN_LEN = 300
DEFAULT_MAX_DIGIT_RATIO = 0.30


def with_heuristic_flags(df: DataFrame, text_col: str = "caption", min_len: int = DEFAULT_MIN_LEN, max_digit_ratio: float = DEFAULT_MAX_DIGIT_RATIO) -> DataFrame:
    """Label-style variant (our engine keeps auditable labels instead of
    silently dropping rows — SURVEY.md §7 step 6)."""
    c = F.col(text_col)
    return df.withColumn("too_short", F.length(c) < min_len).withColumn(
        "digit_heavy", digit_ratio_expr(c) > max_digit_ratio
    )
