"""Keep/drop verdict composition (SURVEY.md §7 step 6).

The reference expresses "drop" by making rows vanish (min_len filter at
load, dedup removing all lines, LID nulls filtered by selected_langs). Our
engine keeps every input row and labels it with (keep boolean, drop_reason)
— auditable, F1-checkable, and required for the lineage sidecar. Reasons are
assigned in pipeline order (first failing rule wins), matching where the
reference would have dropped the row."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DROP_TOO_SHORT = "too_short"
DROP_DUP_LINES = "dup_lines_all"  # every line removed by dedup
DROP_LID_NULL = "lid_null"  # LID below threshold
DROP_LANG_FILTER = "lang_filtered"  # lang not in selected set


def with_verdict(df: DataFrame, selected_langs: list[str] | None = None) -> DataFrame:
    reason = (
        F.when(F.col("too_short"), F.lit(DROP_TOO_SHORT))
        .when(F.col("dedup_caption").isNull() | (F.length("dedup_caption") == 0), F.lit(DROP_DUP_LINES))
        .when(F.col("lang").isNull(), F.lit(DROP_LID_NULL))
    )
    if selected_langs:
        reason = reason.when(~F.col("lang").isin(selected_langs), F.lit(DROP_LANG_FILTER))
    reason = reason.otherwise(F.lit(None).cast("string"))
    return df.withColumn("drop_reason", reason).withColumn("keep", F.col("drop_reason").isNull())
