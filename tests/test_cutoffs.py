"""Cutoff-table loaders: simple (lang,head,tail) CSV and the cc_net-style
101-percentile matrix format."""

import json

import numpy as np
import pandas as pd
from pyspark.sql.types import StructType

from ccnet_spark_spark.operators.bucket import (
    bucket_case_sql,
    cutoffs_from_percentile_matrix,
    load_cutoffs,
    load_cutoffs_dict,
)
from ccnet_spark_spark.schema import CUTOFFS_SCHEMA


def test_percentile_matrix_loader(tmp_path):
    # synthetic matrix: rows = percentiles 0..100, cols = langs; values rise
    # monotonically so percentile p of lang L is 1000*L_idx + 10*p
    langs = ["en", "fr", "zh"]
    m = pd.DataFrame(
        {lang: [1000 * i + 10 * p for p in range(101)] for i, lang in enumerate(langs)},
        index=range(101),
    )
    path = tmp_path / "matrix.csv"
    m.to_csv(path)
    got = cutoffs_from_percentile_matrix(str(path), percentile_head=30, percentile_tail=60)
    assert got["en"] == (300.0, 600.0)
    assert got["fr"] == (1300.0, 1600.0)
    assert got["zh"] == (2300.0, 2600.0)


def test_simple_csv_roundtrip(spark):
    d = load_cutoffs_dict()
    df = load_cutoffs(spark, cutoffs=d)
    rows = {r["lang"]: (r["pp_head"], r["pp_tail"]) for r in df.collect()}
    assert rows == {k: (float(a), float(b)) for k, (a, b) in d.items()}


def test_empty_cutoffs_keep_schema(spark):
    # the JVM-side schema, not PySpark's cached copy: non-null fields
    # must stay non-null through the Arrow hand-over
    df = load_cutoffs(spark, cutoffs={})
    assert StructType.fromJson(json.loads(df._jdf.schema().json())) == CUTOFFS_SCHEMA
    assert df.count() == 0


def test_bucket_case_sql_arms():
    sql = bucket_case_sql("pp", "lang", {"en": (10.0, 20.0)})
    assert "then 'head'" in sql and "then 'middle'" in sql and "then 'tail'" in sql
    assert sql.strip().startswith("case when")
    assert "else 'all' end" in sql
