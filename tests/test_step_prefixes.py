"""Step-prefix runs, mirroring the reference's incremental getPIP testing
(/root/reference/test_module/test_pipeline.py:9-78): every prefix of the
step list must run and keep row count + schema stability."""

import ast
import dataclasses
import subprocess
from pathlib import Path

import pytest

from ccnet_spark_spark.operators.bucket import load_cutoffs_dict
from ccnet_spark_spark.plans.pipeline import ALL_STEPS, Config, Pipeline
from ccnet_spark_spark.synth import generate_pairs

REPO = Path(__file__).resolve().parent.parent

PREFIXES = [ALL_STEPS[:i] for i in range(2, len(ALL_STEPS) + 1)]


@pytest.mark.parametrize("steps", PREFIXES, ids=lambda s: "+".join(s[-1:]))
def test_step_prefix_runs(spark, steps):
    cfg = Config(cutoffs=load_cutoffs_dict(), steps=list(steps))
    out = Pipeline(spark, cfg).run(generate_pairs(spark, 120))
    assert out.count() == 120
    assert "image_id" in out.columns and "caption" in out.columns
    if "pp_bucket" in steps:
        assert "bucket" in out.columns
    if "scrub" in steps:
        assert "scrubbed_caption" in out.columns
    if "verdict" in steps:
        assert "keep" in out.columns
    # the reference DROP step removes the intermediate token column
    assert ("tokenized" in out.columns) == ("sp" in steps and "drop" not in steps)


def test_every_config_field_has_a_caller():
    """A Config switch that no job, query, tool or test sets guards a
    branch that only ever runs at its default: delete it instead."""
    try:
        ls = subprocess.run(["git", "ls-files", "*.py"], cwd=REPO, capture_output=True, text=True, check=True)
        sources = [REPO / n for n in ls.stdout.split()]
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        sources = [p for p in REPO.rglob("*.py") if ".git" not in p.parts]
    passed = set()
    for path in sources:
        if path == REPO / "ccnet_spark_spark" / "plans" / "pipeline.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            fn = getattr(node, "func", None)
            if (fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)) == "Config":
                passed |= {kw.arg for kw in node.keywords if kw.arg}
    unset = [f.name for f in dataclasses.fields(Config) if f.name not in passed]
    assert not unset, f"Config fields no caller passes: {unset}"


def test_fuzz_normalize_scrub_cross_engine(spark):
    """Seeded fuzz: random unicode-ish strings through the Spark expression,
    the Python twin, and DuckDB — all three must agree byte-for-byte."""
    import duckdb
    import numpy as np
    import pyspark.sql.functions as F

    from ccnet_spark_spark.functions.normalize import (
        normalize_for_dedup_expr,
        normalize_for_dedup_py,
        normalize_for_dedup_sql,
    )
    from ccnet_spark_spark.functions.scrub import scrub_expr, scrub_py, scrub_sql

    rng = np.random.default_rng(99)
    full_alphabet = list(
        "abcXYZ 019.,!?@#-_()[]{}<>/\\'\"~`|$%^&*+=;: \t"
        "éàüß中文。，！ñç ’“…—"
    ) + ["555-123-4567", "a@b.co", "1.2.3.4", "frakk"]
    # DuckDB scrub uses ASCII-only cases: RE2's \b is ASCII while Java's and
    # Python's are Unicode (see scrub.py) - the SQL twin's contract is
    # exact-on-ASCII, which covers the driver's tables.
    ascii_alphabet = [a for a in full_alphabet if a.isascii()]
    cases = [
        "".join(rng.choice(full_alphabet, size=int(rng.integers(0, 40)))) for _ in range(400)
    ]
    ascii_cases = [
        "".join(rng.choice(ascii_alphabet, size=int(rng.integers(0, 40)))) for _ in range(400)
    ]
    df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)], ["i", "t"])
    got = {
        r["i"]: (r["n"], r["s"])
        for r in df.select(
            "i",
            normalize_for_dedup_expr(F.col("t")).alias("n"),
            scrub_expr(F.col("t")).alias("s"),
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i][0] == normalize_for_dedup_py(c), repr(c)
        assert got[i][1] == scrub_py(c), repr(c)
    # DuckDB side: single batched query
    con = duckdb.connect()
    con.execute("create table cases as select * from (values " + ",".join(f"({i}, ?)" for i in range(len(ascii_cases))) + ") t(i, t)", ascii_cases)
    rows = con.execute(
        f"select i, {normalize_for_dedup_sql('t')} as n, {scrub_sql('t')} as s from cases"
    ).fetchall()
    for i, dn, ds in rows:
        assert dn == normalize_for_dedup_py(ascii_cases[i]), repr(ascii_cases[i])
        assert ds == scrub_py(ascii_cases[i]), repr(ascii_cases[i])
