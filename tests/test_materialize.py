"""The materialization seam: `session.materialize` is the one place a
frame is pinned with localCheckpoint, and `session.query_scope` frees
what a query materialized when the query ends."""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SF_DIR = "/root/testdata/sf0.001"


def _cached_ids(spark):
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in info if i.numCachedPartitions() > 0}


def _rdd_id(df):
    return df._jdf.queryExecution().analyzed().rdd().id()


# ------------------------------------------------------------ query scopes


@pytest.mark.parametrize(
    "leaf", ["corpus_build_trim", "phash_clusters", "bpe_vocab", "pairs_pipeline_curated", "dsir_select"]
)
def test_query_scope_frees_what_the_query_materialized(spark, leaf):
    """Every block a query materialized leaves executor storage when its
    scope ends. Compares the checkpoints' own rdd ids, not totals: the
    ContextCleaner may concurrently drop older entries."""
    import __spark_entry__ as em
    from ccnet_spark_spark.session import query_scope

    with query_scope() as frames:
        rows = em.queries()[leaf](spark, SF_DIR).collect()
        ids = {_rdd_id(f) for f in frames}
        assert ids & _cached_ids(spark)  # the scope has blocks to free
    assert rows
    assert not ids & _cached_ids(spark)


def test_query_scope_frees_on_exception(spark):
    from ccnet_spark_spark.session import materialize, query_scope

    with pytest.raises(RuntimeError, match="query failed"):
        with query_scope():
            rid = _rdd_id(materialize(spark.range(1000)))
            assert rid in _cached_ids(spark)
            raise RuntimeError("query failed")
    assert rid not in _cached_ids(spark)


def test_nested_scope_frees_only_its_own_frames(spark):
    from ccnet_spark_spark.session import materialize, query_scope

    with query_scope() as outer:
        a = _rdd_id(materialize(spark.range(1000)))
        with query_scope() as inner:
            b = _rdd_id(materialize(spark.range(2000)))
        assert [_rdd_id(f) for f in outer] == [a] and [_rdd_id(f) for f in inner] == [b]
        cached = _cached_ids(spark)
        assert a in cached and b not in cached
    assert a not in _cached_ids(spark)


def test_materialize_outside_a_scope_records_nothing(spark):
    from ccnet_spark_spark import session

    df = session.materialize(spark.range(1000))
    assert session._scopes == []
    with session.query_scope() as frames:
        pass
    assert frames == [] and _rdd_id(df) in _cached_ids(spark)
    session.release_local_checkpoint(df)


def test_local_checkpoint_only_inside_materialize():
    """`.localCheckpoint(` appears in the package and the entry module
    only inside session.materialize."""
    session_py = REPO / "ccnet_spark_spark" / "session.py"
    (fn,) = [
        n for n in ast.parse(session_py.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "materialize"
    ]
    hits = [
        (path, i)
        for path in sorted((REPO / "ccnet_spark_spark").rglob("*.py")) + [REPO / "__spark_entry__.py"]
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if re.search(r"\.localCheckpoint\(", line)
    ]
    assert len(hits) == 1 and hits[0][0] == session_py, [f"{os.path.relpath(p, REPO)}:{i}" for p, i in hits]
    assert fn.lineno <= hits[0][1] <= fn.end_lineno


# ------------------------------------------------- localCheckpoint release


def test_release_local_checkpoint_frees_blocks(spark):
    """Dataset.unpersist() does NOT free localCheckpoint blocks (verified:
    they stay in getRDDStorageInfo); release_local_checkpoint must.
    Tracks the checkpoint's OWN rdd id — total storage-entry counts are
    flaky (the ContextCleaner may concurrently drop older entries)."""
    from ccnet_spark_spark.session import release_local_checkpoint

    def cached_ids():
        info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return {i.id() for i in info if i.numCachedPartitions() > 0}

    a = spark.range(10000).selectExpr("id", "id * 2 as x").localCheckpoint()
    rid = a._jdf.queryExecution().analyzed().rdd().id()
    assert rid in cached_ids()
    release_local_checkpoint(a)
    assert rid not in cached_ids()
    # best-effort: a non-checkpointed frame is a silent no-op
    release_local_checkpoint(spark.range(5))


def test_bpe_trainer_releases_round_checkpoints(spark):
    """After training, executor storage must NOT hold one vocab copy per
    merge round — only the final checkpoint survives."""
    from ccnet_spark_spark.operators import bpe

    def n_cached():
        info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return len([i for i in info if i.numCachedPartitions() > 0])

    base = n_cached()
    docs = spark.createDataFrame(
        [(1, "ab ab ab abc abc zz xyzw xyzw qrst")], ["doc_id", "text"]
    )
    merges, vocab = bpe.train_bpe(spark, docs, "text", num_merges=6, batch_size=1)
    assert merges.count() >= 4  # several rounds actually ran
    assert n_cached() <= base + 1  # only the final vocab checkpoint remains
