"""Seeded benchmark inputs and their output oracles.

Inputs are made from the benchmark seed and cached under the work dir,
keyed by (seed, size); generating them and computing the oracles is never
timed. Each input records its row count and a content digest, so results
from two commits can show they read the same rows. Oracles are cached
beside their input, keyed also by a digest of the code that computes them,
so a commit that changes that code never reads an older commit's answer.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from harness import NPROC, ROOT, WORK, program_digest

KEEP_INPUTS = 12  # cached input sets kept in the work dir, most recent first
# besides the program itself, what the oracles' answers depend on
ORACLE_SOURCES = ["tests/oracle_pandas.py", "fixtures/cutoffs.csv"]


def _input_dir(kind: str, seed: int, n: int) -> Path:
    """The cache directory of one input; touching it marks it recent, and
    the oldest beyond KEEP_INPUTS are removed."""
    root = WORK / "inputs"
    path = root / f"{kind}_s{seed}_n{n}"
    path.mkdir(parents=True, exist_ok=True)
    path.touch()
    for old in sorted(root.iterdir(), key=lambda p: p.stat().st_mtime, reverse=True)[KEEP_INPUTS:]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def oracle_digest() -> str:
    """The program digest extended by the oracle's own sources."""
    h = hashlib.sha256(program_digest().encode())
    for name in ORACLE_SOURCES:
        h.update((ROOT / name).read_bytes())
    return h.hexdigest()[:16]


# ------------------------------------------------------------------ pairs
CAPTION_COLUMNS = ["image_id", "keep", "drop_reason", "lang", "bucket", "scrubbed_caption"]
NULL_LANG = "__null__"  # the sink's partition value for a NULL language


def pairs_input(spark, seed: int, n: int) -> dict:
    """``synth.write_pairs`` output for (seed, n), written with at least one
    file per core so the scan is not capped below the session's parallelism."""
    from pyspark.sql import functions as F

    from ccnet_spark_spark.synth import write_pairs

    cache = _input_dir("pairs", seed, n)
    path, meta_path = cache / "pairs", cache / "meta.json"
    if not meta_path.exists():
        shutil.rmtree(path, ignore_errors=True)
        write_pairs(spark, str(path), n, seed=seed, partitions=NPROC)
        df = spark.read.parquet(str(path))
        # order-independent: the sum of per-row hashes
        h = F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))
        row = df.agg(F.count(F.lit(1)).alias("rows"), h.alias("h")).first()
        meta_path.write_text(json.dumps({"rows": row["rows"], "digest": f"{int(row['h']) % 2**64:016x}"}))
    return {"path": str(path), **json.loads(meta_path.read_text())}


def caption_oracle(pairs_path: str, cutoffs) -> pd.DataFrame:
    """tests/oracle_pandas.run_oracle over the same pairs: an independent
    single-node re-derivation of the pipeline's dataflow. Cached per input
    and code digest."""
    cache = Path(pairs_path).parent / f"oracle_{oracle_digest()}.parquet"
    if not cache.exists():
        from tests.oracle_pandas import run_oracle

        pairs = pd.read_parquet(pairs_path, columns=["image_id", "caption"])
        out = run_oracle(pairs, cutoffs=cutoffs)[CAPTION_COLUMNS]
        out.to_parquet(cache, index=False)
    return pd.read_parquet(cache)


def curated_oracle(spark, pairs_path: str, config) -> pd.DataFrame:
    """``Pipeline(config)`` over the pairs, collected: the reference for the
    curated cascade. Computed by the program under test, so cached per
    input and code digest."""
    cache = Path(pairs_path).parent / f"curated_oracle_{oracle_digest()}.parquet"
    if not cache.exists():
        from ccnet_spark_spark.plans.pipeline import Pipeline

        out = Pipeline(spark, config).run(spark.read.parquet(pairs_path)).select(*CAPTION_COLUMNS)
        out.toPandas().to_parquet(cache, index=False)
    return pd.read_parquet(cache)


def read_caption_sink(path: str) -> pd.DataFrame:
    df = pd.read_parquet(path, columns=CAPTION_COLUMNS)
    df["lang"] = df["lang"].astype(str).replace(NULL_LANG, None)
    df["bucket"] = df["bucket"].astype(str)
    return df


def caption_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows whose (keep, drop_reason, lang, bucket, scrubbed_caption) differ,
    plus rows present on one side only, plus every repeated image_id."""
    a = got.set_index("image_id").sort_index()
    b = want.set_index("image_id").sort_index()
    repeated = int(a.index.duplicated().sum() + b.index.duplicated().sum())
    a, b = a[~a.index.duplicated()], b[~b.index.duplicated()]
    missing = len(a.index.symmetric_difference(b.index))
    common = a.index.intersection(b.index)
    a, b = a.loc[common], b.loc[common].astype(object)
    a = a.astype(object)
    same = (a == b) | (a.isna() & b.isna())
    return repeated + missing + int((~same.all(axis=1)).sum())


# -------------------------------------------------------------- documents
# The fixture documents table's shape (doc_id, text, lang, source, n_chars):
# texts of 10-100 words drawn uniformly from a 30-word vocabulary, ~5 % of
# them ending in a 'dup' token, a few exact duplicate texts, a skewed
# language mix and 20 round-robin sources.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
DOC_LANGS = ["en", "de", "es", "fr", "zh"]
DOC_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def make_documents(seed: int, n: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 20])
    texts = []
    for _ in range(n):
        words = list(rng.choice(WORDS, size=int(rng.integers(10, 101))))
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    for dst in rng.choice(n, size=max(1, n // 600), replace=False):
        texts[dst] = texts[int(rng.integers(0, n))]
    doc_id = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": rng.choice(DOC_LANGS, size=n, p=DOC_LANG_P),
            "source": [f"src{i % 20}" for i in doc_id],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def documents_input(seed: int, n: int) -> dict:
    """A seeded ``documents.parquet`` in its own sf directory, written as the
    fixtures are: one file, one row group."""
    sf_dir = _input_dir("docs", seed, n)
    path = sf_dir / "documents.parquet"
    if not path.exists():
        tmp = path.with_suffix(".tmp")
        make_documents(seed, n).to_parquet(tmp, index=False, row_group_size=n)
        tmp.replace(path)
    return {"sf_dir": str(sf_dir), "rows": n, "digest": hashlib.sha256(path.read_bytes()).hexdigest()[:16]}


# ------------------------------------------------------------- query twins
def _check_oracle_module():
    spec = importlib.util.spec_from_file_location("check_oracle", ROOT / "tools" / "check_oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """The ``oracle_sql()`` DuckDB twins over one sf directory, compared
    with tools/check_oracle.py's canonicalisation."""

    def __init__(self, sf_dir: str) -> None:
        import duckdb

        import __spark_entry__ as entry

        self._canon = _check_oracle_module().canon
        self._sql = entry.oracle_sql()
        self._con = duckdb.connect()
        self._con.execute(f"SET temp_directory='{WORK / 'tmp' / 'duckdb'}'")
        for table in Path(sf_dir).glob("*.parquet"):
            self._con.execute(f"create view {table.stem} as select * from '{table}'")
        self._want: dict[str, pd.DataFrame] = {}

    def expected(self, name: str) -> pd.DataFrame:
        if name not in self._want:
            self._want[name] = self._con.execute(self._sql[name]).df()
        return self._want[name]

    def mismatch(self, name: str, got: pd.DataFrame) -> str | None:
        """None when equal, else a one-line reason."""
        want = self.expected(name)
        a, b = self._canon(got), self._canon(want)
        if list(a.columns) != list(b.columns):
            return f"columns {list(a.columns)} vs {list(b.columns)}"
        kinds = [c for c in a.columns if {got[c].dtype.kind, want[c].dtype.kind} in ({"i", "f"}, {"u", "f"})]
        if kinds:
            return f"int-vs-float dtype mismatch in {kinds}"
        if len(a) != len(b):
            return f"rowcount {len(a)} vs {len(b)}"
        eq = a.eq(b) | (a.isna() & b.isna())
        bad = int((~eq.all(axis=1)).sum())
        return f"{bad}/{len(a)} rows differ" if bad else None
