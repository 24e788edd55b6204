"""A Python worker must not re-read an unchanged zip archive at every task.

PySpark's worker calls importlib.invalidate_caches() at the start of each
task; on CPython 3.11 every zipimporter then re-reads its archive's whole
directory (14-16 importers for pyspark.zip alone). The package installs a
hook in workers that re-reads an archive only when its file changed."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport
from collections import defaultdict

import pandas as pd
from pyspark.sql import functions as F

from ccnet_spark_spark import _reread_zips_only_on_change


def _write_zip(path: str, files: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)
    os.replace(tmp, path)


def test_unchanged_zip_is_not_reread_and_a_rewritten_one_is(tmp_path, monkeypatch):
    # undone at teardown: the hook patches the zipimporter class
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    archive = str(tmp_path / "nested.zip")
    files = {
        "zcache_pkg/__init__.py": "",
        "zcache_pkg/sub/__init__.py": "",
        "zcache_pkg/sub/inner/__init__.py": "",
        "zcache_pkg/sub/inner/leaf.py": "X = 1\n",
    }
    _write_zip(archive, files)
    monkeypatch.syspath_prepend(archive)
    for name in ("zcache_pkg", "zcache_pkg.sub", "zcache_pkg.sub.inner", "zcache_pkg.sub.inner.leaf", "zcache_pkg.sub.fresh"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zcache_pkg.sub.inner.leaf").X == 1
    importers = [f for p, f in sys.path_importer_cache.items() if p.startswith(archive)]
    assert len(importers) >= 3  # the archive root and one per package

    reads: list[str] = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda path: reads.append(path) or read(path))
    _reread_zips_only_on_change()
    _reread_zips_only_on_change()  # idempotent
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {**files, "zcache_pkg/sub/fresh.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("zcache_pkg.sub.fresh").Y == 2


def _reads_in_this_worker(ids: pd.Series) -> pd.DataFrame:
    """(pid, zip directory reads since this worker first ran it). Importing
    this module unpickles the package, which installs the worker hook."""
    counter = getattr(zipimport, "_test_read_count", None)
    if counter is None:
        counter = zipimport._test_read_count = [0]
        read = zipimport._read_directory

        def counting_read(path):
            counter[0] += 1
            return read(path)

        zipimport._read_directory = counting_read
    return pd.DataFrame({"pid": [os.getpid()] * len(ids), "reads": [counter[0]] * len(ids)})


def test_python_tasks_do_not_reread_unchanged_archives(spark):
    udf = F.pandas_udf(_reads_in_this_worker, "pid long, reads long")
    seen: dict[int, list[int]] = defaultdict(list)
    for _ in range(20):
        row = spark.range(1, numPartitions=1).select(udf("id").alias("r")).first()["r"]
        seen[row["pid"]].append(row["reads"])
    reused = {pid: counts for pid, counts in seen.items() if len(counts) > 1}
    assert reused, seen  # some worker ran more than one task
    for pid, counts in reused.items():
        assert counts == [counts[0]] * len(counts), (pid, counts)
