"""ccnet_spark_spark — a from-scratch, PySpark-native quality-filtering
engine for web-scale image+caption tables.

Re-expresses the query/data-processing capabilities of the reference
(chukonu-team/ccnet_spark, a cc_net CommonCrawl cleaning pipeline) as an
idiomatic Spark DataFrame engine:

- input: a table of (image_id, bytes, w, h, fmt, caption, phash) pairs
  (Iceberg when the runtime jar is on the classpath; hive-partitioned
  parquet otherwise — same logical contract),
- caption quality pipeline: length heuristics -> line explode ->
  normalization -> line-hash dedup (keep / drop-all) -> doc regroup ->
  language ID -> tokenize -> perplexity -> head/middle/tail bucketing
  via broadcast cutoff tables -> PII/toxicity scrub -> keep/drop verdict,
- training-data ops: exact / MinHash-LSH / SimHash / n-gram-Jaccard /
  embedding-cosine dedup, brute-force + LSH ANN, language-ID heuristics,
  quality scoring, token counting, document fingerprinting,
- multimodal plumbing: binary image payloads carried byte-safely beside
  the text plan; decode/resize/feature stubs over mapInPandas.

Everything is DataFrame/Catalyst-first: built-in expressions in the hot
path, Arrow-vectorized pandas UDFs where Python is unavoidable, zero
per-row Python.
"""

from __future__ import annotations

import os
import sys

__version__ = "0.1.0"


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def _reread_zips_only_on_change() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its (inode, size, mtime_ns) changed since that importer last read it.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task, and on CPython 3.11 each zipimporter then re-reads its
    whole archive directory at once. Workers import pyspark from
    pyspark.zip: 14-16 importers (one per package) each re-read its 1,328
    entries, 120-290 ms of a task that uses 124-240 ms of CPU for its
    rows. A rewritten archive changes its stamp and is still re-read.
    Idempotent. Importers already cached are stamped as read now: this
    runs while a task unpickles its UDF, just after that task's
    invalidation re-read every archive."""
    import zipimport

    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "rereads_on_change", False):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _archive_stamp(self.archive)  # before the read: a write during it re-reads next time
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            reread(self)
            self._archive_stamp = stamp

    invalidate_caches.rereads_on_change = True
    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._archive_stamp = _archive_stamp(finder.archive)


# Only inside a PySpark worker, where the task context is set while a UDF
# (and so this package) is unpickled; a driver keeps CPython's behaviour.
_tc = sys.modules.get("pyspark.taskcontext")
if _tc is not None and _tc.TaskContext.get() is not None:
    _reread_zips_only_on_change()
del _tc
