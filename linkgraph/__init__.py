"""linkgraph — a from-scratch PySpark-native link-graph analytics engine.

Capability surface (BASELINE.json north_rule): derive an edge table from
multi-turn conversation/agent transcripts (vertices = actors/tools; edges =
consecutive-turn + tool-invocation links under stable turn ordering), build
hash-partitioned CSR adjacency blocks as packed Arrow arrays, and run
Pregel-style iterative PageRank / connected components (hash-min) / community
label propagation / triangle counting as vectorized pandas/Arrow UDF
gather-scatter passes, with explicit hub-skew salting, per-superstep
checkpoints (lineage + metrics) and mid-iteration resume.

Design stance (SURVEY.md §7): DataFrame + Catalyst for all relational
structure; numpy-over-Arrow inside cogrouped UDFs only for the per-edge hot
loop; zero RDD API, zero per-row Python UDFs, zero JVM extensions.
"""

import sys

__version__ = "0.1.0"

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _guard_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since the importer last read it.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
    every task.  Up to CPython 3.12 that re-parses the central directory of
    every zip on the worker's import path in pure Python: pyspark.zip under
    a dozen package prefixes, py4j and the spark-core jar: 0.3-0.6 s of
    every task on a 4-core host, more than a small superstep's kernel.  Every
    worker imports this module when it unpickles a linkgraph function, so
    installing the guard here reaches each worker on its first linkgraph
    task; that task has just re-read the archives, so the importers already
    cached are stamped as fresh.  Installing twice is a no-op, and so is
    installing on CPython >= 3.13, whose ``invalidate_caches`` only drops
    the cached directory.
    """
    if sys.version_info >= (3, 13):
        return
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_linkgraph_guard", False):
        return

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def invalidate_caches(self):
        now = stamp(self.archive)
        if now is None or now != getattr(self, "_linkgraph_stamp", None):
            reread(self)
            self._linkgraph_stamp = now

    invalidate_caches._linkgraph_guard = True
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._linkgraph_stamp = stamp(importer.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_guard_zip_invalidation()
