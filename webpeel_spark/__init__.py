"""webpeel_spark — a PySpark-native main-content extraction engine.

A from-scratch reimplementation of the capabilities of webpeel/webpeel
(reference at /root/reference, TypeScript) as a Spark batch pipeline:

* ``webpeel_spark.dom``       — dependency-free DOM + CSS selectors
* ``webpeel_spark.pure``      — pure-Python extraction functions
                                 (no Spark imports; unit-testable alone)
* ``webpeel_spark.operators`` — Spark operators (Arrow-batched UDF stages,
                                 dedup, similarity, text analysis)
* ``webpeel_spark.sources``   — readers + the deterministic synthetic
                                 Common-Crawl-style pages corpus
* ``webpeel_spark.plans``     — partitioning/salting, checkpointed
                                 progress tables, resume logic
"""

import os
import sys

__version__ = "0.1.0"


def _skip_unchanged_zip_rescans() -> None:
    """In a PySpark Python worker on CPython < 3.13, make
    ``zipimporter.invalidate_caches`` re-read an archive's directory only
    when the archive changed.

    The worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and before 3.13 each zipimporter then re-reads its whole
    archive directory: the worker holds about 16 of them (pyspark.zip,
    the spark-core jar, py4j), some 27k entries per task.  Each importer
    is keyed on ``os.stat(archive)`` as ``(st_ino, st_size,
    st_mtime_ns)``; it re-reads when the key changes or ``stat`` fails,
    so a rewritten or newly added archive is still picked up.  Each
    importer's first call after the install reads as before.  3.13 made
    the re-read lazy, and the driver never calls it per task, so both
    are left alone.  Idempotent: a second call finds the marker.
    """
    # pyspark.daemon runs as __main__; every worker imports pyspark.worker
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return
    import weakref
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "_stat_keyed", False):
        return
    keys = weakref.WeakKeyDictionary()  # importer -> stat key of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            key = None
        if key is None or keys.get(self) != key:
            reread(self)
            keys[self] = key

    invalidate_caches._stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_skip_unchanged_zip_rescans()
