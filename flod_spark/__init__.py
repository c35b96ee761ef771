"""flod_spark — a PySpark-native analytics engine with the capability surface of
epi/flod (reference: /root/reference, a D compile-time streaming-pipeline library),
re-expressed Spark-first, plus relational / streaming / LLM-data-pipeline extensions.

Design stance (see SURVEY.md §0/§4): flod's machinery (method negotiation,
adapter insertion, fibers, buffers — pipeline.d:30-104, adapter.d:12-580) is
replaced wholesale by Catalyst/Tungsten; what we re-create is the *observable
operator surface* (SURVEY.md §2) as idiomatic DataFrame / Structured Streaming
code, designed for 100 TB scale (partitioning, broadcast, pushdown).
"""

import os
import zipimport

from flod_spark.session import get_spark
from flod_spark.pipeline import (
    Pipeline,
    Queue,
    from_array,
    from_generator,
    from_range,
    read_parquet,
    read_text,
)


def _gate_zip_cache_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's central
    directory only when the archive's ``(st_ino, st_size, st_mtime_ns)``
    changed since that importer last read it, or cannot be stat'ed.

    A PySpark worker calls ``importlib.invalidate_caches()`` before every
    task. On Python 3.11 (``zipimport.py:329``) that re-reads every zip
    importer's whole directory: 0.12-0.19 s per task on a 4-core host for
    the ~16 importers of pyspark.zip, the Spark jars, py4j and the shipped
    package zip, where a shard fold's own work takes 2-4 ms. Python 3.13
    (``zipimport.py:276``) only drops the cache there. Directory finders
    are untouched, a zip added later is a new path entry with a fresh
    importer, and the shipped package zip is named by content, so skipping
    unchanged archives loses nothing. Installed once per process; every
    worker that unpickles a flod stage function imports this package, so
    from its second task on it skips the re-reads."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stamp_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stamp_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_gate_zip_cache_invalidation()

__all__ = [
    "get_spark",
    "Pipeline",
    "Queue",
    "read_parquet",
    "read_text",
    "from_array",
    "from_generator",
    "from_range",
]

__version__ = "0.1.0"
