"""PySpark-native web-text quality-filter + PII/toxicity-scrub engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference repo ``manansvr/pii-detection-redaction`` (studied read-only at
/root/reference), re-expressed Spark-first:

- ``core``       pure-Python semantics library (the label oracle): recognizer
                 bank, chunker, relationship masking, scrub operators, quality
                 rules, language-ID, n-gram LM. Importable without Spark.
- ``functions``  vectorized pandas/Arrow UDF factories wrapping ``core``.
- ``operators``  relational/text operators (dedup, similarity, text stats).
- ``sources``    readers + snapshot-manifest sink with checkpoint resume.
- ``plans``      end-to-end pipeline assembly + SparkSession builder.
- ``streaming``  structured-streaming variants (thin wrappers).
- ``testing``    deterministic synthetic corpus generators (seeded, no I/O).
"""

import os
import sys
import zipimport

__version__ = "0.1.0"


def install_worker_zip_hook() -> bool:
    """In a PySpark Python worker, make ``zipimporter.invalidate_caches``
    re-read an archive only when its ``(st_ino, st_size, st_mtime_ns)``
    changed. Returns whether the hook is (now) installed.

    The worker calls ``importlib.invalidate_caches()`` before every task,
    and on Python 3.11 each zipimporter then re-reads its whole archive
    directory: 11-12 importers over ``pyspark.zip`` and 2 over the
    ``spark-core`` jar cost ~0.2 s per task (BENCH.md, "Zip re-reads").
    One re-read per change is shared by every importer of the archive
    through ``zipimport._zip_directory_cache``; without that private
    attribute each importer keeps its own stamp. A changed archive is
    still re-read, and archives added later get fresh importers. Does
    nothing (and imports no pyspark) outside a worker.
    """
    files = sys.modules.get("pyspark.core.files")
    if files is None or not getattr(files.SparkFiles, "_is_running_on_worker", False):
        return False
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return True
    reread = cls.invalidate_caches
    shared = getattr(zipimport, "_zip_directory_cache", None)
    read_at = {}  # archive -> stamp its shared directory was read at

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if shared is None:
            if stamp is None or getattr(self, "_read_at", None) != stamp:
                reread(self)
                self._read_at = stamp
            return
        cached = shared.get(self.archive)
        if stamp is not None and cached is not None and read_at.get(self.archive) == stamp:
            self._files = cached
            return
        reread(self)
        read_at[self.archive] = stamp

    invalidate_caches.__wrapped__ = reread
    cls.invalidate_caches = invalidate_caches
    return True


install_worker_zip_hook()
