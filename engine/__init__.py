"""spark-transcript-extract: PySpark-native main-content extraction engine.

A from-scratch re-expression of the deterministic query/data semantics of the
reference pipeline (delinquentq/deepseek-ocr-batch) as a Spark-first engine
over multi-turn conversation transcript tables:

- ``engine.core``      pure-Python kernels (zero Spark imports) — the oracle
                       and the bodies of the vectorized Arrow UDFs.
- ``engine.spark``     the Spark layer: schemas, pandas/Arrow UDF wrappers,
                       the partition-aware pipeline, checkpoint/lineage/resume.
- ``engine.datawork``  large-scale training-data operations (dedup families,
                       similarity search, text analysis) built on DataFrame ops.

Importing this package installs one process-wide guard,
``_reread_zip_only_when_changed``. pyspark's Python worker calls
``importlib.invalidate_caches()`` at the start of every task, and before
CPython 3.13 that makes every ``zipimporter`` re-read its whole archive
directory: pyspark.zip, its package prefixes, the py4j zip and the Spark jar,
110–260 ms per task on a 4-vCPU host, far more than a typical UDF body. The
guard lives here because every executor-side engine function imports this
package first, so each worker that runs engine code installs it.
"""

__version__ = "0.1.0"


def _reread_zip_only_when_changed() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size, st_ino)`` differs from the one seen at that
    importer's last re-read. An unchanged archive then costs one ``stat``; a
    rewritten one is re-read exactly as before. Idempotent."""
    import os
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if reread.__module__ == __name__:
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            seen = None
        if seen is not None and seen == getattr(self, "_archive_seen", None):
            return
        # stat BEFORE the read: a rewrite racing the read leaves a stale
        # signature, which re-reads once more next call, never one too few
        reread(self)
        self._archive_seen = seen

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_reread_zip_only_when_changed()
