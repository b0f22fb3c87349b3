"""Python worker daemon: PySpark's ``pyspark.daemon`` without the
per-task zip re-read.

Spark launches this module with ``python -m`` when
``spark.python.daemon.module`` names it (``session._DEFAULTS`` does).
At the start of every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``, and CPython 3.11's
``zipimporter.invalidate_caches`` re-parses the whole central directory
of its archive — for each of the 16 importers a worker holds on
``pyspark.zip`` (1,328 entries). That is a fixed ~0.1 s of CPU per task
(16 reads of ~6 ms each), whatever its size. Here an importer re-reads
its archive only when the archive's ``(st_mtime_ns, st_size)`` changed
since it last read it, so a zip added or rewritten by ``addPyFile`` /
``Client.upload_file`` is still picked up. Everything else is
``pyspark.daemon.manager()``.

Importing this module changes nothing; :func:`install` applies the
patch and running the module as ``__main__`` installs it and serves.
"""

from __future__ import annotations

import os
import sys
import warnings
import zipimport

_reread_archive = zipimport.zipimporter.invalidate_caches


def _archive_stamp(importer: zipimport.zipimporter) -> tuple[int, int]:
    st = os.stat(importer.archive)
    return st.st_mtime_ns, st.st_size


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read when
    the archive is unchanged since this importer last read it."""
    try:
        stamp = _archive_stamp(self)
    except OSError:
        _reread_archive(self)
        return
    # Stamp taken before the read: a rewrite racing the read leaves a
    # stale stamp, so the next call reads again.
    if getattr(self, "_read_stamp", None) != stamp:
        _reread_archive(self)
        self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` for this process and its
    forks, stamping the importers already cached so forked workers skip
    the re-read from their first task, and silence one pandas warning
    (below)."""
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            try:
                importer._read_stamp = _archive_stamp(importer)
            except OSError:
                pass
    # pandas >= 2.1 warns on every applyInPandasWithState output chunk
    # (the serializer concatenates all-NA padding frames); one line per
    # chunk, nothing the engine can act on.
    warnings.filterwarnings(
        "ignore",
        message="The behavior of DataFrame concatenation with empty or all-NA entries",
        category=FutureWarning,
        module=r"pyspark\.sql\.pandas\.serializers",
    )


if __name__ == "__main__":
    # Import first, so the importers the daemon's own imports create
    # are stamped too.
    from pyspark.daemon import manager

    install()
    manager()
