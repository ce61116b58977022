"""PySpark's Python worker daemon, without a per-task re-read of every zip
archive on the workers' path.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12 that makes
each cached ``zipimporter`` re-read its archive's whole central directory at
once: ``pyspark.zip``, the py4j zip and the 5,359-entry Spark core jar, about
0.12-0.22 s of CPU per task. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the last read in this process.
CPython 3.12 defers the re-read itself, so nothing is installed there.

``get_spark`` sessions run this module as ``spark.python.daemon.module``;
the workers the daemon forks inherit the patch.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) at its last read; per process, like
# zipimport's own ``_zip_directory_cache`` it mirrors
_read_at: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is None or _read_at.get(self.archive) != stamp:
        _stock_invalidate(self)
        _read_at[self.archive] = stamp  # stat taken before the read
    else:
        self._files = files  # another importer of this archive may have re-read it


def install() -> None:
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


def main() -> None:
    from pyspark import daemon  # imports the worker: its archives are cached

    install()
    importlib.invalidate_caches()  # one stamped read; forked workers inherit it
    daemon.manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; run the package's copy so
    # workers see the patch as ``kafka_streams_common_spark.worker_daemon``'s
    from kafka_streams_common_spark.worker_daemon import main

    main()
