"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task (``worker_util.setup_spark_files``), and on CPython 3.11
``zipimporter.invalidate_caches`` re-reads its archive's central
directory on every call. A worker holds 16 zip importers, 12 over
``pyspark.zip`` and 2 over the Spark core jar, so each task spent ~0.2 s
of CPU re-reading unchanged archives before its kernel started
(PERF.md, "Per-task Python worker cost").

Here an importer re-reads only when its archive's (mtime, size, inode)
changed since that importer last read it; a missing archive keeps the
stock behaviour. The daemon re-reads once itself, so the workers it
forks inherit importers that are already stamped, and then hands over to
``pyspark.daemon.manager()`` unchanged.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an archive unchanged
    since this importer last read it."""
    try:
        st = os.stat(importer.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None  # missing: re-read every time, as the stock method does
    if key is None or key != getattr(importer, "_read_key", None):
        # stat before the read: a change in between leaves an older key,
        # so the next call reads again
        _reread(importer)
        importer._read_key = key


def main() -> None:
    """Install the gated method, stamp the importers that forked workers
    inherit, and run pyspark's daemon."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # run the copy imported by name, so the installed method names this
    # module rather than __main__
    from marex_spark._worker_daemon import main

    main()
