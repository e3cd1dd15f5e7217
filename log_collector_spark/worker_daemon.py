"""Python worker daemon: PySpark's own, minus a per-task archive re-read.

``session.get_spark`` starts Python workers from this module
(``spark.python.daemon.module``). Before each task, PySpark's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, and on
CPython 3.11 that makes every ``zipimporter`` re-read its archive's whole
directory. A worker holds one per package it imported from ``pyspark.zip``
(1,328 entries; 16 importers in a parse worker), so each task paid
0.12-0.33 s for it on a 4-vCPU host. Here ``zipimporter.invalidate_caches``
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed since
the last read, so a rewritten archive is still picked up. The patch is
made in the daemon before it forks, so every worker and every task has
it.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # gone: let the original drop its directory
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _reread(self)
        self._stamp = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()  # one read per archive, before the fork

    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run the copy imported under the package name, so the patched method
    # names this module, not __main__
    from log_collector_spark.worker_daemon import main as _main

    _main()
