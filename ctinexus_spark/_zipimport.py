"""Re-read a zip importer's directory only when its archive changed.

PySpark's per-task worker setup calls importlib.invalidate_caches(),
and on CPython < 3.13 zipimporter.invalidate_caches re-parses the
archive's central directory eagerly — for every cached importer over
pyspark.zip, py4j's zip and the spark-core jar on the worker path,
on every task (3.13 made it lazy). The wrapper below keeps an
(inode, size, mtime) stamp per importer and calls the original only
when the stamp is new or changed. A missing archive always reaches
the original's error path. Imported by ctinexus_spark/__init__.py:
every UDF the library ships unpickles through a ctinexus_spark module
on the worker. A reused Python worker therefore re-reads on its first
task (set-up runs before the UDF is unpickled) and its second (which
stamps each importer), then only when an archive changes.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    """Wrap zipimporter.invalidate_caches; idempotent, and a no-op
    where the method is already lazy (CPython >= 3.13, other VMs)."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13) or hasattr(original, "__wrapped__"):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # taken before the read: a racing write re-reads next time
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            self._archive_stamp = stamp
            original(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()
