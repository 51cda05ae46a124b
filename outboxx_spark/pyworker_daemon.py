"""PySpark worker daemon that re-reads a zip archive's index only when the archive changed.

``session.get_spark`` starts Python workers through this module
(``spark.python.daemon.module``; why is in ``session.py``). It wraps
``zipimporter.invalidate_caches``, which PySpark's worker reaches through
``importlib.invalidate_caches()`` at the start of every task, then runs
``pyspark.daemon.manager()``.

An importer re-reads when its archive's stamp differs from the one taken
before its last read. A stamp is ``(st_ino, st_size, st_mtime_ns,
st_ctime_ns)``: a rewrite, a same-size rewrite (ctime moves) and a replace
by rename (inode moves) all change it. An archive changed within
``RACY_NS`` of the check gets no stamp and is re-read every time, so a
second rewrite inside one filesystem timestamp tick cannot hide behind an
equal stamp.
"""

from __future__ import annotations

import importlib
import os
import time
import zipimport

RACY_NS = 2_000_000_000
_read_index = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    if max(st.st_mtime_ns, st.st_ctime_ns) > time.time_ns() - RACY_NS:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_index_stamp", None):
        _read_index(self)
        self._index_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    import pyspark.daemon

    # Stamp every archive the daemon imported from (one read each, once);
    # forked workers inherit the stamps, so even a first task re-reads nothing.
    importlib.invalidate_caches()
    pyspark.daemon.manager()
