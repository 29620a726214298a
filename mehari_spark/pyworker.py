"""Zip-import directories are re-read only when the archive changed.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
Python task (PySpark 4.1 ``pyspark/worker_util.py:124-144``,
``setup_spark_files``). Up to CPython 3.12, ``zipimporter.invalidate_caches``
re-reads the archive's whole central directory (CPython 3.11
``Lib/zipimport.py:329-336``), and a worker holds ~15 zip importers: the
spark-core jar and its ``/org`` prefix, ``pyspark.zip``, and one per pyspark
subpackage, each re-reading all of ``pyspark.zip``. That is 0.2-0.4 s per
task. CPython 3.13 drops the cache and reads it again only when needed
(``Lib/zipimport.py:276-278``), so it is left alone.

Importing the engine installs the replacement, so a worker runs it from
the task after its first engine unpickle. An archive whose
``(st_mtime_ns, st_size)`` moved since that importer's last read, or that
cannot be stat'ed, is still re-read: a re-shipped ``--py-files`` zip is seen.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_stat_key", None):
        _stdlib_invalidate(self)
        self._stat_key = key


if sys.version_info < (3, 13):
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
