"""Re-read a zip archive's directory only when the archive changed.

Spark puts ``pyspark.zip``, the py4j zip and the spark-core jar on every
Python worker's ``sys.path``, and ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()`` at the start of every task. Before
Python 3.13, ``zipimporter.invalidate_caches`` then re-reads each archive's
whole central directory: 0.1-0.3 s of CPU per Python task on a 4-vCPU host,
before the task touches a row. Here an importer re-reads only when the
archive's ``(st_mtime_ns, st_size)`` differs from the stamp of its last
read; an importer with no stamp re-reads once. Python 3.13 only drops the
cache entry, so it is left alone. The package imports this module first, so
every Python worker that unpickles an engine UDF installs the rule.
"""

from __future__ import annotations

import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _reread = zipimport.zipimporter.invalidate_caches

    def _invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_dir_stamp", None):
            _reread(self)
            self._dir_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
