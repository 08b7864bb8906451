"""Re-read a zip archive's directory only when the archive has changed.

PySpark's worker calls `importlib.invalidate_caches()` at the start of
every Python session (`worker_util.setup_spark_files`). On CPython
3.11 that makes every `zipimporter` on the path re-read its archive's
central directory: pyspark.zip, the py4j zip and the spark-core jar,
about 0.2 s per session, and none of them ever changes. The wrapper
below keeps the importer's directory while the archive's
`(st_mtime_ns, st_size)` stamp is the one it was read at; a replaced
or grown archive is still re-read, and a missing one behaves as before.
"""

import os
import zipimport

_original = getattr(
    zipimport.zipimporter.invalidate_caches,
    "__wrapped__",
    zipimport.zipimporter.invalidate_caches,
)


def _invalidate_if_changed(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        self._stamp = None
        return _original(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if getattr(self, "_stamp", None) != stamp:
        _original(self)
        self._stamp = stamp


_invalidate_if_changed.__wrapped__ = _original
zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
