"""Python worker daemon for the engine's sessions (spark.python.daemon.module).

Before every task PySpark's worker calls importlib.invalidate_caches(), and
on CPython 3.11 each zipimporter answers by re-reading its whole archive
directory: ~16 importers over pyspark.zip and the spark-core jar cost
110-270 ms per task. Run as the daemon, this module makes a zip archive's
directory re-read only when the archive is new to the process or its
(mtime, size) changed; everything else invalidate_caches does is untouched.
Then pyspark's own daemon runs. Importing the module changes nothing.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    if _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:  # another prefix of this archive may have re-read it already
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)


if __name__ == "__main__":
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    manager()
