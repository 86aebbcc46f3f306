"""Python worker daemon: PySpark's own daemon, with a stat-gated
``zipimporter.invalidate_caches``.

``session.get_spark`` names this module in ``spark.python.daemon.module``;
its docstring says why. Every forked worker inherits the gate: a
``zipimporter`` re-reads its archive's central directory only when the
archive's ``(st_mtime_ns, st_size)`` differs from the last read of that
path. Importers over an unchanged archive take the directory the last
read left in ``zipimport._zip_directory_cache``. A missing archive keeps
the original behaviour (no files), and the next read of a new or
rewritten archive sees its new contents.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) at its last read; process-wide,
# like the `zipimport._zip_directory_cache` entries it vouches for
_read_at: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, skipping the directory re-read
    while the archive's stamp matches the one its last read saw."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _read_at[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    # read each archive once here, so forked workers inherit the stamps
    importlib.invalidate_caches()

    daemon.manager()
