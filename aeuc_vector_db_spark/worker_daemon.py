"""Python-worker daemon for the engine's session: pyspark's own daemon,
with a zip import cache that re-reads an archive only when it changed.

Every Python-worker task starts in `pyspark.worker_util.setup_spark_files`,
which calls `importlib.invalidate_caches()`. Before CPython 3.12,
`zipimport.zipimporter.invalidate_caches` re-reads its archive's central
directory at once, and a worker holds one zipimporter per package
directory it imported from `pyspark.zip` and the py4j zip (~16). So each
task re-read both archives ~16 times: 150–250 ms of worker CPU per task
on a 4-vCPU host, for tasks whose own work took a few ms.

Here a zipimporter keeps the shared `zipimport._zip_directory_cache`
entry while its archive's `(st_mtime_ns, st_size)` is the one it was last
read at. A changed archive, or one `os.stat` cannot reach, takes the
stock re-read, so a zip that `addPyFile` ships or rewrites is still seen
by the next task. CPython 3.12 made the invalidation lazy (it drops the
cache entry and reads on the next lookup), so there the stock method
stays.

`session.get_spark` names this module as `spark.python.daemon.module`
(a `spark.python.worker.module` would be ignored: `pyspark/daemon.py`
honours only worker modules named `pyspark*`). The daemon imports no
NumPy, pandas or pyarrow before it forks its workers.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the archive when its
# directory was last read into zipimport._zip_directory_cache; process
# state, like the cache it describes
_read_at: dict[str, tuple[int, int]] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_at.pop(self.archive, None)
        _stock_invalidate(self)
        return
    # stamped before the read: an archive rewritten during the read
    # differs from its stamp, so the next call reads it again
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate(self)
    _read_at[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
