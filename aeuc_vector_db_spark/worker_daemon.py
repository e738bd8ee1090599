"""Python-worker daemon for the engine's session: pyspark's own daemon,
with a zip import cache that re-reads an archive only when it changed and
a post-task garbage collection that scans only what tasks allocated.

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

A reused worker runs `gc.collect()` after every task
(`pyspark/daemon.py`), and the JVM hands the worker back to its pool as
soon as the task's `END_OF_STREAM` is written, so the next task waits
for that collect. A worker that has imported pandas, pyarrow and NumPy
tracks ~73k objects, nearly all of them module state that lives as long
as the worker: each collect scanned them all, ~43 ms of worker CPU per
task in an Arrow worker and 13–25 ms in one that ran only RDD tasks.
Here `gc.collect` runs the stock collect and then, if `sys.modules`
changed since the last freeze, `gc.freeze()`: what survived an import
task moves to the permanent generation once, and every later collect
scans only what tasks allocated (~100 objects after a no-op task).
Cyclic garbage is still reclaimed, because the collect runs before the
freeze; only objects alive after an import task are exempt from cycle
collection, a set bounded by the number of import events. The wrapper
is set before the daemon forks, so every worker inherits it.

`session.get_spark` names this module as `spark.python.daemon.module`
(a `spark.python.worker.module` would be ignored: `pyspark/daemon.py`
honours only worker modules named `pyspark*`). The daemon imports no
NumPy, pandas or pyarrow before it forks its workers.
"""

from __future__ import annotations

import gc
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


_stock_collect = gc.collect
# len(sys.modules) at the last freeze; -1: not frozen yet
_frozen_at = -1


def _collect_then_freeze(*args, **kwargs) -> int:
    global _frozen_at
    found = _stock_collect(*args, **kwargs)
    if len(sys.modules) != _frozen_at:
        gc.freeze()
        _frozen_at = len(sys.modules)
    return found


if __name__ == "__main__":
    gc.collect = _collect_then_freeze
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
