"""Python-worker daemon with preloaded scientific stack.

PySpark forks UDF workers from a daemon process; each fork then imports
pyspark.worker + numpy + pandas + pyarrow from scratch (~1.5-2s). A
32-slot local run launching a fresh Python stage pays that 32 times —
measured as executor threads parked for tens of seconds while the
machine burns system time in fork/import storms.

Importing the stack HERE, before the daemon starts serving forks, makes
every worker inherit the already-initialized modules through fork
copy-on-write: worker start drops to milliseconds.

Fork safety: BLAS thread pools must not exist pre-fork; session config
pins OPENBLAS/OMP/MKL threads to 1 for worker processes (also the right
setting for task-parallel executors).

Per-task zip re-read: ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of EVERY task, so files
added with ``addPyFile`` become importable. On CPython 3.11 every
``zipimport.zipimporter.invalidate_caches()`` eagerly re-reads its
archive's whole central directory. Workers import pyspark from the
install archives, and ``sys.path_importer_cache`` ends up holding one
zipimporter per imported package directory: 12 on ``pyspark.zip``
(1,328 entries), 2 on the py4j zip and 2 on the spark-core jar that
Spark puts on the worker PYTHONPATH — ~26.7k directory entries parsed
per task, 0.14-0.30 s of CPU per call before the task reads a row.
The daemon therefore skips that re-read
for archives of the Spark install (paths under the resolved SPARK_HOME,
plus the archive pyspark itself was imported from): they cannot change
while the daemon lives. Every other finder keeps the stock behaviour,
so the ``userFiles-*`` directory and anything shipped with
``addPyFile``/``--py-files`` are still re-read. Measured per call in a
local[1] worker on a 4-core host: 0.29 s -> 0.07 ms of process CPU.

Per-task full collection: ``pyspark.daemon``'s child loop calls
``gc.collect()`` after every task of a reused worker, and a full
collection walks every tracked object, including the ~73k that the
imports above left in the daemon's heap. On ``areal_overlap`` in a
local[4] worker (4-core host) that walk cost a median 53 ms of CPU per
call, more than the task's own 37 ms. The daemon therefore calls
``gc.freeze()`` as its last step before ``manager()`` starts forking:
the preloaded heap moves to the permanent generation, which the
collector never walks, so each worker's collection sees only what its
tasks allocated (0.5 ms per call; cycles made inside a task are still
freed). This is the
``gc.freeze`` recipe for servers that fork without exec, and it also
keeps the collector from writing to the shared pages' GC headers, so
fewer of them are copied into each worker. It has to sit after the
last preload import and before the first fork: objects created later
in the daemon stay collectable, and a worker inherits the frozen set
as it was at its fork.

Enable with: spark.python.daemon.module=
    pure_python_geospatial_export_spark.daemon_preload
"""

import os

os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
os.environ.setdefault("OMP_NUM_THREADS", "1")
os.environ.setdefault("MKL_NUM_THREADS", "1")

import functools  # noqa: E402
import gc  # noqa: E402
import zipimport  # noqa: E402

import numpy  # noqa: F401,E402
import pandas  # noqa: F401,E402
import pyarrow  # noqa: F401,E402
import pyspark  # noqa: E402
import pyspark.serializers  # noqa: F401,E402
import pyspark.sql.pandas.serializers  # noqa: F401,E402
import pyspark.worker  # noqa: F401,E402
from pyspark.daemon import manager  # noqa: E402


@functools.lru_cache(maxsize=None)
def _is_install_archive(archive: str, roots: tuple) -> bool:
    """``roots`` holds real directory prefixes (ending in a separator)
    and real archive paths."""
    path = os.path.realpath(archive)
    return any(
        path.startswith(r) if r.endswith(os.sep) else path == r
        for r in roots
    )


def _exempt_install_archives():
    """Make zipimporter.invalidate_caches a no-op on install archives:
    everything under SPARK_HOME, and the archive pyspark came from."""
    roots = []
    home = os.environ.get("SPARK_HOME")
    if home:
        roots.append(os.path.join(os.path.realpath(home), ""))
    own = getattr(pyspark.__spec__.loader, "archive", None)
    if own:
        roots.append(os.path.realpath(own))
    roots = tuple(roots)
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        if not _is_install_archive(self.archive, roots):
            stock(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    _exempt_install_archives()
    gc.freeze()
    manager()
