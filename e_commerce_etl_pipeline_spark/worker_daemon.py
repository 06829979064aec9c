"""The Python worker daemon of this engine's sessions
(``spark.python.daemon.module``, set by ``session.get_spark``).

Spark forks every Python worker from one daemon process and runs
``pyspark.worker.main`` once per task in it. Two of a task's costs do not
depend on its data:

- ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()`` on every task. Each ``zipimporter``
  (one per package imported from an archive on the path) then re-reads
  the whole central directory of its archive: about 80 ms of a 1-row
  task's 90 ms of worker CPU (docs/SCALE.md).
- ``pyspark.daemon`` runs a full ``gc.collect()`` after every task, over
  every numpy/pandas/pyarrow object the worker has imported.

:func:`main` runs Spark's own daemon unchanged after three steps. It
makes the archives on ``sys.path`` at daemon start skip that re-read:
Spark puts ``pyspark.zip``, ``py4j-*.zip`` and its ``spark-core`` jar
there, and they do not change while the daemon lives. It imports what
every Arrow task imports. It moves all of that out of the collector's
reach with ``gc.freeze()``, and the forked workers share it. An archive
added later, such as an ``addPyFile`` zip, keeps the stock re-read.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport


def main() -> None:
    boot_archives = frozenset(p for p in sys.path if os.path.isfile(p))
    stock_invalidate = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        if self.archive not in boot_archives:
            stock_invalidate(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches

    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyarrow.compute  # noqa: F401
    import pyspark.worker  # noqa: F401
    from pyspark import daemon

    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
