"""The session's Python workers fork from ``worker_daemon``: its boot
archives skip the per-task central-directory re-read, the daemon's heap
is frozen before the fork, and a zip added with ``addPyFile`` after the
worker pool exists still imports."""

from __future__ import annotations

import uuid
import zipfile

from pyspark.sql import functions as F


def test_workers_fork_from_package_daemon(spark):
    def probe(batches):
        import gc
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        # Spark's own archives: pyspark.zip, and the spark-core jar Spark
        # also puts on the workers' path
        cache = zipimport._zip_directory_cache
        before = {p: cache[p] for p in sys.path
                  if p.endswith(("pyspark.zip", ".jar")) and p in cache}
        importlib.invalidate_caches()
        kept = [p.rsplit("/", 1)[-1] for p, d in before.items() if cache[p] is d]
        read_again = [p for p, d in before.items() if cache[p] is not d]
        spec = sys.modules["__main__"].__spec__
        for _ in batches:
            yield pa.RecordBatch.from_pydict({
                "daemon": [spec.name if spec else None],
                "frozen": [gc.get_freeze_count()],
                "kept": [kept],
                "read_again": [read_again],
            })

    row = spark.range(1, numPartitions=1).mapInArrow(
        probe, "daemon string, frozen long, kept array<string>, "
               "read_again array<string>").first()
    assert row["daemon"] == "e_commerce_etl_pipeline_spark.worker_daemon"
    assert row["frozen"] > 0
    assert "pyspark.zip" in row["kept"]
    assert row["read_again"] == []


def test_py_file_added_after_pool_exists_imports(spark, tmp_path):
    spark.range(4, numPartitions=2).mapInArrow(lambda it: it, "id long").collect()
    module = f"daemon_probe_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{module}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("long")
    def imported(x):
        import importlib

        return importlib.import_module(module).VALUE + x

    rows = spark.range(4, numPartitions=2).select(imported("id").alias("v")).collect()
    assert sorted(r.v for r in rows) == [42, 43, 44, 45]
