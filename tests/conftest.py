import contextlib
import functools
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Two-tier suite (r13, VERDICT r12 #1): the default `pytest tests/` run
# must finish well inside the driver's verify window (the r12 full run
# took 29-38 min and the driver's capture truncated mid-run with zero
# failures — a contract problem, not a test failure). The default tier
# keeps every unit / property / equivalence test; the heavyweight
# SWEEPS and LONG-HORIZON lifecycle tests (the full-registry oracle
# sweep, 100-batch churn, multi-batch store chains, clone-heavy stream
# stress, the full-plan cartesian sweep) run when SPARK_GRAFT_FULL_SUITE=1
# — executed at round close with the log committed (see
# OPTIMIZATION_r13.md). Every behavior those tests pin is ALSO guarded
# per-round by the driver's own oracle gate + the committed
# CHECK_ORACLE_FULL_r{N}.txt sweep.
FULL_SUITE = os.environ.get("SPARK_GRAFT_FULL_SUITE") == "1"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "full_suite: heavyweight sweep/long-horizon test — runs only "
        "with SPARK_GRAFT_FULL_SUITE=1 (round-close full tier)",
    )


def pytest_collection_modifyitems(config, items):
    if FULL_SUITE:
        return
    skip = pytest.mark.skip(
        reason="full-suite tier: set SPARK_GRAFT_FULL_SUITE=1"
    )
    for item in items:
        if item.get_closest_marker("full_suite"):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    # Tests run at sf0.001 — a 12g heap ceiling is generous there and
    # keeps the suite's JVM RSS from spiking into ambient memory other
    # processes (bench JVMs, DuckDB) need: the one observed full-suite
    # flake was a DuckDB std::bad_alloc while this JVM could grow to the
    # 24g production default. Explicit env still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "12g")
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn)``: ids of the Spark jobs ``fn()`` started."""
    def run(fn) -> list[int]:
        group = f"test-{uuid.uuid4().hex}"
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    return run


@pytest.fixture
def mutations():
    """``with mutations(stop_at=None) as steps:`` records the name of each
    table mutation run in the block in ``steps``, in order: a dry run
    gives a writer's mutations, so a sweep over them covers one added
    later with no test edit. With ``stop_at=k`` the k-th mutation (from
    0) and every later one raise ``RuntimeError("stopped at mutation
    k")`` instead of running, which leaves the files as a process
    stopped there would.

    The mutations are ``fsops.delete``, ``rename``, ``write_text`` and
    ``write_text_atomic`` and ``DataFrameWriter.parquet``. The deletes
    ``index_store.invalidate`` makes reclaim derived artifacts, best
    effort, and are not counted."""
    from pyspark.sql import DataFrameWriter

    from e_commerce_etl_pipeline_spark.operators import fsops, index_store

    @contextlib.contextmanager
    def run(stop_at=None):
        steps, uncounted = [], []

        def counted(name, fn):
            @functools.wraps(fn)
            def mutate(*args, **kwargs):
                if not uncounted:
                    if len(steps) == stop_at:
                        raise RuntimeError(f"stopped at mutation {stop_at} ({name})")
                    steps.append(name)
                return fn(*args, **kwargs)
            return mutate

        invalidate = index_store.invalidate

        def uncounted_invalidate(*args, **kwargs):
            uncounted.append(True)
            try:
                return invalidate(*args, **kwargs)
            finally:
                uncounted.pop()

        with pytest.MonkeyPatch.context() as mp:
            for name in ("delete", "rename", "write_text", "write_text_atomic"):
                mp.setattr(fsops, name, counted(name, getattr(fsops, name)))
            mp.setattr(DataFrameWriter, "parquet", counted("parquet", DataFrameWriter.parquet))
            mp.setattr(index_store, "invalidate", uncounted_invalidate)
            yield steps
    return run
