"""Process-level set-up for one benchmark run: a private work directory
inside the checkout, the environment the package and Spark read, the
Spark session, a peak-memory sampler and the teardown that stops every
process the run started.

Everything Spark or the package writes (staging, audit, landing files,
index artifacts, local dirs, the event log, JVM temp files) goes under
the work directory, which is removed at exit.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_PARENT = os.path.join(ROOT, ".perfbench-work")


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem() -> str:
    """A quarter of the host, between 1 and 2 GiB: the inputs here are
    small, and the reference runs in a 4 GB container."""
    return f"{max(1, min(2, int(host_mem_gb() // 4)))}g"


def calibrate() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed stamp."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def source_digest() -> str:
    """sha1 over the package and benchmark sources: identifies the code
    measured when the checkout carries no git metadata."""
    h = hashlib.sha1()
    for top in ("e_commerce_etl_pipeline_spark", "perfbench"):
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, top)):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".py"):
                    p = os.path.join(dirpath, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:12]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


class Workdir:
    """The run's private directory tree; removed by ``close``."""

    def __init__(self):
        os.makedirs(WORK_PARENT, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix="run-", dir=WORK_PARENT)
        for sub in ("tmp", "local", "index", "conf", "events", "land", "wh"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK_PARENT)  # only when no other run is using it
        except OSError:
            pass


def configure_env(work: Workdir, cpus: int, event_log: bool) -> None:
    """Environment for the package, Spark and the Python workers. Must run
    before the package or pyspark is imported."""
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    env["SPARK_GRAFT_INDEX_DIR"] = work.sub("index")
    env["SPARK_LOCAL_DIRS"] = work.sub("local")
    env["TMPDIR"] = work.sub("tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # Python workers import the package by name: give them the checkout.
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_CONF_DIR"] = work.sub("conf")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    conf = {
        "spark.local.dir": work.sub("local"),
        "spark.sql.warehouse.dir": work.sub("wh"),
        # A fixed, pre-touched heap: without it the JVM's resident size
        # follows the collector's heap sizing, which swung peak RSS by
        # 1.5 GB between runs of one workload. Peak RSS then moves with
        # the driver's Python, the Python workers and the JVM's non-heap
        # memory (metaspace, code cache, threads, direct buffers).
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={work.sub('tmp')} "
                                          f"-Xms{driver_mem()} -XX:+AlwaysPreTouch "
                                          "-XX:-UseDynamicNumberOfCompilerThreads"),
        "spark.ui.showConsoleProgress": "false",
        "spark.python.worker.reuse": "true",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": work.sub("events"),
            "spark.eventLog.compress": "false",
        })
    with open(os.path.join(work.sub("conf"), "spark-defaults.conf"), "w") as f:
        for k, v in conf.items():
            f.write(f"{k} {v}\n")
    with open(os.path.join(work.sub("conf"), "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n")


def start_session():
    from e_commerce_etl_pipeline_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fork_workers(spark, cpus: int) -> None:
    """One tiny Arrow job per core so the Python worker pool exists
    before anything is timed."""
    import pandas as pd

    def ident(batches):
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    spark.range(cpus * 4, numPartitions=cpus).mapInPandas(ident, "id long") \
        .write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for both."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — TimeoutExpired: escalate
            proc.kill()
            proc.wait(timeout=30)


def _stat(path: str) -> tuple[str, list[str]] | None:
    """Command name and the fields after it of a ``/proc`` stat file."""
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(f"/proc/{d}/stat")) is not None:
            out[int(d)] = (int(st[1][1]), st[0])
    return out


def _descendants() -> list[tuple[int, str]]:
    """(pid, command name) of this process and its descendants — the JVM
    and the Python worker daemon and workers. A child the JVM has spawned
    but not yet exec'd (``chmod`` for local file permissions) shares the
    JVM's pages, so java children of java are left out."""
    procs = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out = []
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        ppid, name = procs.get(pid, (0, "?"))
        if not (name == "java" and procs.get(ppid, (0, ""))[1] == "java"):
            out.append((pid, name))
    return out


_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    including the children they have reaped, less the JVM's JIT compiler
    threads. JIT compilation is a warm-up cost that a long-running
    driver amortizes, and how much of it lands in one operation varies
    from run to run. Time the host steals from this machine's CPUs is
    not counted, so the figure moves less with other tenants' load than
    wall time does. The compiler threads must live as long as the JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``): a thread that exits
    leaves its time in the process total."""
    total = 0
    for pid, name in _descendants():
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        total += sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
        if name == "java":
            try:
                tids = os.listdir(f"/proc/{pid}/task")
            except OSError:
                continue
            for tid in tids:
                th = _stat(f"/proc/{pid}/task/{tid}/stat")
                if th is not None and "CompilerThre" in th[0]:
                    total -= int(th[1][11]) + int(th[1][12])
    return total / _TCK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss() -> dict[str, float]:
    """Peak resident MB (``VmHWM``) of this process and its descendants,
    summed per command name. Read once, before Spark stops: with worker
    reuse the workers live as long as the JVM."""
    out: dict[str, float] = {}
    for pid, name in _descendants():
        out[name] = out.get(name, 0.0) + _hwm_kb(pid) / 1024.0
    return out
