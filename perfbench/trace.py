"""Tracing from outside the package, for the traced run (``--trace 1``).

Spans are recorded in the benchmark's own code around each call into a
layer: the extract it hands the pipelines (``sources``), the transform
(``transforms``), ``full_load_pipeline`` / ``incremental_pipeline``
(``pipelines``), ``RunAudit.record`` (``pipelines.audit``), and — by
wrapping the package's public entry points — ``upsert.keep_newest``
(``dedup``), ``write_table`` (``upsert.write_table``), ``upsert``
(``upsert.merge``) and ``index_store.invalidate``. Registry entries get
``queries.call`` (the eager part of the call) and ``queries.exec`` (the
``noop`` write), both inside a ``queries.entry`` span.

Each span runs its Spark jobs under its own job group, so jobs, stages
and tasks come from Spark's status tracker per span, and bytes, spill
and Python-worker figures from Spark's event log (turned on for the
traced run only). Layer outputs are materialized at the boundary
(persist + count) so each layer's busy time is its own; the extra
counting that needs (``probe`` spans) is excluded from every layer
figure. Staged-table directories are listed before and after each write
for file, byte and bucket counts.

Tracing changes what runs, so its figures are not the end-to-end ones;
the traced run reports ``tracing.overhead_s``, the traced minus the
untraced median operation of the same run.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import os
import time
from collections import defaultdict

from .stats import median


class NullTracer:
    """Untraced runs: every hook is a no-op."""

    active = False

    def wrap_transform(self, source, fn):
        return fn

    def wrap_extract(self, source, fn):
        return fn

    def wrap_audit(self, audit) -> None:
        pass

    def span(self, name, **attrs):
        return contextlib.nullcontext()

    op = span
    phase = span


def listing(path: str) -> dict[str, int]:
    """Relative path -> size of every data file under a table directory."""
    out = {}
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


# event-log accumulable names -> layer counter
_STAGE_ACCUMS = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.memoryBytesSpilled": "spill_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    "time to run Python workers": "python_worker_ms",
    "data sent to Python workers": "python_bytes_to",
    "data returned from Python workers": "python_bytes_from",
}


class Tracer:
    def __init__(self, spark, work):
        self.spark, self.work = spark, work
        self.sc = spark.sparkContext
        self.active = False
        self.phase_name = "setup"
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ops: list[dict] = []
        self.op_cur: dict | None = None
        self.ids = itertools.count(1)
        self.keep: list = []  # DataFrames persisted at layer boundaries
        self.probe_dir = work.sub("probe")
        self.invalidations = defaultdict(int)  # phase -> calls
        self.builds_start = self._builds()
        self._patch()

    # ---- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        sid = f"pb-{next(self.ids)}"
        parent = self.stack[-1] if self.stack else None
        if name == "queries.entry":
            attrs["entry_id"] = sid
        elif parent is not None:  # spans inside a registry entry know it
            attrs = {**{k: v for k, v in parent["attrs"].items()
                        if k in ("entry", "cls", "entry_id")}, **attrs}
        rec = {"id": sid, "name": name, "parent": parent and parent["id"],
               "phase": self.phase_name, "op": self.op_cur and self.op_cur["i"],
               "attrs": attrs, "children_s": 0.0}
        self.stack.append(rec)
        self.sc.setJobGroup(sid, name)
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                parent["children_s"] += rec["t1"] - rec["t0"]
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._jobs_of(rec)
            self.spans.append(rec)

    def _jobs_of(self, rec: dict) -> None:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(rec["id"]))
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        rec.update(jobs=jobs, n_jobs=len(jobs), n_stages=len(stages), n_tasks=tasks)

    @contextlib.contextmanager
    def op(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        self.op_cur = {"i": len(self.ops), "name": name, "attrs": attrs,
                       "phase": self.phase_name}
        t = time.perf_counter()
        try:
            yield self.op_cur
        finally:
            self.op_cur["wall_s"] = time.perf_counter() - t
            self.ops.append(self.op_cur)
            self.op_cur = None
            for df in self.keep:
                df.unpersist()
            self.keep = []

    @contextlib.contextmanager
    def phase(self, name: str, active: bool = True):
        prev = (self.phase_name, self.active)
        self.phase_name, self.active = name, active
        try:
            yield
        finally:
            self.phase_name, self.active = prev

    def probe(self):
        """Counting the tracer adds: excluded from every layer figure."""
        return self.span("probe")

    def _materialize(self, df):
        df = df.persist()
        self.keep.append(df)
        return df, df.count()

    # ---- wrappers --------------------------------------------------------

    def wrap_extract(self, source: str, extractor):
        def extract(spark, window=None):
            if not self.active:
                return extractor(spark, window=window)
            api = extractor.api
            p0, r0, b0 = api.pages, api.records, extractor.bytes_landed
            with self.span("sources", source=source) as rec:
                out = extractor(spark, window=window)
            rec["attrs"].update(pages=api.pages - p0, records=api.records - r0,
                                bytes=extractor.bytes_landed - b0)
            return out
        return extract

    def wrap_transform(self, source: str, fn):
        @functools.wraps(fn)
        def transform(raw):
            if not self.active:
                return fn(raw)
            with self.probe():
                raw, rows_in = self._materialize(raw)
            with self.span("transforms", source=source) as rec:
                out = fn(raw)
                tables = out if isinstance(out, dict) else {"": out}
                rows_out = 0
                for k, df in tables.items():
                    tables[k], n = self._materialize(df)
                    rows_out += n
            rec["attrs"].update(rows_in=rows_in, rows_out=rows_out)
            return tables if isinstance(out, dict) else tables[""]
        return transform

    def wrap_audit(self, audit) -> None:
        record = audit.record

        def traced_record(row):
            with self.span("pipelines.audit"):
                return record(row)
        audit.record = traced_record

    def _patch(self) -> None:
        # operators/__init__ re-exports functions named like these modules
        index_store = importlib.import_module("e_commerce_etl_pipeline_spark.operators.index_store")
        upsert_mod = importlib.import_module("e_commerce_etl_pipeline_spark.operators.upsert")
        etl = importlib.import_module("e_commerce_etl_pipeline_spark.pipelines.etl")

        keep_newest, write_table, merge = (upsert_mod.keep_newest, etl.write_table, etl.upsert)
        invalidate = index_store.invalidate
        tr = self

        @functools.wraps(keep_newest)
        def traced_keep_newest(df, *a, **k):
            if not tr.active:
                return keep_newest(df, *a, **k)
            with tr.probe():
                n_in = df.count()
            with tr.span("dedup") as rec:
                out, n_out = tr._materialize(keep_newest(df, *a, **k))
            rec["attrs"].update(rows_in=n_in, rows_dropped=n_in - n_out)
            return out

        @functools.wraps(write_table)
        def traced_write_table(spark, df, table_path, *a, **k):
            if not tr.active:
                return write_table(spark, df, table_path, *a, **k)
            with tr.span("upsert.write_table", table=os.path.basename(table_path)) as rec:
                write_table(spark, df, table_path, *a, **k)
            files = listing(table_path)
            rec["attrs"].update(files=len(files), bytes=sum(files.values()))

        @functools.wraps(merge)
        def traced_upsert(spark, source, table_path, *a, **k):
            if not tr.active:
                return merge(spark, source, table_path, *a, **k)
            from pyspark.sql import functions as F

            with tr.probe():
                batch_id = source.select("etl_batch_id").first()[0]
                offered = source.count()
            before = listing(table_path)
            with tr.span("upsert.merge", table=os.path.basename(table_path)) as rec:
                merge(spark, source, table_path, *a, **k)
            after = listing(table_path)
            new = {f: n for f, n in after.items() if f not in before}
            gone = [f for f in before if f not in after]
            touched = sorted({f.split("/", 1)[0] for f in list(new) + gone})
            with tr.probe():
                t = spark.read.parquet(table_path)
                changed_df = t.filter(F.col("etl_batch_id") == batch_id)
                changed = changed_df.count()
                bucket_ids = [int(b.split("=", 1)[1]) for b in touched]
                in_touched = t.filter(F.col("__bucket").isin(bucket_ids)).count()
                probe = os.path.join(tr.probe_dir, rec["id"])
                changed_df.drop("__bucket").coalesce(1).write.parquet(probe)
                changed_bytes = sum(listing(probe).values())
            rec["attrs"].update(
                offered=offered, changed=changed, buckets_touched=len(touched),
                bytes_rewritten=sum(new.values()), rows_in_touched=in_touched,
                changed_bytes=changed_bytes if changed else 0)

        @functools.wraps(invalidate)
        def traced_invalidate(table_path, spark=None):
            if tr.active:
                tr.invalidations[tr.phase_name] += 1
            return invalidate(table_path, spark)

        upsert_mod.keep_newest = traced_keep_newest
        etl.write_table = traced_write_table
        etl.upsert = traced_upsert
        index_store.invalidate = traced_invalidate

    @staticmethod
    def _builds() -> int:
        index_store = importlib.import_module("e_commerce_etl_pipeline_spark.operators.index_store")
        return sum(getattr(index_store, "BUILD_COUNTS", {}).values())

    # ---- roll-up ---------------------------------------------------------

    def _event_log(self) -> dict[str, dict]:
        """Span id -> summed stage and job figures from the event log."""
        # Spark 4 writes a rolling log: a directory of ``events_<n>_*`` files
        logs = sorted((os.path.join(d, f) for d, _, fs in os.walk(self.work.sub("events"))
                       for f in fs if f.startswith("events_")),
                      key=lambda p: int(os.path.basename(p).split("_")[1]))
        job_group, job_time, stage_job, stage_acc = {}, defaultdict(float), {}, {}
        starts = {}
        for path in logs:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        j = ev["Job ID"]
                        job_group[j] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        starts[j] = ev["Submission Time"]
                        for s in ev.get("Stage IDs", ()):
                            stage_job[s] = j
                    elif kind == "SparkListenerJobEnd":
                        j = ev["Job ID"]
                        job_time[j] = (ev["Completion Time"] - starts.get(j, ev["Completion Time"])) / 1e3
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        acc = defaultdict(float)
                        for a in info.get("Accumulables", ()):
                            key = _STAGE_ACCUMS.get(a.get("Name"))
                            if key is not None:
                                try:
                                    acc[key] += float(a.get("Value") or 0)
                                except (TypeError, ValueError):
                                    pass
                        stage_acc[info["Stage ID"]] = acc
        per_span: dict[str, dict] = defaultdict(lambda: defaultdict(float))
        for j, g in job_group.items():
            if g is not None:
                per_span[g]["job_s"] += job_time.get(j, 0.0)
        for s, acc in stage_acc.items():
            g = job_group.get(stage_job.get(s))
            if g is not None:
                for k, v in acc.items():
                    per_span[g][k] += v
        return per_span

    def finish(self) -> dict:
        """Per-layer metrics ``name -> (value, unit)`` plus ``_detail``."""
        ev = self._event_log()
        for s in self.spans:
            s.update(ev.get(s["id"], {}))
            s["dur"] = s["t1"] - s["t0"]

        def spans(name=None, phase=None, op=None):
            return [s for s in self.spans
                    if (name is None or s["name"] == name)
                    and (phase is None or s["phase"] == phase)
                    and (op is None or s["op"] == op)]

        def tot(ss, key):
            return sum(s.get(key, 0) for s in ss)

        def attr(ss, key):
            return sum(s["attrs"].get(key, 0) for s in ss)

        bf = "backfill"
        m: dict[str, tuple[float, str]] = {}
        m["sources.busy_s"] = (tot(spans("sources", bf), "dur"), "s")
        m["sources.pages"] = (attr(spans("sources", bf), "pages"), "count")
        m["sources.records"] = (attr(spans("sources", bf), "records"), "count")
        m["sources.bytes_landed"] = (attr(spans("sources", bf), "bytes"), "B")
        m["transforms.busy_s"] = (tot(spans("transforms", bf), "dur"), "s")
        m["transforms.rows_in"] = (attr(spans("transforms", bf), "rows_in"), "count")
        m["transforms.rows_out"] = (attr(spans("transforms", bf), "rows_out"), "count")
        m["dedup.busy_s"] = (tot(spans("dedup", bf), "dur"), "s")
        m["dedup.rows_dropped"] = (attr(spans("dedup", bf), "rows_dropped"), "count")
        m["upsert.write_table_s"] = (tot(spans("upsert.write_table", bf), "dur"), "s")
        m["upsert.files_written"] = (attr(spans("upsert.write_table", bf), "files"), "count")

        loop_ops = [o for o in self.ops if o["phase"] == "loop"]
        per_op = []
        for o in loop_ops:
            ss = spans(op=o["i"], phase="loop")
            mg = [s for s in ss if s["name"] == "upsert.merge"]
            pl = [s for s in ss if s["name"] == "pipelines"]
            layer = [s for s in ss if s["name"] != "probe"]
            probes = [s for s in ss if s["name"] == "probe"]
            changed = attr(mg, "changed")
            row = {
                "op": o["name"], "wall_s": o["wall_s"],
                "traced_net_s": o["wall_s"] - tot(probes, "dur"),
                "merge_s": tot(mg, "dur"),
                "buckets_touched": attr(mg, "buckets_touched"),
                "bytes_rewritten": attr(mg, "bytes_rewritten"),
                "write_amp": (attr(mg, "bytes_rewritten") / attr(mg, "changed_bytes")
                              if attr(mg, "changed_bytes") else 0.0),
                "rows_rewritten_per_change": (attr(mg, "rows_in_touched") / changed
                                              if changed else 0.0),
                "apply_ratio": changed / attr(mg, "offered") if attr(mg, "offered") else 0.0,
                "pipelines_self_s": sum(s["dur"] - s["children_s"] for s in pl),
                "audit_s": tot(spans("pipelines.audit", "loop", o["i"]), "dur"),
                "readback_s": tot(pl, "job_s"),
                "call_s": tot(spans("queries.call", "loop", o["i"]), "dur"),
                "exec_s": tot(spans("queries.exec", "loop", o["i"]), "dur"),
                "jobs": tot(layer, "n_jobs"), "stages": tot(layer, "n_stages"),
                "tasks": tot(layer, "n_tasks"),
                "shuffle_write_bytes": tot(layer, "shuffle_write_bytes"),
                "spill_bytes": tot(layer, "spill_bytes"),
                "python_worker_s": tot(layer, "python_worker_ms") / 1e3,
                "python_bytes_to": tot(layer, "python_bytes_to"),
                "python_bytes_from": tot(layer, "python_bytes_from"),
            }
            per_op.append(row)

        def med(key, rows=per_op):
            return median([r[key] for r in rows]) if rows else 0.0

        for key, name, unit in (
                ("merge_s", "upsert.merge_s", "s"),
                ("buckets_touched", "upsert.buckets_touched", "count"),
                ("bytes_rewritten", "upsert.bytes_rewritten", "B"),
                ("write_amp", "upsert.write_amp", "ratio"),
                ("rows_rewritten_per_change", "upsert.rows_rewritten_per_change", "ratio"),
                ("apply_ratio", "upsert.apply_ratio", "ratio"),
                ("pipelines_self_s", "pipelines.self_s", "s"),
                ("audit_s", "pipelines.audit_s", "s"),
                ("readback_s", "pipelines.readback_s", "s"),
                ("call_s", "queries.call_s", "s"),
                ("exec_s", "queries.exec_s", "s"),
                ("jobs", "spark.jobs", "count"), ("stages", "spark.stages", "count"),
                ("tasks", "spark.tasks", "count"),
                ("shuffle_write_bytes", "spark.shuffle_write_bytes", "B"),
                ("spill_bytes", "spark.spill_bytes", "B"),
                ("python_worker_s", "python.worker_s", "s"),
                ("python_bytes_to", "python.bytes_to_worker", "B"),
                ("python_bytes_from", "python.bytes_from_worker", "B")):
            m[name] = (med(key), unit)
        entries = []
        for e in spans("queries.entry", "loop"):
            inner = [s for s in self.spans if s["attrs"].get("entry_id") == e["id"]]
            entries.append({"entry": e["attrs"]["entry"], "cls": e["attrs"]["cls"],
                            "s": e["dur"],
                            "python_worker_s": tot(inner, "python_worker_ms") / 1e3})
        for cls in ("sql", "kernel"):
            rows = [r for r in entries if r["cls"] == cls]
            m[f"queries.{cls}_p50_s"] = (med("s", rows), "s")
            m[f"python.worker_s_{cls}"] = (med("python_worker_s", rows), "s")
        m["index_store.builds"] = (self._builds() - self.builds_start, "count")
        n_loop = max(1, len(loop_ops))
        m["index_store.invalidations"] = (self.invalidations["loop"] / n_loop, "count")
        m["_detail"] = {
            "per_op": per_op,
            "python_worker_s_by_entry": _by_entry(entries),
            "buckets_touched_per_batch": [r["buckets_touched"] for r in per_op
                                          if r["op"] == "cdc_batch"],
        }
        return m


def _by_entry(entries: list[dict]) -> dict[str, list[float]]:
    out: dict[str, list[float]] = defaultdict(list)
    for r in entries:
        out[r["entry"]].append(r["python_worker_s"])
    return dict(out)
