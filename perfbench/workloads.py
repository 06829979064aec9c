"""The two closed-loop workloads, each driven by one client (this
process) through the package's public functions.

A workload has ``setup`` (everything before the first timed operation),
``step`` (one timed operation; returns its seconds) and ``check`` (the
correctness gates, run after the timed loop), and reports its end-to-end
figures through ``summary``.
"""

from __future__ import annotations

import os
import random
import time

from . import gen, model
from .harness import cpu_s
from .stats import OpLedger, median, tail


def staged_lines(spark, staging: str, table: str) -> list[str]:
    """The staged table's projection as canonical lines (see model.SPEC)."""
    from e_commerce_etl_pipeline_spark.operators.upsert import read_upsert_table

    spec = model.SPEC[table]
    path = f"{staging}/{table}"
    if not os.path.exists(path):
        return []
    df = read_upsert_table(spark, path).selectExpr(
        *[f"{e} AS {c}" for c, e in zip(spec.cols, spec.spark)])
    return [model.canonical(r) for r in df.collect()]


def compare_to_model(spark, staging: str, wh: model.Warehouse, tables) -> list[str]:
    """Names of staged tables whose projection differs from the model."""
    bad = []
    for t in tables:
        if model.table_digest(staged_lines(spark, staging, t)) != model.table_digest(wh.lines(t)):
            bad.append(t)
    return bad


class Pipelines:
    """Source pipelines over one fake API and one staging root."""

    def __init__(self, spark, work, tracer, sources):
        from e_commerce_etl_pipeline_spark.pipelines import RunAudit

        from .sources import FakeApi, make_pipelines

        self.spark, self.work, self.tr = spark, work, tracer
        self.api = FakeApi()
        self.pipes = make_pipelines(self.api, work.sub("land"), sources, tracer.wrap_transform)
        for s, (pipe, ex) in self.pipes.items():
            pipe.extract = tracer.wrap_extract(s, ex)
        self.audit = RunAudit(spark, work.sub("audit"))
        tracer.wrap_audit(self.audit)

    def full_load(self, staging: str) -> dict[str, int]:
        from e_commerce_etl_pipeline_spark.pipelines import full_load_pipeline

        counts = {}
        for s, (pipe, _) in self.pipes.items():
            with self.tr.span("pipelines", source=s):
                counts.update(full_load_pipeline(self.spark, pipe, staging, audit=self.audit))
        return counts

    def incremental(self, staging: str, window) -> dict[str, int]:
        from e_commerce_etl_pipeline_spark.pipelines import incremental_pipeline

        offered = {}
        for s, (pipe, _) in self.pipes.items():
            with self.tr.span("pipelines", source=s):
                offered.update(incremental_pipeline(self.spark, pipe, staging, window,
                                                    audit=self.audit))
        return offered

    def clear_landed(self) -> None:
        for _, ex in self.pipes.values():
            ex.clear_landed()


class Cdc:
    """Merge path: micro-batches of one lookback window per source through
    ``incremental_pipeline`` into a warehouse that set-up backfilled.

    Set-up lands every page of the sources and full-loads their staged
    tables (timed, reported as the backfill rate), checks the flatten
    validators and row counts, then runs warm-up batches. One timed
    operation is one micro-batch; the end state is compared with the
    model after the loop.

    Only TikTok runs: one staged table, guarded on status, tracking and
    carrier. A batch costs about 4 s per staged table whatever its size,
    so the 8 tables of all three sources would allow one batch per run
    and no warm-up, and one cold batch per run spread too widely from
    run to run to bound."""

    name = "cdc"
    uses_python_workers = False
    SOURCES = ("tiktok",)
    N_ORDERS = 1000
    CHANGE_FRAC = 0.01
    WARMUP_BATCHES = 1

    def __init__(self, spark, work, tracer, seed: int):
        self.spark, self.work, self.tr, self.seed = spark, work, tracer, seed
        self.ledger = OpLedger()
        self.lat: list[float] = []
        self.cpu: list[float] = []
        self.offered: list[int] = []
        self.batches = 0
        self.staging = work.sub("staging")
        self.tables = model.tables_of(self.SOURCES)

    def setup(self) -> None:
        base = gen.backfill_records(self.seed, self.N_ORDERS, sources=self.SOURCES)
        self.model = model.Warehouse()
        self.model.full_load(base)
        self.stream = gen.ChangeStream(self.seed, base, self.CHANGE_FRAC)
        self.p = Pipelines(self.spark, self.work, self.tr, self.SOURCES)
        self.p.api.serve(base)
        with self.tr.phase("backfill"):
            t = time.perf_counter()
            with self.tr.op("backfill"):
                counts = self.p.full_load(self.staging)
            self.backfill_s = time.perf_counter() - t
        self.backfill_rows = sum(counts.values())
        t = time.perf_counter()
        self.check_backfill(base, counts)
        self.phases = {"backfill_s": self.backfill_s, "backfill_check_s": time.perf_counter() - t}
        t = time.perf_counter()
        for _ in range(self.WARMUP_BATCHES):
            self.step()
        self.phases["warmup_s"] = time.perf_counter() - t
        self.reset_samples()

    def check_backfill(self, base: dict[str, list[dict]], counts: dict[str, int]) -> None:
        """Flatten validators on the landed pages, FK containment and row
        counts against the model, for the sources that run."""
        from e_commerce_etl_pipeline_spark.operators.upsert import read_upsert_table
        from e_commerce_etl_pipeline_spark.transforms.misa import validate_misa_flatten
        from e_commerce_etl_pipeline_spark.transforms.shopee import validate_fk_containment
        from e_commerce_etl_pipeline_spark.transforms.tiktok import validate_tiktok_flatten

        from .sources import SCHEMAS, TRANSFORMS

        problems = []
        # the pages the backfill landed; the validators count orders in,
        # so exact re-deliveries are removed first
        raws = {s: self.spark.read.schema(SCHEMAS[s]).json(ex.landed)
                .dropDuplicates(["order_sn" if s == "shopee" else "id"])
                for s, (_, ex) in self.p.pipes.items()}
        if "tiktok" in raws:
            tk = validate_tiktok_flatten(raws["tiktok"], TRANSFORMS["tiktok"](raws["tiktok"]))
            if not (tk["orders_match"] and tk["items_match"]):
                problems.append(f"validate_tiktok_flatten {tk}")
        if "misa" in raws:
            mi = validate_misa_flatten(raws["misa"], TRANSFORMS["misa"](raws["misa"]))
            want = gen.misa_shape({r["id"]: r for r in base["misa"]}.values())
            if {k: mi[k] for k in want} != want:
                problems.append(f"validate_misa_flatten {mi} != {want}")
        if "shopee" in raws:
            shopee = {t: read_upsert_table(self.spark, f"{self.staging}/{t}")
                      for t in self.tables if t.startswith("shopee_")}
            orphans = validate_fk_containment(shopee)
            if any(orphans.values()):
                problems.append(f"FK orphans {orphans}")
        want = {t: n for t, n in self.model.row_counts().items() if t in self.tables}
        if counts != want:
            problems.append(f"row counts {counts} != {want}")
        self.p.clear_landed()
        self.ledger.record(not problems, "; ".join(problems))

    def step(self) -> float:
        bounds, window = self.stream.next_window()
        self.model.merge(window)
        self.p.api.serve(window)
        c, t = cpu_s(), time.perf_counter()
        with self.tr.op("cdc_batch"):
            self.p.incremental(self.staging, bounds)
        dt = time.perf_counter() - t
        self.cpu.append(cpu_s() - c)
        self.p.clear_landed()
        self.ledger.record(True)
        self.batches += 1
        self.lat.append(dt)
        self.offered.append(sum(len(v) for v in window.values()))
        return dt

    def reset_samples(self) -> None:
        self.lat, self.cpu, self.offered = [], [], []

    def check(self) -> None:
        """The end state after the loop must equal the model's. Window 1
        re-delivers half of the backfill's last pages on keys no fresh
        change touches, so a re-delivery that changed a row fails here."""
        bad = compare_to_model(self.spark, self.staging, self.model, self.tables)
        if bad:  # every batch run contributed to the wrong state
            self.ledger.fail_last(self.batches, f"model mismatch after loop: {bad}")
        self.ledger.record(not bad)

    def summary(self) -> dict:
        rates = [n / s for n, s in zip(self.offered, self.lat)]
        return {"lat": self.lat, "cpu": self.cpu,
                "named": {"backfill_rows_per_s": self.backfill_rows / self.backfill_s,
                          "backfill_s": self.backfill_s, "staged_rows": self.backfill_rows,
                          "cdc_batch_p50_s": median(self.lat),
                          "cdc_batch_tail_s": tail(self.lat),
                          "cdc_changes_per_s": median(rates), "changes_offered": self.offered,
                          "setup_phases": self.phases}}


# registry entries of the queries workload, by class
SQL_ENTRIES = ("q1_pricing_summary", "sales_rollup", "q3_top_unshipped")
KERNEL_ENTRIES = ("multimodal_features", "user_value_median_pandas", "brute_force_topk")


class Queries:
    """Read-only registry loop over seed-generated tables; each entry is
    materialized by a ``noop`` write. One operation is one pass over all
    entries in a seeded order (a dashboard refresh); entry latencies are
    reported per class. A pass, not an entry, is the operation because
    the entries' latencies differ several-fold, so a median over entries
    jumps between them from run to run."""

    name = "queries"
    uses_python_workers = True
    N_ORDERS = 3000
    N_DOCS = 400
    WARMUP_PASSES = 2

    def __init__(self, spark, work, tracer, seed: int):
        self.spark, self.work, self.tr, self.seed = spark, work, tracer, seed
        self.ledger = OpLedger()
        self.lat: dict[str, list[float]] = {"sql": [], "kernel": []}
        self.sf = work.sub("sf")
        self.rng = random.Random(f"queries-order:{seed}")
        self.pass_lat: list[float] = []
        self.pass_cpu: list[float] = []
        self.runs: dict[str, int] = {}

    def setup(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import __spark_entry__

        os.makedirs(self.sf)
        for name, cols in gen.analytics_tables(self.seed, self.N_ORDERS, self.N_DOCS).items():
            pq.write_table(pa.table(cols), f"{self.sf}/{name}.parquet")
        reg = __spark_entry__.queries()
        self.fns = {n: reg[n] for n in SQL_ENTRIES + KERNEL_ENTRIES}
        self.cls = {**{n: "sql" for n in SQL_ENTRIES}, **{n: "kernel" for n in KERNEL_ENTRIES}}
        # the first pass builds artifacts and generates code; the JIT then
        # still takes a fifth off each of the next few passes
        for _ in range(self.WARMUP_PASSES):
            self.step()
        self.reset_samples()

    def run_entry(self, name: str) -> float:
        t = time.perf_counter()
        with self.tr.span("queries.entry", entry=name, cls=self.cls[name]):
            with self.tr.span("queries.call"):
                df = self.fns[name](self.spark, self.sf)
            with self.tr.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    def step(self) -> float:
        order = list(self.fns)
        self.rng.shuffle(order)
        c, t = cpu_s(), time.perf_counter()
        with self.tr.op("queries_pass"):
            for name in order:
                self.lat[self.cls[name]].append(self.run_entry(name))
                self.ledger.record(True)
                self.runs[name] = self.runs.get(name, 0) + 1
        dt = time.perf_counter() - t
        self.pass_cpu.append(cpu_s() - c)
        self.pass_lat.append(dt)
        return dt

    def reset_samples(self) -> None:
        self.lat, self.pass_lat, self.pass_cpu = {"sql": [], "kernel": []}, [], []

    def check(self) -> None:
        """Each entry against its DuckDB oracle (row count, columns and an
        order-insensitive value hash)."""
        import duckdb

        import __spark_entry__

        oracle = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        con.sql("SET threads TO 2")
        for t in ("region", "nation", "customer", "supplier", "part", "orders",
                  "lineitem", "events", "documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
        for name, fn in self.fns.items():
            df = fn(self.spark, self.sf)
            got = _result_hash(df.columns, [tuple(r) for r in df.collect()])
            rel = con.sql(oracle[name])
            want = _result_hash(rel.columns, rel.fetchall())
            if got != want:  # every timed run of the entry returned it
                self.ledger.fail_last(self.runs[name], f"{name}: oracle mismatch")
            self.ledger.record(got == want)
        con.close()

    def summary(self) -> dict:
        entries = self.lat["sql"] + self.lat["kernel"]
        rate = len(entries) / sum(entries)
        return {"lat": self.pass_lat, "cpu": self.pass_cpu,
                "named": {"query_sql_p50_s": median(self.lat["sql"]),
                          "query_sql_tail_s": tail(self.lat["sql"]),
                          "query_kernel_p50_s": median(self.lat["kernel"]),
                          "query_kernel_tail_s": tail(self.lat["kernel"]),
                          "queries_per_s": rate, "passes": len(self.pass_lat)}}


def _norm(v) -> str:
    """Canonical cell text. Floats compare at 6 decimals: the two engines
    may sum in different orders."""
    import datetime
    import decimal
    import math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 6) + 0.0)
    if isinstance(v, decimal.Decimal):
        return repr(round(float(v), 6) + 0.0)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def _result_hash(cols, rows) -> tuple:
    """Row count, sorted column names and an order-insensitive value hash."""
    import hashlib

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(rows), tuple(sorted(cols)), h


WORKLOADS = {"cdc": Cdc, "queries": Queries}
