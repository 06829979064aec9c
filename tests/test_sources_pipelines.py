"""Source adapters (pagination strategies, pushdown, detail batching,
auth) and the full-load / incremental pipeline drivers, end-to-end with
fake fetchers — parity with SURVEY.md §2.1 and §3."""

import json
import os

import pytest
from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.pipelines import (
    RunAudit,
    full_load_pipeline,
    incremental_pipeline,
)
from e_commerce_etl_pipeline_spark.operators.upsert import read_upsert_table
from e_commerce_etl_pipeline_spark.pipelines.etl import SourcePipeline
from e_commerce_etl_pipeline_spark.schemas import TIKTOK_ORDER_SCHEMA
from e_commerce_etl_pipeline_spark.sources import (
    PageSpec,
    PaginatedApiSource,
    TokenCache,
    hmac_sha256_signature,
    jwt_expiry,
)
from e_commerce_etl_pipeline_spark.sources.api_adapter import to_dataframe
from e_commerce_etl_pipeline_spark.sources.auth import canonical_base_string
from e_commerce_etl_pipeline_spark.transforms import transform_tiktok_orders


def test_cursor_pagination_with_window_pushdown():
    calls = []

    def fetch(endpoint, params):
        calls.append(dict(params))
        page = len(calls)
        return {
            "records": [{"id": f"o{page}-{i}"} for i in range(2)],
            "next_cursor": f"c{page}",
            "more": page < 3,
        }

    src = PaginatedApiSource(
        fetch_fn=fetch,
        spec=PageSpec(strategy="cursor", page_size=2,
                      window_start_param="create_time_ge",
                      window_end_param="create_time_lt"),
        endpoint="/orders/search",
    )
    batches = list(src.pages(window=(100, 200)))
    assert len(batches) == 3 and sum(len(b) for b in batches) == 6
    # pushdown: every request carries the window (O1)
    assert all(c["create_time_ge"] == 100 and c["create_time_lt"] == 200 for c in calls)
    # cursor chaining
    assert calls[1]["cursor"] == "c1" and calls[2]["cursor"] == "c2"


def test_page_index_stops_on_short_page():
    def fetch(endpoint, params):
        page = params["page"]
        n = 3 if page < 2 else 1  # short page on page 2
        return {"records": [{"id": page * 10 + i} for i in range(n)]}

    src = PaginatedApiSource(
        fetch_fn=fetch,
        spec=PageSpec(strategy="page_index", page_size=3),
        endpoint="/Customers",
    )
    batches = list(src.pages())
    assert [len(b) for b in batches] == [3, 1]


def test_detail_batching_and_projection_pushdown():
    calls = []

    def fetch(endpoint, params):
        calls.append(dict(params))
        return {"records": [{"order_sn": sn} for sn in params["order_sn_list"]]}

    src = PaginatedApiSource(
        fetch_fn=fetch,
        spec=PageSpec(strategy="cursor", fields_param="response_optional_fields"),
        endpoint="/get_order_detail",
    )
    ids = [f"sn{i}" for i in range(40)]
    batches = list(src.fetch_details(ids, batch_size=15,
                                     ids_param="order_sn_list",
                                     fields=["order_status", "item_list"]))
    assert [len(b) for b in batches] == [15, 15, 10]  # <=15/call (S6)
    assert all(c["response_optional_fields"] == "order_status,item_list" for c in calls)


def test_auth_retry_on_401():
    state = {"token": "bad", "refreshes": 0}

    def refresh():
        state["refreshes"] += 1
        state["token"] = "good"

    def fetch(endpoint, params):
        if state["token"] != "good":
            raise PermissionError("401")
        return {"records": [{"id": 1}], "more": False}

    src = PaginatedApiSource(
        fetch_fn=fetch,
        spec=PageSpec(strategy="cursor"),
        endpoint="/x",
        on_auth_error=refresh,
    )
    batches = list(src.pages())
    assert state["refreshes"] == 1 and len(batches) == 1


def test_chunked_windows():
    src = PaginatedApiSource(
        fetch_fn=lambda e, p: {}, spec=PageSpec(strategy="cursor"), endpoint="/x"
    )
    day = 86400
    chunks = src.chunked_windows(0, 25 * day, 10 * day)
    assert chunks == [(0, 10 * day), (10 * day, 20 * day), (20 * day, 25 * day)]


def test_signing_and_jwt():
    base = canonical_base_string("/api/orders", {"b": 2, "a": 1}, "{}")
    assert base == "/api/ordersa1b2{}"
    sig = hmac_sha256_signature("secret", base)
    assert len(sig) == 64 and sig == hmac_sha256_signature("secret", base)
    assert sig != hmac_sha256_signature("other", base)

    import base64 as b64
    payload = b64.urlsafe_b64encode(json.dumps({"exp": 1234567890}).encode()).decode().rstrip("=")
    assert jwt_expiry(f"h.{payload}.s") == 1234567890
    assert jwt_expiry("garbage") is None


def test_token_cache_refreshes_on_expiry():
    import time as _t

    n = {"refreshes": 0}

    def refresh():
        n["refreshes"] += 1
        return {"access_token": f"t{n['refreshes']}", "expires_at": _t.time() + 3600}

    cache = TokenCache(refresh_fn=refresh)
    assert cache.get() == "t1"
    assert cache.get() == "t1"  # cached
    cache.invalidate()
    assert cache.get() == "t2"


def _tiktok_fake_source(orders):
    def fetch(endpoint, params):
        lo = params.get("update_time_ge", 0)
        hi = params.get("update_time_lt", float("inf"))
        recs = [o for o in orders if lo <= o["update_time"] < hi]
        return {"records": recs, "more": False}

    return PaginatedApiSource(
        fetch_fn=fetch,
        spec=PageSpec(strategy="cursor", window_start_param="update_time_ge",
                      window_end_param="update_time_lt"),
        endpoint="/order/search",
    )


ORDERS = [
    {"id": "T1", "status": "CREATED", "create_time": 1000, "update_time": 1000,
     "line_items": [{"id": "L1", "quantity": 1}], "packages": []},
    {"id": "T2", "status": "CREATED", "create_time": 2000, "update_time": 2000,
     "line_items": [], "packages": []},
]


def _mk_pipeline(src):
    def extract(spark, window=None):
        return to_dataframe(spark, src.pages(window=window), TIKTOK_ORDER_SCHEMA)

    return SourcePipeline(
        name="tiktok_shop_order_detail",
        extract=extract,
        transform=transform_tiktok_orders,
        keys=["order_id", "item_id"],
        order_col="update_time",
        guard_cols=["status"],
    )


def test_full_load_then_incremental(spark, tmp_path):
    staging = str(tmp_path / "staging")
    audit = RunAudit(spark, str(tmp_path / "audit"))
    src = _tiktok_fake_source(ORDERS)
    pipe = _mk_pipeline(src)

    counts = full_load_pipeline(spark, pipe, staging, audit)
    assert counts == {"tiktok_shop_order_detail": 2}
    tbl = read_upsert_table(spark, f"{staging}/tiktok_shop_order_detail")
    assert {r.order_id for r in tbl.collect()} == {"T1", "T2"}
    assert "etl_batch_id" in tbl.columns

    # incremental window picks up an update to T1 only
    updated = [
        {"id": "T1", "status": "SHIPPED", "create_time": 1000, "update_time": 5000,
         "line_items": [{"id": "L1", "quantity": 1}], "packages": []},
    ]
    src2 = _tiktok_fake_source(ORDERS + updated)
    pipe2 = _mk_pipeline(src2)
    counts2 = incremental_pipeline(spark, pipe2, staging, window=(4000, 6000), audit=audit)
    assert counts2 == {"tiktok_shop_order_detail": 1}

    out = {r.order_id: r.status for r in
           read_upsert_table(spark, f"{staging}/tiktok_shop_order_detail").collect()}
    assert out == {"T1": "SHIPPED", "T2": "CREATED"}

    runs = audit.runs().collect()
    assert len(runs) == 2 and all(r.status == "SUCCESS" for r in runs)


def test_full_load_readback_error_fails_the_run(spark, tmp_path, monkeypatch):
    """Only a table with no bucket partition (a load of zero rows) reads
    back as 0 rows. Any other read-back error fails the load and is
    audited as FAILED — not as a SUCCESS that loaded nothing."""
    import glob

    from e_commerce_etl_pipeline_spark.pipelines import etl

    audit = RunAudit(spark, str(tmp_path / "audit"))
    assert full_load_pipeline(spark, _mk_pipeline(_tiktok_fake_source([])),
                              str(tmp_path / "empty"), audit) == {
        "tiktok_shop_order_detail": 0}

    write_table = etl.write_table

    def write_then_corrupt(spark_, df, table_path, *args, **kwargs):
        write_table(spark_, df, table_path, *args, **kwargs)
        victim = sorted(glob.glob(f"{table_path}/__bucket=*/*.parquet"))[0]
        with open(victim, "wb") as f:
            f.write(b"not parquet")

    monkeypatch.setattr(etl, "write_table", write_then_corrupt)
    with pytest.raises(Exception):
        full_load_pipeline(spark, _mk_pipeline(_tiktok_fake_source(ORDERS)),
                           str(tmp_path / "staging"), audit)
    assert sorted((r.status, r.records_loaded) for r in audit.runs().collect()) == [
        ("FAILED", None), ("SUCCESS", 0)]


def _unreachable(*_args, **_kwargs):
    raise RuntimeError("source unreachable")


@pytest.mark.parametrize("pipeline", ["incremental", "near_dup"])
def test_failed_run_is_audited_and_reraised(spark, tmp_path, monkeypatch, pipeline):
    """A pipeline run that fails re-raises, and the audit holds exactly one
    FAILED row with the error text and both stamps."""
    from e_commerce_etl_pipeline_spark.extensions import similarity
    from e_commerce_etl_pipeline_spark.pipelines.etl import near_dup_pipeline

    audit = RunAudit(spark, str(tmp_path / "audit"))
    if pipeline == "incremental":
        pipe = SourcePipeline(name="down_src", extract=_unreachable,
                              transform=lambda df: df, keys=["order_id"],
                              order_col="update_time")
        source, method = "down_src", None
        with pytest.raises(RuntimeError, match="source unreachable"):
            incremental_pipeline(spark, pipe, str(tmp_path / "staging"),
                                 window=(0, 10), audit=audit)
    else:
        monkeypatch.setattr(similarity, "near_dup_clusters", _unreachable)
        source, method = "near_dup_clusters", "clusters"
        with pytest.raises(RuntimeError, match="source unreachable"):
            near_dup_pipeline(spark, str(tmp_path / "sf"),
                              str(tmp_path / "out"), audit=audit)
    [run] = audit.runs().collect()
    assert (run.status, run.source_name, run.method) == ("FAILED", source, method)
    assert run.error == "source unreachable"
    assert run.records_loaded is None and run.records_extracted is None
    assert run.started_at is not None and run.finished_at >= run.started_at


def test_incremental_replay_noop(spark, tmp_path):
    staging = str(tmp_path / "staging")
    src = _tiktok_fake_source(ORDERS)
    pipe = _mk_pipeline(src)
    full_load_pipeline(spark, pipe, staging)
    # replay the full window twice — idempotent (ST3)
    for _ in range(2):
        incremental_pipeline(spark, pipe, staging, window=(0, 10_000))
    tbl = read_upsert_table(spark, f"{staging}/tiktok_shop_order_detail")
    assert tbl.count() == 2
    assert tbl.filter(F.col("order_id").isNull()).count() == 0


def test_incremental_single_materialization(spark, tmp_path):
    """The r2 verdict flagged count()-then-upsert re-running the whole
    extract->transform lineage per table. The batch is now counted on the
    upsert's own write and nothing is persisted, so the source lineage
    runs exactly once: the accumulator in the extract's RDD map sees each
    row once, not twice."""
    acc = spark.sparkContext.accumulator(0)

    def extract(spark_, window=None):
        def bump(x):
            acc.add(1)
            return x

        rdd = spark_.sparkContext.parallelize(
            [(f"o{i}", i, 100 + i) for i in range(20)], 2
        ).map(bump)
        return spark_.createDataFrame(
            rdd, "order_id string, update_time long, amount long"
        )

    pipe = SourcePipeline(
        name="acc_src", extract=extract, transform=lambda df: df,
        keys=["order_id"], order_col="update_time",
    )
    staging = str(tmp_path / "staging")
    incremental_pipeline(spark, pipe, staging, window=(0, 10))
    assert acc.value == 20


def _version(order_id, update_time, status):
    return {"id": order_id, "status": status, "create_time": 1000,
            "update_time": update_time, "line_items": [{"id": "L1", "quantity": 1}],
            "packages": []}


def test_warm_incremental_batch_runs_only_its_write(spark, tmp_path, monkeypatch, jobs_of):
    """A warm appending batch runs one Spark query, the delta write: at
    most two jobs (the dedup shuffle's map stage and the write), no count
    of the batch, and no job for its audit row."""
    from pyspark.sql.classic.dataframe import DataFrame

    staging = str(tmp_path / "staging")
    audit = RunAudit(spark, str(tmp_path / "audit"))
    full_load_pipeline(spark, _mk_pipeline(_tiktok_fake_source(ORDERS)), staging, audit)
    pipe = _mk_pipeline(_tiktok_fake_source(
        ORDERS + [_version("T1", 5000, "SHIPPED"), _version("T2", 7000, "DELIVERED")]))
    incremental_pipeline(spark, pipe, staging, window=(4000, 6000), audit=audit)  # warm-up

    counts, real_count = [], DataFrame.count
    monkeypatch.setattr(DataFrame, "count", lambda df: counts.append(df) or real_count(df))
    out = {}
    jobs = jobs_of(lambda: out.update(
        incremental_pipeline(spark, pipe, staging, window=(6000, 8000), audit=audit)))
    assert out == {"tiktok_shop_order_detail": 1}
    assert counts == [] and 1 <= len(jobs) <= 2, jobs
    monkeypatch.undo()
    assert {r.order_id: r.status for r in read_upsert_table(
        spark, f"{staging}/tiktok_shop_order_detail").collect()} == {
        "T1": "SHIPPED", "T2": "DELIVERED"}
    assert [r.records_loaded for r in audit.runs().orderBy("started_at").collect()] == [2, 1, 1]


def test_incremental_empty_window_writes_nothing(spark, tmp_path):
    """An empty window loads 0 rows and writes nothing: no delta into an
    existing table, and no table where there was none. Either way its
    audit row is a SUCCESS with 0 rows."""
    staging = tmp_path / "staging"
    audit = RunAudit(spark, str(tmp_path / "audit"))
    pipe = _mk_pipeline(_tiktok_fake_source(ORDERS))
    full_load_pipeline(spark, pipe, str(staging))
    table = staging / "tiktok_shop_order_detail"
    fresh = tmp_path / "fresh"
    for root in (staging, fresh):
        assert incremental_pipeline(spark, pipe, str(root), window=(8000, 9000),
                                    audit=audit) == {"tiktok_shop_order_detail": 0}
    assert not [d for d in os.listdir(table) if d.startswith(".s=")]
    assert {r.order_id for r in read_upsert_table(spark, str(table)).collect()} == {"T1", "T2"}
    assert not (fresh / "tiktok_shop_order_detail").exists()
    assert [(r.status, r.records_extracted, r.records_loaded)
            for r in audit.runs().collect()] == [("SUCCESS", 0, 0)] * 2


def test_incremental_batch_counts_every_version_offered(spark, tmp_path):
    """Rows offered are counted before dedup: a batch holding two versions
    of one key returns 2, and the newer version is the one kept."""
    staging = str(tmp_path / "staging")
    full_load_pipeline(spark, _mk_pipeline(_tiktok_fake_source(ORDERS)), staging)
    pipe = _mk_pipeline(_tiktok_fake_source(
        ORDERS + [_version("T1", 5000, "SHIPPED"), _version("T1", 5500, "DELIVERED")]))
    assert incremental_pipeline(spark, pipe, staging, window=(4000, 6000)) == {
        "tiktok_shop_order_detail": 2}
    assert {r.order_id: r.status for r in read_upsert_table(
        spark, f"{staging}/tiktok_shop_order_detail").collect()} == {
        "T1": "DELIVERED", "T2": "CREATED"}


def test_jsonl_landing_end_to_end(spark):
    """S7-scale landing protocol: batches -> land_jsonl -> declared-schema
    read -> flatten/aggregate. Itemless orders (every 4th) must survive
    the array kernels as zero-item rows, not vanish."""
    from e_commerce_etl_pipeline_spark.sources.landing import (
        N_ORDERS,
        ensure_landed,
        jsonl_landing_stats,
    )

    path = ensure_landed()
    with open(path) as f:
        assert sum(1 for _ in f) == N_ORDERS
    rows = {r.status: r for r in jsonl_landing_stats(spark, "unused").collect()}
    assert sum(r.n_orders for r in rows.values()) == N_ORDERS
    # i%4==0 orders are itemless and all carry status CREATED (i%4 cycle)
    assert rows["CREATED"].itemless_orders == N_ORDERS // 4
    assert all(r.itemless_orders == 0 for s, r in rows.items() if s != "CREATED")
    assert rows["SHIPPED"].total_items == rows["SHIPPED"].n_orders  # i%4==1 -> 1 item
