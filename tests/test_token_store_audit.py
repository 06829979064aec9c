"""Control-plane parity: at-rest token persistence (the reference's
etl_control.api_token_storage MERGE, src/utils/auth.py:253-302) and the
operational budget/alert analog (config/production.py:24,38,40).
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from e_commerce_etl_pipeline_spark.operators.upsert import read_upsert_table
from e_commerce_etl_pipeline_spark.pipelines import RunAudit
from e_commerce_etl_pipeline_spark.pipelines.etl import AUDIT_SCHEMA
from e_commerce_etl_pipeline_spark.sources import TokenCache
from e_commerce_etl_pipeline_spark.sources.auth import TokenStore


def test_token_refresh_persists_and_updates(spark, tmp_path):
    store = TokenStore(spark, str(tmp_path / "tokens"))
    states = [
        {"access_token": "tok1", "expires_at": 1_000, "refreshed_at": 100},
        {"access_token": "tok2", "expires_at": 2_000_000_000, "refreshed_at": 200},
    ]
    it = iter(states)
    cache = TokenCache(refresh_fn=lambda: next(it),
                       persist_fn=store.persist_fn("tiktok"))
    assert cache.get() == "tok1"            # expired (epoch 1000) ...
    assert cache.get() == "tok2"            # ... so next get refreshes
    row = store.load("tiktok")
    assert row["access_token"] == "tok2" and row["refreshed_at"] == 200


def test_token_store_replay_safe(spark, tmp_path):
    store = TokenStore(spark, str(tmp_path / "tokens"))
    store.persist("shopee", {"access_token": "new", "expires_at": 9, "refreshed_at": 300})
    # an out-of-order/replayed persist of an OLDER refresh must not regress
    store.persist("shopee", {"access_token": "old", "expires_at": 5, "refreshed_at": 100})
    assert store.load("shopee")["access_token"] == "new"
    # platforms are independent rows
    store.persist("misa", {"access_token": "m1", "expires_at": 7, "refreshed_at": 50})
    assert store.load("misa")["access_token"] == "m1"
    assert store.load("nope") is None


def test_cache_seeded_from_store_skips_refresh(spark, tmp_path):
    store = TokenStore(spark, str(tmp_path / "tokens"))
    store.persist("tiktok", {"access_token": "persisted",
                             "expires_at": 2_000_000_000, "refreshed_at": 1})

    def boom():
        raise AssertionError("refresh must not be called for a valid token")

    cache = TokenCache(refresh_fn=boom, _state=store.load("tiktok"))
    assert cache.get() == "persisted"


def test_run_audit_budget_and_alerts(spark, tmp_path):
    audit = RunAudit(spark, str(tmp_path / "runs"), budget_s=10.0,
                     alert_failure_rate=0.2)
    rows = [
        {"batch_id": "a", "source_name": "tiktok", "status": "SUCCESS",
         "started_at": 0.0, "finished_at": 5.0},
        {"batch_id": "b", "source_name": "tiktok", "status": "SUCCESS",
         "started_at": 0.0, "finished_at": 25.0},   # over budget
        {"batch_id": "c", "source_name": "misa", "status": "FAILED",
         "started_at": 0.0, "finished_at": 1.0, "error": "boom"},
        {"batch_id": "d", "source_name": "misa", "status": "SUCCESS",
         "started_at": 0.0, "finished_at": 2.0},
        {"batch_id": "e", "source_name": "shopee", "status": "SUCCESS",
         "started_at": 0.0, "finished_at": 3.0},
    ]
    for r in rows:
        audit.record(r)

    marked = {r.batch_id: r for r in audit.runs().collect()}
    assert marked["b"].over_budget is True and marked["b"].duration_s == 25.0
    assert marked["a"].over_budget is False

    health = {r.source_name: r for r in audit.alerts().collect()}
    assert health["tiktok"].alert is True       # budget breach
    assert health["misa"].alert is True         # 50% failure rate > 20%
    assert health["shopee"].alert is False
    assert health["misa"].failure_rate == pytest.approx(0.5)


def test_token_store_quoted_platform_name(spark, tmp_path):
    """load() must treat the platform name as a VALUE, not SQL text — a
    name containing a quote (or any metacharacter) must round-trip."""
    store = TokenStore(spark, str(tmp_path / "tokens"))
    weird = "o'reilly; DROP -- "
    store.persist(weird, {"access_token": "w1", "expires_at": 9, "refreshed_at": 1})
    store.persist("plain", {"access_token": "p1", "expires_at": 9, "refreshed_at": 1})
    assert store.load(weird)["access_token"] == "w1"
    assert store.load("plain")["access_token"] == "p1"


def _spy_frames(monkeypatch, spark):
    made = []
    real = spark.createDataFrame

    def spy(*a, **k):
        df = real(*a, **k)
        made.append(df)
        return df

    monkeypatch.setattr(spark, "createDataFrame", spy)
    return made


def _plan_node(df):
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_control_rows_are_local_relations(spark, tmp_path, monkeypatch):
    """The audit row and the token row are planned as a LocalRelation —
    no pickled Python RDD, so writing them starts no Python worker — with
    the tables' schemas and values, NULL columns included, unchanged."""
    made = _spy_frames(monkeypatch, spark)
    audit = RunAudit(spark, str(tmp_path / "runs"), budget_s=10.0)
    audit.record({"batch_id": "b1", "source_name": "tiktok", "status": "SUCCESS",
                  "records_loaded": 5, "started_at": 1.0, "finished_at": 2.5})
    assert [_plan_node(df) for df in made] == ["LocalRelation"]
    assert made[0].schema == AUDIT_SCHEMA
    assert audit.runs().schema == AUDIT_SCHEMA
    assert [r.asDict() for r in audit.runs().collect()] == [{
        "batch_id": "b1", "source_name": "tiktok", "status": "SUCCESS",
        "records_extracted": None, "records_loaded": 5, "started_at": 1.0,
        "finished_at": 2.5, "error": None, "duration_s": 1.5,
        "over_budget": False, "fence_dropped_rows": None, "method": None,
        "recall": None,
    }]

    made.clear()
    store = TokenStore(spark, str(tmp_path / "tokens"))
    store.persist("tiktok", {"access_token": "a1", "refreshed_at": 7})
    assert [_plan_node(df) for df in made] == ["LocalRelation"]
    assert made[0].schema == StructType.fromDDL(TokenStore.SCHEMA)
    assert [r.asDict() for r in read_upsert_table(spark, store.path).collect()] == [{
        "platform": "tiktok", "access_token": "a1", "refresh_token": None,
        "expires_at": None, "refreshed_at": 7,
    }]
