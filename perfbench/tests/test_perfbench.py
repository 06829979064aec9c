"""Tests for the benchmark's own code: generator determinism, the CDC
model on a hand-written case, the tail rule and failure counting.
Pure Python; run with ``python3 -m pytest perfbench/tests -q``."""

import copy
import random

import pytest

from perfbench import gen, model
from perfbench.stats import OpLedger, tail


def test_generator_is_deterministic_per_seed():
    assert gen.backfill_records(7, 40) == gen.backfill_records(7, 40)
    assert gen.backfill_records(7, 40) != gen.backfill_records(8, 40)
    a = gen.ChangeStream(7, gen.backfill_records(7, 200), 0.05)
    b = gen.ChangeStream(7, gen.backfill_records(7, 200), 0.05)
    for _ in range(3):
        assert a.next_window() == b.next_window()
    assert gen.analytics_tables(7, 100, 30) == gen.analytics_tables(7, 100, 30)
    assert gen.analytics_tables(7, 100, 30) != gen.analytics_tables(8, 100, 30)


def test_generator_covers_the_edge_shapes():
    recs = gen.backfill_records(3, 400)
    tk, sp, mi = recs["tiktok"], recs["shopee"], recs["misa"]
    assert any(not r["line_items"] for r in tk)
    assert any(not r["item_list"] for r in sp)
    assert any(not r["sale_order_product_mappings"] for r in mi)
    locs = [it["product_location_id"] for r in sp for it in r["item_list"]]
    assert any(isinstance(x, str) for x in locs) and any(isinstance(x, list) for x in locs)
    assert all(r["recommended_shipping_time"] > 1e12 for r in tk)  # epoch ms
    assert any(m["id"] is None for r in mi for m in r["sale_order_product_mappings"])
    assert len({r["id"] for r in tk}) < len(tk)  # exact re-deliveries on later pages
    stream = gen.ChangeStream(3, recs, 0.05)
    stream.next_window()
    _, window = stream.next_window()
    ids = [r["id"] for r in window["tiktok"]]
    assert len(ids) == len(set(ids))  # one version per key per window


def _tt(oid, t, status="UNPAID", tracking=None, items=("A",)):
    return {"id": oid, "update_time": t, "status": status, "tracking_number": tracking,
            "shipping_provider": "GHN", "recommended_shipping_time": t * 1000,
            "line_items": [{"id": i, "quantity": 1, "sale_price": "1.50"} for i in items]}


def _state(wh, table="tiktok_shop_order_detail"):
    return {k: (row["status"], row["tracking_number"], row["update_time"])
            for k, (_, row) in wh.tables[table].items()}


def test_cdc_model_guarded_merge_hand_written_case():
    wh = model.Warehouse()
    wh.full_load({"tiktok": [_tt("T1", 100), _tt("T2", 100, items=())]})
    assert set(wh.tables["tiktok_shop_order_detail"]) == {("T1", "A"), ("T2", None)}

    batch = {"tiktok": [
        _tt("T3", 150),                               # insert
        _tt("T1", 200, status="SHIPPED"),             # newer update
        _tt("T2", 100, status="SHIPPED", tracking="X", items=()),  # guard-only change
    ]}
    changed = wh.merge(copy.deepcopy(batch))
    assert changed["tiktok_shop_order_detail"] == 3
    assert _state(wh) == {
        ("T1", "A"): ("SHIPPED", None, 200_000_000),
        ("T2", None): ("SHIPPED", "X", 100_000_000),
        ("T3", "A"): ("UNPAID", None, 150_000_000),
    }

    late = {"tiktok": [_tt("T1", 120, status="CANCELLED")]}  # late, older
    assert wh.merge(late)["tiktok_shop_order_detail"] == 0
    assert _state(wh)[("T1", "A")] == ("SHIPPED", None, 200_000_000)

    before = copy.deepcopy(wh.tables)
    assert wh.merge(copy.deepcopy(batch))["tiktok_shop_order_detail"] == 0  # replay
    assert wh.tables["tiktok_shop_order_detail"] == before["tiktok_shop_order_detail"]


def test_cdc_model_child_tables_replace_on_match_and_misa_drops_null_keys():
    f = gen.OrderFactory(random.Random(1))
    order = f.shopee(1, 1000)
    order["item_list"] = order["item_list"] or [
        {"order_item_id": 10, "item_id": 5, "model_id": 1, "model_quantity_purchased": 1,
         "model_discounted_price": 2.0, "product_location_id": "L1"}]
    wh = model.Warehouse()
    wh.full_load({"shopee": [order]})
    older = f.older("shopee", order, 50)  # rejected by the orders guard ...
    wh.merge({"shopee": [older]})
    (_, parent), = wh.tables["shopee_orders"].values()
    assert parent["update_time"] == 1000 * 1_000_000
    items = {r["order_item_id"]: r["model_quantity_purchased"]
             for _, r in wh.tables["shopee_order_items"].values()}
    # ... while child rows order by the batch stamp and are replaced
    assert items == {it["order_item_id"]: it["model_quantity_purchased"]
                     for it in older["item_list"]}

    misa = f.misa(7, 1000)
    misa["sale_order_product_mappings"] = [{"id": None, "price": 1.0, "amount": 1.0},
                                           {"id": 71, "price": 2.0, "amount": 1.0}]
    wh.full_load({"misa": [misa]})
    assert list(wh.tables["misa_sale_orders_flattened"]) == [(7, 71)]


def test_tail_rule_and_sample_count():
    xs = list(range(1, 31))  # 30 samples
    t = tail(xs)
    assert t == {"value": 20.0, "percentile": pytest.approx(200 / 3), "n": 30,
                 "beyond": 10, "supported": True}
    assert sum(x > t["value"] for x in xs) == 10
    t = tail(list(range(11)))
    assert (t["value"], t["beyond"], t["supported"]) == (0.0, 10, True)
    t = tail([3.0, 1.0, 2.0])
    assert (t["value"], t["percentile"], t["n"], t["supported"]) == (3.0, 100.0, 3, False)
    with pytest.raises(ValueError):
        tail([])


def test_failed_ops_ratio_counting():
    led = OpLedger()
    for ok in (True, True, False, True):
        led.record(ok, "wrong output")
    assert (led.attempted, led.failed, led.ratio) == (4, 1, 0.25)
    led.fail_last(2, "gate after the loop")  # two more outputs found wrong
    assert (led.attempted, led.failed) == (4, 3)
    led.fail_last(5, "capped at the operations still counted as good")
    assert (led.attempted, led.failed, led.ratio) == (4, 4, 1.0)
    assert OpLedger().ratio == 0.0
