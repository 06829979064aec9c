"""Per-source transform tests on tiny inline fixtures, mirroring the
reference's own smoke strategy (scripts/test_dag_functionality.py:123-231)
plus the FIXTURES.md §5 reconciliation invariants."""

import datetime
import json

from pyspark.sql import functions as F

from e_commerce_etl_pipeline_spark.schemas import (
    MISA_SALE_ORDER_SCHEMA,
    SHOPEE_ORDER_SCHEMA,
    TIKTOK_ORDER_SCHEMA,
)
from e_commerce_etl_pipeline_spark.transforms import (
    transform_misa_sale_orders,
    transform_shopee_orders,
    transform_tiktok_orders,
)
from e_commerce_etl_pipeline_spark.transforms.misa import validate_misa_flatten
from e_commerce_etl_pipeline_spark.transforms.shopee import (
    flat_order_view,
    validate_fk_containment,
)
from e_commerce_etl_pipeline_spark.transforms.tiktok import validate_tiktok_flatten


def _tiktok_raw(spark):
    orders = [
        {
            "id": "TT1", "status": "COMPLETED", "create_time": 1700000000,
            "update_time": 1700000100,
            "recommended_shipping_time": 1700000000000,  # ms
            "payment": {"currency": "VND", "total_amount": "125000.5",
                        "sub_total": "120000"},
            "recipient_address": {"name": "A B", "full_address": "HCMC",
                                  "district_info": [
                                      {"address_level": "L1",
                                       "address_level_name": "City",
                                       "address_name": "HCMC"}]},
            "line_items": [
                {"id": "LI1", "product_id": "P1", "quantity": 2,
                 "sale_price": "60000", "is_gift": False},
                {"id": "LI2", "product_id": "P2", "quantity": 1,
                 "sale_price": "5000.5", "is_gift": True},
            ],
            "packages": [{"id": "PKG1"}, {"id": "PKG2"}],
        },
        {  # itemless order -> one NULL-item row
            "id": "TT2", "status": "CANCELLED", "create_time": 1700000200,
            "update_time": 1700000300, "line_items": [], "packages": [],
        },
    ]
    return spark.createDataFrame(
        spark.sparkContext.parallelize([json.dumps(o) for o in orders]),
        schema=None,
    ) if False else spark.read.schema(TIKTOK_ORDER_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(o) for o in orders])
    )


def test_tiktok_flatten(spark):
    raw = _tiktok_raw(spark)
    flat = transform_tiktok_orders(raw)
    rows = {(r.order_id, r.item_id): r for r in flat.collect()}
    assert set(rows) == {("TT1", "LI1"), ("TT1", "LI2"), ("TT2", None)}
    r = rows[("TT1", "LI1")]
    assert r.payment_currency == "VND"
    assert str(r.payment_total_amount) == "125000.5000"
    assert r.package_id_main == "PKG1"
    assert r.item_quantity == 2
    # ms-epoch heuristic: recommended_shipping_time == create_time instant
    assert r.recommended_shipping_time == r.create_time
    # itemless row: order fields present, item fields NULL
    r2 = rows[("TT2", None)]
    assert r2.status == "CANCELLED" and r2.item_quantity is None
    v = validate_tiktok_flatten(raw, flat)
    assert v["orders_match"] and v["items_match"]



def _tiktok_rows(spark, orders):
    raw = spark.read.schema(TIKTOK_ORDER_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(o, ensure_ascii=False) for o in orders])
    )
    return {r.order_id: r for r in transform_tiktok_orders(raw).collect()}


def test_tiktok_epoch_ms_threshold(spark):
    # recommended_shipping_time: seconds up to 1e10, milliseconds above
    rows = _tiktok_rows(spark, [
        {"id": "S", "recommended_shipping_time": 9_999_999_999},
        {"id": "M", "recommended_shipping_time": 10_000_000_001},
    ])
    assert rows["S"].recommended_shipping_time == datetime.datetime(2286, 11, 20, 17, 46, 39)
    assert rows["M"].recommended_shipping_time == datetime.datetime(
        1970, 4, 26, 17, 46, 40, 1000)


def test_tiktok_blank_and_garbage_money_is_null(spark):
    rows = _tiktok_rows(spark, [
        {"id": "B", "payment": {"total_amount": "", "sub_total": "  ", "tax": "abc"},
         "line_items": [{"id": "L", "sale_price": "12x", "original_price": ""}]},
    ])
    r = rows["B"]
    assert (r.payment_total_amount, r.payment_sub_total, r.payment_tax) == (None, None, None)
    assert r.item_sale_price is None and r.item_original_price is None


def test_tiktok_null_and_empty_line_items_one_row_each(spark):
    raw = spark.read.schema(TIKTOK_ORDER_SCHEMA).json(spark.sparkContext.parallelize([
        json.dumps({"id": "N", "line_items": None}),
        json.dumps({"id": "E", "line_items": []}),
    ]))
    out = transform_tiktok_orders(raw).collect()
    assert sorted(r.order_id for r in out) == ["E", "N"]
    item_cols = [c for c in out[0].asDict() if c.startswith("item_")]
    assert item_cols and all(r[c] is None for r in out for c in item_cols)
    assert {r.order_id: r.line_items_json for r in out} == {"N": None, "E": "[]"}


def test_tiktok_non_ascii_recipient_survives(spark):
    name = "Nguyễn Thị Ánh 🌸"
    rows = _tiktok_rows(spark, [
        {"id": "U", "recipient_address": {"name": name, "full_address": "Hà Nội"}},
    ])
    r = rows["U"]
    assert r.recipient_name == name
    assert json.loads(r.recipient_address_json)["name"] == name
    assert json.loads(r.recipient_address_json)["full_address"] == "Hà Nội"

def _shopee_raw(spark):
    orders = [
        {
            "order_sn": "SP1", "order_status": "SHIPPED", "cod": False,
            "total_amount": 99.5, "create_time": 1700000000,
            "update_time": 1700000100, "pay_time": 0,  # 0 -> NULL
            "recipient_address": {"name": "X", "city": "Hanoi",
                                  "full_address": "addr"},
            "item_list": [
                {"order_item_id": 11, "item_id": 101, "model_id": 5,
                 "model_quantity_purchased": 2, "model_original_price": 50.0,
                 "product_location_id": ["loc1", "loc2"],
                 "image_info": {"image_url": "http://img/1"}},
                {"order_item_id": 12, "item_id": 102, "model_id": 6,
                 "model_quantity_purchased": 1,
                 "product_location_id": ["loc1"]},
            ],
            "package_list": [
                {"package_number": "PKG-A", "logistics_status": "READY",
                 "item_list": [
                     {"order_item_id": 11, "item_id": 101, "model_id": 5,
                      "model_quantity": 2}]},
            ],
            "invoice_data": {"number": "INV1", "total_value": 99.5},
        },
        {  # no address, no items, no packages
            "order_sn": "SP2", "order_status": "CANCELLED", "cod": True,
            "total_amount": 0.0, "create_time": 1700000200,
            "update_time": 1700000300,
        },
    ]
    return spark.read.schema(SHOPEE_ORDER_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(o) for o in orders])
    )


def test_shopee_six_table_fanout(spark):
    raw = _shopee_raw(spark)
    tables = transform_shopee_orders(raw)
    assert tables["shopee_orders"].count() == 2
    o = {r.order_sn: r for r in tables["shopee_orders"].collect()}
    assert o["SP1"].pay_time is None  # epoch 0 -> NULL
    assert o["SP1"].update_time is not None
    assert tables["shopee_recipient_address"].count() == 1
    items = tables["shopee_order_items"].collect()
    assert len(items) == 2
    assert {r.image_url for r in items} == {"http://img/1", None}
    locs = tables["shopee_order_item_locations"].collect()
    assert {(r.order_item_id, r.location_id) for r in locs} == {
        (11, "loc1"), (11, "loc2"), (12, "loc1")}
    assert tables["shopee_packages"].count() == 1
    pkg_items = tables["shopee_package_items"].collect()
    assert [(r.package_number, r.order_item_id) for r in pkg_items] == [("PKG-A", 11)]
    assert all(v == 0 for v in validate_fk_containment(tables).values())


def test_shopee_flat_view_first_element(spark):
    raw = _shopee_raw(spark)
    flat = {r.order_sn: r for r in flat_order_view(raw).collect()}
    assert flat["SP1"].first_item_order_item_id == 11
    assert flat["SP1"].first_package_package_number == "PKG-A"
    assert flat["SP1"].invoice_number == "INV1"
    assert flat["SP2"].first_item_order_item_id is None  # empty array null-safe


def _misa_raw(spark):
    orders = [
        {"id": 1, "sale_order_no": "SO1", "total_amount": 300.0,
         "modified_date": "2024-01-02T10:00:00+07:00",
         "sale_order_product_mappings": [
             {"id": 11, "product_code": "A", "price": 100.0, "amount": 1.0},
             {"id": 12, "product_code": "B", "price": 200.0, "amount": 1.0},
         ]},
        {"id": 2, "sale_order_no": "SO2", "total_amount": 0.0,
         "modified_date": "2024-01-03T10:00:00+07:00",
         "sale_order_product_mappings": []},
    ]
    return spark.read.schema(MISA_SALE_ORDER_SCHEMA).json(
        spark.sparkContext.parallelize([json.dumps(o) for o in orders])
    )


def test_misa_flatten(spark):
    raw = _misa_raw(spark)
    flat = transform_misa_sale_orders(raw)
    rows = {(r.order_id, r.item_id): r for r in flat.collect()}
    assert set(rows) == {(1, 11), (1, 12), (2, None)}
    assert rows[(1, 11)].total_items_in_order == 2
    assert rows[(1, 11)].has_multiple_items is True
    assert rows[(2, None)].total_items_in_order == 0
    assert rows[(2, None)].has_multiple_items is False
    # ISO +07 -> UTC
    import datetime
    assert rows[(1, 11)].order_modified_date == datetime.datetime(2024, 1, 2, 3, 0)
    v = validate_misa_flatten(raw, flat)
    assert v["orders_match"] and v["items_match"]
    assert v["itemless_orders"] == 1 and v["multi_item_orders"] == 1
