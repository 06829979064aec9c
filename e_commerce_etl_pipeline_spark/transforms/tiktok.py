"""TikTok order flatten: nested order JSON -> one row per (order, line item).

Parity with src/transformers/tiktok_shop_transformer.py:47-366 (T1-T5 in
SURVEY.md §2.3), expressed as two SQL-text select lists, the first ending
in ``explode_outer``:

- order-level projection (T2): renamed scalars + payment.* struct fields +
  packages[0].id + JSON-stringified sub-objects (:146-261)
- recipient projection (T3): recipient_address.* + district_info JSON (:263-297)
- item projection (T4): line_items.* + whole-item JSON (:299-337)
- itemless orders emit one row with NULL item fields (T1/T5, :126-129) —
  exactly ``explode_outer``.

One narrow stage, no shuffle: at 100 TB this is a pure map over the source
partitions; Catalyst prunes unread struct fields down to the parquet/JSON
reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.coercions import (
    epoch_to_ts,
    json_stringify,
    safe_decimal,
)

# order-level epoch-second fields (tiktok_shop_transformer.py:167-185)
_EPOCH_S_FIELDS = [
    "create_time", "update_time", "paid_time", "rts_time",
    "cancel_order_sla_time", "collection_due_time", "shipping_due_time",
    "rts_sla_time", "tts_sla_time",
]
# recommended_shipping_time arrives in ms — the heuristic handles it (:431)

_ORDER_STR_FIELDS = [
    "status", "buyer_email", "buyer_message", "fulfillment_type",
    "payment_method_name", "warehouse_id", "user_id", "request_id", "shop_id",
    "region", "commerce_platform", "delivery_option_id", "delivery_option_name",
    "delivery_type", "order_type", "shipping_provider", "shipping_provider_id",
    "shipping_type", "tracking_number", "cancel_reason", "split_or_combine_tag",
]
_ORDER_BOOL_FIELDS = [
    "has_updated_recipient_address", "is_cod", "is_on_hold_order",
    "is_replacement_order", "is_sample_order", "is_buyer_request_cancel",
]
_PAYMENT_MONEY_FIELDS = [
    "original_shipping_fee", "original_total_product_price", "platform_discount",
    "seller_discount", "shipping_fee", "shipping_fee_cofunded_discount",
    "shipping_fee_platform_discount", "shipping_fee_seller_discount",
    "sub_total", "tax", "total_amount",
]
_RECIPIENT_FIELDS = [
    "address_detail", "address_line1", "address_line2", "address_line3",
    "address_line4", "first_name", "first_name_local_script", "last_name",
    "last_name_local_script", "name", "full_address", "phone_number",
    "postal_code", "region_code",
]
_ITEM_STR_FIELDS = [
    "product_id", "product_name", "sku_id", "sku_name", "sku_type", "sku_image",
    "seller_sku", "currency", "display_status", "package_id", "package_status",
    "shipping_provider_id", "shipping_provider_name", "tracking_number",
    "cancel_reason",
]
_ITEM_MONEY_FIELDS = [
    "original_price", "sale_price", "platform_discount", "seller_discount",
]


# (output name, SQL expression) of the order-level projection (T2/T3)
_ORDER_COLS = (
    [("order_id", "id")]
    + [(f, f) for f in _ORDER_STR_FIELDS]
    + [(f, epoch_to_ts.sql(f)) for f in _EPOCH_S_FIELDS]
    + [("recommended_shipping_time", epoch_to_ts.sql("recommended_shipping_time"))]
    + [(f, f) for f in _ORDER_BOOL_FIELDS]
    + [("fulfillment_priority_level", "fulfillment_priority_level")]
    + [("payment_currency", "payment.currency")]
    + [(f"payment_{f}", safe_decimal.sql(f"payment.{f}")) for f in _PAYMENT_MONEY_FIELDS]
    + [("package_id_main", "try_element_at(packages, 1).id")]
    + [
        ("payment_info_json", json_stringify.sql("payment")),
        ("recipient_address_json", json_stringify.sql("recipient_address")),
        ("line_items_json", json_stringify.sql("line_items")),
        ("packages_json", json_stringify.sql("packages")),
    ]
    + [(f"recipient_{f}", f"recipient_address.{f}") for f in _RECIPIENT_FIELDS]
    + [("recipient_district_info_json",
        json_stringify.sql("recipient_address.district_info"))]
)
# the item projection (T4) over the exploded ``__item`` struct
_ITEM_COLS = (
    [("item_id", "__item.id")]
    + [(f"item_{f}", f"__item.{f}") for f in _ITEM_STR_FIELDS]
    + [("item_quantity", "__item.quantity"), ("item_is_gift", "__item.is_gift")]
    + [(f"item_{f}", safe_decimal.sql(f"__item.{f}")) for f in _ITEM_MONEY_FIELDS]
    + [("item_rts_time", epoch_to_ts.sql("__item.rts_time")),
       ("item_sku_attributes", json_stringify.sql("__item"))]
)


def _select_list(cols: list[tuple[str, str]]) -> list[str]:
    return [e if e == n else f"{e} AS {n}" for n, e in cols]


# Both lists are plain strings, rendered once at import: the transform
# hands Catalyst two selectExpr calls and builds no Column objects.
_EXPLODE_LIST = _select_list(_ORDER_COLS) + ["explode_outer(line_items) AS __item"]
_FLAT_LIST = [n for n, _ in _ORDER_COLS] + _select_list(_ITEM_COLS)


def transform_tiktok_orders(raw: DataFrame) -> DataFrame:
    """Nested raw orders -> flat order-item fact (~110 cols)."""
    return raw.selectExpr(*_EXPLODE_LIST).selectExpr(*_FLAT_LIST)


def validate_tiktok_flatten(raw: DataFrame, flat: DataFrame) -> dict:
    """A7 reconciliation invariants (tiktok_shop_transformer.py:451-491,
    misa_crm_transformer.py:771-846): distinct output orders == input orders;
    non-null item rows == sum of input array lengths."""
    agg = raw.agg(
        F.count("*").alias("orders_in"),
        F.sum(F.size(F.coalesce("line_items", F.array()))).alias("items_in"),
    ).collect()[0]
    out = flat.agg(
        F.countDistinct("order_id").alias("orders_out"),
        F.count("item_id").alias("items_out"),
    ).collect()[0]
    return {
        "orders_in": agg.orders_in,
        "orders_out": out.orders_out,
        "items_in": agg.items_in or 0,
        "items_out": out.items_out,
        "orders_match": agg.orders_in == out.orders_out,
        "items_match": (agg.items_in or 0) == out.items_out,
    }
