"""Shopee normalization: one nested order -> 6 relational tables (T6),
plus the flat single-row denormalized view (T7).

Parity with src/transformers/shopee_orders_transformer.py:97-541. Each
child table is an independent select/explode over the SAME parsed source
DataFrame — FK containment (child order_sn within orders) holds by
construction (SURVEY §2.6 J4); ``validate_fk_containment`` asserts it with
left_anti probes.

All six derivations are narrow (no shuffle); at 100 TB each output is a
single pass, and Catalyst prunes the unread branches of the struct per
output (e.g. the packages table scan never materializes item_list).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.coercions import epoch_to_ts_zero_null
from ..schemas.shopee import EPOCH_FIELDS

_ORDER_SCALARS = [
    "region", "currency", "cod", "total_amount", "order_status",
    "shipping_carrier", "payment_method", "estimated_shipping_fee",
    "message_to_seller", "note", "days_to_ship", "buyer_user_id",
    "buyer_username", "actual_shipping_fee", "actual_shipping_fee_confirmed",
    "goods_to_declare", "dropshipper", "dropshipper_phone", "split_up",
    "buyer_cancel_reason", "cancel_by", "cancel_reason", "buyer_cpf_id",
    "fulfillment_flag", "reverse_shipping_fee", "order_chargeable_weight_gram",
    "booking_sn", "advance_package", "is_buyer_shop_collection",
    "hot_listing_order",
]

_ITEM_FIELDS = [
    "order_item_id", "item_id", "item_name", "item_sku", "model_id",
    "model_name", "model_sku", "model_quantity_purchased",
    "model_original_price", "model_discounted_price", "wholesale", "weight",
    "add_on_deal", "main_item", "add_on_deal_id", "promotion_type",
    "promotion_id", "promotion_group_id", "is_prescription_item",
    "is_b2c_owned_item", "consultation_id", "hot_listing_item",
]

_PACKAGE_FIELDS = [
    "package_number", "logistics_status", "logistics_channel_id",
    "shipping_carrier", "allow_self_design_awb",
    "parcel_chargeable_weight_gram", "group_shipment_id", "sorting_group",
]

_PACKAGE_ITEM_FIELDS = [
    "order_item_id", "item_id", "model_id", "model_quantity",
    "promotion_group_id", "product_location_id", "parcel_chargeable_weight",
]


def orders_table(raw: DataFrame) -> DataFrame:
    """43-scalar orders projection (:167-222); epoch 0 -> NULL."""
    return raw.select(
        "order_sn",
        *[F.col(c) for c in _ORDER_SCALARS],
        *[epoch_to_ts_zero_null(f).alias(f) for f in EPOCH_FIELDS],
    )


def recipient_address_table(raw: DataFrame) -> DataFrame:
    """One row per order with a non-null recipient_address (:224-243)."""
    return raw.filter(F.col("recipient_address").isNotNull()).select(
        "order_sn", "recipient_address.*"
    )


def order_items_table(raw: DataFrame) -> DataFrame:
    """Explode item_list; nested image_info.image_url hoisted (:245-292)."""
    x = raw.select("order_sn", F.explode("item_list").alias("it"))
    return x.select(
        "order_sn",
        *[F.col(f"it.{f}").alias(f) for f in _ITEM_FIELDS],
        F.col("it.image_info.image_url").alias("image_url"),
    )


def order_item_locations_table(raw: DataFrame) -> DataFrame:
    """Nested explode item_list[].product_location_id[] (:294-314).

    The list-or-scalar input quirk is resolved at parse time (schema declares
    array; the source adapter wraps scalars)."""
    x = raw.select("order_sn", F.explode("item_list").alias("it"))
    return x.select(
        "order_sn",
        F.col("it.order_item_id").alias("order_item_id"),
        F.col("it.model_id").alias("model_id"),
        F.explode("it.product_location_id").alias("location_id"),
    )


def packages_table(raw: DataFrame) -> DataFrame:
    """Explode package_list (:316-342)."""
    x = raw.select("order_sn", F.explode("package_list").alias("p"))
    return x.select("order_sn", *[F.col(f"p.{f}").alias(f) for f in _PACKAGE_FIELDS])


def package_items_table(raw: DataFrame) -> DataFrame:
    """Nested explode package_list[].item_list[] (:344-365)."""
    x = raw.select("order_sn", F.explode("package_list").alias("p"))
    y = x.select(
        "order_sn",
        F.col("p.package_number").alias("package_number"),
        F.explode("p.item_list").alias("pi"),
    )
    return y.select(
        "order_sn", "package_number",
        *[F.col(f"pi.{f}").alias(f) for f in _PACKAGE_ITEM_FIELDS],
    )


def flat_order_view(raw: DataFrame) -> DataFrame:
    """T7: one row per order — first item, first package, invoice fields
    (:367-541). ``element_at(..., 1)`` is null-safe on empty arrays."""
    first_item = F.try_element_at("item_list", F.lit(1))
    first_pkg = F.try_element_at("package_list", F.lit(1))
    return raw.select(
        "order_sn",
        *[F.col(c) for c in _ORDER_SCALARS],
        *[epoch_to_ts_zero_null(f).alias(f) for f in EPOCH_FIELDS],
        *[first_item[f].alias(f"first_item_{f}") for f in
          ["order_item_id", "item_id", "item_name", "item_sku", "model_id",
           "model_name", "model_sku", "model_quantity_purchased",
           "model_original_price", "model_discounted_price"]],
        *[first_pkg[f].alias(f"first_package_{f}") for f in
          ["package_number", "logistics_status", "shipping_carrier"]],
        F.col("invoice_data.number").alias("invoice_number"),
        F.col("invoice_data.series_number").alias("invoice_series_number"),
        F.col("invoice_data.access_key").alias("invoice_access_key"),
        epoch_to_ts_zero_null("invoice_data.issue_date").alias("invoice_issue_date"),
        F.col("invoice_data.total_value").alias("invoice_total_value"),
        F.col("invoice_data.products_total_value").alias("invoice_products_total_value"),
        F.col("invoice_data.tax_code").alias("invoice_tax_code"),
    )


def transform_shopee_orders(raw: DataFrame) -> dict[str, DataFrame]:
    """The 6-table fan-out, FK-safe order preserved in dict order
    (parents before children, mirroring shopee_orders_loader.py:399-429)."""
    return {
        "shopee_orders": orders_table(raw),
        "shopee_recipient_address": recipient_address_table(raw),
        "shopee_order_items": order_items_table(raw),
        "shopee_order_item_locations": order_item_locations_table(raw),
        "shopee_packages": packages_table(raw),
        "shopee_package_items": package_items_table(raw),
    }


def validate_fk_containment(tables: dict[str, DataFrame]) -> dict[str, int]:
    """J4: every child order_sn must exist in orders; returns orphan counts
    (all zero when healthy)."""
    orders = tables["shopee_orders"].select("order_sn")
    out = {}
    for name, df in tables.items():
        if name == "shopee_orders":
            continue
        out[name] = df.select("order_sn").join(orders, "order_sn", "left_anti").count()
    return out
