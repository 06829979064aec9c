"""Pure-Python model of the staged warehouse: the three platforms'
flatten into the 8 staged tables, the full load (keep-newest per key)
and the guarded MERGE of the incremental path.

Each table is compared on a projection — keys, change-order column,
guard columns and the payload fields the generator varies — as a
multiset of canonical lines. ``SPEC`` pairs every projected column with
the Spark SQL expression that reads it back from the staged parquet, so
the model and the engine are checked on the same shape.

MERGE rule per key (``operators.upsert.resolve_upsert``): a source row
wins when the key is new, when the target's order value is older, or
when the order values are equal and a guard column differs. Child
tables without the order column order by the batch stamp, so a matched
child row is always replaced.
"""

from __future__ import annotations

import datetime as dt
import hashlib
from dataclasses import dataclass
from decimal import Decimal


def _us(epoch_s) -> int | None:
    return None if epoch_s is None else int(epoch_s) * 1_000_000


def _iso_us(s: str) -> int:
    return int(dt.datetime.fromisoformat(s).timestamp()) * 1_000_000


def _dec4(s) -> str | None:
    return None if s is None else f"{Decimal(str(s)):.4f}"


@dataclass(frozen=True)
class TableSpec:
    source: str
    cols: tuple[str, ...]          # projected column names
    spark: tuple[str, ...]         # Spark SQL reading each column back
    keys: tuple[str, ...]
    order: str | None              # None: ordered by the batch stamp
    guards: tuple[str, ...] = ()
    drop_null_keys: bool = False


def _spec(source, cols_exprs, keys, order, guards=(), drop_null_keys=False):
    cols = tuple(c for c, _ in cols_exprs)
    exprs = tuple(e or c for c, e in cols_exprs)
    return TableSpec(source, cols, exprs, keys, order, guards, drop_null_keys)


_US = "unix_micros({})"
SPEC: dict[str, TableSpec] = {
    "tiktok_shop_order_detail": _spec("tiktok", [
        ("order_id", None), ("item_id", None),
        ("update_time", _US.format("update_time")),
        ("status", None), ("tracking_number", None), ("shipping_provider", None),
        ("recommended_shipping_time",
         "CAST(round(unix_micros(recommended_shipping_time) / 1000.0) AS BIGINT)"),
        ("item_quantity", None), ("item_sale_price", "CAST(item_sale_price AS STRING)"),
    ], ("order_id", "item_id"), "update_time",
        ("status", "tracking_number", "shipping_provider")),
    "shopee_orders": _spec("shopee", [
        ("order_sn", None), ("update_time", _US.format("update_time")),
        ("order_status", None), ("shipping_carrier", None),
        ("pay_time", _US.format("pay_time")), ("total_amount", None),
    ], ("order_sn",), "update_time", ("order_status", "shipping_carrier")),
    "shopee_recipient_address": _spec("shopee", [
        ("order_sn", None), ("name", None), ("city", None),
    ], ("order_sn",), None),
    "shopee_order_items": _spec("shopee", [
        ("order_sn", None), ("order_item_id", None), ("model_id", None),
        ("item_id", None), ("model_quantity_purchased", None),
        ("model_discounted_price", None),
    ], ("order_sn", "order_item_id", "model_id"), None),
    "shopee_order_item_locations": _spec("shopee", [
        ("order_sn", None), ("order_item_id", None), ("model_id", None),
        ("location_id", None),
    ], ("order_sn", "order_item_id", "model_id", "location_id"), None),
    "shopee_packages": _spec("shopee", [
        ("order_sn", None), ("package_number", None), ("logistics_status", None),
        ("shipping_carrier", None),
    ], ("order_sn", "package_number"), None, ("shipping_carrier",)),
    "shopee_package_items": _spec("shopee", [
        ("order_sn", None), ("package_number", None), ("order_item_id", None),
        ("model_id", None), ("model_quantity", None),
    ], ("order_sn", "order_item_id", "model_id", "package_number"), None),
    "misa_sale_orders_flattened": _spec("misa", [
        ("order_id", None), ("item_id", None),
        ("order_modified_date", _US.format("order_modified_date")),
        ("order_status", None), ("item_price", None), ("item_amount", None),
    ], ("order_id", "item_id"), "order_modified_date", (), True),
}
TABLES = tuple(SPEC)


def tables_of(sources) -> tuple[str, ...]:
    return tuple(t for t in TABLES if SPEC[t].source in sources)


def flatten(source: str, rec: dict) -> dict[str, list[dict]]:
    """One platform record -> projected rows per staged table."""
    if source == "tiktok":
        base = {"order_id": rec["id"], "update_time": _us(rec["update_time"]),
                "status": rec.get("status"), "tracking_number": rec.get("tracking_number"),
                "shipping_provider": rec.get("shipping_provider"),
                "recommended_shipping_time": rec.get("recommended_shipping_time")}
        items = rec.get("line_items") or [None]  # explode_outer
        return {"tiktok_shop_order_detail": [
            {**base, "item_id": it and it.get("id"),
             "item_quantity": it and it.get("quantity"),
             "item_sale_price": _dec4(it and it.get("sale_price"))}
            for it in items]}
    if source == "shopee":
        sn = rec["order_sn"]
        pay = rec.get("pay_time")
        out = {"shopee_orders": [{
            "order_sn": sn, "update_time": _us(rec["update_time"]),
            "order_status": rec.get("order_status"),
            "shipping_carrier": rec.get("shipping_carrier"),
            "pay_time": None if not pay else _us(pay),
            "total_amount": rec.get("total_amount")}]}
        ra = rec.get("recipient_address")
        out["shopee_recipient_address"] = (
            [] if ra is None else [{"order_sn": sn, "name": ra.get("name"), "city": ra.get("city")}])
        items = rec.get("item_list") or []
        out["shopee_order_items"] = [
            {"order_sn": sn, "order_item_id": it["order_item_id"], "model_id": it["model_id"],
             "item_id": it["item_id"],
             "model_quantity_purchased": it.get("model_quantity_purchased"),
             "model_discounted_price": it.get("model_discounted_price")} for it in items]
        locs = []
        for it in items:
            loc = it.get("product_location_id")
            for lid in ([loc] if isinstance(loc, str) else loc or []):
                locs.append({"order_sn": sn, "order_item_id": it["order_item_id"],
                             "model_id": it["model_id"], "location_id": lid})
        out["shopee_order_item_locations"] = locs
        pkgs = rec.get("package_list") or []
        out["shopee_packages"] = [
            {"order_sn": sn, "package_number": p["package_number"],
             "logistics_status": p.get("logistics_status"),
             "shipping_carrier": p.get("shipping_carrier")} for p in pkgs]
        out["shopee_package_items"] = [
            {"order_sn": sn, "package_number": p["package_number"],
             "order_item_id": pi["order_item_id"], "model_id": pi["model_id"],
             "model_quantity": pi.get("model_quantity")}
            for p in pkgs for pi in p.get("item_list") or []]
        return out
    base = {"order_id": rec["id"], "order_modified_date": _iso_us(rec["modified_date"]),
            "order_status": rec.get("status")}
    maps = rec.get("sale_order_product_mappings") or [None]
    return {"misa_sale_orders_flattened": [
        {**base, "item_id": m and m.get("id"), "item_price": m and m.get("price"),
         "item_amount": m and m.get("amount")} for m in maps]}


def canonical(values) -> str:
    return "|".join(repr(v) for v in values)


def table_digest(lines) -> str:
    h = hashlib.sha256()
    for ln in sorted(lines):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


class Warehouse:
    """The 8 staged tables as {key: (order, row)} maps."""

    def __init__(self):
        self.tables: dict[str, dict] = {t: {} for t in TABLES}
        self.stamp = 0  # batch stamp: orders child tables

    def _batch_rows(self, records: dict[str, list[dict]]):
        """Flatten, then keep the newest row per key within the batch."""
        self.stamp += 1
        per: dict[str, dict] = {t: {} for t in TABLES}
        for source, recs in records.items():
            for rec in recs:
                for table, rows in flatten(source, rec).items():
                    spec = SPEC[table]
                    for row in rows:
                        key = tuple(row[k] for k in spec.keys)
                        if spec.drop_null_keys and None in key:
                            continue
                        order = row[spec.order] if spec.order else self.stamp
                        cur = per[table].get(key)
                        if cur is None or order > cur[0]:
                            per[table][key] = (order, row)
        return per

    def full_load(self, records: dict[str, list[dict]]) -> None:
        per = self._batch_rows(records)
        for table in tables_of(records):
            self.tables[table] = per[table]

    def merge(self, records: dict[str, list[dict]]) -> dict[str, int]:
        """Guarded MERGE of one batch; returns rows changed per table."""
        changed = {}
        for table, rows in self._batch_rows(records).items():
            spec, tgt, n = SPEC[table], self.tables[table], 0
            for key, (order, row) in rows.items():
                cur = tgt.get(key)
                if cur is None:
                    apply = True
                else:
                    t_order, t_row = cur
                    apply = t_order is None or t_order < order or (
                        t_order == order and any(t_row[g] != row[g] for g in spec.guards))
                if apply:
                    n += cur is None or cur[1] != row
                    tgt[key] = (order, row)
            changed[table] = n
        return changed

    def lines(self, table: str) -> list[str]:
        cols = SPEC[table].cols
        return [canonical(row[c] for c in cols) for _, row in self.tables[table].values()]

    def row_counts(self) -> dict[str, int]:
        return {t: len(v) for t, v in self.tables.items()}
