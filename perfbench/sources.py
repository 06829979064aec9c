"""In-process platform APIs and the extract side of the three pipelines.

``FakeApi`` answers the real presets in ``sources.platforms`` — TikTok
order search (cursor pagination), Shopee order list (page-token) plus
order detail (15-order batches), MISA SaleOrders (page-index) — from the
records currently on offer. Records are held JSON-encoded and decoded
per request, as an HTTP client would. ``make_pipelines`` wires each
source's extract (fetch pages, ``land_jsonl``, read with the declared
schema) to the package's transform and table configuration.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from e_commerce_etl_pipeline_spark.pipelines.configs import (
    MISA_TABLES,
    SHOPEE_ORDERS,
    TIKTOK_ORDER_DETAIL,
    make_pipeline,
)
from e_commerce_etl_pipeline_spark.schemas import (
    MISA_SALE_ORDER_SCHEMA,
    SHOPEE_ORDER_SCHEMA,
    TIKTOK_ORDER_SCHEMA,
)
from e_commerce_etl_pipeline_spark.sources import api_adapter, platforms
from e_commerce_etl_pipeline_spark.transforms import (
    transform_misa_sale_orders,
    transform_shopee_orders,
    transform_tiktok_orders,
)

PIPELINE_NAMES = {"tiktok": "tiktok_shop_order_detail", "shopee": "shopee",
                  "misa": "misa_sale_orders_flattened"}
SCHEMAS = {"tiktok": TIKTOK_ORDER_SCHEMA, "shopee": SHOPEE_ORDER_SCHEMA,
           "misa": MISA_SALE_ORDER_SCHEMA}
TRANSFORMS = {"tiktok": transform_tiktok_orders, "shopee": transform_shopee_orders,
              "misa": transform_misa_sale_orders}


class FakeApi:
    """The three platforms' endpoints over the records on offer."""

    def __init__(self):
        self.offer: dict[str, list[str]] = {}
        self.by_sn: dict[str, str] = {}
        self.pages = 0
        self.records = 0

    def serve(self, records: dict[str, list[dict]]) -> None:
        self.offer = {s: [json.dumps(r) for r in recs] for s, recs in records.items()}
        self.by_sn = {}
        for raw, rec in zip(self.offer.get("shopee", ()), records.get("shopee", ())):
            # a re-delivered order_sn maps to its one current payload
            self.by_sn[rec["order_sn"]] = raw

    def _slice(self, source: str, start: int, size: int) -> list[dict]:
        recs = [json.loads(x) for x in self.offer.get(source, ())[start:start + size]]
        self.pages += 1
        self.records += len(recs)
        return recs

    def fetch(self, endpoint: str, params: dict) -> dict:
        size = int(params.get("page_size") or params.get("pageSize") or 100)
        if endpoint.endswith("/orders/search"):
            start = int(params.get("page_token") or 0)
            recs = self._slice("tiktok", start, size)
            more = start + size < len(self.offer.get("tiktok", ()))
            return {"orders": recs, "more": more, "next_page_token": str(start + size)}
        if endpoint.endswith("/get_order_list"):
            start = int(params.get("cursor") or 0)
            sns = [json.loads(x)["order_sn"]
                   for x in self.offer.get("shopee", ())[start:start + size]]
            self.pages += 1
            nxt = start + size < len(self.offer.get("shopee", ()))
            return {"order_list": [{"order_sn": s} for s in sns],
                    "next_cursor": str(start + size) if nxt else ""}
        if endpoint.endswith("/get_order_detail"):
            recs = [json.loads(self.by_sn[s]) for s in params["order_sn_list"]]
            self.pages += 1
            self.records += len(recs)
            return {"order_list": recs}
        if endpoint.endswith("/SaleOrders"):
            page = int(params["page"])
            return {"data": self._slice("misa", (page - 1) * size, size)}
        raise KeyError(endpoint)


def _batches(api: FakeApi, source: str, window, incremental: bool):
    """Record batches through the platform preset, as the extractor
    would page them."""
    if source == "tiktok":
        yield from platforms.tiktok_order_search(
            api.fetch, by_update_time=incremental).pages(window=window)
    elif source == "shopee":
        field = "update_time" if incremental else "create_time"
        sns = [r["order_sn"] for page in
               platforms.shopee_order_list(api.fetch, time_range_field=field).pages(window=window)
               for r in page]
        detail = platforms.shopee_order_detail(api.fetch)
        for batch in detail.fetch_details(sns, platforms.SHOPEE_DETAIL_BATCH,
                                          ids_param="order_sn_list"):
            yield [platforms.normalize_shopee_order(r) for r in batch]
    else:
        yield from platforms.misa_endpoint(
            api.fetch, "SaleOrders", incremental=incremental).pages(window=window)


class Extractor:
    """``extract(spark, window=None)`` for one source: page the API, land
    newline-JSON, read it back with the declared schema."""

    def __init__(self, api: FakeApi, source: str, land_dir: str):
        self.api, self.source, self.land_dir = api, source, land_dir
        self.seq = 0
        self.bytes_landed = 0
        self.landed: list[str] = []

    def __call__(self, spark, window=None):
        self.seq += 1
        path = os.path.join(self.land_dir, f"{self.source}-{self.seq}.jsonl")
        api_adapter.land_jsonl(_batches(self.api, self.source, window, window is not None), path)
        self.bytes_landed += os.path.getsize(path)
        self.landed.append(path)
        return spark.read.schema(SCHEMAS[self.source]).json(path)

    def clear_landed(self) -> None:
        for p in self.landed:
            os.remove(p)
        self.landed = []


def make_pipelines(api: FakeApi, land_dir: str, sources,
                   wrap_transform: Callable | None = None) -> dict:
    """source -> (SourcePipeline, Extractor) for each of ``sources``."""
    configs = {"tiktok": TIKTOK_ORDER_DETAIL, "shopee": SHOPEE_ORDERS,
               "misa": MISA_TABLES["misa_sale_orders_flattened"]}
    out = {}
    for s in sources:
        cfg = configs[s]
        ex = Extractor(api, s, land_dir)
        tf = TRANSFORMS[s] if wrap_transform is None else wrap_transform(s, TRANSFORMS[s])
        out[s] = (make_pipeline(PIPELINE_NAMES[s], cfg, ex, tf), ex)
    return out
