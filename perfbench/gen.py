"""Seeded input generators. Everything the package receives in a run is
built here from ``--seed``: nested order pages for the three platforms,
the CDC change windows, and the analytics tables the registry reads.

Edge shapes covered on purpose:

- itemless orders on all three platforms;
- Shopee ``product_location_id`` arriving as a list or a bare string;
- TikTok ``recommended_shipping_time`` in epoch milliseconds;
- MISA item mappings with a NULL ``id`` (dropped at load);
- exact duplicate records on a later page (backfill);
- guard-only changes (same change time, new status/tracking) and late,
  older versions (CDC).
"""

from __future__ import annotations

import copy
import datetime as dt
import random

SOURCES = ("tiktok", "shopee", "misa")
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
WINDOW_S = 900      # the reference's 15-minute incremental cadence

_TT_STATUS = ["UNPAID", "AWAITING_SHIPMENT", "AWAITING_COLLECTION",
              "IN_TRANSIT", "DELIVERED", "COMPLETED", "CANCELLED"]
_SP_STATUS = ["UNPAID", "READY_TO_SHIP", "PROCESSED", "SHIPPED",
              "COMPLETED", "CANCELLED"]
_MISA_STATUS = ["Draft", "Confirmed", "Delivering", "Delivered", "Closed"]
_CARRIERS = ["J&T Express", "GHN", "GHTK", "Viettel Post", "SPX Express"]
_WORDS = ("ao thun quan jean giay dep mu balo tui vi dong ho kinh "
          "son kem sua rua mat nuoc hoa").split()


def _iso_vn(epoch: int) -> str:
    """MISA's ISO-8601 with the +07:00 offset."""
    tz = dt.timezone(dt.timedelta(hours=7))
    return dt.datetime.fromtimestamp(epoch, tz).isoformat()


def _money(rng: random.Random) -> str:
    return f"{rng.randint(1, 2_000_000) / 100:.2f}"


class OrderFactory:
    """Builds one platform record per call; all randomness from ``rng``."""

    def __init__(self, rng: random.Random):
        self.rng = rng

    def tiktok(self, n: int, t: int) -> dict:
        r = self.rng
        items = [
            {"id": f"TL{n}-{j}", "product_id": f"P{r.randint(1, 500)}",
             "product_name": " ".join(r.choices(_WORDS, k=3)),
             "sku_id": f"SKU{r.randint(1, 2000)}", "quantity": r.randint(1, 5),
             "currency": "VND", "sale_price": _money(r),
             "original_price": _money(r), "is_gift": r.random() < 0.05,
             "tracking_number": None, "rts_time": t + 3600}
            for j in range(r.choice((0, 1, 1, 2, 2, 3, 4)))
        ]
        return {
            "id": f"T{n:07d}", "status": r.choice(_TT_STATUS[:3]),
            "create_time": t - r.randint(0, 3600), "update_time": t,
            # epoch MILLISECONDS: the transform's ms/s heuristic
            "recommended_shipping_time": (t + 86_400) * 1000 + r.randint(0, 999),
            "tracking_number": None, "shipping_provider": r.choice(_CARRIERS),
            "user_id": f"U{r.randint(1, 5000)}", "region": "VN",
            "is_cod": r.random() < 0.3,
            "payment": {"currency": "VND", "total_amount": _money(r),
                        "sub_total": _money(r), "shipping_fee": _money(r)},
            "recipient_address": {
                "name": f"Buyer {r.randint(1, 9999)}",
                "phone_number": f"09{r.randint(10_000_000, 99_999_999)}",
                "district_info": [{"address_level": "L1",
                                   "address_name": f"District {r.randint(1, 30)}"}],
            },
            "line_items": items,
            "packages": [{"id": f"PK{n}"}] if items else [],
        }

    def shopee(self, n: int, t: int) -> dict:
        r = self.rng
        items = []
        for j in range(r.choice((0, 1, 1, 2, 2, 3))):
            locs = [f"LOC{r.randint(1, 9)}" for _ in range(r.randint(1, 2))]
            items.append({
                "order_item_id": n * 10 + j, "item_id": r.randint(1, 10_000),
                "model_id": r.randint(1, 50), "item_name": " ".join(r.choices(_WORDS, k=2)),
                "model_quantity_purchased": r.randint(1, 4),
                "model_discounted_price": r.randint(1_000, 500_000) / 1.0,
                # the list-or-scalar quirk: a bare string on some items
                "product_location_id": locs[0] if r.random() < 0.3 else sorted(set(locs)),
            })
        packages = []
        if items:
            packages.append({
                "package_number": f"PN{n}", "logistics_status": "LOGISTICS_READY",
                "shipping_carrier": r.choice(_CARRIERS),
                "item_list": [{"order_item_id": it["order_item_id"],
                               "item_id": it["item_id"], "model_id": it["model_id"],
                               "model_quantity": it["model_quantity_purchased"]}
                              for it in items],
            })
        paid = r.random() < 0.8
        return {
            "order_sn": f"S{n:07d}", "region": "VN", "currency": "VND",
            "cod": not paid, "total_amount": r.randint(10_000, 5_000_000) / 1.0,
            "order_status": r.choice(_SP_STATUS[:2]),
            "shipping_carrier": r.choice(_CARRIERS),
            "create_time": t - r.randint(0, 3600), "update_time": t,
            "pay_time": t if paid else 0,  # epoch 0 -> NULL rule
            "buyer_user_id": r.randint(1, 5000),
            "recipient_address": (None if r.random() < 0.1 else
                                  {"name": f"Buyer {r.randint(1, 9999)}",
                                   "city": r.choice(["Hanoi", "HCMC", "Da Nang"])}),
            "item_list": items,
            "package_list": packages,
        }

    def misa(self, n: int, t: int) -> dict:
        r = self.rng
        maps = []
        for j in range(r.choice((0, 1, 2, 2, 3))):
            maps.append({
                # NULL item keys: dropped at load (MISA parity)
                "id": None if r.random() < 0.08 else n * 10 + j,
                "product_code": f"PC{r.randint(1, 800)}", "unit": "cai",
                "price": r.randint(1_000, 900_000) / 1.0,
                "amount": float(r.randint(1, 9)),
            })
        return {
            "id": n, "sale_order_no": f"SO{n:07d}", "status": r.choice(_MISA_STATUS[:2]),
            "total_amount": r.randint(10_000, 9_000_000) / 1.0,
            "customer_id": r.randint(1, 3000), "customer_name": f"KH {r.randint(1, 3000)}",
            "sale_order_date": _iso_vn(t - 7200), "created_date": _iso_vn(t - 3600),
            "modified_date": _iso_vn(t), "sale_order_product_mappings": maps,
        }

    # ---- versions of an existing record ---------------------------------

    def newer(self, source: str, rec: dict, t: int) -> dict:
        """A newer version: change time advances, payload changes."""
        r = self.rng
        out = copy.deepcopy(rec)
        if source == "tiktok":
            out["update_time"] = t
            out["status"] = r.choice(_TT_STATUS[2:])
            out["tracking_number"] = f"TRK{r.randint(1, 10**9)}"
            for it in out["line_items"]:
                it["quantity"] = r.randint(1, 5)
        elif source == "shopee":
            out["update_time"] = t
            out["order_status"] = r.choice(_SP_STATUS[2:])
            for it in out["item_list"]:
                it["model_quantity_purchased"] = r.randint(1, 4)
            for p in out["package_list"]:
                p["logistics_status"] = r.choice(["LOGISTICS_PICKUP_DONE",
                                                  "LOGISTICS_DELIVERY_DONE"])
                for pi, it in zip(p["item_list"], out["item_list"]):
                    pi["model_quantity"] = it["model_quantity_purchased"]
        else:
            out["modified_date"] = _iso_vn(t)
            out["status"] = r.choice(_MISA_STATUS[2:])
            for m in out["sale_order_product_mappings"]:
                m["amount"] = float(r.randint(1, 9))
        return out

    def guard_only(self, source: str, rec: dict) -> dict:
        """Same change time, different status/tracking: the guard decides."""
        out = copy.deepcopy(rec)
        if source == "tiktok":
            out["tracking_number"] = f"TRK{self.rng.randint(1, 10**9)}"
            out["status"] = "IN_TRANSIT" if rec["status"] != "IN_TRANSIT" else "DELIVERED"
        elif source == "shopee":
            out["order_status"] = "SHIPPED" if rec["order_status"] != "SHIPPED" else "COMPLETED"
            out["shipping_carrier"] = "GHN" if rec["shipping_carrier"] != "GHN" else "GHTK"
        else:
            out["status"] = "Closed" if rec["status"] != "Closed" else "Delivered"
        return out

    def older(self, source: str, rec: dict, back_s: int) -> dict:
        """A late, older version with a different payload."""
        out = self.newer(source, rec, 0)
        if source == "misa":
            cur = dt.datetime.fromisoformat(rec["modified_date"]).timestamp()
            out["modified_date"] = _iso_vn(int(cur) - back_s)
        else:
            out["update_time"] = rec["update_time"] - back_s
        return out


def _make(factory: OrderFactory, source: str, n: int, t: int) -> dict:
    return getattr(factory, source)(n, t)


def backfill_records(seed: int, n_orders: int, dup_frac: float = 0.02,
                     sources=SOURCES) -> dict[str, list[dict]]:
    """Per source: ``n_orders`` distinct orders plus ``dup_frac`` exact
    re-deliveries appended at the end (they land on later pages)."""
    rng = random.Random(f"backfill:{seed}")
    f = OrderFactory(rng)
    out = {}
    for s in sources:
        recs = [_make(f, s, i, T0 - rng.randint(0, 30 * 86_400)) for i in range(n_orders)]
        dups = [copy.deepcopy(recs[rng.randrange(n_orders)])
                for _ in range(max(1, int(n_orders * dup_frac)))]
        out[s] = recs + dups
    return out


def misa_shape(orders) -> dict:
    """What ``validate_misa_flatten`` must report for these distinct
    orders: NULL item keys make the item count differ by design."""
    sizes = [len(o["sale_order_product_mappings"] or []) for o in orders]
    null_ids = any(m["id"] is None for o in orders for m in o["sale_order_product_mappings"] or [])
    return {"orders_match": True, "items_match": not null_ids,
            "multi_item_orders": sum(n > 1 for n in sizes),
            "itemless_orders": sum(n == 0 for n in sizes)}


class ChangeStream:
    """CDC windows over a backfilled key space. Window ``i`` mixes, per
    source: re-delivery of half of window ``i-1`` (the guard must reject
    it; window 1 re-delivers the backfill's last pages), newer versions,
    guard-only changes, late older versions and new keys. Each order
    appears at most once per window, so no batch holds two versions of
    one key."""

    def __init__(self, seed: int, base: dict[str, list[dict]], change_frac: float):
        self.rng = random.Random(f"cdc:{seed}")
        self.f = OrderFactory(self.rng)
        self.latest = {s: {self._key(s, r): r for r in recs} for s, recs in base.items()}
        self.next_id = {s: max(self._num(s, r) for r in recs) + 1 for s, recs in base.items()}
        self.per_window = {s: max(4, int(len(self.latest[s]) * change_frac)) for s in base}
        # the delivery before window 1 is the backfill's last pages
        self.prev: dict[str, list[dict]] = {
            s: list(self.latest[s].values())[-(n + n // 4):] for s, n in self.per_window.items()}
        self.i = 0

    @staticmethod
    def _key(source: str, rec: dict):
        return rec["order_sn"] if source == "shopee" else rec["id"]

    @staticmethod
    def _num(source: str, rec: dict) -> int:
        if source == "misa":
            return rec["id"]
        return int(rec["order_sn" if source == "shopee" else "id"][1:])

    def window_bounds(self, i: int) -> tuple[int, int]:
        lo = T0 + (i + 1) * WINDOW_S
        return lo - WINDOW_S, lo + WINDOW_S  # one window of lookback

    def next_window(self) -> tuple[tuple[int, int], dict[str, list[dict]]]:
        r = self.rng
        self.i += 1
        bounds = self.window_bounds(self.i)
        t_now = bounds[1] - r.randint(1, WINDOW_S - 1)
        out = {}
        for s, latest in self.latest.items():
            redeliver = list(self.prev[s][: len(self.prev[s]) // 2])
            taken = {self._key(s, x) for x in redeliver}
            fresh: list[dict] = []
            n = self.per_window[s]
            keys = [k for k in r.sample(list(latest), min(len(latest), 2 * n))
                    if k not in taken][:n]
            for j, k in enumerate(keys):
                cur = latest[k]
                kind = j % 4
                if kind in (0, 1):
                    rec = self.f.newer(s, cur, t_now)
                    latest[k] = rec
                elif kind == 2:
                    rec = self.f.guard_only(s, cur)
                    latest[k] = rec
                else:
                    rec = self.f.older(s, cur, r.randint(60, 3600))
                fresh.append(rec)
            for _ in range(max(1, n // 4)):
                nid = self.next_id[s]
                self.next_id[s] += 1
                rec = _make(self.f, s, nid, t_now)
                latest[self._key(s, rec)] = rec
                fresh.append(rec)
            out[s] = redeliver + fresh
            self.prev[s] = fresh
        return bounds, out


# ---- analytics tables for the registry queries --------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PADJ = ["small", "red", "blue", "hot", "old", "new", "big", "green"]
_PNOUN = ["ring", "widget", "bolt", "gear", "anvil", "nut", "pipe", "valve"]
_ETYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_DOC_WORDS = ("a the data table row column key value join merge sort scan "
              "query batch stream window group order line part customer "
              "spark agg hash filter vector small big fast slow").split()


def analytics_tables(seed: int, n_orders: int, n_docs: int) -> dict[str, dict]:
    """Column dicts (name -> list) for the ten registry tables, shaped
    like the TPC-H-ish star plus events/documents/embeddings."""
    rng = random.Random(f"tables:{seed}")
    day = dt.datetime(1995, 1, 1)
    n_cust, n_part, n_supp = max(50, n_orders // 10), max(64, n_orders // 8), max(20, n_orders // 150)
    t: dict[str, dict] = {}
    t["region"] = {"r_regionkey": list(range(5)), "r_name": _REGIONS}
    t["nation"] = {"n_nationkey": list(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": [i % 5 for i in range(25)]}
    t["customer"] = {
        "c_custkey": list(range(n_cust)), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(_SEGMENTS) for _ in range(n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": list(range(n_supp)), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
    }
    t["part"] = {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(_PADJ)} {rng.choice(_PNOUN)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [rng.choice(_PTYPES) for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900 + (i % 1000) / 10, 2) for i in range(n_part)],
    }
    orders = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                              "o_orderdate", "o_orderpriority")}
    li = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                          "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for o in range(n_orders):
        odate = day + dt.timedelta(days=rng.randrange(2400))
        orders["o_orderkey"].append(o)
        orders["o_custkey"].append(rng.randrange(n_cust))
        orders["o_orderstatus"].append(rng.choice("FOP"))
        orders["o_totalprice"].append(round(rng.uniform(1000, 500_000), 2))
        orders["o_orderdate"].append(odate)
        orders["o_orderpriority"].append(rng.choice(_PRIOS))
        for ln in range(1, rng.randint(1, 7) + 1):
            q = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(q)
            li["l_extendedprice"].append(round(q * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(odate + dt.timedelta(days=rng.randint(1, 120)))
    t["orders"], t["lineitem"] = orders, li

    n_ev = n_orders
    ev_t0 = dt.datetime(2024, 1, 1)
    t["events"] = {
        "event_id": list(range(n_ev)),
        "ts": sorted(ev_t0 + dt.timedelta(seconds=rng.uniform(0, 30 * 86_400)) for _ in range(n_ev)),
        "user_id": [rng.randrange(max(10, n_ev // 60)) for _ in range(n_ev)],
        "event_type": [rng.choice(_ETYPES) for _ in range(n_ev)],
        "value": [round(rng.uniform(0.01, 490), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randint(0, 99)}}}' for _ in range(n_ev)],
    }

    # documents: planted near-duplicate families (a few words substituted)
    texts = []
    while len(texts) < n_docs:
        base = rng.choices(_DOC_WORDS, k=rng.randint(8, 80))
        texts.append(" ".join(base))
        for _ in range(rng.choice((0, 0, 1, 3))):
            if len(texts) >= n_docs:
                break
            v = list(base)
            for _ in range(max(1, len(v) // 20)):
                v[rng.randrange(len(v))] = rng.choice(_DOC_WORDS)
            texts.append(" ".join(v))
    t["documents"] = {
        "doc_id": list(range(n_docs)), "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_docs)],
        "n_chars": [len(x) for x in texts],
    }

    # embeddings: 10 labelled centroids plus near-duplicate vectors
    dim = 64
    cents = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for i in range(n_docs):
        if vecs and rng.random() < 0.15:
            src = vecs[rng.randrange(len(vecs))]
            v = [x + rng.gauss(0, 0.002) for x in src]
            lab = labels[vecs.index(src)]
        else:
            lab = rng.randrange(10)
            v = [c + rng.gauss(0, 0.6) for c in cents[lab]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(lab)
    t["embeddings"] = {"vec_id": list(range(n_docs)), "embedding": vecs, "label": labels}
    return t
