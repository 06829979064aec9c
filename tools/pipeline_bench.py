"""ETL-throughput benchmark: the reference's actual workload shape
(nested order JSON -> flatten -> keyed staging write) at volume.

Generates N deterministic nested TikTok-shaped orders (seed fixed),
lands them as JSONL, runs the full transform + bucketed staging write,
and reports orders/sec + rows/sec, stamped with bench.py's
``calib_sec``, ``cpus`` and ``nproc``. For context: the reference transforms
in 50-order pandas chunks and MERGEs 20-row batches over ODBC
(SURVEY.md §6) — its full-load path is bounded by those chunk loops.

Usage: python tools/pipeline_bench.py [n_orders]
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import host_stamps  # noqa: E402
from e_commerce_etl_pipeline_spark.session import get_spark  # noqa: E402
from e_commerce_etl_pipeline_spark.schemas import TIKTOK_ORDER_SCHEMA  # noqa: E402
from e_commerce_etl_pipeline_spark.transforms import transform_tiktok_orders  # noqa: E402
from e_commerce_etl_pipeline_spark.transforms.tiktok import validate_tiktok_flatten  # noqa: E402
from e_commerce_etl_pipeline_spark.operators.upsert import write_table  # noqa: E402

STATUSES = ["UNPAID", "AWAITING_SHIPMENT", "IN_TRANSIT", "DELIVERED", "COMPLETED"]


def gen_orders(n: int, path: str, seed: int = 42) -> None:
    rng = random.Random(seed)
    t0 = 1_700_000_000
    with open(path, "w") as f:
        for i in range(n):
            n_items = rng.choice([0, 1, 1, 2, 2, 3, 5])
            order = {
                "id": f"O{i}",
                "status": rng.choice(STATUSES),
                "create_time": t0 + i,
                "update_time": t0 + i + rng.randrange(86400),
                "recommended_shipping_time": (t0 + i) * 1000,  # ms heuristic path
                "buyer_email": f"b{i}@example.com",
                "payment": {
                    "currency": "VND",
                    "total_amount": f"{rng.randrange(10_000, 5_000_000)}.50",
                    "sub_total": str(rng.randrange(10_000, 5_000_000)),
                },
                "recipient_address": {
                    "name": f"Buyer {i}", "full_address": f"{i} Some St, HCMC",
                    "district_info": [{"address_level": "L1",
                                       "address_level_name": "City",
                                       "address_name": "HCMC"}],
                },
                "line_items": [
                    {"id": f"L{i}-{j}", "product_id": f"P{rng.randrange(5000)}",
                     "quantity": rng.randrange(1, 5),
                     "sale_price": str(rng.randrange(1000, 500_000)),
                     "is_gift": False}
                    for j in range(n_items)
                ],
                "packages": [{"id": f"PKG{i}"}] if n_items else [],
            }
            f.write(json.dumps(order) + "\n")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    spark = get_spark("pipeline_bench")
    workdir = tempfile.mkdtemp(prefix="pipebench_")
    src = os.path.join(workdir, "orders.jsonl")

    t0 = time.time()
    gen_orders(n, src)
    gen_s = time.time() - t0

    t0 = time.time()
    raw = spark.read.schema(TIKTOK_ORDER_SCHEMA).json(src)
    flat = transform_tiktok_orders(raw)
    write_table(spark, flat, os.path.join(workdir, "staging"),
                ["order_id", "item_id"], "update_time")
    etl_s = time.time() - t0

    out = spark.read.parquet(os.path.join(workdir, "staging"))
    rows = out.count()
    v = validate_tiktok_flatten(raw, spark.read.parquet(os.path.join(workdir, "staging")))

    print(json.dumps({
        "n_orders": n,
        "flat_rows": rows,
        "gen_sec": round(gen_s, 2),
        "etl_sec": round(etl_s, 2),
        "orders_per_sec": round(n / etl_s),
        "rows_per_sec": round(rows / etl_s),
        "reconciliation_ok": bool(v["orders_match"] and v["items_match"]),
        # measured after the timed ETL, so it stays a cold-start timing
        **host_stamps(spark),
    }))


if __name__ == "__main__":
    main()
