"""The engine's declared query surface: every entry pairs a Spark
DataFrame program with an ANSI-SQL oracle DuckDB can run on the same
parquet tables (driver contract, __spark_entry__.py).

Determinism rules (so Spark and DuckDB hash-match on values):
- money/metric doubles are cast per-value to DECIMAL before SUM — decimal
  addition is exact and associative, so shuffle/aggregation order can't
  change a bit (double SUM order-sensitivity would);
- FINAL outputs never expose DECIMAL: the exact decimal aggregate gets one
  trailing CAST to DOUBLE on BOTH sides (decimal->double is correctly
  rounded and bit-identical across JVM/DuckDB/Python — verified), because
  the driver's canonicalizer formats Decimal and float differently even
  when values are equal. Same for NTILE/derived ints: BIGINT on both sides
  (DuckDB SUM(int)/NTILE return HUGEINT/BIGINT where Spark returns int).
- averages are exact decimal sums cast to double, divided by counts —
  never engine AVG (engines disagree on decimal division scale);
- any column used in ORDER BY / range filters is cast to double BEFORE the
  sort or filter on both sides, so both engines compare identical doubles;
- every LIMIT has a total ORDER BY (unique tie-break key);
- column names are aliased identically on both sides.

Query families map to SURVEY.md §2: A* aggregates, D* dedup modes, J2
upsert-merge, T1/T8 explode flatten, F* coercions, plus TPC-H-shaped
analytics over the driver's star schema (TESTDATA.md).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import index_store

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh relation over ``<sf_dir>/<name>.parquet``. The schema is
    declared, not inferred: ``index_store.parquet_schema`` infers it on
    the first read of a table snapshot and serves it from memory after
    that, until the table's content fingerprint or a parquet inference
    setting changes. Building the DataFrame then starts no Spark job."""
    if name == "events":
        # runtime-settable; needed even when the session wasn't built by
        # session.get_spark (e.g. the driver's own harness session)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = index_store.table_dir(sf_dir, name)
    df = spark.read.schema(index_store.parquet_schema(spark, path)).parquet(path)
    # Normalize `ts` across the physical encodings the testdata has shipped
    # with (ns-as-long, µs TIMESTAMP_NTZ, µs TIMESTAMP_LTZ) so every
    # downstream expression sees one dtype: session-TZ TIMESTAMP.
    # - TIMESTAMP(NANOS) + nanosAsLong arrives as long nanos: truncate to
    #   microseconds — exactly what DuckDB's reader does — so both engines
    #   see identical instants. Integer div: ns values (~1.7e18) exceed
    #   double's 2^53 exact range, so no float path.
    # - TIMESTAMP_NTZ (isAdjustedToUTC=false): cast to TIMESTAMP. The
    #   session tz is UTC, so the wall-clock field values map to the same
    #   instants and unix_micros/window arithmetic stay valid.
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        kind = field.dataType.simpleString()
        if kind == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _dec(c, p=18, s=2):
    return F.col(c).cast(f"decimal({p},{s})") if isinstance(c, str) else c.cast(f"decimal({p},{s})")


# --------------------------------------------------------------------------
# TPC-H-shaped analytics (the reference's query surface generalized; the
# reference's own aggregates A1-A6 appear as load_stats / row-count queries)
# --------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy group-agg; map-side partial agg, one
    shuffle on the 2-value group key."""
    li = load_table(spark, sf_dir, "lineitem")
    disc = _dec("l_discount", 4, 2)
    price = _dec("l_extendedprice")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1997-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1).cast("decimal(3,2)") - disc)
                  * (F.lit(1).cast("decimal(3,2)") + _dec("l_tax", 4, 2))).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_top_unshipped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + group + top-k with total order.
    customer side is small -> broadcast; lineitem⋈orders shuffles on orderkey."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1997-06-15")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1997-06-15")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
    ).cast("double").alias("revenue")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue)
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-15 00:00:00'
  AND l_shipdate  > TIMESTAMP '1997-06-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join; dims broadcast, facts shuffle once."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
    ).cast("double").alias("revenue")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(cust.c_nationkey == sup.s_nationkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue)
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name
"""


def top_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed ranking (the reference has none — SURVEY §2.7 — but the
    analytics layer exposes it): top-3 suppliers by revenue per nation."""
    sup = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_suppkey")
        .agg(F.sum(_dec("l_extendedprice")).cast("double").alias("revenue"))
    )
    joined = (
        rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), F.col("s_suppkey"))
    return (
        joined.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("n_name", "s_suppkey", "s_name", "revenue", "rk")
    )


TOP_SUPPLIERS_SQL = """
WITH rev AS (
  SELECT l_suppkey, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_suppkey
), ranked AS (
  SELECT n_name, s_suppkey, s_name, revenue,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY revenue DESC, s_suppkey) AS rk
  FROM rev JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
)
SELECT n_name, s_suppkey, s_name, revenue, rk FROM ranked WHERE rk <= 3
"""


def sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over region/nation — grouping-sets surface."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("total_sales"),
        F.count(F.lit(1)).alias("n_orders"),
    )


SALES_ROLLUP_SQL = """
SELECT r_name, n_name,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
       COUNT(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS semi-join (late lineitems per order)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_returnflag") == "R").select("l_orderkey").distinct()
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


ORDER_PRIORITY_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
"""


def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer order stats incl. exact-decimal average; anti-join keeps
    customers with no orders out (TPC-H Q13 flavor without them)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice")).cast("double").alias("total_spent"),
    )
    out = agg.join(F.broadcast(cust), agg.o_custkey == cust.c_custkey)
    return out.select(
        F.col("c_custkey"), F.col("c_name"), F.col("n_orders"), F.col("total_spent"),
        (F.col("total_spent") / F.col("n_orders")).alias("avg_order_value"),
    ).filter(F.col("n_orders") >= 12)


CUSTOMER_ORDER_STATS_SQL = """
WITH agg AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, c_name, n_orders, total_spent,
       total_spent / n_orders AS avg_order_value
FROM agg JOIN customer ON o_custkey = c_custkey
WHERE n_orders >= 12
"""


# --------------------------------------------------------------------------
# Reference-parity operator queries (SURVEY §2 line items, on testdata)
# --------------------------------------------------------------------------

def dedup_keep_newest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 keep-newest-by-key on the events stream: last event per
    (user_id, event_type) by ts (tiebreak event_id). Parity:
    tiktok_shop_staging_loader.py:361-371.

    Plan (r7): pure HASH aggregate via a packed recency key. The r6
    ``max(struct(ts, event_id, value))`` already combined map-side, but a
    struct is not a mutable agg-buffer type, so Spark planned
    Sort+SortAggregate — every partition paid a sort (docs/PLANS.md r6).
    Packing the ordering (ts, event_id) into ONE orderable atomic,
    ``decimal(38,0) pack = unix_micros(ts)·10^12 + event_id`` (28 digits:
    16 for 2280-era micros + 12 for the id — decimals ARE mutable buffer
    fields, exactly how TPC-H q1's decimal sums hash-aggregate), gives
    ``max(pack)`` + ``max_by(value, pack)`` → HashAggregate on both sides
    of the shuffle, no sorts, partials still one-candidate-per-key.
    Ordering is identical to (ts DESC, event_id DESC) because event_id is
    unique and < 10^12 (asserted range of every corpus here; callers
    beyond that scale re-widen the shift). event_id and ts unpack exactly
    from the max via integral ``div``/``pmod`` — NOT ``floor(x/shift)``,
    whose decimal(38,6) HALF_UP intermediate rounds ts +1us whenever
    event_id >= 999999500000, i.e. inside the documented id contract
    (r8, ADVICE). unix_micros roundtrips exactly — UTC session, micro
    precision. Same rows, same oracle.
    ``operators/dedup.keep_newest`` keeps the generic window form for
    callers that need the full ranked output or nullable keys."""
    ev = load_table(spark, sf_dir, "events")
    shift = F.lit(10**12)
    pack = F.unix_micros("ts").cast("decimal(38,0)") * shift + F.col("event_id")
    newest = ev.groupBy("user_id", "event_type").agg(
        F.max(pack).alias("__pk"),
        F.max_by("value", pack).alias("value"),
    )
    return newest.select(
        "user_id", "event_type",
        F.pmod(F.col("__pk"), shift).cast("long").alias("event_id"),
        # `div` is exact integral division on decimals (probed: returns
        # LongType, no rounding); floor(__pk / shift) is NOT exact — the
        # division plans as decimal(38,6) HALF_UP, decoding ts one
        # microsecond high for event_id >= 999999500000.
        F.timestamp_micros(
            F.expr(f"__pk div {10**12}")
        ).alias("ts"),
        "value",
    )


DEDUP_KEEP_NEWEST_SQL = """
SELECT user_id, event_type, event_id, ts, value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def dedup_drop_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D3 drop-ALL-duplicates semantics (misa_crm_loader.py:173-180): events
    whose (user_id, event_type) key is unique — every row of a duplicated
    key removed, not keep-one."""
    from ..operators.dedup import drop_all_duplicates

    ev = load_table(spark, sf_dir, "events")
    out = drop_all_duplicates(ev, ["event_type", "value"])
    return out.select("event_id", "user_id", "event_type", "value")


DEDUP_DROP_ALL_SQL = """
SELECT event_id, user_id, event_type, value
FROM (
  SELECT *, COUNT(*) OVER (PARTITION BY event_type, value) AS cnt FROM events
) WHERE cnt = 1
"""


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/K4 guarded MERGE as a query: target = orders; source = a derived
    change-batch (every 10th order re-priced, 1 day later, status 'U', plus
    synthetic new keys). Exercises resolve_upsert end-to-end; the oracle
    expresses the same MERGE in ANSI SQL."""
    from ..operators.upsert import resolve_upsert

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        _dec("o_totalprice").alias("o_totalprice"), "o_orderdate", "o_orderpriority",
    )
    source = (
        orders.filter((F.col("o_orderkey") % 10 == 0) & (F.col("o_orderkey") > 0))
        .withColumn("o_totalprice", (F.col("o_totalprice") + F.lit(1).cast("decimal(18,2)")).cast("decimal(18,2)"))
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"))
        .withColumn("o_orderstatus", F.lit("U"))
    )
    new_keys = source.withColumn("o_orderkey", -F.col("o_orderkey"))
    src = source.unionByName(new_keys)
    out = resolve_upsert(orders, src, ["o_orderkey"], "o_orderdate",
                         guard_cols=["o_orderstatus"])
    return out.withColumn("o_totalprice", F.col("o_totalprice").cast("double"))


MERGE_UPSERT_SQL = """
WITH src0 AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 1 AS DECIMAL(18,2)) AS o_totalprice,
         o_orderdate + INTERVAL 1 DAY AS o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey > 0
), src AS (
  SELECT * FROM src0
  UNION ALL
  SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM src0
), tgt AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders
)
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN t.o_orderkey IS NULL OR (s.o_orderkey IS NOT NULL AND (t.o_orderdate < s.o_orderdate OR (t.o_orderdate = s.o_orderdate AND t.o_orderstatus IS DISTINCT FROM s.o_orderstatus)))
            THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
       CASE WHEN t.o_orderkey IS NULL OR (s.o_orderkey IS NOT NULL AND (t.o_orderdate < s.o_orderdate OR (t.o_orderdate = s.o_orderdate AND t.o_orderstatus IS DISTINCT FROM s.o_orderstatus)))
            THEN s.o_orderstatus ELSE t.o_orderstatus END AS o_orderstatus,
       CAST(CASE WHEN t.o_orderkey IS NULL OR (s.o_orderkey IS NOT NULL AND (t.o_orderdate < s.o_orderdate OR (t.o_orderdate = s.o_orderdate AND t.o_orderstatus IS DISTINCT FROM s.o_orderstatus)))
            THEN s.o_totalprice ELSE t.o_totalprice END AS DOUBLE) AS o_totalprice,
       CASE WHEN t.o_orderkey IS NULL OR (s.o_orderkey IS NOT NULL AND (t.o_orderdate < s.o_orderdate OR (t.o_orderdate = s.o_orderdate AND t.o_orderstatus IS DISTINCT FROM s.o_orderstatus)))
            THEN s.o_orderdate ELSE t.o_orderdate END AS o_orderdate,
       CASE WHEN t.o_orderkey IS NULL OR (s.o_orderkey IS NOT NULL AND (t.o_orderdate < s.o_orderdate OR (t.o_orderdate = s.o_orderdate AND t.o_orderstatus IS DISTINCT FROM s.o_orderstatus)))
            THEN s.o_orderpriority ELSE t.o_orderpriority END AS o_orderpriority
FROM tgt t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
"""


def explode_flatten_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1/T8 explode parity on testdata: nest big-ticket lineitems under
    their order (collect_list of structs), then explode_outer back —
    itemless orders must emit exactly one NULL-item row, and
    total_items_in_order/has_multiple_items must match the reference's
    array-length derivation (misa_crm_transformer.py:347-366). The oracle
    is the equivalent relational left join."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    nested = (
        orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_orderstatus")
        .agg(
            F.collect_list(
                F.when(
                    F.col("l_linenumber").isNotNull(),
                    F.struct(
                        F.col("l_linenumber"), F.col("l_partkey"),
                        _dec("l_quantity").alias("l_quantity"),
                    ),
                )
            ).alias("items")
        )
    )
    from ..operators.flatten import explode_outer_prefixed

    flat = explode_outer_prefixed(
        nested, "items", [F.col("o_orderkey"), F.col("o_orderstatus")], item_prefix=""
    )
    # l_quantity here is ALREADY DECIMAL(18,2): the struct above nests
    # _dec("l_quantity"), so this trailing double cast mirrors the oracle's
    # CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) exactly — the two
    # paths stay symmetric even for inputs with >2 fractional digits.
    return flat.select(
        "o_orderkey", "o_orderstatus", "total_items_in_order", "has_multiple_items",
        "l_linenumber", "l_partkey", F.col("l_quantity").cast("double").alias("l_quantity"),
    )


EXPLODE_FLATTEN_SQL = """
WITH big AS (SELECT * FROM lineitem WHERE l_quantity >= 45),
cnt AS (
  SELECT o_orderkey, COUNT(l_orderkey) AS n
  FROM orders LEFT JOIN big ON o_orderkey = l_orderkey
  WHERE o_orderkey % 7 = 0
  GROUP BY o_orderkey
)
SELECT o.o_orderkey, o.o_orderstatus,
       CAST(c.n AS INT) AS total_items_in_order,
       c.n > 1 AS has_multiple_items,
       b.l_linenumber, b.l_partkey, CAST(CAST(b.l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS l_quantity
FROM orders o JOIN cnt c ON o.o_orderkey = c.o_orderkey
LEFT JOIN big b ON o.o_orderkey = b.l_orderkey
WHERE o.o_orderkey % 7 = 0
"""


def coercion_kernel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F5/F7/F10/F11 coercions as a query over events: JSON extraction
    (get_json_object parity), epoch ms/s heuristic applied to a derived
    column, null-scrub, decimal parse."""
    from ..functions.coercions import epoch_to_ts, null_scrub, safe_decimal

    ev = load_table(spark, sf_dir, "events")
    # derive an epoch col: seconds for even ids, SAME instant in ms for odd
    epoch = ("CASE WHEN event_id % 2 = 0 THEN CAST(unix_timestamp(ts) AS DOUBLE)"
             " ELSE CAST(unix_timestamp(ts) AS DOUBLE) * 1000 END")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("prop_k"),
        epoch_to_ts(epoch).alias("ts_normalized"),
        null_scrub("CASE WHEN event_type = 'error' THEN 'N/A' ELSE event_type END"
                   ).alias("etype_clean"),
        safe_decimal("value", 18, 2).cast("double").alias("value_dec"),
    )


COERCION_KERNEL_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       date_trunc('second', ts) AS ts_normalized,
       CASE WHEN event_type = 'error' THEN NULL ELSE event_type END AS etype_clean,
       CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value_dec
FROM events
"""


def load_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A4 load statistics (get_load_statistics,
    tiktok_shop_staging_loader.py:482-532): counts, distincts, time range."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.countDistinct("o_orderkey").alias("unique_orders"),
        F.countDistinct("o_custkey").alias("unique_customers"),
        F.min("o_orderdate").alias("min_orderdate"),
        F.max("o_orderdate").alias("max_orderdate"),
    )


LOAD_STATISTICS_SQL = """
SELECT COUNT(*) AS total_rows,
       COUNT(DISTINCT o_orderkey) AS unique_orders,
       COUNT(DISTINCT o_custkey) AS unique_customers,
       MIN(o_orderdate) AS min_orderdate,
       MAX(o_orderdate) AS max_orderdate
FROM orders
"""


def row_count_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 per-table row-count report (query/đếm số dòng mỗi bảng.sql)."""
    dfs = []
    for t in TABLES:
        dfs.append(
            load_table(spark, sf_dir, t)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .select(F.lit(t).alias("table_name"), "n_rows")
        )
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


ROW_COUNT_REPORT_SQL = " UNION ALL ".join(
    f"SELECT '{t}' AS table_name, COUNT(*) AS n_rows FROM {t}" for t in TABLES
)


def user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST-adjacent analytics: per-user running event value (cumulative sum
    over a deterministic total order) + per-user event sequence number."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id", "event_id", "ts",
        F.row_number().over(w).cast("long").alias("seq"),
        F.sum(_dec("value")).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("double").alias("running_value"),
    )


USER_RUNNING_TOTALS_SQL = """
SELECT user_id, event_id, ts,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
FROM events
"""


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative flag
    sum — the standard Spark sessionization shape, SQL-expressible."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    sess = ev.withColumn("new_s", new_session).withColumn(
        "session_seq",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.sum(_dec("value")).cast("double").alias("session_value"),
    )


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800 * 1000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS session_value
FROM sessions GROUP BY user_id, session_seq
"""


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority × status (explicit value list so
    the plan is single-pass; DuckDB oracle via conditional aggregation)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_finished"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_finished,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
FROM orders GROUP BY o_orderpriority
"""


def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over status × priority with decimal-exact totals."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.sum(_dec("o_totalprice")).cast("double").alias("total_sales"),
        F.count(F.lit(1)).alias("n_orders"),
    )


CUBE_SALES_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
       COUNT(*) AS n_orders
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/K8 anti-join parity: customers with no orders (left_anti ==
    the reference's pre-delete NOT-EXISTS shape, misa_crm_loader.py:836-868)."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1997-10-01")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1997-10-01 00:00:00')
"""


def retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K10 retention delete as its read-side: rows inside the 90-day
    retention horizon measured from the table's max date. The cutoff is a
    scalar aggregate broadcast into the scan filter (at scale: partition
    pruning on an etl_date partition column instead of a row filter)."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = orders.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 90 DAYS")).alias("cutoff")
    )
    return (
        orders.join(F.broadcast(cutoff))
        .filter(F.col("o_orderdate") >= F.col("cutoff"))
        .select("o_orderkey", "o_orderdate", "o_orderstatus")
    )


RETENTION_SQL = """
SELECT o_orderkey, o_orderdate, o_orderstatus
FROM orders
WHERE o_orderdate >= (SELECT MAX(o_orderdate) - INTERVAL 90 DAY FROM orders)
"""


def schema_aligned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9 schema alignment: project events onto a declared target schema —
    missing column materializes as typed NULL, extras (props, ts) dropped,
    order fixed (misa_crm_loader.py:339-404 collapsed into one select)."""
    from pyspark.sql import types as T

    from ..operators.schema_align import align_to_schema

    target = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("channel", T.StringType()),      # missing -> NULL
        T.StructField("value", T.DecimalType(18, 2)),  # cast double -> decimal
    ])
    aligned = align_to_schema(load_table(spark, sf_dir, "events"), target)
    # driver-canon: no decimal in final outputs (module docstring)
    return aligned.withColumn("value", F.col("value").cast("double"))


SCHEMA_ALIGNED_SQL = """
SELECT event_id, event_type, CAST(NULL AS VARCHAR) AS channel,
       CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS value
FROM events
"""


def asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no reference equivalent — SURVEY §2.6 notes none exist;
    the analytics layer adds it): each event paired with the same user's
    most recent strictly-prior purchase event, as a conditional running
    max — the single-pass window rewrite of a range join."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return ev.select(
        "event_id", "user_id", "ts", "event_type",
        F.max(purchase_ts).over(w).alias("asof_purchase_ts"),
    )


ASOF_SQL = """
SELECT event_id, user_id, ts, event_type,
       MAX(CASE WHEN event_type = 'purchase' THEN ts END) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS asof_purchase_ts
FROM events
"""


def first_last_item_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 head-of-array parity on testdata: per order, the first and last
    line item by linenumber (min_by/max_by — no self-join, one agg pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the synthetic data, so
    # order by a composite total key to keep min_by/max_by deterministic
    key = F.col("l_linenumber").cast("long") * 1_000_000 + F.col("l_partkey")
    return li.groupBy("l_orderkey").agg(
        F.min_by("l_partkey", key).alias("first_partkey"),
        F.max_by("l_partkey", key).alias("last_partkey"),
        F.min("l_linenumber").alias("first_linenumber"),
        F.max("l_linenumber").alias("last_linenumber"),
    )


FIRST_LAST_SQL = """
SELECT l_orderkey,
       min_by(l_partkey, CAST(l_linenumber AS BIGINT) * 1000000 + l_partkey) AS first_partkey,
       max_by(l_partkey, CAST(l_linenumber AS BIGINT) * 1000000 + l_partkey) AS last_partkey,
       MIN(l_linenumber) AS first_linenumber,
       MAX(l_linenumber) AS last_linenumber
FROM lineitem GROUP BY l_orderkey
"""


def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows (the Structured-Streaming agg shape,
    runnable batch-side): hourly counts + decimal-exact value sums per
    event type."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )


EVENTS_HOURLY_SQL = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def cheapest_part_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar subquery (min per group) —
    expressed as the aggregate-join rewrite Catalyst would produce."""
    part = load_table(spark, sf_dir, "part")
    mins = part.groupBy("p_brand").agg(
        F.min(_dec("p_retailprice")).alias("min_price")
    )
    p2 = load_table(spark, sf_dir, "part")
    return (
        p2.join(F.broadcast(mins), "p_brand")
        .filter(_dec("p_retailprice") == F.col("min_price"))
        .select("p_brand", "p_partkey", "p_name",
                _dec("p_retailprice").cast("double").alias("p_retailprice"))
    )


CHEAPEST_PART_SQL = """
SELECT p_brand, p_partkey, p_name, CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS p_retailprice
FROM part p
WHERE CAST(p_retailprice AS DECIMAL(18,2)) = (
  SELECT MIN(CAST(p_retailprice AS DECIMAL(18,2))) FROM part p2 WHERE p2.p_brand = p.p_brand
)
"""


def revenue_by_year_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part grouping over the full join tree (TPC-H Q7/Q8 flavor)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    revenue = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
    ).cast("double").alias("revenue")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("order_year"), F.col("r_name"))
        .agg(revenue, F.count(F.lit(1)).alias("n_items"))
    )


REVENUE_YEAR_REGION_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year, r_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def part_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: per part-type distinct supplier + order counts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.sum(_dec("l_quantity")).cast("double").alias("total_qty"),
        )
    )


PART_SUPPLIER_STATS_SQL = """
SELECT p_type,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_type
"""


def salted_event_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient two-stage salted aggregation over events.event_type
    (5 hot keys — a genuinely skewed distribution). Result is bit-identical
    to the plain GROUP BY (decimal sums are associative), so the oracle is
    the unsalted SQL."""
    from ..operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    out = salted_sum_count(
        ev, ["event_type"], _dec("value"), n_salts=16,
        sum_alias="total_value", count_alias="n_events",
    )
    return out.withColumn("total_value", F.col("total_value").cast("double"))


SALTED_TOTALS_SQL = """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


def salted_user_segment_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resilient fact⋈dim JOIN under oracle: events joined to the
    customer dimension on the (potentially hot) user key through
    ``salted_join_targeted``, heavy hitters detected by ``hot_keys``.
    The salted plan is row-identical to the plain join (pytest asserts
    the plan shape; this entry proves the VALUES against the unsalted
    SQL). Decimal sum → one final double cast, the cross-engine
    determinism rule. Scale shape: hot fact rows spread over n_salts
    shuffle partitions, only hot dim rows replicate — measured 1.56×
    over the straggler at a planted 30%-hot key (docs/SCALE.md)."""
    from ..operators.skew import hot_keys, salted_join_targeted

    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    hot = hot_keys(ev, "user_id", min_share=0.01, max_keys=50)
    joined = salted_join_targeted(ev, cust, "user_id", hot, n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


SALTED_SEGMENT_SQL = """
SELECT c_mktsegment,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


Q6_TEXT = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS potential_revenue,
       COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN CAST(0.05 AS DECIMAL(4,2)) AND CAST(0.07 AS DECIMAL(4,2))
  AND l_quantity < 24
"""


def q6_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 through the SQL API: the staging tables registered as temp
    views and the EXACT oracle text executed by spark.sql — Catalyst
    produces the same plan as the DataFrame API, and the engine's SQL
    surface is ANSI enough that one string serves both engines."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(Q6_TEXT)


def approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximations (HLL++ distinct counts, quantile
    sketch) — the 100 TB path for distinct/percentile questions where
    exact answers need unbounded state. Approximate by design, so no SQL
    oracle: the driver records the weaker rows-only check."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99]).alias(
            "price_quantiles"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --------------------------------------------------------------------------
# TPC-H-shaped analytics II: subquery / conditional-agg / big-big-join shapes
# --------------------------------------------------------------------------

def urgent_share_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM, one
    pass) over a big⨝big join. The merge hint pins sort-merge: at 100 TB
    neither lineitem nor orders broadcasts, so the scalable plan is
    shuffle-on-orderkey SMJ; AQE may still downgrade to shuffled-hash at
    runtime when one side turns out small — both are exchange-once."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders.hint("merge"), li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
    )


URGENT_SHARE_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share per ship month. part is the
    broadcast dim; the two sums stay exact decimal, the share is a single
    double division of identical operands in both engines (no ELSE on the
    promo CASE — an all-regular month is NULL, same in both)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"))
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", rev)).cast("double").alias("promo_revenue"),
            F.sum(rev).cast("double").alias("total_revenue"),
        )
        .withColumn(
            "promo_share",
            F.col("promo_revenue") / F.col("total_revenue"),
        )
    )


PROMO_SHARE_SQL = """
WITH m AS (
  SELECT date_trunc('month', l_shipdate) AS ship_month,
         CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) END) AS DOUBLE) AS promo_revenue,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS total_revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1
)
SELECT CAST(ship_month AS TIMESTAMP) AS ship_month, promo_revenue, total_revenue,
       promo_revenue / total_revenue AS promo_share
FROM m
"""


def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: rows below half their part's average quantity.
    The correlated scalar subquery is a window over l_partkey — one
    shuffle, no self-join of lineitem against its own aggregate. The avg
    comparison is rewritten multiplicatively (2·q·cnt < sum) so both
    engines compare exact decimals instead of diverging on
    decimal-division scale."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    qd = _dec("l_quantity")
    return (
        li.withColumn("part_qty_sum", F.sum(qd).over(w))
        .withColumn("part_qty_cnt", F.count(F.lit(1)).over(w))
        .filter(qd * 2 * F.col("part_qty_cnt") < F.col("part_qty_sum"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


SMALL_QTY_SQL = """
WITH w AS (
  SELECT l_returnflag, l_extendedprice,
         CAST(l_quantity AS DECIMAL(18,2)) AS qd,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS part_qty_sum,
         COUNT(*) OVER (PARTITION BY l_partkey) AS part_qty_cnt
  FROM lineitem
)
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_qty_revenue,
       COUNT(*) AS n_lines
FROM w
WHERE qd * 2 * part_qty_cnt < part_qty_sum
GROUP BY l_returnflag
"""


def big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join (HAVING subquery). The
    groupBy runs BEFORE the joins, so the join input is the small
    filtered aggregate instead of raw lineitem — the order that matters
    at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            _dec("o_totalprice").cast("double").alias("o_total"), "total_qty",
        )
        .orderBy(F.col("total_qty").desc(), F.col("o_orderkey"))
        .limit(20)
    )


BIG_ORDER_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_total, total_qty
FROM (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150
) big
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
"""


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar aggregate subquery + anti-join. The global
    average is a 1-row broadcast (crossJoin(broadcast)); NOT EXISTS is a
    left_anti on custkey. Deterministic avg: exact decimal sum cast to
    double, divided by the count — one division, identical operands in
    both engines. (Anti-joins against *urgent* orders: in the synthetic
    data every customer has some order, so plain no-orders is empty.)"""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_df = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(_dec("c_acctbal")).cast("double") / F.count(F.lit(1)))
            .alias("avg_bal")
        )
    )
    return (
        cust.crossJoin(F.broadcast(avg_df))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


IDLE_RICH_SQL = """
WITH a AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey, COUNT(*) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer, a
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey
"""


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-funnel conversion (view → click → purchase, time-ordered per
    user): one pass computes each user's first timestamp per stage
    (min-of-CASE — no self-joins), then conditional distinct counts. The
    classic product-analytics query, one shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_buy"),
    )
    reached_click = F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view"))
    reached_buy = reached_click & (F.col("t_buy") > F.col("t_click"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(reached_click, 1).otherwise(0)).alias("n_view_then_click"),
        F.sum(F.when(reached_buy, 1).otherwise(0)).alias("n_full_funnel"),
    )


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_buy
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 ELSE 0 END) AS BIGINT) AS n_view_then_click,
       CAST(SUM(CASE WHEN t_view IS NOT NULL AND t_click > t_view AND t_buy > t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM per_user
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-event day, counted
    per days-since-cohort (daily grain — the synthetic events span one
    month). Two aggregations (first-touch per user, then cohort×offset
    distinct counts) — the window-free shape that scales: no per-user
    state beyond the first groupBy."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    # cohort_day is a day boundary but typed TIMESTAMP: Spark DATE arrives
    # in pandas/Arrow as object(datetime.date) while DuckDB DATE arrives as
    # datetime64 — a canon mismatch even when values agree.
    first = ev.groupBy("user_id").agg(
        F.to_date(F.min("ts")).cast("timestamp").alias("cohort_day")
    )
    daily = ev.select(
        "user_id", F.to_date(F.col("ts")).cast("timestamp").alias("active_day")
    ).distinct()
    return (
        daily.join(first, "user_id")
        .withColumn(
            "days_since",
            F.datediff(F.col("active_day"), F.col("cohort_day")).cast("long"),
        )
        .groupBy("cohort_day", "days_since")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


COHORT_SQL = """
WITH first AS (
  SELECT user_id, CAST(CAST(MIN(ts) AS DATE) AS TIMESTAMP) AS cohort_day
  FROM events GROUP BY user_id
), daily AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS DATE) AS TIMESTAMP) AS active_day
  FROM events
)
SELECT cohort_day, date_diff('day', cohort_day, active_day) AS days_since,
       COUNT(DISTINCT daily.user_id) AS n_active
FROM daily JOIN first ON daily.user_id = first.user_id
GROUP BY 1, 2
"""


def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume per year. The fact join
    (lineitem ⨝ orders) shuffles once on orderkey; customer, supplier and
    the nation dims all broadcast, so the cust-nation ≠ supp-nation
    filter never forces a second fact shuffle."""
    nation_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    nation_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .join(F.broadcast(nation_c), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(nation_s), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(
            "cust_nation", "supp_nation",
            F.year("o_orderdate").cast("int").alias("trade_year"),
        )
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
            ).cast("double").alias("volume")
        )
    )


NATION_TRADE_SQL = """
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(year(o_orderdate) AS INT) AS trade_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS volume
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE c_nationkey <> s_nationkey
GROUP BY 1, 2, 3
"""


def regional_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3 suppliers' share of EUROPE-customer
    revenue per year — a ratio of conditional decimal sums (exact), cast
    to double only for the final division."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup_nation = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .join(F.broadcast(sup_nation), F.col("s_nationkey") == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("int").alias("share_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        F.lit(0).cast("decimal(23,4)")
                    )
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


MARKET_SHARE_SQL = """
SELECT CAST(year(o_orderdate) AS INT) AS share_year,
       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                ELSE CAST(0 AS DECIMAL(23,4)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN orders    ON l_orderkey = o_orderkey
JOIN supplier  ON l_suppkey = s_suppkey
JOIN customer  ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region    ON cn.n_regionkey = r_regionkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'EUROPE'
GROUP BY 1
"""


def returned_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue of returned items in
    one quarter. Predicates (returnflag, date window) reach the scans
    before the orderkey shuffle; customer and nation broadcast; total
    ORDER BY (revenue DESC, c_custkey) makes the LIMIT deterministic."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
            ).cast("double").alias("returned_revenue")
        )
        .orderBy(F.col("returned_revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


RETURNED_REVENUE_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS returned_revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY returned_revenue DESC, c_custkey
LIMIT 20
"""


def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts,
    including zero-order customers (left join). Two aggregations: count
    per customer (shuffle on custkey), then the tiny count-of-counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


CUST_ORDER_DIST_SQL = """
WITH per_cust AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
"""


def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) whose windowed revenue equals the
    global max. The scalar max comes from a 1-row aggregate broadcast
    back against the per-supplier revenue — no window over an unbounded
    unpartitioned frame (which would serialize on one task at scale).
    Decimal revenue makes the equality exact."""
    sup = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
            ).alias("total_revenue")
        )
    )
    max_rev = rev.agg(F.max("total_revenue").alias("__max_rev"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == max_rev["__max_rev"])
        .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name",
                F.col("total_revenue").cast("double").alias("total_revenue"))
    )


TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
"""


def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue − cost) on 'red' parts by supplier
    nation and year. No partsupp table in this schema, so cost =
    p_retailprice × l_quantity. Part filter prunes before the fact
    shuffle; supplier/nation broadcast; all money stays decimal (exact)."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey", "p_retailprice")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    profit = (
        _dec("l_extendedprice")
        * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
        - _dec("p_retailprice") * _dec("l_quantity")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", F.year("o_orderdate").cast("int").alias("profit_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


PRODUCT_PROFIT_SQL = """
SELECT n_name, CAST(year(o_orderdate) AS INT) AS profit_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
           - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
"""


def supplier_count_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per part attribute
    bucket, excluding one brand, one type, and 'complaint' suppliers
    (negative acctbal) via NOT IN — expressed as a broadcast anti-join,
    the null-safe, scale-safe rewrite of NOT IN."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 11, 20, 25, 30, 40, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_sup = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(bad_sup), li.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


SUPPLIER_COUNT_SQL = """
SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
  AND p_size IN (1, 5, 11, 20, 25, 30, 40, 49)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3
"""


def excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped more than half of a 'red'
    part's 1996 volume. The correlated per-part total is a second
    aggregation over the first one's output (already tiny), and the
    half-comparison uses 2×q_ps > q_p so everything stays in exact
    decimals — no 0.5 float factor."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    ).select("p_partkey")
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1996
    )
    per_ps = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec("l_quantity")).alias("q_ps"))
    )
    per_p = per_ps.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum("q_ps").alias("q_p")
    )
    return (
        per_ps.join(per_p, per_ps.l_partkey == per_p.pk)
        .filter(F.col("q_ps") * 2 > F.col("q_p"))
        .join(F.broadcast(sup), per_ps.l_suppkey == sup.s_suppkey)
        .select("s_suppkey", "s_name")
        .distinct()
    )


EXCESS_VOLUME_SQL = """
WITH per_ps AS (
  SELECT l_partkey, l_suppkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS q_ps
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%red%' AND year(l_shipdate) = 1996
  GROUP BY 1, 2
), per_p AS (
  SELECT l_partkey, SUM(q_ps) AS q_p FROM per_ps GROUP BY 1
)
SELECT DISTINCT s_suppkey, s_name
FROM per_ps
JOIN per_p USING (l_partkey)
JOIN supplier ON l_suppkey = s_suppkey
WHERE q_ps * 2 > q_p
"""


def exclusive_fault_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: in multi-supplier orders, the supplier who is the
    ONLY one with returned lines (exists-another / not-exists-another
    rewritten as one per-order aggregate + a window over its output —
    one fact shuffle on orderkey, then windows over already-reduced
    rows). Top-10 by fault count with full tie-break."""
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    li = load_table(spark, sf_dir, "lineitem")
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_r")
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "l_orderkey", "l_suppkey", "has_r",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("has_r").over(w).alias("n_fault"),
    )
    return (
        flagged.filter(
            (F.col("n_supp") >= 2) & (F.col("n_fault") == 1) & (F.col("has_r") == 1)
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey"))
        .limit(10)
    )


EXCLUSIVE_FAULT_SQL = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey,
         MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_r
  FROM lineitem GROUP BY 1, 2
), flagged AS (
  SELECT l_orderkey, l_suppkey, has_r,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         SUM(has_r) OVER (PARTITION BY l_orderkey) AS n_fault
  FROM per_os
)
SELECT s_suppkey, s_name, COUNT(*) AS numwait
FROM flagged
JOIN supplier ON l_suppkey = s_suppkey
WHERE n_supp >= 2 AND n_fault = 1 AND has_r = 1
GROUP BY 1, 2
ORDER BY numwait DESC, s_suppkey
LIMIT 10
"""


def special_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive (OR-of-conjuncts) join predicate over
    three brand/size/quantity brackets. The part-side disjunction
    (brand ∈ {...} AND size ≤ 50) is pushed below the join to prune the
    broadcast dim; the mixed li×part conjuncts evaluate post-join. One
    global aggregate row."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _dec("l_extendedprice") * (F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2))
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    bracket = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(16, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(31, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.filter(bracket).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


SPECIAL_BRACKET_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 30)
"""


def part_activity_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (SURVEY §2.5 D8 beyond union): parts shipped in
    both 1997 and 1998 (INTERSECT) vs only in 1997 (EXCEPT). Both set ops
    plan as aggregate/anti-join shapes — no driver-side sets."""
    li = load_table(spark, sf_dir, "lineitem")

    def year_keys(y: int) -> DataFrame:
        return (
            li.filter(F.year("l_shipdate") == y).select("l_partkey").distinct()
        )

    both = year_keys(1997).intersect(year_keys(1998))
    only97 = year_keys(1997).exceptAll(year_keys(1998))
    return (
        both.agg(F.lit("both_years").alias("segment"),
                 F.count(F.lit(1)).alias("n_parts"))
        .unionByName(
            only97.agg(F.lit("only_1997").alias("segment"),
                       F.count(F.lit(1)).alias("n_parts"))
        )
    )


PART_SETOPS_SQL = """
SELECT 'both_years' AS segment, COUNT(*) AS n_parts FROM (
  SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1997
  INTERSECT
  SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1998
)
UNION ALL
SELECT 'only_1997' AS segment, COUNT(*) AS n_parts FROM (
  SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1997
  EXCEPT
  SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1998
)
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

def event_pairs_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) self-join: ordered event pairs per user within one
    hour, aggregated by the (earlier, later) event-type transition.
    The reference has no range joins (SURVEY §2.6); this is the
    extension scale path — the band is folded into the equi-join key
    via time bucketing (operators/range_join.py), so the join never
    degrades to per-user quadratic on hot users."""
    from ..operators.range_join import band_self_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    pairs = band_self_join(ev, ["user_id"], "ts", 3600 * 1_000_000)
    return pairs.groupBy(
        F.col("a.event_type").alias("type_a"),
        F.col("b.event_type").alias("type_b"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("gap_us").alias("sum_gap_us"),
    )


EVENT_PAIRS_RANGE_SQL = """
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS n_pairs,
       CAST(SUM(epoch_us(b.ts) - epoch_us(a.ts)) AS BIGINT) AS sum_gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND epoch_us(b.ts) > epoch_us(a.ts)
 AND epoch_us(b.ts) <= epoch_us(a.ts) + CAST(3600 AS BIGINT) * 1000000
GROUP BY 1, 2
"""


def props_json_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured escape hatch, read-back side: the reference
    JSON-stringifies structs into NVARCHAR columns for later ad-hoc
    querying (src/transformers/tiktok_shop_transformer.py:152-156,
    SURVEY §1.2). Here the stored JSON (`events.props`) is queried with
    get_json_object — a codegen'd JVM path, no Python UDF — and
    aggregated per extracted key."""
    ev = load_table(spark, sf_dir, "events")
    prop_k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy(prop_k.alias("prop_k")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(_dec("value")).cast("double").alias("total_value"),
    )


PROPS_JSON_SQL = """
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1
"""


def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile segmentation of customers by lifetime spend, WITHOUT a
    global ranking window (a global ntile moves every row to one
    partition — a straggler at 10^9 customers; Spark warns "No Partition
    Defined for Window"). Scalable exact-rank plan:

    1. approx-quantile boundaries coarse-bucket the spend distribution
       (boundaries only balance work — exactness never depends on them);
    2. rows rank inside their coarse bucket (Window PARTITIONED by
       bucket — parallel, no single-partition exchange);
    3. per-bucket counts (<= 10 rows, collected as planning metadata)
       become rank offsets: global_rank = bucket_offset + local_rank.
       Equal spends share a bucket (bucket is a function of spend), and
       custkey breaks ties inside, so the global rank is exact;
    4. NTILE(10) is derived arithmetically from the exact rank —
       identical output to the oracle's NTILE window, different plan.
    """
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("spend")
    ).persist()
    n = spend.count()
    if n == 0:
        return spend.select(
            F.lit(0).cast("long").alias("decile"),
            F.lit(0).cast("long").alias("n_customers"),
            F.lit(0.0).alias("min_spend"), F.lit(0.0).alias("max_spend"),
            F.lit(0.0).alias("decile_spend"),
        ).limit(0)

    # coarse range buckets from approximate deciles of spend (desc order:
    # bucket 0 holds the top spenders). Duplicate boundaries collapse.
    probs = [i / 10.0 for i in range(1, 10)]
    bounds = sorted(set(
        spend.select(F.col("spend").cast("double").alias("s"))
        .approxQuantile("s", probs, 0.001)
    ))
    bucket = F.lit(len(bounds))  # below every boundary
    for i, b in enumerate(sorted(bounds, reverse=True)):
        bucket = F.when(F.col("spend").cast("double") >= F.lit(b), F.lit(i)).otherwise(bucket)
    bucketed = spend.withColumn("__cb", bucket)

    counts = {r["__cb"]: r["cnt"] for r in
              bucketed.groupBy("__cb").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for cb in sorted(counts):
        offsets[cb] = acc
        acc += counts[cb]
    offset_col = F.lit(0)
    for cb, off in offsets.items():
        offset_col = F.when(F.col("__cb") == cb, F.lit(off)).otherwise(offset_col)

    w = Window.partitionBy("__cb").orderBy(F.col("spend").desc(), F.col("o_custkey"))
    ranked = bucketed.withColumn(
        "__rank", (offset_col + F.row_number().over(w)).cast("long")
    )
    # NTILE(10) from the exact rank: first r tiles take q+1 rows, rest q.
    q, r = divmod(n, 10)
    big = r * (q + 1)
    decile = F.when(
        F.col("__rank") <= big, F.ceil(F.col("__rank") / F.lit(q + 1))
    ).otherwise(F.lit(r) + F.ceil((F.col("__rank") - big) / F.lit(max(q, 1))))
    return (
        ranked.withColumn("decile", decile.cast("long"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("spend").cast("double").alias("min_spend"),
            F.max("spend").cast("double").alias("max_spend"),
            F.sum("spend").cast("double").alias("decile_spend"),
        )
    )


SPEND_DECILES_SQL = """
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
  FROM orders GROUP BY 1
), ranked AS (
  SELECT spend, CAST(NTILE(10) OVER (ORDER BY spend DESC, o_custkey) AS BIGINT) AS decile
  FROM spend
)
SELECT decile, COUNT(*) AS n_customers, CAST(MIN(spend) AS DOUBLE) AS min_spend,
       CAST(MAX(spend) AS DOUBLE) AS max_spend, CAST(SUM(spend) AS DOUBLE) AS decile_spend
FROM ranked GROUP BY 1
"""


# Pathological-basket fence (r4 finding #4): per-order pair output is
# C(items,2), and ONE degenerate order with 1e5 distinct items yields
# 5e9 pairs from a single join key — AQE skew-split divides a skewed
# partition across tasks but cannot shrink one key's cross-product. The
# fence deterministically truncates each order to its MAX_BASKET_ITEMS
# lowest part keys (same hard-fence idea as dedup_fuzzy.MAX_PROFILE_DOCS),
# bounding per-order pair output at C(128,2)=8128. Real carts sit far
# below the cap (TPC-H baskets are <=7 items), so on sane data the fence
# is a no-op and the oracle stays exact; the truncation is mirrored in
# the DuckDB oracle SQL via QUALIFY so both engines see the same baskets.
MAX_BASKET_ITEMS = 128

# (table path) -> Observation counting rows dropped by the basket fence.
# Collected for free during the first action on the shared items table
# (no extra logging pass); read it after an action via
# basket_fence_dropped_rows().
_BASKET_FENCE_OBS: dict[str, "Observation"] = {}


def _basket_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted distinct (l_orderkey, l_partkey) table. The basket
    queries' shared intermediate: each plan references it 2-3 times
    (pair self-join sides + item counts), and Spark recomputes diamond
    lineages — without the persist every reference re-scans and
    re-shuffles the distinct. Fingerprint-keyed per corpus snapshot
    (index_store.cached_df, r6) like tfidf.term_frequencies."""
    from ..operators import index_store

    def build() -> DataFrame:
        from pyspark.sql import Observation

        obs = Observation(f"basket_fence:{sf_dir}")
        w = Window.partitionBy("l_orderkey").orderBy("l_partkey")
        # The row_number exchange is on l_orderkey — the same partitioning
        # the pair self-join needs, so the fence adds a per-order sort but
        # no extra shuffle, and the persisted table is already co-located
        # for the join.
        items = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
            .withColumn("__rn", F.row_number().over(w))
            .observe(
                obs,
                F.count(F.when(F.col("__rn") > MAX_BASKET_ITEMS, 1)).alias(
                    "dropped_rows"
                ),
            )
            .filter(F.col("__rn") <= MAX_BASKET_ITEMS)
            .drop("__rn")
        )
        _BASKET_FENCE_OBS[sf_dir] = obs
        return items

    return index_store.cached_df(
        spark, index_store.table_dir(sf_dir, "lineitem"), "basket_items", build,
    )


def basket_fence_dropped_rows(sf_dir: str) -> int | None:
    """Rows the basket fence truncated, observed during the first action
    on the shared items table. None if no basket query ran yet for this
    sf_dir (or the cached table was built by an earlier session)."""
    obs = _BASKET_FENCE_OBS.get(sf_dir)
    if obs is None:
        return None
    try:
        return obs.get["dropped_rows"]
    except Exception:  # noqa: BLE001 — observation not yet collected
        return None


# Portable fence SQL (this string must parse in BOTH Spark SQL and
# DuckDB — the sql-interface tests run it through Spark): a plain
# ROW_NUMBER subquery, not QUALIFY (Spark has no QUALIFY), with the
# distinct in its own inner subquery so the row numbers are computed
# over deduped pairs exactly like the DataFrame plan.
_BASKET_ITEMS_SQL = f"""SELECT l_orderkey, l_partkey FROM (
    SELECT l_orderkey, l_partkey,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) d
  ) f WHERE rn <= {MAX_BASKET_ITEMS}"""


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item co-purchase counts — the "customers also bought" aggregate
    behind retail recommendations (new analytics surface; the reference
    stops at staging its order items). Per unordered part pair, the
    number of orders containing both, top-25 with a total order.

    Scale shape: the pair explosion is a lineitem SELF-JOIN on the order
    key with ``part_a < part_b`` — per-order work is C(items,2), bounded
    by per-order basket size (≤7 in TPC-H-shaped data, small constants
    in real carts), NEVER corpus-quadratic. One shuffle co-locates each
    order's items; the pair aggregate is map-side-combinable. At 100 TB
    the same plan holds; a pathological single order (1e5 items → 5e9
    pairs from one key, which AQE skew-split cannot shrink) is hard-capped
    by the MAX_BASKET_ITEMS fence in ``_basket_items``."""
    li = _basket_items(spark, sf_dir)
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    )
    return (
        pairs.groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("part_a"), F.col("part_b"))
        .limit(25)
    )


COPURCHASE_SQL = f"""
WITH items AS (
  {_BASKET_ITEMS_SQL}
)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM items a JOIN items b
  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 25
"""


MIN_PAIR_SUPPORT = 2  # pairs must co-occur in at least this many orders


def basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift for co-purchased pairs with minimum support:
    lift = P(a,b) / (P(a)·P(b)) = n_ab·N / (n_a·n_b). Everything stays
    integer until ONE final division (the cross-engine determinism
    rule), computed as two exact bigint products cast to double.
    Per-item order counts are a tiny aggregate joined back to the pair
    table (vocabulary-bounded → AQE broadcasts it)."""
    li = _basket_items(spark, sf_dir)
    # corpus size as a 1-row broadcast, not a driver action (the same
    # in-plan scalar shape as tfidf_top_terms / retention_filter)
    n_df = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item_counts = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_item"))
    a, b = li.alias("a"), li.alias("b")
    pair_counts = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= MIN_PAIR_SUPPORT)
    )
    ca = item_counts.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    cb = item_counts.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    return (
        pair_counts.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n_df))
        .select(
            "part_a", "part_b", "n_ab", "n_a", "n_b",
            (
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("lift"),
        )
    )


BASKET_LIFT_SQL = f"""
WITH items AS (
  {_BASKET_ITEMS_SQL}
), n AS (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items
), item_counts AS (
  SELECT l_partkey, COUNT(*) AS n_item FROM items GROUP BY 1
), pair_counts AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_ab
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {MIN_PAIR_SUPPORT}
)
SELECT p.part_a, p.part_b, p.n_ab, ca.n_item AS n_a, cb.n_item AS n_b,
       CAST(p.n_ab * n.n_orders AS DOUBLE) / CAST(ca.n_item * cb.n_item AS DOUBLE)
         AS lift
FROM pair_counts p
JOIN item_counts ca ON p.part_a = ca.l_partkey
JOIN item_counts cb ON p.part_b = cb.l_partkey
CROSS JOIN n
"""


PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"]


def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the data-quality report every warehouse load
    starts with (the reference's load_statistics A1/A2 generalized to
    per-column form): one row per profiled column with row/null/distinct
    counts and the value range (as strings, so heterogeneous column
    types share one schema).

    Scale shape — two single-scan aggregates, deliberately split:

    - counts + NATIVE-typed min/max come from one zero-group-key agg
      (map-side partials; min/max compare in the column's own type, so
      numeric ranges are numeric — a string-cast-first unpivot would
      order "99" > "100");
    - distinct counts come from the unpivoted (column_name, value)
      shape: group keys are strings, which keeps the whole distinct
      pipeline in hash aggregation. Folding COUNT(DISTINCT) per column
      into the wide agg instead triggers Spark's multi-distinct Expand
      (xK rows) feeding a SortAggregate (string min/max buffers are not
      hash-agg mutable) — measured 4-5x slower at sf0.1.

    The two tiny results join on column_name. At extreme widths swap
    count_distinct for approx_count_distinct."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            F.min(F.col(c)).cast("string").alias(f"{c}__mn"),
            F.max(F.col(c)).cast("string").alias(f"{c}__mx"),
        ]
    wide = orders.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nn, {c}__mn, {c}__mx" for c in PROFILE_COLS
    )
    base = wide.selectExpr(
        "__rows AS n_rows",
        f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
        "(column_name, n_non_null, min_value, max_value)",
    )
    value_stack = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in PROFILE_COLS
    )
    distincts = (
        orders.selectExpr(
            f"stack({len(PROFILE_COLS)}, {value_stack}) AS (column_name, value)"
        )
        .groupBy("column_name")
        .agg(F.count_distinct(F.col("value")).alias("n_distinct"))
    )
    return base.join(F.broadcast(distincts), "column_name").select(
        "column_name", "n_rows", "n_non_null",
        (F.col("n_rows") - F.col("n_non_null")).alias("n_null"),
        "n_distinct", "min_value", "max_value",
    )


TABLE_PROFILE_SQL = f"""
WITH wide AS (
  SELECT COUNT(*) AS n_rows,
         {", ".join(
             f"COUNT({c}) AS {c}__nn, COUNT(DISTINCT {c}) AS {c}__nd, "
             f"CAST(MIN({c}) AS STRING) AS {c}__mn, CAST(MAX({c}) AS STRING) AS {c}__mx"
             for c in PROFILE_COLS)}
  FROM orders
)
{" UNION ALL ".join(
    f"SELECT '{c}' AS column_name, n_rows, {c}__nn AS n_non_null, "
    f"n_rows - {c}__nn AS n_null, {c}__nd AS n_distinct, "
    f"{c}__mn AS min_value, {c}__mx AS max_value FROM wide"
    for c in PROFILE_COLS)}
"""


QUERIES: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_top_unshipped": (q3_top_unshipped, Q3_SQL),
    "q5_revenue_by_nation": (q5_revenue_by_nation, Q5_SQL),
    "top_suppliers_per_nation": (top_suppliers_per_nation, TOP_SUPPLIERS_SQL),
    "sales_rollup": (sales_rollup, SALES_ROLLUP_SQL),
    "order_priority_counts": (order_priority_counts, ORDER_PRIORITY_SQL),
    "customer_order_stats": (customer_order_stats, CUSTOMER_ORDER_STATS_SQL),
    "dedup_keep_newest": (dedup_keep_newest, DEDUP_KEEP_NEWEST_SQL),
    "dedup_drop_all": (dedup_drop_all, DEDUP_DROP_ALL_SQL),
    "merge_upsert_orders": (merge_upsert_orders, MERGE_UPSERT_SQL),
    "explode_flatten_orders": (explode_flatten_orders, EXPLODE_FLATTEN_SQL),
    "coercion_kernel_events": (coercion_kernel_events, COERCION_KERNEL_SQL),
    "load_statistics": (load_statistics, LOAD_STATISTICS_SQL),
    "row_count_report": (row_count_report, ROW_COUNT_REPORT_SQL),
    "user_running_totals": (user_running_totals, USER_RUNNING_TOTALS_SQL),
    "sessionize_events": (sessionize_events, SESSIONIZE_SQL),
    "pivot_status_by_priority": (pivot_status_by_priority, PIVOT_SQL),
    "cube_sales": (cube_sales, CUBE_SALES_SQL),
    "customers_without_orders": (customers_without_orders, CUSTOMERS_WITHOUT_ORDERS_SQL),
    "retention_filter": (retention_filter, RETENTION_SQL),
    "schema_aligned_events": (schema_aligned_events, SCHEMA_ALIGNED_SQL),
    "asof_last_purchase": (asof_last_purchase, ASOF_SQL),
    "first_last_item_per_order": (first_last_item_per_order, FIRST_LAST_SQL),
    "events_hourly_windows": (events_hourly_windows, EVENTS_HOURLY_SQL),
    "salted_event_type_totals": (salted_event_type_totals, SALTED_TOTALS_SQL),
    "salted_user_segment_totals": (salted_user_segment_totals, SALTED_SEGMENT_SQL),
    "cheapest_part_per_brand": (cheapest_part_per_brand, CHEAPEST_PART_SQL),
    "revenue_by_year_region": (revenue_by_year_region, REVENUE_YEAR_REGION_SQL),
    "part_supplier_stats": (part_supplier_stats, PART_SUPPLIER_STATS_SQL),
    "approx_sketch_stats": (approx_sketch_stats, None),  # approximate: rows-only check
    "q6_sql_interface": (q6_sql_interface, Q6_TEXT),
    "urgent_share_by_flag": (urgent_share_by_flag, URGENT_SHARE_SQL),
    "promo_revenue_share": (promo_revenue_share, PROMO_SHARE_SQL),
    "small_quantity_revenue": (small_quantity_revenue, SMALL_QTY_SQL),
    "big_order_customers": (big_order_customers, BIG_ORDER_SQL),
    "idle_rich_customers": (idle_rich_customers, IDLE_RICH_SQL),
    "part_activity_setops": (part_activity_setops, PART_SETOPS_SQL),
    "special_bracket_revenue": (special_bracket_revenue, SPECIAL_BRACKET_SQL),
    "funnel_conversion": (funnel_conversion, FUNNEL_SQL),
    "cohort_retention": (cohort_retention, COHORT_SQL),
    "nation_trade_volume": (nation_trade_volume, NATION_TRADE_SQL),
    "regional_market_share": (regional_market_share, MARKET_SHARE_SQL),
    "returned_revenue_customers": (returned_revenue_customers, RETURNED_REVENUE_SQL),
    "customer_order_distribution": (customer_order_distribution, CUST_ORDER_DIST_SQL),
    "top_revenue_supplier": (top_revenue_supplier, TOP_SUPPLIER_SQL),
    "product_profit_by_nation": (product_profit_by_nation, PRODUCT_PROFIT_SQL),
    "supplier_count_by_part_attrs": (supplier_count_by_part_attrs, SUPPLIER_COUNT_SQL),
    "excess_volume_suppliers": (excess_volume_suppliers, EXCESS_VOLUME_SQL),
    "exclusive_fault_suppliers": (exclusive_fault_suppliers, EXCLUSIVE_FAULT_SQL),
    "event_pairs_range_join": (event_pairs_range_join, EVENT_PAIRS_RANGE_SQL),
    "props_json_totals": (props_json_totals, PROPS_JSON_SQL),
    "customer_spend_deciles": (customer_spend_deciles, SPEND_DECILES_SQL),
    "copurchase_pairs": (copurchase_pairs, COPURCHASE_SQL),
    "basket_lift": (basket_lift, BASKET_LIFT_SQL),
    "table_profile_orders": (table_profile_orders, TABLE_PROFILE_SQL),
}
