"""Relational operator suite over the TPC-H-ish driver tables.

These prove the general operator inventory the reference's entity model maps
onto (SURVEY.md §2.1-§2.6): scans with pushed-down filters (S1-S6), column
pruning projections (P1-P3), FK hierarchy joins (J1), semi/anti joins
(J2/J5), count aggregates (A1), pagination (T2), plus the Spark-native
extensions the reference lacks (window functions, rollup, distinct aggs).

Scale notes (100 TB thinking):
  - Dimension tables (region/nation/customer/supplier/part) are broadcast --
    Catalyst auto-broadcasts under the threshold; we force it where the
    statistics might not be known (fresh parquet without analyzed stats).
  - Fact-side aggregations rely on partial (map-side) aggregation; the only
    shuffle is on the (low-cardinality, well-distributed) group keys.
  - Top-k results use TakeOrderedAndProject, never a global sort.

Float determinism vs the DuckDB oracle: a double SUM over 600k+ rows
accumulates order-dependent error larger than any rounding grain, so every
big SUM is computed in DECIMAL (exact, order-independent) and cast back to
double at the end. Inputs here are 2-dp money values, so decimal(25,10) is
lossless; per-row double products (price * (1-discount)) are bit-identical
across engines before the decimal cast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.vector import normalize_float
from ..sources.tables import load_table
from . import _memo

DEC = "decimal(25,6)"


MICRO = 1_000_000  # all numeric inputs here have <= 6 decimal places


def _micros(c: Column) -> Column:
    """Exact-integer micro-unit sum: round each value to an integral
    micro-unit BIGINT first, then sum longs.

    Why this dance: a plain double SUM is order-dependent; the previous
    per-row decimal(25,6) cast was exact but decimal128 aggregation
    buffers measure ~2.5x slower than long sums (and DuckDB's
    int128-decimal -> double cast is not correctly rounded -- 1-ulp
    divergences vs Spark's BigDecimal path). Per-row rounding happens on
    IDENTICAL doubles with the same half-away-from-zero rule in both
    engines (Spark F.round HALF_UP == DuckDB round()), so the long sums
    match bit-for-bit, integral BIGINTs convert to double identically,
    and the final IEEE division by the same literal is exact at any
    magnitude. Long sums also survive any aggregation buffer (window,
    streaming state) without a decimal slow path.

    Range bound: the pattern holds while a group's |sum| * 1e6 stays under
    2^63 (~9.2e12 in value units -- four orders of magnitude above the
    largest group at bench scale). A Q1-style global group over ~1e12
    rows at 100 TB WOULD overflow int64 micros; the drop-in there is
    per-row micros summed as decimal(38,0) -- still integer-exact (no
    fractional decimal arithmetic, so none of the decimal->double cast
    divergence this pattern avoids), at decimal-buffer cost only for the
    queries that need the headroom."""
    return F.sum(F.round(c * F.lit(float(MICRO)), 0).cast("long"))


def dsum(c: Column) -> Column:
    return normalize_float(
        _micros(c).cast("double") / F.lit(float(MICRO)), round_to=None
    )


def davg(c: Column) -> Column:
    """avg = (exact micro-sum -> double / 1e6) / count; both divisions are
    performed on identical operands in both engines."""
    return normalize_float(
        (_micros(c).cast("double") / F.lit(float(MICRO)))
        / F.count(F.lit(1)).cast("double"),
        round_to=None,
    )


ORACLE_DEC = f"DECIMAL(25,6)"


def osum(expr: str) -> str:
    # mirrors _micros exactly: per-row round to micro-units (DuckDB round
    # == half away from zero == Spark HALF_UP), long sum, IEEE divide
    return (
        f"(sum(round(({expr}) * {MICRO}.0)::BIGINT)::DOUBLE"
        f" / {MICRO}.0 + 0.0)"
    )


def oavg(expr: str) -> str:
    return (
        f"((sum(round(({expr}) * {MICRO}.0)::BIGINT)::DOUBLE"
        f" / {MICRO}.0) / count(*) + 0.0)"
    )


# --------------------------------------------------------------------------
# Q1-style pricing summary: the canonical scan -> partial agg -> final agg
# --------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str, ship_before: str = "2000-01-01") -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit(ship_before).cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity")).alias("sum_qty"),
            dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(F.col("l_quantity")).alias("avg_qty"),
            davg(F.col("l_extendedprice")).alias("avg_price"),
            davg(F.col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def pricing_summary_oracle(ship_before: str = "2000-01-01") -> str:
    dp = "l_extendedprice * (1.0 - l_discount)"
    ch = f"{dp} * (1.0 + l_tax)"
    return f"""
SELECT l_returnflag, l_linestatus,
       {osum('l_quantity')} AS sum_qty,
       {osum('l_extendedprice')} AS sum_base_price,
       {osum(dp)} AS sum_disc_price,
       {osum(ch)} AS sum_charge,
       {oavg('l_quantity')} AS avg_qty,
       {oavg('l_extendedprice')} AS avg_price,
       {oavg('l_discount')} AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '{ship_before} 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""".strip()


# --------------------------------------------------------------------------
# Q3-style shipping priority: 3-way join, agg, top-k
# --------------------------------------------------------------------------

def shipping_priority(spark: SparkSession, sf_dir: str, segment: str = "BUILDING",
                      cutoff: str = "1998-01-01", k: int = 10) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == segment)
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(k)
    )


def shipping_priority_oracle(segment: str = "BUILDING", cutoff: str = "1998-01-01", k: int = 10) -> str:
    return f"""
SELECT l_orderkey, o_orderdate, {osum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = '{segment}' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '{cutoff} 00:00:00' AND l_shipdate > TIMESTAMP '{cutoff} 00:00:00'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey
LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# Q5-style local supplier volume: 5/6-way star join, agg by nation
# --------------------------------------------------------------------------

def local_supplier_volume(spark: SparkSession, sf_dir: str, region: str = "ASIA") -> DataFrame:
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    nat = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    dims = (
        cust.join(F.broadcast(nat.join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))),
                  F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(dims, (F.col("o_custkey") == F.col("c_custkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def local_supplier_volume_oracle(region: str = "ASIA") -> str:
    return f"""
SELECT n_name, {osum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND c_nationkey = n_nationkey
  AND n_regionkey = r_regionkey AND r_name = '{region}'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""".strip()


# --------------------------------------------------------------------------
# Window functions: top-N orders per customer (rank), running revenue
# --------------------------------------------------------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= n)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


def top_orders_per_customer_oracle(n: int = 3) -> str:
    return f"""
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
WHERE rn <= {n}
""".strip()


def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum window frame (integral micro-unit accumulation for
    determinism -- same per-row rounding contract as :func:`_micros`)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    micros = F.round(F.col("o_totalprice") * F.lit(float(MICRO)), 0).cast("long")
    running = F.sum(micros).over(w).cast("double") / F.lit(float(MICRO))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        normalize_float(running, round_to=None).alias("running_total"),
    )


def running_revenue_per_customer_oracle() -> str:
    return f"""
SELECT o_custkey, o_orderkey,
       (sum(round(o_totalprice * {MICRO}.0)::BIGINT) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         )::DOUBLE / {MICRO}.0 + 0.0) AS running_total
FROM orders
""".strip()


# --------------------------------------------------------------------------
# Rollup (grouping sets) -- beyond-reference aggregate surface
# --------------------------------------------------------------------------

def order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"),
             dsum(F.col("o_totalprice")).alias("total_price"))
    )


def order_rollup_oracle() -> str:
    return f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {osum('o_totalprice')} AS total_price
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""".strip()


def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four grouping sets in one pass --
    completing the grouping surface next to :func:`order_rollup` (the
    hierarchy prefix sets) and :func:`grouping_sets_orders` (explicit
    sets via the spark.sql path). GROUPING() ids disambiguate a NULL
    group value from a subtotal row, so the hash compare is exact even
    if a grouping column were nullable. One shuffle: Spark expands the
    cube map-side and aggregates the expanded keys in a single
    exchange."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_price"),
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        )
    )


def order_cube_oracle() -> str:
    return f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       {osum('o_totalprice')} AS total_price,
       grouping(o_orderstatus)::BIGINT AS g_status,
       grouping(o_orderpriority)::BIGINT AS g_priority
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""".strip()


PIVOT_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def order_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrame ``pivot()`` OPERATOR with DECLARED values (the twin
    :func:`order_status_pivot` states the same reshaping as manual
    conditional aggregation -- this one exercises Spark's native pivot
    path). Declared values matter at scale: without them pivot runs a
    distinct-value discovery pass first, which at 100 TB is its own full
    scan; with them the plan is a single hash aggregate of conditional
    counts -- one shuffle. The oracle states the equivalent FILTERed
    aggregation explicitly."""
    orders = load_table(spark, sf_dir, "orders")
    pv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", list(PIVOT_PRIORITIES))
        .agg(F.count(F.lit(1)))
    )
    renamed = pv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{p}`"), F.lit(0)).cast("long").alias(f"p{i + 1}")
            for i, p in enumerate(PIVOT_PRIORITIES)
        ],
    )
    return renamed.orderBy("o_orderstatus")


def order_pivot_oracle() -> str:
    cols = ",\n       ".join(
        f"count(*) FILTER (o_orderpriority = '{p}') AS p{i + 1}"
        for i, p in enumerate(PIVOT_PRIORITIES)
    )
    return f"""
SELECT o_orderstatus,
       {cols}
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""".strip()


# --------------------------------------------------------------------------
# Semi / anti joins (J2 / J5 cascade-delete semantics)
# --------------------------------------------------------------------------

def customers_with_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi: the reference's library-scoped chunk listing shape
    (disk_store.py:340-352 semi-join through documents)."""
    cust = load_table(spark, sf_dir, "customer")
    urgent = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        cust.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def customers_with_urgent_orders_oracle() -> str:
    return """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY c_custkey
""".strip()


def lineitems_after_order_delete(spark: SparkSession, sf_dir: str, status: str = "F") -> DataFrame:
    """left_anti: cascade delete as a batch transformation (J5,
    vector_store.py:74-87) -- 'delete' every order with the given status,
    then the surviving lineitems are the anti-join."""
    li = load_table(spark, sf_dir, "lineitem")
    deleted = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == status)
    return (
        li.join(deleted, F.col("l_orderkey") == F.col("o_orderkey"), "left_anti")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_lineitems"))
        .orderBy("l_returnflag")
    )


def lineitems_after_order_delete_oracle(status: str = "F") -> str:
    return f"""
SELECT l_returnflag, count(*) AS n_lineitems
FROM lineitem
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_orderkey = l_orderkey AND o_orderstatus = '{status}')
GROUP BY l_returnflag
ORDER BY l_returnflag
""".strip()


# --------------------------------------------------------------------------
# Hierarchy lookup join (J1): fact -> parent -> grandparent, broadcast
# --------------------------------------------------------------------------

def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> orders -> customer (chunk -> document -> library analog,
    vector_store.py:157-159): revenue by market segment."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_mktsegment")),
              F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_items"), dsum(revenue).alias("revenue"))
        .orderBy("c_mktsegment")
    )


def hierarchy_rollup_oracle() -> str:
    return f"""
SELECT c_mktsegment, count(*) AS n_items,
       {osum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem, orders, customer
WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
""".strip()


# --------------------------------------------------------------------------
# Pagination (T2) + projection / column pruning (P1-P3)
# --------------------------------------------------------------------------

def paginated_documents(spark: SparkSession, sf_dir: str, skip: int = 20, limit: int = 10) -> DataFrame:
    """offset/limit pagination with deterministic order (api.py:238-244;
    defaults skip=0 limit=100). Column-pruned projection drops `text`
    (the reference drops `embedding` from list responses, schemas.py:124-129)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
        .offset(skip)
        .limit(limit)
    )


def paginated_documents_oracle(skip: int = 20, limit: int = 10) -> str:
    return f"""
SELECT doc_id, lang, source, n_chars
FROM documents
ORDER BY doc_id
LIMIT {limit} OFFSET {skip}
""".strip()


def scan_filter_project(spark: SparkSession, sf_dir: str, lang: str = "en") -> DataFrame:
    """S2-style scan with FK-ish equality filter + pruned projection; the
    filter and the 2-column read schema both push into the parquet scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.col("lang") == lang).select("doc_id", "n_chars").orderBy("doc_id")


def scan_filter_project_oracle(lang: str = "en") -> str:
    return f"SELECT doc_id, n_chars FROM documents WHERE lang = '{lang}' ORDER BY doc_id"


# --------------------------------------------------------------------------
# Counts (A1) + distinct aggregate + JSON metadata filter (F1 analog)
# --------------------------------------------------------------------------

def doc_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 analog: derived counters via groupBy().count() instead of the
    reference's stored, incrementally-maintained counts (entities.py:148-166)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), dsum(F.col("n_chars")).alias("total_chars"))
        .orderBy("source", "lang")
    )


def doc_counts_oracle() -> str:
    return f"""
SELECT source, lang, count(*) AS n_docs, {osum('n_chars')} AS total_chars
FROM documents GROUP BY source, lang ORDER BY source, lang
""".strip()


def distinct_users_by_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"),
             F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


def distinct_users_by_event_oracle() -> str:
    return """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
""".strip()


def events_json_filter(spark: SparkSession, sf_dir: str, threshold: int = 50) -> DataFrame:
    """Conjunctive metadata equality/range on a JSON props column -- the
    MapType fallback for the reference's heterogeneous Metadata
    (vector_db/vector_store.py:261-265; missing key fails the predicate,
    which NULL-compare semantics reproduce)."""
    ev = load_table(spark, sf_dir, "events")
    kval = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.filter(kval >= threshold)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), davg(kval).alias("avg_k"))
        .orderBy("event_type")
    )


def events_json_filter_oracle(threshold: int = 50) -> str:
    kval = "json_extract_string(props, '$.k')::BIGINT"
    return f"""
SELECT event_type, count(*) AS n, {oavg(kval)} AS avg_k
FROM events
WHERE {kval} >= {threshold}
GROUP BY event_type ORDER BY event_type
""".strip()


# --------------------------------------------------------------------------
# Q6-style forecast: tight scan-side filters + single agg (pushdown demo)
# --------------------------------------------------------------------------

def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
             F.count(F.lit(1)).alias("n_items"))
    )


def revenue_forecast_oracle() -> str:
    return f"""
SELECT {osum('l_extendedprice * l_discount')} AS revenue, count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
""".strip()


# --------------------------------------------------------------------------
# Q2-style: min-per-group then join back (correlated-subquery shape)
# --------------------------------------------------------------------------

def min_cost_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    mins = part.groupBy("p_brand").agg(F.min("p_retailprice").alias("min_price"))
    return (
        part.join(F.broadcast(mins), "p_brand")
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_brand", "p_partkey", "p_name",
                normalize_float(F.col("p_retailprice"), None).alias("price"))
        .orderBy("p_brand", "p_partkey")
    )


def min_cost_parts_oracle() -> str:
    return """
SELECT p_brand, p_partkey, p_name, (p_retailprice + 0.0) AS price
FROM part
WHERE p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                       WHERE p2.p_brand = part.p_brand)
ORDER BY p_brand, p_partkey
""".strip()


# --------------------------------------------------------------------------
# Cube + pivot-style conditional aggregation
# --------------------------------------------------------------------------

def order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-aggregation pivot (statuses to columns) -- expressed with
    sum(CASE...) so the oracle is plain ANSI SQL, and the plan is one pass."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = [
        F.sum(F.when(F.col("o_orderstatus") == s, 1).otherwise(0)).alias(f"n_{s.lower()}")
        for s in ("O", "F", "P")
    ]
    return orders.groupBy("o_orderpriority").agg(*aggs).orderBy("o_orderpriority")


def order_status_pivot_oracle() -> str:
    # CAST: DuckDB sum(int) yields HUGEINT, which fetchdf() converts to
    # float64 -- the driver then hashes 1002.0 vs Spark's bigint 1002 and
    # mismatches. BIGINT keeps both engines int64. (round-1 driver finding)
    cols = ", ".join(
        f"CAST(sum(CASE WHEN o_orderstatus = '{s}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{s.lower()}"
        for s in ("O", "F", "P")
    )
    return f"SELECT o_orderpriority, {cols} FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"


# --------------------------------------------------------------------------
# Set operations: INTERSECT / EXCEPT / UNION
# --------------------------------------------------------------------------

def building_and_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return building.intersect(urgent).orderBy("c_custkey")


def building_and_urgent_oracle() -> str:
    return """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY c_custkey
""".strip()


def building_without_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return building.exceptAll(urgent.distinct()).orderBy("c_custkey")


def building_without_urgent_oracle() -> str:
    return """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
ORDER BY c_custkey
""".strip()


# --------------------------------------------------------------------------
# Outer join: customers with their order counts, including zero (left join)
# --------------------------------------------------------------------------

def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    return (
        cust.join(counts, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            "c_custkey",
            "c_mktsegment",
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("c_custkey")
    )


def customer_order_counts_oracle() -> str:
    return """
SELECT c_custkey, c_mktsegment, coalesce(n.n_orders, 0) AS n_orders
FROM customer LEFT JOIN (SELECT o_custkey, count(*) AS n_orders
                         FROM orders GROUP BY o_custkey) n
  ON c_custkey = n.o_custkey
ORDER BY c_custkey
""".strip()


# --------------------------------------------------------------------------
# Pagination with total / has_more (A2: the reference computes total before
# slicing, schemas.py:77-83). The total is a partial-aggregated count
# broadcast-crossJoined onto the page -- NOT a count(*) OVER () global
# window, which would funnel every filtered row through one task. Both
# sides are parallel pruned scans; the join side is a 1-row broadcast.
# --------------------------------------------------------------------------

def paginated_with_total(spark: SparkSession, sf_dir: str, lang: str = "de",
                         skip: int = 10, limit: int = 20) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("lang") == lang)
    total = docs.agg(F.count(F.lit(1)).alias("total"))
    return (
        docs.crossJoin(F.broadcast(total))
        .select("doc_id", "n_chars", "total",
                (F.lit(skip + limit) < F.col("total")).alias("has_more"))
        .orderBy("doc_id")
        .offset(skip)
        .limit(limit)
    )


def paginated_with_total_oracle(lang: str = "de", skip: int = 10, limit: int = 20) -> str:
    return f"""
SELECT doc_id, n_chars, total, ({skip} + {limit}) < total AS has_more
FROM (SELECT doc_id, n_chars, count(*) OVER () AS total
      FROM documents WHERE lang = '{lang}')
ORDER BY doc_id
LIMIT {limit} OFFSET {skip}
""".strip()


# --------------------------------------------------------------------------
# Sketch aggregates (Spark-native approximate surface; no SQL oracle --
# HLL/quantile-sketch internals differ per engine, so the driver records a
# rows-only check and tests bound the error against exact values)
# --------------------------------------------------------------------------

def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scalar columns only: the round-1 driver canonicalizer cannot hash
    # array-typed cells ("unhashable type: 'list'"), so the percentile
    # pair is split into value_p50 / value_p95
    ev = load_table(spark, sf_dir, "events")
    pcts = F.percentile_approx("value", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000))
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.count(F.lit(1)).alias("n"),
            pcts.alias("_pcts"),
        )
        .select(
            "event_type",
            "approx_users",
            F.element_at("_pcts", 1).alias("value_p50"),
            F.element_at("_pcts", 2).alias("value_p95"),
            "n",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# As-of join: for each purchase, the latest prior (or simultaneous) click
# by the same user. Spark lacks a native ASOF JOIN; the scalable pattern is
# union + last_value(ignorenulls) over a per-user event-time window -- one
# shuffle on user_id, no per-row subquery, no range explosion. The oracle
# uses DuckDB's native ASOF JOIN, so two completely independent
# implementations must agree.
# --------------------------------------------------------------------------

def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # dedupe clicks per (user, ts) so the as-of match is unambiguous
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select("user_id", F.col("ts").alias("ets"), "click_id",
                F.lit(0).alias("kind"), F.lit(None).cast("long").alias("purchase_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("ets"),
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("kind"), F.col("event_id").alias("purchase_id"),
    )
    merged = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ets", "kind")  # clicks sort before purchases at equal ts -> inclusive asof
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = merged.withColumn(
        "last_click_id", F.last("click_id", ignorenulls=True).over(w)
    )
    return (
        carried.filter((F.col("kind") == 1) & F.col("last_click_id").isNotNull())
        .select("user_id", "purchase_id", F.col("last_click_id").alias("click_id"))
        .orderBy("purchase_id")
    )


def asof_purchase_click_oracle() -> str:
    return """
WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
p AS (SELECT user_id, event_id AS purchase_id, ts
      FROM events WHERE event_type = 'purchase')
SELECT p.user_id, p.purchase_id, c.click_id
FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY purchase_id
""".strip()


# --------------------------------------------------------------------------
# Range (interval) join: facts against a small interval dimension -- the
# dimension broadcasts, so the inequality join is a per-row bucket lookup
# rather than a cross-product.
# --------------------------------------------------------------------------

YEAR_BUCKETS = [(y, f"{y}-01-01", f"{y + 2}-01-01") for y in (1995, 1997, 1999)]


def range_join_year_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    from ..sources.tables import arrow_local_df

    buckets = arrow_local_df(
        spark,
        {"bucket_start": [y for y, _, _ in YEAR_BUCKETS],
         "lo": [a for _, a, _ in YEAR_BUCKETS],
         "hi": [b for _, _, b in YEAR_BUCKETS]},
        "bucket_start int, lo string, hi string",
    ).select(
        "bucket_start",
        F.col("lo").cast("timestamp").alias("lo"),
        F.col("hi").cast("timestamp").alias("hi"),
    )
    return (
        orders.join(
            F.broadcast(buckets),
            (F.col("o_orderdate") >= F.col("lo")) & (F.col("o_orderdate") < F.col("hi")),
        )
        .groupBy("bucket_start")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum(F.col("o_totalprice")).alias("total"))
        .orderBy("bucket_start")
    )


def range_join_year_buckets_oracle() -> str:
    rows = ", ".join(f"({y}, TIMESTAMP '{a} 00:00:00', TIMESTAMP '{b} 00:00:00')" for y, a, b in YEAR_BUCKETS)
    return f"""
WITH buckets(bucket_start, lo, hi) AS (SELECT * FROM (VALUES {rows}))
SELECT bucket_start, count(*) AS n_orders, {osum('o_totalprice')} AS total
FROM orders JOIN buckets ON o_orderdate >= lo AND o_orderdate < hi
GROUP BY bucket_start ORDER BY bucket_start
""".strip()


# --------------------------------------------------------------------------
# Time-based trailing window frame: per-user trailing-1h event count
# (RANGE frame over event time -- microsecond-exact in both engines)
# --------------------------------------------------------------------------

def trailing_hour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # events.ts arrives as TIMESTAMP_NTZ (parquet timestamp[us] without UTC
    # flag); unix_micros needs TIMESTAMP proper. The cast is safe here: only
    # relative ordering and microsecond differences feed the RANGE frame,
    # both invariant under the NTZ->instant reinterpretation.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(w).alias("events_trailing_1h"),
        )
        .orderBy("event_id")
    )


def trailing_hour_activity_oracle() -> str:
    return """
SELECT user_id, event_id,
       count(*) OVER (PARTITION BY user_id ORDER BY ts::TIMESTAMP
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
         AS events_trailing_1h
FROM events
ORDER BY event_id
""".strip()


# --------------------------------------------------------------------------
# GROUPING SETS through the spark.sql entry path (the one operator family
# expressed as SQL text -- demonstrates the engine's SQL-string surface over
# registered views)
# --------------------------------------------------------------------------

def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


def grouping_sets_orders_oracle() -> str:
    return """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
""".strip()


# --------------------------------------------------------------------------
# Q4-style order priority checking: EXISTS-style semi-join + count
# --------------------------------------------------------------------------

def order_priority_check(spark: SparkSession, sf_dir: str,
                         lo: str = "1996-01-01", hi: str = "1997-01-01") -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
        & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
    )
    # lineitems that shipped after the window start (proxy for TPC-H Q4's
    # commitdate < receiptdate; this schema lacks those columns)
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit(lo).cast("timestamp")
    )
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def order_priority_check_oracle(lo: str = "1996-01-01", hi: str = "1997-01-01") -> str:
    return f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '{lo} 00:00:00' AND o_orderdate < TIMESTAMP '{hi} 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
              AND l_shipdate >= TIMESTAMP '{lo} 00:00:00')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""".strip()


# --------------------------------------------------------------------------
# Q10-style returned-item report: 4-way join, agg, top-k customers
# --------------------------------------------------------------------------

def returned_item_report(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nat = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(k)
    )


def returned_item_report_oracle(k: int = 20) -> str:
    return f"""
SELECT c_custkey, c_name, n_name,
       {osum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem, orders, customer, nation
WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# Q12-style shipmode-ish conditional aggregation over a join
# --------------------------------------------------------------------------

def priority_shipping_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


def priority_shipping_split_oracle() -> str:
    return """
SELECT l_linestatus,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS high_line_count,
       sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)::BIGINT
         AS low_line_count
FROM lineitem, orders
WHERE l_orderkey = o_orderkey
GROUP BY l_linestatus
ORDER BY l_linestatus
""".strip()


# --------------------------------------------------------------------------
# Q18-style large-volume orders: HAVING over a fact aggregate, joined back
# --------------------------------------------------------------------------

def large_orders(spark: SparkSession, sf_dir: str, min_qty: float = 150.0, k: int = 20) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .filter(F.col("total_qty") > min_qty)  # HAVING
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(k)
    )


def large_orders_oracle(min_qty: float = 150.0, k: int = 20) -> str:
    return f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
FROM (SELECT l_orderkey, {osum('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING {osum('l_quantity')} > {min_qty}) b
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT {k}
""".strip()


# --------------------------------------------------------------------------
# Exact interpolated percentiles (portable: both engines average the two
# straddling values with one IEEE op -- probed bit-equal)
# --------------------------------------------------------------------------

def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            normalize_float(F.expr("percentile(value, 0.25)"), None).alias("p25"),
            normalize_float(F.expr("percentile(value, 0.5)"), None).alias("p50"),
            normalize_float(F.expr("percentile(value, 0.75)"), None).alias("p75"),
        )
        .orderBy("event_type")
    )


def value_percentiles_oracle() -> str:
    return """
SELECT event_type,
       (quantile_cont(value, 0.25) + 0.0) AS p25,
       (quantile_cont(value, 0.5) + 0.0) AS p50,
       (quantile_cont(value, 0.75) + 0.0) AS p75
FROM events GROUP BY event_type ORDER BY event_type
""".strip()


# --------------------------------------------------------------------------
# Q7-style volume shipping between two nation roles: the same dimension
# joined twice under different aliases (supplier nation vs customer nation)
# --------------------------------------------------------------------------

def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    n1 = nat.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    n2 = nat.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    revenue = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    return (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("supp_nation", "cust_nation")
    )


def nation_trade_volume_oracle() -> str:
    return f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       {osum('l_extendedprice * (1.0 - l_discount)')} AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY supp_nation, cust_nation
ORDER BY supp_nation, cust_nation
""".strip()


# --------------------------------------------------------------------------
# Q13-style customer order distribution: LEFT JOIN -> per-customer count
# (0 preserved for order-less customers) -> histogram of counts
# --------------------------------------------------------------------------

def customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def customer_distribution_oracle() -> str:
    return """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""".strip()


# --------------------------------------------------------------------------
# Q15-style top supplier: quarter revenue per supplier, keep the max.
# The max-equality filter compares integral micro-unit BIGINTs, so the
# "revenue = (SELECT max(...))" correlated shape is exact cross-engine.
# --------------------------------------------------------------------------

def top_supplier(
    spark: SparkSession,
    sf_dir: str,
    date_from: str = "1996-01-01",
    date_to: str = "1996-04-01",
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(date_from))
        & (F.col("l_shipdate") < F.lit(date_to))
    )
    sup = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        _micros(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("rev_micro")
    )
    mx = rev.agg(F.max("rev_micro").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_micro") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            normalize_float(
                F.col("rev_micro").cast("double") / F.lit(float(MICRO)), None
            ).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def top_supplier_oracle(date_from: str = "1996-01-01", date_to: str = "1996-04-01") -> str:
    # same per-row micro-unit rounding as _micros (the Spark side's rev_micro)
    micro = f"sum(round((l_extendedprice * (1.0 - l_discount)) * {MICRO}.0)::BIGINT)"
    return f"""
WITH rev AS (
  SELECT l_suppkey, {micro} AS rev_micro
  FROM lineitem
  WHERE l_shipdate >= '{date_from}' AND l_shipdate < '{date_to}'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, (rev_micro::DOUBLE / {MICRO}.0 + 0.0) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_micro = (SELECT max(rev_micro) FROM rev)
ORDER BY s_suppkey
""".strip()


# --------------------------------------------------------------------------
# Q22-style sales opportunity: above-average-balance customers with no
# URGENT orders (every testdata customer has some order, so the anti-join
# runs against the filtered subset to stay non-trivial), grouped by
# nation. The threshold comparison is done in exact decimal arithmetic
# (balance * n > sum) -- no float avg can flip membership for values near
# the mean.
# --------------------------------------------------------------------------

def sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    stats = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast(DEC)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    eligible = (
        cust.crossJoin(F.broadcast(stats))
        .filter(F.col("c_acctbal").cast(DEC) * F.col("n") > F.col("s"))
    )
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
    no_orders = eligible.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return (
        no_orders.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_custs"), dsum(F.col("c_acctbal")).alias("total_acctbal"))
        .orderBy("c_nationkey")
    )


def sales_opportunity_oracle() -> str:
    return f"""
WITH stats AS (
  SELECT sum(c_acctbal::{ORACLE_DEC}) AS s, count(*) AS n
  FROM customer WHERE c_acctbal > 0.0),
eligible AS (
  SELECT c.* FROM customer c, stats
  WHERE c.c_acctbal::{ORACLE_DEC} * stats.n > stats.s),
no_orders AS (
  SELECT * FROM eligible e
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = e.c_custkey
                      AND o.o_orderpriority = '1-URGENT'))
SELECT c_nationkey, count(*) AS n_custs, {osum('c_acctbal')} AS total_acctbal
FROM no_orders
GROUP BY c_nationkey
ORDER BY c_nationkey
""".strip()


# --------------------------------------------------------------------------
# Q8-style national market share: the target nation's share of import
# volume into a region's market, per year. Both the numerator (conditional
# sum) and denominator are integral micro-unit BIGINTs, so the final ratio
# is ONE IEEE division on identical operands in both engines -- the only
# float op in the query.
# --------------------------------------------------------------------------

def market_share(
    spark: SparkSession,
    sf_dir: str,
    target_nation: str = "NATION_7",
    region: str = "EUROPE",
    p_type: str = "ECONOMY",
) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == p_type)
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    cust = load_table(spark, sf_dir, "customer")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == region)
    # customer's nation anchors the market (region filter); supplier's
    # nation is the exporter whose share we measure
    cnat = nat.join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")).select(
        F.col("n_nationkey").alias("cn_key")
    )
    snat = nat.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cnat), F.col("c_nationkey") == F.col("cn_key"), "left_semi")
        .join(F.broadcast(sup.select("s_suppkey", "s_nationkey")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("sn_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("volume"), "supp_nation")
    )
    agg = joined.groupBy("o_year").agg(
        _micros(F.when(F.col("supp_nation") == target_nation, F.col("volume")).otherwise(F.lit(0.0))).alias("num"),
        _micros(F.col("volume")).alias("den"),
    )
    return agg.select(
        "o_year",
        normalize_float(
            F.col("num").cast("double") / F.col("den").cast("double"), None
        ).alias("mkt_share"),
    ).orderBy("o_year")


def market_share_oracle(
    target_nation: str = "NATION_7", region: str = "EUROPE", p_type: str = "ECONOMY"
) -> str:
    # mirrors _micros: per-row round to micro-units, long sum
    num = (
        f"sum(round((CASE WHEN supp_nation = '{target_nation}' THEN volume ELSE 0.0 END)"
        f" * {MICRO}.0)::BIGINT)"
    )
    den = f"sum(round(volume * {MICRO}.0)::BIGINT)"
    return f"""
WITH base AS (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1.0 - l_discount) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE p_type = '{p_type}' AND r_name = '{region}'
    AND o_orderdate >= '1995-01-01' AND o_orderdate < '1997-01-01')
SELECT o_year, ({num}::DOUBLE / {den}::DOUBLE + 0.0) AS mkt_share
FROM base
GROUP BY o_year
ORDER BY o_year
""".strip()


# --------------------------------------------------------------------------
# Q14-style promo revenue share: conditional-sum / sum ratio over one
# ship-month. Same micro-unit ratio discipline as Q8.
# --------------------------------------------------------------------------

def promo_revenue(
    spark: SparkSession, sf_dir: str, date_from: str = "1995-09-01", date_to: str = "1995-10-01"
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit(date_from)) & (F.col("l_shipdate") < F.lit(date_to))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    vol = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    agg = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")).agg(
        _micros(F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0.0))).alias("num"),
        _micros(vol).alias("den"),
    )
    return agg.select(
        normalize_float(
            F.lit(100.0) * F.col("num").cast("double") / F.col("den").cast("double"), None
        ).alias("promo_share")
    )


def promo_revenue_oracle(date_from: str = "1995-09-01", date_to: str = "1995-10-01") -> str:
    num = (
        f"sum(round((CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount)"
        f" ELSE 0.0 END) * {MICRO}.0)::BIGINT)"
    )
    den = f"sum(round((l_extendedprice * (1.0 - l_discount)) * {MICRO}.0)::BIGINT)"
    return f"""
SELECT (100.0 * {num}::DOUBLE / {den}::DOUBLE + 0.0) AS promo_share
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= '{date_from}' AND l_shipdate < '{date_to}'
""".strip()


# --------------------------------------------------------------------------
# Q17-style small-quantity revenue: lineitems below 20% of their part's
# average quantity. The avg comparison is cleared of division entirely:
# l_quantity < 0.2 * (sq / n)  <=>  5 * qty * n < sq  in exact BIGINTs
# (quantities are integral), so membership can never flip on float error.
# --------------------------------------------------------------------------

def small_quantity_revenue(
    spark: SparkSession, sf_dir: str, brand: str = "Brand#13", p_type: str = "SMALL"
) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == brand) & (F.col("p_type") == p_type)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    li_b = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    per_part = li_b.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    small = li_b.join(F.broadcast(per_part), F.col("l_partkey") == F.col("pk")).filter(
        F.lit(5) * F.col("l_quantity").cast("long") * F.col("n") < F.col("sq")
    )
    return small.agg(
        normalize_float(
            (_micros(F.col("l_extendedprice")).cast("double") / F.lit(float(MICRO)))
            / F.lit(7.0),
            None,
        ).alias("avg_yearly")
    )


def small_quantity_revenue_oracle(brand: str = "Brand#13", p_type: str = "SMALL") -> str:
    micro = f"sum(round(l_extendedprice * {MICRO}.0)::BIGINT)"
    return f"""
WITH li_b AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '{brand}' AND p_type = '{p_type}'),
per_part AS (
  SELECT l_partkey AS pk, sum(l_quantity::BIGINT) AS sq, count(*) AS n
  FROM li_b GROUP BY l_partkey)
SELECT ({micro}::DOUBLE / {MICRO}.0 / 7.0 + 0.0) AS avg_yearly
FROM li_b JOIN per_part ON l_partkey = pk
WHERE 5 * l_quantity::BIGINT * n < sq
""".strip()


# --------------------------------------------------------------------------
# Q19-style disjunctive predicate join: OR of three (brand, size-range,
# quantity-range) conjunctions. Catalyst extracts the common l_partkey =
# p_partkey equi-key so this stays a hash join with the disjunction as a
# post-join filter, and pushes the per-side implied predicates
# (p_size >= 1, quantity bounds) into the scans.
# --------------------------------------------------------------------------

def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    b1 = (
        (F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return j.filter(b1 | b2 | b3).agg(
        dsum(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("revenue")
    )


def disjunctive_revenue_oracle() -> str:
    return f"""
SELECT {osum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)
""".strip()


# --------------------------------------------------------------------------
# Analytic window family: lag/lead offsets, ntile, percent_rank, cume_dist
# over each customer's order history. Deterministic because the window
# order is a total order ((o_orderdate, o_orderkey)); the rank ratios are
# single IEEE divisions of small integers, exact in both engines.
# --------------------------------------------------------------------------

def window_order_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.lag("o_totalprice", 1).over(w).alias("prev_price"),
            F.lead("o_totalprice", 1).over(w).alias("next_price"),
            F.ntile(4).over(w).cast("long").alias("quartile"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def window_order_analytics_oracle() -> str:
    return """
SELECT o_custkey, o_orderkey,
       lag(o_totalprice, 1) OVER w AS prev_price,
       lead(o_totalprice, 1) OVER w AS next_price,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
""".strip()


def sketch_accuracy_report(spark: SparkSession, sf_dir: str, tol: float = 0.1) -> DataFrame:
    """Sketch aggregates under the gate: the HLL distinct-count estimate
    per event type, reduced to a DETERMINISTIC verdict -- is the estimate
    within ``tol`` of the exact count? Each engine's sketch is internally
    deterministic for fixed data, and both sit far inside a 10% band at
    default precision, so the boolean (plus the exact count it is judged
    against) is hash-stable where the raw estimate is not -- this is how
    the engine turns a rows-only sketch into an oracle-checked one."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id").alias("_est"),
    )
    within = (
        F.abs(F.col("_est") - F.col("n_exact"))
        <= F.col("n_exact").cast("double") * F.lit(tol)
    )
    return agg.select(
        "event_type", "n_exact", within.alias("sketch_within_tol")
    ).orderBy("event_type")


def sketch_accuracy_report_oracle(tol: float = 0.1) -> str:
    return f"""
SELECT event_type,
       count(DISTINCT user_id) AS n_exact,
       abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
         <= count(DISTINCT user_id) * {tol} AS sketch_within_tol
FROM events GROUP BY event_type ORDER BY event_type
""".strip()


def product_profit(spark: SparkSession, sf_dir: str, name_like: str = "widget") -> DataFrame:
    """TPC-H Q9-shaped product-type profit: per (supplier nation, order
    year), profit over parts whose name contains ``name_like``. The
    testdata has no partsupp table, so supply cost is proxied as 10% of
    p_retailprice (amount = extprice*(1-disc) - 0.1*retailprice*qty) --
    the join/aggregation SHAPE is Q9's (lineitem ⋈ part ⋈ supplier ⋈
    orders ⋈ nation): the fact scan joins two broadcast dims and one
    co-keyed orders join, then one (nation, year) group-by. Amounts carry
    <= 6 decimal places, so the micro-unit decimal sum is exact
    (docstring of dsum)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains(name_like)
    )
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nat = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) - (
        F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(amount).alias("profit"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("nation", F.desc("o_year"))
    )


def product_profit_oracle(name_like: str = "widget") -> str:
    amt = "l_extendedprice * (1.0 - l_discount) - 0.1 * p_retailprice * l_quantity"
    return f"""
SELECT n_name AS nation, extract(year FROM o_orderdate)::BIGINT AS o_year,
       {osum(amt)} AS profit, count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE contains(p_name, '{name_like}')
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""".strip()


# --------------------------------------------------------------------------
# Correlated scalar subquery: orders priced above their customer's average.
# Catalyst DECORRELATES this into an aggregate + join (RewriteCorrelatedScalarSubquery),
# so the declarative per-row subquery executes as one shuffle-grouped
# aggregation joined back -- the optimizer feature the SQL surface exposes
# beyond what the DataFrame API spells out by hand. Averages are exact
# micro-unit sums divided in double (determinism contract).
# --------------------------------------------------------------------------

def above_avg_orders(spark: SparkSession, sf_dir: str, min_ratio: float = 1.5) -> DataFrame:
    """Orders whose o_totalprice exceeds min_ratio x their customer's mean
    order value -- a TRUE correlated scalar subquery in the SQL text; both
    engines decorrelate it into a grouped aggregate joined back. The mean
    follows the micro-unit contract (decimal sum -> BIGINT -> double /
    1e6 / count), so the float threshold compare is bit-identical
    cross-engine."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT o.o_orderkey AS o_orderkey, o.o_custkey AS o_custkey,
               o.o_totalprice AS o_totalprice
        FROM orders o
        WHERE o.o_totalprice > {min_ratio} * (
          SELECT (CAST(CAST(sum(CAST(o2.o_totalprice AS DECIMAL(25,6))) * 1000000 AS BIGINT) AS DOUBLE)
                  / 1000000.0) / CAST(count(*) AS DOUBLE)
          FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
        ORDER BY o_orderkey
    """)


def above_avg_orders_oracle(min_ratio: float = 1.5) -> str:
    return f"""
SELECT o.o_orderkey AS o_orderkey, o.o_custkey AS o_custkey,
       o.o_totalprice AS o_totalprice
FROM orders o
WHERE o.o_totalprice > {min_ratio} * (
  SELECT ((sum(o2.o_totalprice::DECIMAL(25,6)) * 1000000)::BIGINT::DOUBLE
          / 1000000.0) / count(*)::DOUBLE
  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_orderkey
""".strip()


# --------------------------------------------------------------------------
# LATERAL join: per-customer top-2 orders via a correlated table subquery --
# the SQL-standard form of "top-N per key". Spark plans LATERAL + LIMIT as
# a window under the hood; DuckDB executes the same SQL natively, so the
# surface is portable. (The window/TakeOrdered forms of top-N per key are
# gated elsewhere: window_top_orders_per_customer.)
# --------------------------------------------------------------------------

def lateral_top_orders(spark: SparkSession, sf_dir: str, top_n: int = 2) -> DataFrame:
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(f"""
        SELECT c.c_custkey AS c_custkey, t.o_orderkey AS o_orderkey,
               t.o_totalprice AS o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT {top_n}
        ) t
        ORDER BY c_custkey, o_totalprice DESC, o_orderkey
    """)


def lateral_top_orders_oracle(top_n: int = 2) -> str:
    return f"""
SELECT c.c_custkey AS c_custkey, t.o_orderkey AS o_orderkey,
       t.o_totalprice AS o_totalprice
FROM customer c,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT {top_n}
) t
ORDER BY c_custkey, o_totalprice DESC, o_orderkey
""".strip()


# --------------------------------------------------------------------------
# MapType metadata equality filter (SURVEY §2.3 F1) as a GATED query: the
# reference's conjunctive dict filter where a MISSING key fails the
# predicate (vector_db/vector_store.py:261-265 -- dict.get -> None !=
# expected). Metadata here is a real MapType column with data-dependent
# key presence ('src' only on doc_id % 3 == 0), so the NULL-comparison
# semantics (missing -> element_at NULL -> predicate NULL -> row dropped)
# are exactly what the gate hashes. At scale the map lives in the table;
# Catalyst still pushes the surrounding scan filters.
# --------------------------------------------------------------------------

def metadata_map_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    meta = F.when(
        F.col("doc_id") % 3 == 0,
        F.create_map(
            F.lit("lang"), F.col("lang"), F.lit("src"), F.col("source")
        ),
    ).otherwise(F.create_map(F.lit("lang"), F.col("lang")))
    with_meta = docs.select("doc_id", meta.alias("metadata"))
    # conjunctive equality over the map; docs lacking 'src' must drop
    pred = (F.col("metadata")["lang"] == "en") & (F.col("metadata")["src"] == "src1")
    return (
        with_meta.filter(pred)
        .select(
            "doc_id",
            F.col("metadata")["lang"].alias("lang"),
            F.col("metadata")["src"].alias("src"),
        )
        .orderBy("doc_id")
    )


def metadata_map_filter_oracle() -> str:
    return """
SELECT doc_id, lang, source AS src
FROM documents
WHERE lang = 'en' AND doc_id % 3 = 0 AND source = 'src1'
ORDER BY doc_id
""".strip()


# --------------------------------------------------------------------------
# Sort-free argmax: latest event per user via max(struct(ts, event_id, ...))
# -- ONE hash aggregation with map-side partial combine, no window, no
# per-key sort. At skewed 100 TB event tables this is the shape that
# replaces row_number()-over-user (which funnels each user's history
# through a sort); struct comparison is lexicographic on (ts, event_id),
# so ties break deterministically on the unique event id.
# --------------------------------------------------------------------------

def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    top = F.max(F.struct("ts", "event_id", "event_type")).alias("m")
    return (
        ev.groupBy("user_id")
        .agg(top)
        .select(
            "user_id",
            F.col("m.event_id").alias("last_event_id"),
            F.col("m.event_type").alias("last_event_type"),
            F.date_format("m.ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
        )
        .orderBy("user_id")
    )


def latest_event_per_user_oracle() -> str:
    return """
WITH ranked AS (
  SELECT user_id, event_id, event_type, ts,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS last_ts
FROM ranked WHERE rn = 1
ORDER BY user_id
""".strip()


# --------------------------------------------------------------------------
# ROWS-frame moving aggregate: trailing-4-orders mean per customer. The
# frame SUM accumulates integral micro-unit longs (exact at any frame
# ordering -- engines disagree on float summation order inside window
# frames, integer sums do not care), then one double division. Completes the
# frame-clause matrix next to the RANGE interval frame
# (window_trailing_1h) and the unbounded running frame
# (window_running_revenue).
# --------------------------------------------------------------------------

def trailing_orders_avg(spark: SparkSession, sf_dir: str, frame: int = 3) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-frame, 0)
    )
    micro = F.sum(
        F.round(F.col("o_totalprice") * F.lit(float(MICRO)), 0).cast("long")
    ).over(w)
    n = F.count(F.lit(1)).over(w).cast("double")
    avg = normalize_float(
        (micro.cast("double") / F.lit(float(MICRO))) / n, round_to=None
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            avg.alias("trailing_avg"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


def trailing_orders_avg_oracle(frame: int = 3) -> str:
    win = (
        "OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
        f"ROWS BETWEEN {frame} PRECEDING AND CURRENT ROW)"
    )
    return f"""
SELECT o_custkey, o_orderkey,
       ((sum(round(o_totalprice * {MICRO}.0)::BIGINT) {win})::DOUBLE
        / {MICRO}.0) / (count(*) {win})::DOUBLE + 0.0 AS trailing_avg
FROM orders
ORDER BY o_custkey, o_orderkey
""".strip()


# --------------------------------------------------------------------------
# Pareto / ABC analysis: customers ranked by revenue, cumulative share,
# and the A/B/C concentration class (<=80% / <=95% / rest). The cumulative
# rank/sum runs over the per-customer AGGREGATE -- still corpus-class at
# 100 TB (customers are millions), so it is computed DISTRIBUTED-exact
# with the same machinery as maintenance.range_partition_report: a range
# repartition on (rev desc, custkey) makes partitions contiguous in the
# total order, each partition ranks/prefix-sums locally (parallel window,
# partitioned by pid), and a broadcast per-partition (row, sum) offset
# table lifts local values to exact global ones. The only driver-side
# state is one (count, sum) row per shuffle partition; no single-task
# window anywhere. Shares are micro-unit-exact sums divided in double,
# rounded at 6 dp.
# --------------------------------------------------------------------------

# --------------------------------------------------------------------------
# Co-located (bucketed) big-big join as a REGISTERED query: pre-bucketing
# both fact tables on the join key at write time removes the exchange from
# every subsequent join -- the 100 TB repeated-join strategy (pay the
# lineitem⋈orders shuffle once, never again). tests/test_bucketed_join.py
# pins the plan property (SortMergeJoin, no hashpartitioning exchange,
# Bucketed: true); this query puts the strategy's RESULT under the driver
# oracle. The merge hint keeps the big-big SMJ shape at gate scale, where
# the dim side would otherwise auto-broadcast.
# --------------------------------------------------------------------------

BUCKETED_JOIN_BUCKETS = 8


@_memo.per_app
def _bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders + lineitem bucketed/sorted on the join key once per
    (application, sf_dir); table names are sf-tagged so concurrent gates
    over different scales never collide."""
    import re

    tag = re.sub(r"[^A-Za-z0-9]", "_", sf_dir.strip("/").split("/")[-1])
    on, ln = f"orders_bkt_{tag}", f"lineitem_bkt_{tag}"
    (
        load_table(spark, sf_dir, "orders")
        .write.mode("overwrite")
        .bucketBy(BUCKETED_JOIN_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .format("parquet")
        .saveAsTable(on)
    )
    (
        load_table(spark, sf_dir, "lineitem")
        .write.mode("overwrite")
        .bucketBy(BUCKETED_JOIN_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .format("parquet")
        .saveAsTable(ln)
    )
    return on, ln


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order-status line counts and micro-unit-exact revenue through
    the co-located join: (o_orderstatus, n_lines, revenue). The join
    crosses ZERO exchanges (bucket-aligned SMJ over pre-sorted buckets);
    the only shuffle in the plan is the 3-row status aggregate."""
    on, ln = _bucketed_pair(spark, sf_dir)
    o = spark.table(on).select("o_orderkey", "o_orderstatus")
    li = spark.table(ln).select("l_orderkey", "l_extendedprice", "l_discount")
    joined = li.hint("merge").join(
        o, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        joined.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(
                F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
            ).alias("revenue"),
        )
        .orderBy("o_orderstatus")
    )


def bucketed_join_revenue_oracle() -> str:
    return f"""
SELECT o_orderstatus, count(*) AS n_lines,
       {osum('l_extendedprice * (1.0 - l_discount)')} AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""".strip()


@_memo.per_app
def _pareto_parts(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list]:
    """(per-customer revenue range-partitioned by rank and persisted,
    per-partition (pid, cnt, s) rows)."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        _micros(F.col("o_totalprice")).alias("rev_micro")
    )
    n_parts = max(spark.sparkContext.defaultParallelism, 8)
    part = (
        per_cust.repartitionByRange(
            n_parts, F.col("rev_micro").desc(), F.col("o_custkey")
        )
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    # bounded driver-side state: one (count, sum) row per partition
    stats = (
        part.groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("rev_micro").cast("long").alias("s"),
        )
        .collect()
    )
    return part, stats


def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..sources.tables import arrow_local_df

    part, stats = _pareto_parts(spark, sf_dir)
    by_pid = {r["pid"]: (r["cnt"], r["s"]) for r in stats}
    total_micro = sum(s for _, s in by_pid.values())
    roff, soff, racc, sacc = [], [], 0, 0
    pids = sorted(by_pid) or [0]
    for pid in pids:
        roff.append(racc)
        soff.append(sacc)
        cnt, s = by_pid.get(pid, (0, 0))
        racc += cnt
        sacc += s
    off_df = arrow_local_df(
        spark,
        {"pid": pids, "roff": roff, "soff": soff},
        "pid int, roff long, soff long",
    )
    w = Window.partitionBy("pid").orderBy(F.col("rev_micro").desc(), "o_custkey")
    ranked = part.join(F.broadcast(off_df), "pid").select(
        "o_custkey",
        (F.row_number().over(w) + F.col("roff")).cast("long").alias("rnk"),
        (
            F.sum("rev_micro").over(w.rowsBetween(Window.unboundedPreceding, 0))
            + F.col("soff")
        ).cast("long").alias("cum_micro"),
        F.lit(total_micro).cast("long").alias("total_micro"),
    )
    share = normalize_float(
        F.col("cum_micro").cast("double") / F.col("total_micro").cast("double"),
        round_to=6,
    )
    cls = (
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
    )
    return (
        ranked.withColumn("cum_share", share)
        .withColumn("abc_class", cls)
        .select("rnk", "o_custkey", "cum_share", "abc_class")
        .orderBy("rnk")
    )


def revenue_pareto_oracle() -> str:
    order = "ORDER BY rev_micro DESC, o_custkey"
    return f"""
WITH per_cust AS (
  SELECT o_custkey,
         sum(round(o_totalprice * {MICRO}.0)::BIGINT) AS rev_micro
  FROM orders GROUP BY o_custkey),
total AS (SELECT sum(rev_micro)::BIGINT AS total_micro FROM per_cust),
ranked AS (
  SELECT o_custkey,
         row_number() OVER ({order}) AS rnk,
         (sum(rev_micro) OVER ({order}
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
           AS cum_micro,
         total_micro
  FROM per_cust, total),
shared AS (
  SELECT rnk, o_custkey,
         round(cum_micro::DOUBLE / total_micro::DOUBLE, 6) + 0.0 AS cum_share
  FROM ranked)
SELECT rnk, o_custkey, cum_share,
       CASE WHEN cum_share <= 0.80 THEN 'A'
            WHEN cum_share <= 0.95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM shared
ORDER BY rnk
""".strip()
