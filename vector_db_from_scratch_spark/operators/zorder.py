"""Z-order (Morton-curve) multi-column layout + multi-dimensional pruned
scan -- the 2-D extension of the 1-D sketch-ranged layout in
operators/quantiles.py (sink_range_pruned).

A range layout prunes on ONE column; a 100 TB table queried by boxes over
two columns (price x customer, time x tenant, lat x lon) needs a layout
where directory locality follows BOTH dimensions at once. The standard
answer (Delta/Iceberg ``OPTIMIZE ZORDER BY``) is a space-filling curve:

  1. bucket each dimension onto a 2^ZBITS equi-width grid (the same
     clamped ``least(floor((x - lo) / w), max)`` bin arithmetic as the
     quantile sketch -- pure IEEE ops, identical in both engines; at
     100 TB lo/hi come from the ANALYZE column-stats table,
     operators/maintenance.py, instead of a dedicated scan),
  2. interleave the bucket bits into a Morton cell id
     (bit i of bx -> bit 2i+1, bit i of by -> bit 2i: arithmetic
     shifts expressed as integer // and % so the formula is portable),
  3. write partitioned by the cell's HIGH bits: a Morton prefix is a
     quadtree node, so an aligned directory covers a square of cells and
     any query box touches O(box area / square) directories.

The gated query scans a fixed bucket-space box; the covered partition ids
are enumerable statically (pure Python over the curve formula), so the
partition filter is a literal IN-list that Spark resolves to directory
pruning at planning time (PartitionFilters, pinned in tests). The oracle
recomputes the grid, the bucket assignment, and the interleave from the
flat table -- a wrong bound, a wrong interleave, or a row written into the
wrong directory all flip the gate.

Reference parity: the reference has no layout surface (its persistence is
JSON-per-entity, vector_db/repositories.py); this is north-star scale
surface alongside sink_range_pruned / sink_partitioned_langs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import _memo

ZBITS = 3  # bits per dimension -> 8x8 = 64 Morton cells
ZSIDE = 1 << ZBITS
ZPART_SHIFT = 2  # partition id = cell >> 2 -> 16 directories of 4 cells
# the gated bucket-space box (static, so the covered partitions are
# compile-time literals in BOTH engines)
BOX_BX = (2, 5)
BOX_BY = (1, 3)


def morton2(bx: int, by: int, bits: int = ZBITS) -> int:
    """Interleave two ``bits``-wide bucket ids; bx occupies the odd bits."""
    z = 0
    for i in range(bits):
        z |= ((bx >> i) & 1) << (2 * i + 1)
        z |= ((by >> i) & 1) << (2 * i)
    return z


def box_partitions() -> list[int]:
    """Partition ids covered by the gated bucket-space box -- static."""
    parts = {
        morton2(bx, by) >> ZPART_SHIFT
        for bx in range(BOX_BX[0], BOX_BX[1] + 1)
        for by in range(BOX_BY[0], BOX_BY[1] + 1)
    }
    return sorted(parts)


def _bucket(x: Column, lo: Column, w: Column) -> Column:
    """Clamped equi-width bucket (quantiles._bin_expr discipline)."""
    return F.least(F.floor((x - lo) / w), F.lit(ZSIDE - 1)).cast("int")


def _morton_expr(bx: Column, by: Column) -> Column:
    """Morton interleave as pure integer arithmetic (portable: // and %
    instead of shift builtins, which DuckDB spells differently)."""
    z = F.lit(0)
    for i in range(ZBITS):
        z = z + ((bx.cast("long") / F.lit(1 << i)).cast("long") % 2) * F.lit(
            1 << (2 * i + 1)
        )
        z = z + ((by.cast("long") / F.lit(1 << i)).cast("long") % 2) * F.lit(
            1 << (2 * i)
        )
    return z.cast("int")


def _morton_sql(bx: str, by: str) -> str:
    terms = []
    for i in range(ZBITS):
        terms.append(f"(({bx}::BIGINT // {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"(({by}::BIGINT // {1 << i}) % 2) * {1 << (2 * i)}")
    return "(" + " + ".join(terms) + ")::INT"


# grid CTE over the two Z-order dimensions (the oracle must recompute the
# grid -- oracle strings are built without Spark and can never embed the
# engine's computed values)
_ZGRID_SQL = f"""
o AS (SELECT o_orderkey, o_custkey, o_totalprice FROM orders),
zparams AS (SELECT min(o_totalprice) AS xlo,
                   (max(o_totalprice) - min(o_totalprice)) / {ZSIDE} AS xw,
                   min(o_custkey) AS ylo,
                   (max(o_custkey) - min(o_custkey)) / {ZSIDE}.0 AS yw
            FROM o)
""".strip()

_BX_SQL = f"least(floor((o_totalprice - xlo) / xw), {ZSIDE - 1})::INT"
_BY_SQL = f"least(floor((o_custkey - ylo) / yw), {ZSIDE - 1})::INT"

@_memo.per_app
def orders_zorder_layout_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write orders partitioned by the Morton prefix, once per
    (application, sf_dir). Like the range writer, the 4 grid parameters
    are fetched to the driver as bounded literal state (at 100 TB they
    are a lookup into the ANALYZE stats table, not a scan) and the cell
    assignment happens inside the write plan -- one pass, no shuffle
    beyond the partitioned write itself."""
    from ..sources.artifacts import scratch_dir

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    p = o.agg(
        F.min("o_totalprice").alias("xlo"),
        ((F.max("o_totalprice") - F.min("o_totalprice")) / ZSIDE).alias("xw"),
        F.min("o_custkey").alias("ylo"),
        ((F.max("o_custkey") - F.min("o_custkey")) / float(ZSIDE)).alias("yw"),
    ).collect()[0]
    bx = _bucket(F.col("o_totalprice"), F.lit(p["xlo"]), F.lit(p["xw"]))
    by = _bucket(F.col("o_custkey").cast("double"), F.lit(float(p["ylo"])), F.lit(p["yw"]))
    zcell = _morton_expr(F.col("bx"), F.col("by"))
    out = scratch_dir("orders-zorder-")
    from ..sources.artifacts import write_partitioned

    write_partitioned(
        o.withColumn("bx", bx)
        .withColumn("by", by)
        .withColumn("zcell", zcell)
        .withColumn("zpart", (F.col("zcell") / F.lit(1 << ZPART_SHIFT)).cast("int")),
        out,
        "zpart",
    )
    return out


def zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a 2-D bucket-space box over the Morton layout: the static
    partition IN-list resolves to directory pruning (only
    ``len(box_partitions())`` of 16 directories open), the in-partition
    box predicate filters the remaining corner cells. Per-cell gate:
    counts + extrema of both dimensions + the cell's recomputed Morton id
    -- a row in the wrong directory, a wrong bucket, or a broken
    interleave all change a row. Output: (zcell, zpart, n_rows,
    min_price, max_price, min_cust, max_cust)."""
    df = spark.read.parquet(orders_zorder_layout_dir(spark, sf_dir))
    return (
        df.filter(F.col("zpart").isin(*box_partitions()))
        .filter(F.col("bx").between(*BOX_BX) & F.col("by").between(*BOX_BY))
        .groupBy("zcell", "zpart")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.min("o_totalprice"), 6) + F.lit(0.0)).alias("min_price"),
            (F.round(F.max("o_totalprice"), 6) + F.lit(0.0)).alias("max_price"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
        )
        .orderBy("zcell")
    )


def zorder_pruned_scan_oracle() -> str:
    z = _morton_sql("bx", "by")
    return f"""
WITH {_ZGRID_SQL},
assigned AS (
  SELECT o.*, {_BX_SQL} AS bx, {_BY_SQL} AS by
  FROM o, zparams),
cells AS (
  SELECT *, {z} AS zcell, ({z} // {1 << ZPART_SHIFT})::INT AS zpart
  FROM assigned)
SELECT zcell, zpart, count(*) AS n_rows,
       (round(min(o_totalprice), 6) + 0.0) AS min_price,
       (round(max(o_totalprice), 6) + 0.0) AS max_price,
       min(o_custkey) AS min_cust,
       max(o_custkey) AS max_cust
FROM cells
WHERE bx BETWEEN {BOX_BX[0]} AND {BOX_BX[1]}
  AND by BETWEEN {BOX_BY[0]} AND {BOX_BY[1]}
GROUP BY zcell, zpart
ORDER BY zcell
""".strip()
