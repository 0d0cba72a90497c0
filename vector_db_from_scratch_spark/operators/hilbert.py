"""Hilbert-curve multi-column layout: the locality-optimal alternative to
the Morton/Z-order sink (operators/zorder.py).

Z-order is cheap to compute but jumps: consecutive Morton ids can be grid
neighbors OR opposite box corners, so an aligned directory covers a square
yet a query box still reads corner cells it barely touches. The Hilbert
curve visits every cell of the grid in a path whose consecutive cells are
ALWAYS grid-adjacent, which is why Iceberg/Databricks offer Hilbert
clustering as the upgrade over Z-order for multi-dimensional layouts: the
same directory fanout covers tighter spatial clusters, so a box touches
fewer (or equal) directories and reads fewer out-of-box rows.

Design: the curve is a pure function of the 2^ZBITS x 2^ZBITS bucket grid
-- 64 cells here -- so the (bx, by) -> hilbert-id mapping is computed ONCE
on the driver in plain Python and enters BOTH engines as the same literal
lookup relation (the nDCG-discount-literals discipline: no cross-engine
re-implementation of the rotation recursion to diverge). At 100 TB this is
still exact: the lookup is O(grid cells), not O(rows), and joins broadcast.

Everything else reuses the Z-order module's grid verbatim (same equi-width
bucket arithmetic, same gated box, same directory fanout), so the two
layouts are comparable cell-for-cell -- and ``layout_curve_compare`` gates
that comparison: per curve, the data-dependent read amplification
(rows in touched directories / rows in the box) the layout would cost on
this corpus. The curves' partition sets are static, but HOW MANY ROWS land
in them is a property of the data -- that is the number a table optimizer
actually weighs.

Reference parity: the reference has no layout surface (JSON-per-entity,
vector_db/repositories.py); north-star scale surface with
sink_range_pruned / sink_zorder_pruned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import arrow_local_df, load_table
from . import _memo
from .zorder import (
    BOX_BX,
    BOX_BY,
    ZBITS,
    ZPART_SHIFT,
    ZSIDE,
    _BX_SQL,
    _BY_SQL,
    _bucket,
    _ZGRID_SQL,
    box_partitions,
    morton2,
)


def hilbert_xy2d(x: int, y: int, bits: int = ZBITS) -> int:
    """Standard iterative Hilbert index (rotate-and-accumulate)."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_lookup() -> list[tuple[int, int, int]]:
    """The full (bx, by, hcell) grid mapping -- 64 literal rows."""
    return [
        (bx, by, hilbert_xy2d(bx, by))
        for bx in range(ZSIDE)
        for by in range(ZSIDE)
    ]


def hilbert_box_partitions() -> list[int]:
    """Directory ids the gated box touches under the Hilbert layout --
    static, like zorder.box_partitions()."""
    parts = {
        hilbert_xy2d(bx, by) >> ZPART_SHIFT
        for bx in range(BOX_BX[0], BOX_BX[1] + 1)
        for by in range(BOX_BY[0], BOX_BY[1] + 1)
    }
    return sorted(parts)


def _lookup_df(spark: SparkSession) -> DataFrame:
    rows = hilbert_lookup()
    return arrow_local_df(
        spark,
        {
            "bx": [r[0] for r in rows],
            "by": [r[1] for r in rows],
            "hcell": [r[2] for r in rows],
        },
        "bx int, by int, hcell int",
    )


def _lookup_sql() -> str:
    vals = ", ".join(f"({bx}, {by}, {h})" for bx, by, h in hilbert_lookup())
    return f"lut(bx, by, hcell) AS (SELECT * FROM (VALUES {vals}) v(bx, by, hcell))"


@_memo.per_app
def orders_hilbert_layout_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write orders partitioned by the Hilbert prefix, once per
    (application, sf_dir) -- the zorder writer with the curve swapped:
    bucket assignment in the write plan, cell id via the broadcast literal
    lookup, directory = hcell's high bits."""
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
    out = scratch_dir("orders-hilbert-")
    from ..sources.artifacts import write_partitioned

    write_partitioned(
        o.withColumn("bx", bx)
        .withColumn("by", by)
        .join(F.broadcast(_lookup_df(spark)), ["bx", "by"])
        .withColumn("hpart", (F.col("hcell") / F.lit(1 << ZPART_SHIFT)).cast("int")),
        out,
        "hpart",
    )
    return out


def hilbert_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the gated 2-D bucket-space box over the Hilbert layout: static
    partition IN-list -> directory pruning, in-partition box predicate
    filters corner cells. Same gate columns as the Z-order scan so the two
    layouts answer the same question: (hcell, hpart, n_rows, min_price,
    max_price, min_cust, max_cust) per cell."""
    df = spark.read.parquet(orders_hilbert_layout_dir(spark, sf_dir))
    return (
        df.filter(F.col("hpart").isin(*hilbert_box_partitions()))
        .filter(F.col("bx").between(*BOX_BX) & F.col("by").between(*BOX_BY))
        .groupBy("hcell", "hpart")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.min("o_totalprice"), 6) + F.lit(0.0)).alias("min_price"),
            (F.round(F.max("o_totalprice"), 6) + F.lit(0.0)).alias("max_price"),
            F.min("o_custkey").alias("min_cust"),
            F.max("o_custkey").alias("max_cust"),
        )
        .orderBy("hcell")
    )


def hilbert_pruned_scan_oracle() -> str:
    return f"""
WITH {_ZGRID_SQL},
{_lookup_sql()},
assigned AS (
  SELECT o.*, {_BX_SQL} AS bx, {_BY_SQL} AS by
  FROM o, zparams),
cells AS (
  SELECT a.*, lut.hcell, (lut.hcell // {1 << ZPART_SHIFT})::INT AS hpart
  FROM assigned a JOIN lut USING (bx, by))
SELECT hcell, hpart, count(*) AS n_rows,
       (round(min(o_totalprice), 6) + 0.0) AS min_price,
       (round(max(o_totalprice), 6) + 0.0) AS max_price,
       min(o_custkey) AS min_cust,
       max(o_custkey) AS max_cust
FROM cells
WHERE bx BETWEEN {BOX_BX[0]} AND {BOX_BX[1]}
  AND by BETWEEN {BOX_BY[0]} AND {BOX_BY[1]}
GROUP BY hcell, hpart
ORDER BY hcell
""".strip()


# --------------------------------------------------------------------------
# Curve quality, measured on the data: for the gated box, each curve's
# read amplification = rows living in the directories the box touches
# (everything a pruned scan must read) over rows actually inside the box.
# The partition SETS are static geometry; the row masses are the corpus's.
# --------------------------------------------------------------------------


def layout_curve_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(curve, n_parts, rows_read, rows_in_box, read_amplification) for
    morton vs hilbert on the SAME grid, box, and directory fanout -- one
    pass over orders, both cell assignments computed side by side."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    p = o.agg(
        F.min("o_totalprice").alias("xlo"),
        ((F.max("o_totalprice") - F.min("o_totalprice")) / ZSIDE).alias("xw"),
        F.min("o_custkey").alias("ylo"),
        ((F.max("o_custkey") - F.min("o_custkey")) / float(ZSIDE)).alias("yw"),
    ).collect()[0]
    bx = _bucket(F.col("o_totalprice"), F.lit(p["xlo"]), F.lit(p["xw"]))
    by = _bucket(F.col("o_custkey").cast("double"), F.lit(float(p["ylo"])), F.lit(p["yw"]))
    zparts, hparts = box_partitions(), hilbert_box_partitions()
    # both curves' cell->partition ids via ONE broadcast lookup (morton
    # enters the same literal relation so the two columns are symmetric)
    rows = hilbert_lookup()
    lut = arrow_local_df(
        spark,
        {
            "bx": [r[0] for r in rows],
            "by": [r[1] for r in rows],
            "zpart": [morton2(r[0], r[1]) >> ZPART_SHIFT for r in rows],
            "hpart": [r[2] >> ZPART_SHIFT for r in rows],
        },
        "bx int, by int, zpart int, hpart int",
    )
    assigned = (
        o.withColumn("bx", bx)
        .withColumn("by", by)
        .join(F.broadcast(lut), ["bx", "by"])
    )
    in_box = F.col("bx").between(*BOX_BX) & F.col("by").between(*BOX_BY)
    agg = assigned.agg(
        F.sum(F.when(F.col("zpart").isin(*zparts), 1).otherwise(0)).alias("z_read"),
        F.sum(F.when(F.col("hpart").isin(*hparts), 1).otherwise(0)).alias("h_read"),
        F.sum(F.when(in_box, 1).otherwise(0)).alias("n_box"),
    )
    curves = arrow_local_df(
        spark,
        {"curve": ["hilbert", "morton"], "n_parts": [len(hparts), len(zparts)]},
        "curve string, n_parts int",
    )
    return (
        curves.crossJoin(F.broadcast(agg))
        .select(
            "curve",
            "n_parts",
            F.when(F.col("curve") == "morton", F.col("z_read"))
            .otherwise(F.col("h_read"))
            .cast("long")
            .alias("rows_read"),
            F.col("n_box").cast("long").alias("rows_in_box"),
            (
                F.round(
                    F.when(F.col("curve") == "morton", F.col("z_read")).otherwise(
                        F.col("h_read")
                    )
                    / F.col("n_box"),
                    6,
                )
                + F.lit(0.0)
            ).alias("read_amplification"),
        )
        .orderBy("curve")
    )


def layout_curve_compare_oracle() -> str:
    rows = hilbert_lookup()
    vals = ", ".join(
        f"({bx}, {by}, {morton2(bx, by) >> ZPART_SHIFT}, {h >> ZPART_SHIFT})"
        for bx, by, h in rows
    )
    zparts = ", ".join(str(i) for i in box_partitions())
    hparts = ", ".join(str(i) for i in hilbert_box_partitions())
    return f"""
WITH {_ZGRID_SQL},
lut(bx, by, zpart, hpart) AS (SELECT * FROM (VALUES {vals}) v(bx, by, zpart, hpart)),
assigned AS (
  SELECT {_BX_SQL} AS bx, {_BY_SQL} AS by
  FROM o, zparams),
j AS (SELECT a.bx, a.by, lut.zpart, lut.hpart
      FROM assigned a JOIN lut USING (bx, by)),
m AS (
  SELECT CAST(sum(CASE WHEN zpart IN ({zparts}) THEN 1 ELSE 0 END) AS BIGINT) AS z_read,
         CAST(sum(CASE WHEN hpart IN ({hparts}) THEN 1 ELSE 0 END) AS BIGINT) AS h_read,
         CAST(sum(CASE WHEN bx BETWEEN {BOX_BX[0]} AND {BOX_BX[1]}
                        AND by BETWEEN {BOX_BY[0]} AND {BOX_BY[1]}
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_box
  FROM j),
curves(curve, n_parts) AS (
  SELECT * FROM (VALUES ('hilbert', {len(hilbert_box_partitions())}),
                        ('morton', {len(box_partitions())})) c(curve, n_parts))
SELECT curve, n_parts,
       CASE WHEN curve = 'morton' THEN z_read ELSE h_read END AS rows_read,
       n_box AS rows_in_box,
       (round((CASE WHEN curve = 'morton' THEN z_read ELSE h_read END)::DOUBLE
              / n_box, 6) + 0.0) AS read_amplification
FROM curves, m
ORDER BY curve
""".strip()
