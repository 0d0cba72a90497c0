"""Table maintenance operators: compaction and partitioned layout rewrite.

The operational side of a 100 TB lake: streaming ingestion and per-batch
appends leave thousands of small files per partition; compaction rewrites
them into target-sized files (repartition + maxRecordsPerFile), and layout
rewrite re-partitions a table by the columns its queries prune on. Both are
pure DataFrame writes -- no engine magic -- and both preserve row-level
content exactly (asserted in tests).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession

from . import _memo


def compact(
    df: DataFrame,
    out_dir: str,
    target_files: int = 4,
    max_records_per_file: int | None = None,
) -> None:
    """Rewrite ``df`` as ~target_files parquet files (coalesce avoids a
    shuffle when reducing; repartition when growing for parallelism)."""
    n_current = df.rdd.getNumPartitions()
    out = df.coalesce(target_files) if target_files <= n_current else df.repartition(target_files)
    writer = out.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(out_dir)


def rewrite_partitioned(df: DataFrame, out_dir: str, *cols: str) -> None:
    """Re-layout a table partitioned by its pruning columns (the batch
    equivalent of choosing a hypertable chunking key), clustered by the
    partition key before the write (sources.artifacts.write_partitioned)."""
    from ..sources.artifacts import write_partitioned

    write_partitioned(df, out_dir, *cols)


def parquet_file_count(path: str) -> int:
    return len(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


# --------------------------------------------------------------------------
# Range-partition planning: exact range boundaries + balance audit for a
# sorted layout (the report you run before repartitionByRange / sorted
# parquet writes to verify the chosen key yields even file sizes).
# ``repartitionByRange`` picks boundaries by SAMPLING -- this is its exact,
# auditable twin, computed WITHOUT a global single-task window: a range
# repartition on (value, key) makes partitions contiguous in the total
# order, so exact global rank = per-partition row_number (parallel window,
# one partition per task) + a broadcast cumulative offset (one bounded row
# per shuffle partition). The ntile bucket id is then a closed-form
# expression of (rank, N) and the per-range min/max/count is an ordinary
# parallel aggregation. Scales: the only driver-side state is one count per
# shuffle partition; nothing funnels through a single task.
# --------------------------------------------------------------------------

RANGE_BUCKETS = 8

@_memo.per_app
def _ranged_orders(
    spark: SparkSession, sf_dir: str, n_parts: int
) -> tuple[DataFrame, dict[int, int]]:
    """(persisted range-partitioned orders, per-partition row counts)."""
    from pyspark.sql import functions as F

    from ..sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    part = (
        orders.repartitionByRange(n_parts, "o_totalprice", "o_orderkey")
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    # Bounded driver-side state: one (pid, count) row per shuffle partition.
    counts = {
        r["pid"]: r["cnt"]
        for r in part.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    return part, counts


def range_partition_report(
    spark: SparkSession, sf_dir: str, n_ranges: int = RANGE_BUCKETS
) -> DataFrame:
    """(range_id, n_rows, lo, hi): per-range row count and value bounds of
    orders.o_totalprice under an ntile(n) split with the deterministic
    (o_totalprice, o_orderkey) total order. min/max/count involve no float
    accumulation, so the report is bit-portable without rounding.

    ntile(n) over N rows gives the first ``N % n`` buckets ``N//n + 1``
    rows and the rest ``N//n``; with the exact 1-based rank ``r`` the
    bucket id is computed in closed form below, reproducing the window
    function's output distributively.
    """
    from pyspark.sql import Window, functions as F

    n_parts = max(spark.sparkContext.defaultParallelism, n_ranges)
    part, counts = _ranged_orders(spark, sf_dir, n_parts)
    total = sum(counts.values())
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    offsets = offsets or [(0, 0)]
    from ..sources.tables import arrow_local_df

    off_df = arrow_local_df(
        spark,
        {"pid": [o[0] for o in offsets], "off": [o[1] for o in offsets]},
        "pid int, off long",
    )

    q, rem = divmod(total, n_ranges)
    threshold = rem * (q + 1)  # ranks <= threshold land in the fat buckets
    w = Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    r = (F.row_number().over(w) + F.col("off")).alias("rank")
    ranked = part.join(F.broadcast(off_df), "pid").select("o_totalprice", r)
    rk = F.col("rank")
    range_id = (
        F.when(rk <= F.lit(threshold), F.floor((rk - 1) / F.lit(q + 1)) + 1)
        .otherwise(F.lit(rem) + F.floor((rk - 1 - F.lit(threshold)) / F.lit(max(q, 1))) + 1)
        .cast("long")
    )
    return (
        ranked.withColumn("range_id", range_id)
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("range_id")
    )


def range_partition_report_oracle(n_ranges: int = RANGE_BUCKETS) -> str:
    return f"""
WITH ranged AS (
  SELECT o_totalprice,
         ntile({n_ranges}) OVER (ORDER BY o_totalprice, o_orderkey)::BIGINT AS range_id
  FROM orders)
SELECT range_id, count(*) AS n_rows,
       min(o_totalprice) AS lo, max(o_totalprice) AS hi
FROM ranged
GROUP BY range_id
ORDER BY range_id
""".strip()


# --------------------------------------------------------------------------
# ANALYZE-style statistics collection: the per-column stats table a
# cost-based optimizer reads (row count, null count, NDV, min/max).
# --------------------------------------------------------------------------

# per-column portable canonical form: (column, kind) where kind picks the
# hash/display rendering that is bit-identical across engines
#   key  -- integer: cast to string
#   num  -- double with <= 6dp: micro-unit integer canonical
#   str  -- ASCII varchar: identity (binary collation in both engines)
#   ts   -- timestamp: explicit second-precision format (never raw cast,
#           whose fraction-trimming is engine-specific)
STATS_COLUMNS = [
    ("o_orderkey", "key"),
    ("o_custkey", "key"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _canon_sql(col: str, kind: str) -> str:
    from .relational import MICRO

    if kind == "key":
        return f"{col}::VARCHAR"
    if kind == "num":
        return f"round({col} * {float(MICRO)!r}, 0)::BIGINT::VARCHAR"
    if kind == "ts":
        return f"strftime({col}, '%Y-%m-%d %H:%M:%S')"
    return col


def _wide_stats(df: DataFrame, columns, keys: list[str] | None = None) -> DataFrame:
    """Every pure-aggregation statistics member for all ``columns`` in ONE
    columnar pass: a single (optionally per-``keys``) wide aggregate --
    count + per-column null-count/min/max, all partial-aggregable, zero
    row explosion -- whose bounded result is THEN unpivoted to one row
    per column: (keys..., col, n_rows, n_null, min_num, max_num, min_str,
    max_str). The streaming twin (stats_ingest_stream) must explode
    BEFORE aggregating (its groupBy is the one streaming aggregation);
    batch has no such constraint, and aggregating columnar-first keeps
    the whole scan inside one WholeStageCodegen pass with no exchange of
    exploded rows (VERDICT r9 item 5: the prior per-column-subtree form
    ran 18 runtime shuffles; an explode-first rewrite measured SLOWER
    than it -- 900k entry rows through a hash aggregate -- while this
    shape is a single scan)."""
    from pyspark.sql import functions as F

    keys = keys or []
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for col, kind in columns:
        v = F.col(col)
        aggs.append(F.sum(v.isNull().cast("int")).alias(f"_nn_{col}"))
        if kind in ("key", "num"):
            aggs.append(F.min(v.cast("double")).alias(f"_mn_{col}"))
            aggs.append(F.max(v.cast("double")).alias(f"_mx_{col}"))
        else:
            # ts aggregates on the RAW timestamp (fixed-format rendering
            # is monotone, so format(min) == min(format) -- and the scan
            # never formats 150k strings just to take their min)
            aggs.append(F.min(v).alias(f"_mn_{col}"))
            aggs.append(F.max(v).alias(f"_mx_{col}"))
    agg = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    entries = []
    for col, kind in columns:
        is_num = kind in ("key", "num")
        if kind == "ts":
            mn_s = F.date_format(F.col(f"_mn_{col}"), _TS_FMT)
            mx_s = F.date_format(F.col(f"_mx_{col}"), _TS_FMT)
        elif kind == "str":
            mn_s, mx_s = F.col(f"_mn_{col}"), F.col(f"_mx_{col}")
        else:
            mn_s = mx_s = null_s
        entries.append(
            F.struct(
                F.lit(col).alias("col"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"_nn_{col}").alias("n_null"),
                (F.col(f"_mn_{col}") if is_num else null_d).alias("min_num"),
                (F.col(f"_mx_{col}") if is_num else null_d).alias("max_num"),
                mn_s.alias("min_str"),
                mx_s.alias("max_str"),
            )
        )
    return agg.select(
        *keys, F.explode(F.array(*entries)).alias("e")
    ).select(*keys, "e.*")


def _value_unpivot(df: DataFrame, columns, extra: list[str] | None = None) -> DataFrame:
    """Narrow unpivot to (``extra...``, col, v_long, v_str) TYPED lanes
    for the NDV members: key = raw long, num = micro-rounded long, ts =
    unix micros, str = the string. Null source values are dropped
    (matching the per-column ``WHERE col IS NOT NULL``). The canonical
    STRING the portable hash consumes is rebuilt from the lanes by
    :func:`_canon_from_lanes` AFTER the distinct -- building and
    shuffling one formatted string per (row, column) was the dominant
    cost of the NDV branch (0.6s to render + 0.8s to exchange 900k
    strings at sf0.1 vs long lanes); each kind's lane->canon map is
    injective, so distinct lanes == distinct canons."""
    from pyspark.sql import functions as F

    from .relational import MICRO

    null_l = F.lit(None).cast("long")
    null_s = F.lit(None).cast("string")
    entries = []
    for c, k in columns:
        v = F.col(c)
        if k == "key":
            vl, vs = v.cast("long"), null_s
        elif k == "num":
            vl, vs = F.round(v * F.lit(float(MICRO)), 0).cast("long"), null_s
        elif k == "ts":
            # formatted lane (not unix micros: the column is TIMESTAMP_NTZ,
            # which unix_micros rejects and a tz cast would reinterpret);
            # only this one column pays per-row string rendering
            vl, vs = null_l, F.date_format(v, _TS_FMT)
        else:
            vl, vs = null_l, v
        entries.append(
            F.struct(F.lit(c).alias("col"), vl.alias("v_long"), vs.alias("v_str"))
        )
    ex = df.select(*(extra or []), F.explode(F.array(*entries)).alias("e"))
    return ex.select(*(extra or []), "e.col", "e.v_long", "e.v_str").filter(
        F.col("v_long").isNotNull() | F.col("v_str").isNotNull()
    )


def _canon_from_lanes(columns):
    """The canonical string (`_canon_sql` twin) rebuilt from the typed
    lanes -- evaluated on the post-distinct rows only."""
    from pyspark.sql import functions as F

    expr = None
    for c, k in columns:
        if k in ("ts", "str"):
            val = F.col("v_str")
        else:
            val = F.col("v_long").cast("string")
        cond = F.col("col") == c
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    return expr


def column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE orders: one stats row per column -- (col, n_rows,
    n_null, ndv_exact, ndv_est, ndv_rel_err, min_num, max_num, min_str,
    max_str) -- the statistics surface a cost-based optimizer consumes
    (join reordering, broadcast thresholds, selectivity). ONE pass: every
    pure-aggregation member (count/nulls/min/max) comes out of a single
    wide columnar aggregate whose bounded result is unpivoted after --
    the production ANALYZE fusion, not a per-column subtree each
    rescanning the table (the prior form ran 18 runtime shuffles; VERDICT
    r9 item 5). The NDV members are the one piece needing a distinct
    exchange: ONE distinct (col, canon) set yields the exact count (no
    hashing) AND the KMV bottom-k in a single ranked pass, bounded at k
    rows per column, hash-gated next to the exact count it
    approximates."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.hashing import hash60
    from ..plans import report_sort
    from ..sources.tables import load_table
    from .kmv import HASH_SPACE, K_MIN

    orders = load_table(spark, sf_dir, "orders")
    stats = _wide_stats(orders, STATS_COLUMNS).select(
        "col",
        "n_rows",
        F.col("n_null").cast("long").alias("n_null"),
        F.round("min_num", 6).alias("min_num"),
        F.round("max_num", 6).alias("max_num"),
        "min_str",
        "max_str",
    )
    # Both NDV members come off ONE distinct set: distinct (col, canon)
    # -- map-side partial dedup collapses low-cardinality columns before
    # the exchange -- then the exact NDV (a plain count, no hashing) and
    # the KMV bottom-k (portable md5 hashed AFTER the distinct, ~2x fewer
    # digests than hashing every row) fall out of one ranked pass. The
    # canonical string is injective on every stats column (key = cast,
    # num = micro-round of 2-decimal prices, ts = second-grain format of
    # day-grain dates), so distinct canon == distinct raw.
    wk = Window.partitionBy("col").orderBy("h")
    ranked = (
        _value_unpivot(orders, STATS_COLUMNS)
        .distinct()
        .select("col", hash60(_canon_from_lanes(STATS_COLUMNS)).alias("h"))
        .withColumn("rn", F.row_number().over(wk))
    )
    kmv = ranked.groupBy("col").agg(
        F.count(F.lit(1)).alias("ndv_exact"),
        F.count(F.when(F.col("rn") <= K_MIN, 1)).alias("k"),
        F.max(F.when(F.col("rn") <= K_MIN, F.col("h"))).alias("kth_min"),
    )
    # left join + coalesce so an all-null column still reports (k=0,
    # ndv_exact=0 -> est 0), matching the prior crossJoin-with-empty-agg
    # behavior
    kcol = F.coalesce(F.col("k"), F.lit(0))
    est = F.when(kcol < K_MIN, kcol.cast("double")).otherwise(
        (kcol - 1).cast("double") * F.lit(HASH_SPACE) / F.col("kth_min")
    )
    out = stats.join(F.broadcast(kmv), "col", "left").select(
        "col",
        "n_rows",
        "n_null",
        F.coalesce(F.col("ndv_exact"), F.lit(0).cast("long")).alias("ndv_exact"),
        F.round(est, 6).alias("ndv_est"),
        F.round(F.abs(est - F.col("ndv_exact")) / F.col("ndv_exact"), 6).alias(
            "ndv_rel_err"
        ),
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )
    return report_sort(out, "col")


def column_stats_oracle() -> str:
    from ..functions.hashing import hash60_sql
    from .kmv import HASH_SPACE, K_MIN
    from .relational import MICRO

    blocks = []
    for col, kind in STATS_COLUMNS:
        canon = _canon_sql(col, kind)
        if kind == "key":
            mm = (f"round(min({col})::DOUBLE, 6) AS min_num, "
                  f"round(max({col})::DOUBLE, 6) AS max_num, "
                  "NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str")
        elif kind == "num":
            mm = (f"round(min({col}), 6) AS min_num, "
                  f"round(max({col}), 6) AS max_num, "
                  "NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str")
        elif kind == "ts":
            mm = ("NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num, "
                  f"min(strftime({col}, '%Y-%m-%d %H:%M:%S')) AS min_str, "
                  f"max(strftime({col}, '%Y-%m-%d %H:%M:%S')) AS max_str")
        else:
            mm = ("NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num, "
                  f"min({col}) AS min_str, max({col}) AS max_str")
        h = hash60_sql(canon)
        est = (
            f"CASE WHEN k < {K_MIN} THEN k::DOUBLE "
            f"ELSE (k - 1) * {HASH_SPACE!r} / kth_min END"
        )
        blocks.append(f"""
SELECT '{col}' AS col, n_rows, n_null, ndv_exact,
       round({est}, 6) AS ndv_est,
       round(abs(({est}) - ndv_exact) / ndv_exact, 6) AS ndv_rel_err,
       min_num, max_num, min_str, max_str
FROM (SELECT count(*) AS n_rows,
             sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
             count(DISTINCT {col}) AS ndv_exact, {mm}
      FROM orders),
     (SELECT count(*) AS k, max(h) AS kth_min
      FROM (SELECT DISTINCT {h} AS h FROM orders WHERE {col} IS NOT NULL
            ORDER BY h LIMIT {K_MIN}))""".strip())
    body = "\nUNION ALL\n".join(blocks)
    return f"SELECT * FROM (\n{body}\n) ORDER BY col"


# partition-stat rollup gate: representative column of each kind (keeps
# the per-(partition, column) job count bounded at gate scale)
STATS_MERGE_COLUMNS = [
    ("o_custkey", "key"),
    ("o_totalprice", "num"),
    ("o_orderpriority", "str"),
]
STATS_N_PARTS = 2  # orders split by o_orderkey parity


def column_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANALYZE rollup protocol under the gate: per-partition column
    stats (orders split by o_orderkey % STATS_N_PARTS) merged WITHOUT
    rescanning -- counts add, min/max combine by least/greatest, and the
    KMV NDV sketch merges by k-smallest-of-union of the partitions'
    bottom-k hash sets (exact: the global bottom-k lives inside the union
    of per-partition bottom-ks). Emits per column the merged stats
    full-joined with the whole-table stats and gated equality columns --
    every *_match must be true. This is how table-level statistics stay
    current at 100 TB: each partition maintains its own stats row + k-row
    sketch, and ANALYZE is a metadata fold, not a scan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.hashing import hash60
    from ..plans import report_sort
    from ..sources.tables import load_table
    from .kmv import HASH_SPACE, K_MIN

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "part", F.col("o_orderkey") % STATS_N_PARTS
    )
    # TWO wide columnar aggregates (per-part and whole-table) feed the
    # stats surfaces, one narrow distinct feeds both KMV surfaces -- the
    # prior form built 18 per-(column, slice) subtrees each rescanning
    # orders (VERDICT r9 item 5: 18 runtime shuffles, 11.5s cold)

    # metadata fold: per-part stats rows combine WITHOUT rescanning --
    # counts add, bounds fold by min/max (monotone rounding is applied at
    # the comparison, so fold-then-round == round-then-fold)
    merged_stats = (
        _wide_stats(orders, STATS_MERGE_COLUMNS, keys=["part"])
        .groupBy("col")
        .agg(
            F.sum("n_rows").alias("m_n_rows"),
            F.sum("n_null").alias("m_n_null"),
            F.min("min_num").alias("m_mn_num"),
            F.max("max_num").alias("m_mx_num"),
            F.min("min_str").alias("m_mn_str"),
            F.max("max_str").alias("m_mx_str"),
        )
    )
    whole_stats = _wide_stats(orders, STATS_MERGE_COLUMNS).select(
        "col",
        F.col("n_rows").alias("w_n_rows"),
        F.col("n_null").alias("w_n_null"),
        F.col("min_num").alias("w_mn_num"),
        F.col("max_num").alias("w_mx_num"),
        F.col("min_str").alias("w_mn_str"),
        F.col("max_str").alias("w_mx_str"),
    )

    # hash AFTER the per-part distinct: the portable md5 digest runs once
    # per distinct (col, part, canon), not once per row
    hashes = (
        _value_unpivot(orders, STATS_MERGE_COLUMNS, extra=["part"])
        .distinct()
        .select("col", "part", hash60(_canon_from_lanes(STATS_MERGE_COLUMNS)).alias("h"))
    )
    wcp = Window.partitionBy("col", "part").orderBy("h")
    wc = Window.partitionBy("col").orderBy("h")

    def bottom_k_agg(df, alias):
        est = F.when(F.col("k") < K_MIN, F.col("k").cast("double")).otherwise(
            (F.col("k") - 1).cast("double") * F.lit(HASH_SPACE) / F.col("kth_min")
        )
        return (
            df.withColumn("rn", F.row_number().over(wc))
            .filter(F.col("rn") <= K_MIN)
            .groupBy("col")
            .agg(F.count(F.lit(1)).alias("k"), F.max("h").alias("kth_min"))
            .select("col", F.round(est, 6).alias(alias))
        )

    # sketch merge: k-smallest-of-union of the per-part bottom-k hash sets
    # (exact -- the global bottom-k lives inside that union)
    part_bottoms = (
        hashes.withColumn("rn", F.row_number().over(wcp))
        .filter(F.col("rn") <= K_MIN)
        .select("col", "h")
        .distinct()
    )
    merged_kmv = bottom_k_agg(part_bottoms, "m_ndv_est")
    whole_kmv = bottom_k_agg(hashes.select("col", "h").distinct(), "w_ndv_est")

    out = (
        merged_stats.join(whole_stats, "col")
        .join(F.broadcast(merged_kmv), "col")
        .join(F.broadcast(whole_kmv), "col")
        .select(
            "col",
            "m_n_rows",
            "w_n_rows",
            "m_ndv_est",
            "w_ndv_est",
            ((F.col("m_n_rows") == F.col("w_n_rows"))
             & (F.col("m_n_null") == F.col("w_n_null"))).alias("counts_match"),
            # per-kind bounds comparison folds into one null-safe AND: a
            # numeric column's string bounds are null on BOTH sides (and
            # vice versa), so the irrelevant kind contributes TRUE
            (F.round("m_mn_num", 6).eqNullSafe(F.round("w_mn_num", 6))
             & F.round("m_mx_num", 6).eqNullSafe(F.round("w_mx_num", 6))
             & F.col("m_mn_str").eqNullSafe(F.col("w_mn_str"))
             & F.col("m_mx_str").eqNullSafe(F.col("w_mx_str"))).alias("bounds_match"),
            (F.col("m_ndv_est") == F.col("w_ndv_est")).alias("ndv_match"),
        )
    )
    return report_sort(out, "col")


def column_stats_merge_oracle() -> str:
    from ..functions.hashing import hash60_sql
    from .kmv import HASH_SPACE, K_MIN

    blocks = []
    est = (
        f"CASE WHEN k < {K_MIN} THEN k::DOUBLE "
        f"ELSE (k - 1) * {HASH_SPACE!r} / kth_min END"
    )
    for col, kind in STATS_MERGE_COLUMNS:
        canon = _canon_sql(col, kind)
        h = hash60_sql(canon)
        if kind in ("key", "num"):
            mn, mx = (
                f"round(min({col})::DOUBLE, 6)",
                f"round(max({col})::DOUBLE, 6)",
            )
        else:
            mn, mx = f"min({col})", f"max({col})"
        part_stats = " UNION ALL ".join(
            f"(SELECT count(*) AS n_rows, "
            f"sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null, "
            f"{mn} AS mn, {mx} AS mx FROM orders WHERE o_orderkey % {STATS_N_PARTS} = {p})"
            for p in range(STATS_N_PARTS)
        )
        part_hashes = " UNION ".join(
            f"(SELECT h FROM (SELECT DISTINCT {h} AS h FROM orders "
            f"WHERE o_orderkey % {STATS_N_PARTS} = {p} AND {col} IS NOT NULL "
            f"ORDER BY h LIMIT {K_MIN}))"
            for p in range(STATS_N_PARTS)
        )
        blocks.append(f"""
SELECT '{col}' AS col, m.m_n_rows, w0.w_n_rows, m2.m_ndv_est, w2.w_ndv_est,
       (m.m_n_rows = w0.w_n_rows AND m.m_n_null = w0.w_n_null) AS counts_match,
       (m.m_mn IS NOT DISTINCT FROM w0.w_mn
        AND m.m_mx IS NOT DISTINCT FROM w0.w_mx) AS bounds_match,
       (m2.m_ndv_est = w2.w_ndv_est) AS ndv_match
FROM (SELECT sum(n_rows)::BIGINT AS m_n_rows, sum(n_null)::BIGINT AS m_n_null,
             min(mn) AS m_mn, max(mx) AS m_mx
      FROM ({part_stats})) m,
     (SELECT round({est}, 6) AS m_ndv_est
      FROM (SELECT count(*) AS k, max(h) AS kth_min
            FROM (SELECT DISTINCT h FROM ({part_hashes}) ORDER BY h LIMIT {K_MIN}))) m2,
     (SELECT count(*) AS w_n_rows,
             sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT AS w_n_null,
             {mn} AS w_mn, {mx} AS w_mx FROM orders) w0,
     (SELECT round({est}, 6) AS w_ndv_est
      FROM (SELECT count(*) AS k, max(h) AS kth_min
            FROM (SELECT DISTINCT {h} AS h FROM orders WHERE {col} IS NOT NULL
                  ORDER BY h LIMIT {K_MIN}))) w2""".strip())
    body = "\nUNION ALL\n".join(blocks)
    return f"SELECT * FROM (\n{body}\n) ORDER BY col"


# --------------------------------------------------------------------------
# Stats-driven JOIN strategy decision: broadcast vs shuffle -- the other
# half of the engine's cost-based-decision surface (skew.skew_salt_auto
# sizes the salt, this sizes the build side). The classic CBO rule: a
# join side whose estimated bytes (row count x estimated row width, the
# Selinger width model: 8 bytes per numeric/timestamp column + average
# measured length per string column) fit under the broadcast threshold
# ships to every task as a hash map; otherwise both sides shuffle on the
# key. Two probes under one gated plan:
#
#   probe 1 -- customer as the build side of orders |><| customer
#              (small at the gate SFs -> 'broadcast')
#   probe 2 -- lineitem as the build side of orders |><| lineitem
#              (the fact table -> 'shuffle' at every SF)
#
# At 100 TB n_rows/avg-width come from the ANALYZE stats table
# (column_stats above) -- here they are 1-row bounded aggregates in the
# same lazy plan. Execution is branch-free: a broadcast()-hinted subtree
# and a merge-hinted subtree per probe, each guarded by its broadcast
# 1-row decision flag (the knn_strategy_auto shape); both branches agree
# on VALUES (the gate checks that via the joined aggregate), the plans
# differ (pinned by test on the forced branches). The decision flips with
# data volume by design -- at sf0.1 customer outgrows the threshold and
# correctly falls back to shuffle; cross-engine agreement is what the
# gate checks, not a fixed answer.
# --------------------------------------------------------------------------

JOIN_BC_THRESHOLD = 256 * 1024  # bytes


def _side_stats(df: DataFrame, num_cols: int, str_cols: list[str]):
    """1-row (n_rows, width_est): fixed 8 bytes per numeric/timestamp
    column + measured mean length per string column."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in str_cols:
        aggs.append(F.avg(F.length(F.col(c))).alias(f"_len_{c}"))
    width = F.lit(8.0 * num_cols)
    for c in str_cols:
        width = width + F.col(f"_len_{c}")
    return df.agg(*aggs).select("n_rows", width.alias("width_est"))


def join_strategy_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..sources.tables import load_table
    from .relational import MICRO

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")

    sides = [
        # (probe, build_side_name, stats_df, 8-byte cols, string cols)
        (1, "customer", _side_stats(cust, 3, ["c_name", "c_mktsegment"])),
        (2, "lineitem", _side_stats(li, 9, ["l_returnflag", "l_linestatus"])),
    ]
    decs = []
    for probe, name, stats in sides:
        decs.append(
            stats.select(
                F.lit(probe).alias("probe"),
                F.lit(name).alias("build_side"),
                F.col("n_rows").alias("n_build_rows"),
                "width_est",
            )
        )
    dec = (
        decs[0]
        .unionByName(decs[1])
        .withColumn(
            "est_bytes",
            F.floor(F.col("n_build_rows") * F.col("width_est")).cast("long"),
        )
        .withColumn(
            "strategy",
            F.when(
                F.col("est_bytes") <= F.lit(JOIN_BC_THRESHOLD), F.lit("broadcast")
            ).otherwise(F.lit("shuffle")),
        )
    )

    def _micros(col: str):
        return (
            F.sum(F.round(F.col(col) * F.lit(float(MICRO)), 0).cast("long"))
            .cast("double")
            / F.lit(float(MICRO))
            + F.lit(0.0)
        )

    def _branch(probe: int, strat: str) -> DataFrame:
        if probe == 1:
            build = cust.select(F.col("c_custkey").alias("k"))
            probe_side = orders.select(F.col("o_custkey").alias("k"), F.col("o_totalprice").alias("val"))
        else:
            build = li.select(F.col("l_orderkey").alias("k"), F.col("l_extendedprice").alias("val"))
            probe_side = orders.select(F.col("o_orderkey").alias("k"))
        # 0-or-1-row decision gate: the strategy predicate lives inside the
        # broadcast side so a losing branch's probe input empties at runtime
        # and AQE's empty-relation propagation skips its join + aggregate
        # (the prior shape ran all four joins and filtered two 1-row results
        # away; plans/r10/join_strategy_auto_{before,after}.txt). The same
        # gate is re-applied above the aggregate because a global agg over
        # an empty join still emits one (n_join=0) row -- output gating is
        # what preserves the exact result set, input gating is the
        # performance lever.
        gate = dec.filter(
            (F.col("probe") == probe) & (F.col("strategy") == strat)
        ).select(F.lit(True).alias("use"))
        probe_side = probe_side.crossJoin(F.broadcast(gate)).drop("use")
        b = F.broadcast(build) if strat == "broadcast" else build.hint("merge")
        joined = probe_side.join(b, "k")
        agg = joined.agg(
            F.count(F.lit(1)).alias("n_join"), _micros("val").alias("total")
        )
        return (
            agg.crossJoin(F.broadcast(gate))
            .select(F.lit(probe).alias("probe"), "n_join", "total")
        )

    unioned = (
        _branch(1, "broadcast")
        .unionAll(_branch(1, "shuffle"))
        .unionAll(_branch(2, "broadcast"))
        .unionAll(_branch(2, "shuffle"))
    )
    return (
        unioned.join(F.broadcast(dec), "probe")
        .select(
            "probe",
            "build_side",
            "n_build_rows",
            (F.round("width_est", 6) + F.lit(0.0)).alias("width_est"),
            "est_bytes",
            "strategy",
            "n_join",
            "total",
        )
        .orderBy("probe")
    )


def join_strategy_auto_oracle() -> str:
    from .relational import osum

    return f"""
WITH cstat AS (
  SELECT count(*) AS n_rows,
         8.0 * 3 + avg(length(c_name)) + avg(length(c_mktsegment)) AS width_est
  FROM customer),
lstat AS (
  SELECT count(*) AS n_rows,
         8.0 * 9 + avg(length(l_returnflag)) + avg(length(l_linestatus)) AS width_est
  FROM lineitem),
dec AS (
  SELECT 1 AS probe, 'customer' AS build_side, n_rows AS n_build_rows,
         width_est, floor(n_rows * width_est)::BIGINT AS est_bytes
  FROM cstat
  UNION ALL
  SELECT 2, 'lineitem', n_rows, width_est, floor(n_rows * width_est)::BIGINT
  FROM lstat),
dec2 AS (
  SELECT *, CASE WHEN est_bytes <= {JOIN_BC_THRESHOLD}
                 THEN 'broadcast' ELSE 'shuffle' END AS strategy
  FROM dec),
j1 AS (SELECT 1 AS probe, count(*) AS n_join, {osum('o_totalprice')} AS total
       FROM orders JOIN customer ON o_custkey = c_custkey),
j2 AS (SELECT 2 AS probe, count(*) AS n_join, {osum('l_extendedprice')} AS total
       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
joins AS (SELECT * FROM j1 UNION ALL SELECT * FROM j2)
SELECT d.probe, d.build_side, d.n_build_rows,
       (round(d.width_est, 6) + 0.0) AS width_est,
       d.est_bytes, d.strategy, j.n_join, j.total
FROM dec2 d JOIN joins j USING (probe)
ORDER BY d.probe
""".strip()


# --------------------------------------------------------------------------
# Declarative data-quality constraint audit (the Deequ-style validation
# suite a 100 TB ingest runs before promoting a batch): uniqueness,
# referential integrity, domain membership, null checks, range/tolerance
# checks -- each emitted as one (check_name, tbl, checked, violations,
# passed) row. Two tolerance checks are deliberately tight enough to FIRE
# on the test corpus (non-zero violations), so the gate verifies the
# violation-counting arithmetic, not just a column of zeros.
# --------------------------------------------------------------------------

AUDIT_DOC_MIN_CHARS = 80
AUDIT_MAX_PRICE = 300_000.0


def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass-per-table constraint suite.

    Shape at scale: every check over a table is fused into a SINGLE
    aggregate over one scan (stack() unpivots the 1-row aggregate into
    per-check rows, so adding a check adds an expression, not a pass).
    FK checks left-join the parent key set BEFORE the aggregate: small
    dims (customer, nation) broadcast; lineitem->orders shuffles on the
    join key at scale (AQE broadcasts it at bench SF) -- either way the
    violation count rides the same fused aggregate. Output is one bounded
    row per check; nothing corpus-sized leaves the executors.
    """
    from pyspark.sql import functions as F

    from ..sources.tables import load_table

    def viol(cond) -> object:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    def unpivot(agg_df: DataFrame, tbl: str, checks: list[str]) -> DataFrame:
        pairs = ", ".join(f"'{c}', {c}" for c in checks)
        return agg_df.selectExpr(
            f"stack({len(checks)}, {pairs}) AS (check_name, violations)",
            "n AS checked",
        ).select(
            "check_name",
            F.lit(tbl).alias("tbl"),
            F.col("checked").cast("long"),
            F.col("violations").cast("long"),
        )

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    lineitem = load_table(spark, sf_dir, "lineitem")
    documents = load_table(spark, sf_dir, "documents")
    events = load_table(spark, sf_dir, "events")
    embeddings = load_table(spark, sf_dir, "embeddings")

    o = orders.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("ck"))),
        orders["o_custkey"] == F.col("ck"),
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("orders_pk_unique"),
        viol(F.col("ck").isNull()).alias("orders_fk_customer"),
        viol(F.col("o_totalprice") < 0).alias("orders_price_nonneg"),
        viol(~F.col("o_orderstatus").isin("O", "F", "P")).alias("orders_status_domain"),
        viol(F.col("o_totalprice") > AUDIT_MAX_PRICE).alias("orders_price_le_cap"),
    )
    o_rows = unpivot(
        o,
        "orders",
        [
            "orders_pk_unique",
            "orders_fk_customer",
            "orders_price_nonneg",
            "orders_status_domain",
            "orders_price_le_cap",
        ],
    )

    li = lineitem.join(
        orders.select(F.col("o_orderkey").alias("ok")),
        lineitem["l_orderkey"] == F.col("ok"),
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.count(F.lit(1)) - F.count_distinct("l_orderkey", "l_linenumber")
        ).alias("lineitem_pk_unique"),
        viol(F.col("ok").isNull()).alias("lineitem_fk_orders"),
        viol(~F.col("l_quantity").between(1.0, 50.0)).alias("lineitem_qty_1_50"),
        viol(~F.col("l_discount").between(0.0, 1.0)).alias("lineitem_discount_0_1"),
    )
    li_rows = unpivot(
        li,
        "lineitem",
        [
            "lineitem_pk_unique",
            "lineitem_fk_orders",
            "lineitem_qty_1_50",
            "lineitem_discount_0_1",
        ],
    )

    c = customer.join(
        F.broadcast(nation.select(F.col("n_nationkey").alias("nk"))),
        customer["c_nationkey"] == F.col("nk"),
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("nk").isNull()).alias("customer_fk_nation"),
        viol(F.col("c_name").isNull() | (F.col("c_name") == "")).alias(
            "customer_name_nonempty"
        ),
    )
    c_rows = unpivot(c, "customer", ["customer_fk_nation", "customer_name_nonempty"])

    d = documents.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("doc_id")).alias("documents_pk_unique"),
        viol(
            F.col("text").isNull() | (F.length("text") < AUDIT_DOC_MIN_CHARS)
        ).alias("documents_text_min_chars"),
        viol(F.col("n_chars") != F.length("text")).alias("documents_nchars_consistent"),
    )
    d_rows = unpivot(
        d,
        "documents",
        ["documents_pk_unique", "documents_text_min_chars", "documents_nchars_consistent"],
    )

    e = events.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("event_id")).alias("events_pk_unique"),
        viol(F.col("ts").isNull()).alias("events_ts_nonnull"),
        viol(F.col("value") < 0).alias("events_value_nonneg"),
    )
    e_rows = unpivot(
        e, "events", ["events_pk_unique", "events_ts_nonnull", "events_value_nonneg"]
    )

    dim = embeddings.agg(F.max(F.size("embedding")).alias("expected_dim"))
    em = embeddings.crossJoin(F.broadcast(dim)).agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count_distinct("vec_id")).alias("embeddings_pk_unique"),
        viol(F.size("embedding") != F.col("expected_dim")).alias(
            "embeddings_dim_consistent"
        ),
    )
    em_rows = unpivot(
        em, "embeddings", ["embeddings_pk_unique", "embeddings_dim_consistent"]
    )

    out = o_rows
    for part in (li_rows, c_rows, d_rows, e_rows, em_rows):
        out = out.unionByName(part)
    return out.withColumn("passed", F.col("violations") == 0).orderBy("check_name")


def constraint_audit_oracle() -> str:
    return f"""
WITH checks AS (
  SELECT 'orders_pk_unique' AS check_name, 'orders' AS tbl,
         count(*)::BIGINT AS checked,
         (count(*) - count(DISTINCT o_orderkey))::BIGINT AS violations
  FROM orders
  UNION ALL
  SELECT 'orders_fk_customer', 'orders', count(*)::BIGINT,
         sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT 'orders_price_nonneg', 'orders', count(*)::BIGINT,
         sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)::BIGINT
  FROM orders
  UNION ALL
  SELECT 'orders_status_domain', 'orders', count(*)::BIGINT,
         sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)::BIGINT
  FROM orders
  UNION ALL
  SELECT 'orders_price_le_cap', 'orders', count(*)::BIGINT,
         sum(CASE WHEN o_totalprice > {AUDIT_MAX_PRICE} THEN 1 ELSE 0 END)::BIGINT
  FROM orders
  UNION ALL
  SELECT 'lineitem_pk_unique', 'lineitem', count(*)::BIGINT,
         (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_fk_orders', 'lineitem', count(*)::BIGINT,
         sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
  UNION ALL
  SELECT 'lineitem_qty_1_50', 'lineitem', count(*)::BIGINT,
         sum(CASE WHEN l_quantity NOT BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END)::BIGINT
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_discount_0_1', 'lineitem', count(*)::BIGINT,
         sum(CASE WHEN l_discount NOT BETWEEN 0.0 AND 1.0 THEN 1 ELSE 0 END)::BIGINT
  FROM lineitem
  UNION ALL
  SELECT 'customer_fk_nation', 'customer', count(*)::BIGINT,
         sum(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
  UNION ALL
  SELECT 'customer_name_nonempty', 'customer', count(*)::BIGINT,
         sum(CASE WHEN c_name IS NULL OR c_name = '' THEN 1 ELSE 0 END)::BIGINT
  FROM customer
  UNION ALL
  SELECT 'documents_pk_unique', 'documents', count(*)::BIGINT,
         (count(*) - count(DISTINCT doc_id))::BIGINT
  FROM documents
  UNION ALL
  SELECT 'documents_text_min_chars', 'documents', count(*)::BIGINT,
         sum(CASE WHEN text IS NULL OR length(text) < {AUDIT_DOC_MIN_CHARS}
             THEN 1 ELSE 0 END)::BIGINT
  FROM documents
  UNION ALL
  SELECT 'documents_nchars_consistent', 'documents', count(*)::BIGINT,
         sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)::BIGINT
  FROM documents
  UNION ALL
  SELECT 'events_pk_unique', 'events', count(*)::BIGINT,
         (count(*) - count(DISTINCT event_id))::BIGINT
  FROM events
  UNION ALL
  SELECT 'events_ts_nonnull', 'events', count(*)::BIGINT,
         sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT
  FROM events
  UNION ALL
  SELECT 'events_value_nonneg', 'events', count(*)::BIGINT,
         sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)::BIGINT
  FROM events
  UNION ALL
  SELECT 'embeddings_pk_unique', 'embeddings', count(*)::BIGINT,
         (count(*) - count(DISTINCT vec_id))::BIGINT
  FROM embeddings
  UNION ALL
  SELECT 'embeddings_dim_consistent', 'embeddings', count(*)::BIGINT,
         sum(CASE WHEN len(embedding) !=
             (SELECT max(len(embedding)) FROM embeddings)
             THEN 1 ELSE 0 END)::BIGINT
  FROM embeddings
)
SELECT check_name, tbl, checked, violations, violations = 0 AS passed
FROM checks ORDER BY check_name
""".strip()


# --------------------------------------------------------------------------
# Pairwise Pearson correlation screen over lineitem's numeric columns --
# the data-profiling step that flags redundant / derived columns before
# feature selection. This is ALSO the query that exercises the documented
# decimal(38,0) fallback for exact integer moments: sum(price_cents^2) is
# ~6.6e19 at sf0.1 (past int64), so the moments accumulate as
# decimal(38,0) on Spark and HUGEINT on DuckDB -- bit-exact integers in
# both -- and only the variance/covariance DIFFERENCES (~1e25, far below
# the 53-bit ulp at that magnitude relative to r's 6dp grain) cast to
# double for the one division and the correctly-rounded IEEE sqrt.
# --------------------------------------------------------------------------

CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def column_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(col_x, col_y, n, r): Pearson r for every unordered pair of the
    CORR_COLS, from ONE single-pass aggregate (4 sums + 4 sums of squares
    + 6 cross sums + count = 15 partial-aggregable expressions); output
    is 6 bounded rows."""
    from pyspark.sql import functions as F

    from ..sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    cents = {
        c: F.round(F.col(c) * F.lit(100.0), 0).cast("decimal(19,0)")
        for c in CORR_COLS
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in CORR_COLS:
        aggs.append(F.sum(cents[c]).alias(f"s_{c}"))
        aggs.append(F.sum(cents[c] * cents[c]).alias(f"ss_{c}"))
    for i, cx in enumerate(CORR_COLS):
        for cy in CORR_COLS[i + 1:]:
            aggs.append(F.sum(cents[cx] * cents[cy]).alias(f"sxy_{cx}_{cy}"))
    m = li.agg(*aggs)
    # NOTE (round 10): an explode-over-one-struct-array rewrite of this
    # 6-branch union was measured ~0.7s SLOWER both isolated and in-suite
    # (1.2-1.5s -> 2.0-2.1s warm) and reverted -- the union's six 1-row
    # branches share the aggregate via exchange reuse and execute the
    # decimal scan once either way; the single-branch explode lost the
    # parallel post-agg projection for no byte savings.
    rows = None
    for i, cx in enumerate(CORR_COLS):
        for cy in CORR_COLS[i + 1:]:
            num = (
                F.col("n") * F.col(f"sxy_{cx}_{cy}")
                - F.col(f"s_{cx}") * F.col(f"s_{cy}")
            ).cast("double")
            varx = (
                F.col("n") * F.col(f"ss_{cx}") - F.col(f"s_{cx}") * F.col(f"s_{cx}")
            ).cast("double")
            vary = (
                F.col("n") * F.col(f"ss_{cy}") - F.col(f"s_{cy}") * F.col(f"s_{cy}")
            ).cast("double")
            row = m.select(
                F.lit(cx).alias("col_x"),
                F.lit(cy).alias("col_y"),
                F.col("n").cast("long").alias("n"),
                (F.round(num / F.sqrt(varx * vary), 6) + F.lit(0.0)).alias("r"),
            )
            rows = row if rows is None else rows.unionAll(row)
    return rows.orderBy("col_x", "col_y")


def column_correlations_oracle() -> str:
    sums = ["count(*) AS n"]
    for c in CORR_COLS:
        e = f"round({c} * 100.0)::BIGINT"
        sums.append(f"sum({e}) AS s_{c}")
        sums.append(f"sum({e} * {e}) AS ss_{c}")
    for i, cx in enumerate(CORR_COLS):
        ex = f"round({cx} * 100.0)::BIGINT"
        for cy in CORR_COLS[i + 1:]:
            ey = f"round({cy} * 100.0)::BIGINT"
            sums.append(f"sum({ex} * {ey}) AS sxy_{cx}_{cy}")
    selects = []
    for i, cx in enumerate(CORR_COLS):
        for cy in CORR_COLS[i + 1:]:
            selects.append(
                f"""SELECT '{cx}' AS col_x, '{cy}' AS col_y, n::BIGINT AS n,
       round((n * sxy_{cx}_{cy} - s_{cx} * s_{cy})::DOUBLE
             / sqrt((n * ss_{cx} - s_{cx} * s_{cx})::DOUBLE
                    * (n * ss_{cy} - s_{cy} * s_{cy})::DOUBLE), 6) + 0.0 AS r
FROM m"""
            )
    return (
        "WITH m AS (SELECT " + ", ".join(sums) + " FROM lineitem)\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY col_x, col_y"
    )
