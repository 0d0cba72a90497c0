"""Fixed-grid histogram quantile sketch -- the fourth member of the
deterministic sketch toolkit (Bloom = membership, KMV = distinct count,
count-min = frequency, histogram = QUANTILES).

Engine-internal quantile sketches (t-digest / KLL, Spark's
approx_percentile) have per-engine internals, so -- like HLL -- they can
only ever be verdict-gated. A fixed-grid equi-width histogram over the
exact (min, max) has no such limitation: the bin index is
floor((x - lo) / w) on IEEE doubles both engines compute identically, so
the sketch STRUCTURE, the quantile estimates read from it, and the
interpolation error bound (|est - exact| < one bin width, guaranteed by
construction because the estimate and the true ranked value sit in the
same bin) are all under the hash gate.

Scale posture: the sketch is one (min, max, count) aggregate plus one
B-row groupBy -- at most B counter rows leave each partition regardless
of corpus size -- and histograms from disjoint shards built on the SAME
grid merge by cell-wise addition (the count-min rollup rule applied to
ranks). The exact ranked value exists here only to gate the error; it
needs a global sort, which is precisely what the sketch REPLACES at
100 TB. Bin width w = (max-min)/B is the a-priori error bound a
deployment dials with B.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from . import _memo

N_BINS = 128
N_SHARDS = 4
QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def _orders_x(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("x"), "o_orderkey"
    )


def _grid_params(o: DataFrame) -> DataFrame:
    return o.agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        "lo", "hi", "n_rows", ((F.col("hi") - F.col("lo")) / N_BINS).alias("w")
    )


def _bin_expr():
    """Bin index on the shared grid, clamped so x == max lands in the
    last bin. Pure IEEE double ops on identical inputs -> identical bins
    in both engines (no rounding needed)."""
    return F.least(
        F.floor((F.col("x") - F.col("lo")) / F.col("w")), F.lit(N_BINS - 1)
    ).cast("int")


_BIN_SQL = f"least(floor((x - lo) / w), {N_BINS - 1})::INT"

_GRID_SQL = f"""
o AS (SELECT o_totalprice AS x, o_orderkey FROM orders),
params AS (SELECT min(x) AS lo, max(x) AS hi, count(*) AS n_rows,
                  (max(x) - min(x)) / {N_BINS} AS w
           FROM o)
""".strip()


def hist_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The histogram itself as a (bin, n_bin) table -- the bounded
    artifact a rollup ships (<= N_BINS rows per shard)."""
    o = _orders_x(spark, sf_dir)
    params = _grid_params(o)
    return (
        o.crossJoin(F.broadcast(params))
        .select(_bin_expr().alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_bin"))
        .orderBy("bin")
    )


def hist_sketch_oracle() -> str:
    return f"""
WITH {_GRID_SQL},
binned AS (SELECT {_BIN_SQL} AS bin FROM o, params)
SELECT bin, count(*) AS n_bin
FROM binned GROUP BY bin ORDER BY bin
""".strip()


def hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates read from the histogram sketch, gated against
    the exact ranked values: (q, bin, est, exact, abs_err, within_bound)
    where within_bound asserts the construction guarantee |est - exact|
    <= w. Exact rank idx = ceil(q * n); the estimate interpolates
    linearly inside the first bin whose cumulative count reaches idx --
    the same bin that holds the true ranked value.

    The exact side never ranks the whole corpus (VERDICT r8: the old
    global `row_number` moved all data to ONE partition): because the
    true ranked value provably lives in the sketch-selected bin, rows are
    first filtered to that bin by joining the broadcast 5-row `sel`
    (<= n/B rows survive per quantile), ranked WITHIN it partitioned by
    q, and the local rank is offset by `cum_before` -- binning is
    monotone in x and ties share a bin, so local rank idx - cum_before
    is exactly the global order statistic idx."""
    o = _orders_x(spark, sf_dir)
    params, cum = _orders_grid(spark, sf_dir)
    from ..sources.tables import arrow_local_df

    qs = arrow_local_df(spark, {"q": [float(q) for q in QS]}, "q double")
    sel = (
        qs.crossJoin(F.broadcast(params))
        .withColumn("idx", F.ceil(F.col("q") * F.col("n_rows")))
        .join(
            F.broadcast(cum),
            F.col("cum_before") + F.col("n_bin") >= F.col("idx"),
        )
        .groupBy("q")
        .agg(
            F.min(F.struct("bin", "n_bin", "cum_before")).alias("_m"),
            F.first("lo").alias("lo"),
            F.first("w").alias("w"),
            F.first("idx").alias("idx"),
        )
        .select(
            "q",
            F.col("_m.bin").alias("bin"),
            F.col("_m.cum_before").alias("cum_before"),
            "lo",
            "w",
            "idx",
            (
                F.col("lo")
                + F.col("w")
                * (
                    F.col("_m.bin")
                    + (F.col("idx") - F.col("_m.cum_before"))
                    / F.col("_m.n_bin")
                )
            ).alias("est_raw"),
        )
    )
    # broadcast the 5-row quantile side INTO the corpus stream: the bin
    # predicate keeps only the selected bin's rows per quantile, then the
    # window ranks per-q (a hash exchange on q, never exchange-to-one)
    cand = o.join(
        F.broadcast(sel),
        F.least(
            F.floor((F.col("x") - F.col("lo")) / F.col("w")), F.lit(N_BINS - 1)
        ).cast("int")
        == F.col("bin"),
    )
    out = cand.withColumn(
        "rloc",
        F.row_number().over(Window.partitionBy("q").orderBy("x")).cast("long"),
    ).filter(F.col("rloc") == F.col("idx") - F.col("cum_before"))
    err = F.abs(F.col("est_raw") - F.col("x"))
    return out.select(
        "q",
        "bin",
        (F.round("est_raw", 6) + F.lit(0.0)).alias("est"),
        (F.round("x", 6) + F.lit(0.0)).alias("exact"),
        (F.round(err, 6) + F.lit(0.0)).alias("abs_err"),
        (err <= F.col("w")).alias("within_bound"),
    ).orderBy("q")


def hist_quantiles_oracle() -> str:
    qs = ", ".join(f"({q!r})" for q in QS)
    return f"""
WITH {_GRID_SQL},
hist AS (
  SELECT bin, count(*) AS n_bin
  FROM (SELECT {_BIN_SQL} AS bin FROM o, params)
  GROUP BY bin),
cum AS (
  SELECT bin, n_bin,
         sum(n_bin) OVER (ORDER BY bin) - n_bin AS cum_before
  FROM hist),
qs(q) AS (VALUES {qs}),
sel AS (
  SELECT q, bin, cum_before, lo, w, idx,
         lo + w * (bin + (idx - cum_before) / n_bin) AS est_raw
  FROM (
    SELECT qs.q, c.bin, p.lo, p.w, ceil(qs.q * p.n_rows)::BIGINT AS idx,
           c.n_bin, c.cum_before,
           row_number() OVER (PARTITION BY qs.q ORDER BY c.bin) AS pick
    FROM qs, params p, cum c
    WHERE c.cum_before + c.n_bin >= ceil(qs.q * p.n_rows)::BIGINT)
  WHERE pick = 1),
cand AS (
  SELECT s.q, s.bin, s.w, s.est_raw, o.x,
         row_number() OVER (PARTITION BY s.q ORDER BY o.x) AS rloc,
         s.idx - s.cum_before AS target
  FROM o JOIN sel s
    ON least(floor((o.x - s.lo) / s.w), {N_BINS - 1})::INT = s.bin)
SELECT q, bin,
       (round(est_raw, 6) + 0.0) AS est,
       (round(x, 6) + 0.0) AS exact,
       (round(abs(est_raw - x), 6) + 0.0) AS abs_err,
       abs(est_raw - x) <= w AS within_bound
FROM cand WHERE rloc = target
ORDER BY q
""".strip()


def hist_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability under the gate: per-shard histograms built on the
    SAME (lo, hi, B) grid -- the global grid is the shared parameter,
    like the Bloom filter's m -- merge by cell-wise addition; the merged
    histogram must equal the whole-corpus histogram bin for bin."""
    o = _orders_x(spark, sf_dir)
    params = _grid_params(o)
    binned = o.crossJoin(F.broadcast(params)).select(
        (F.col("o_orderkey") % N_SHARDS).alias("shard"), _bin_expr().alias("bin")
    )
    shard_hists = binned.groupBy("shard", "bin").agg(
        F.count(F.lit(1)).alias("n_bin")
    )
    merged = shard_hists.groupBy("bin").agg(F.sum("n_bin").alias("merged_n"))
    whole = hist_sketch(spark, sf_dir).withColumnRenamed("n_bin", "whole_n")
    return (
        merged.join(whole, "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("merged_n", F.lit(0)).alias("merged_n"),
            F.coalesce("whole_n", F.lit(0)).alias("whole_n"),
            (
                F.coalesce("merged_n", F.lit(0)) - F.coalesce("whole_n", F.lit(0))
            ).alias("diff"),
        )
        .orderBy("bin")
    )


def hist_merge_shards_oracle() -> str:
    return f"""
WITH {_GRID_SQL},
binned AS (
  SELECT o_orderkey % {N_SHARDS} AS shard, {_BIN_SQL} AS bin FROM o, params),
shard_hists AS (
  SELECT shard, bin, count(*) AS n_bin FROM binned GROUP BY shard, bin),
merged AS (SELECT bin, sum(n_bin) AS merged_n FROM shard_hists GROUP BY bin),
whole AS (
  SELECT bin, count(*) AS whole_n
  FROM (SELECT {_BIN_SQL} AS bin FROM o, params)
  GROUP BY bin)
SELECT coalesce(m.bin, w.bin) AS bin,
       coalesce(merged_n, 0)::BIGINT AS merged_n,
       coalesce(whole_n, 0)::BIGINT AS whole_n,
       (coalesce(merged_n, 0) - coalesce(whole_n, 0))::BIGINT AS diff
FROM merged m FULL OUTER JOIN whole w ON m.bin = w.bin
ORDER BY 1
""".strip()


N_RANGES = 8


# the (params, cumulative histogram) pair IS the quantile-sketch artifact
# (1 + <=B rows): memoized per (application, sf_dir) behind eager
# localCheckpoints so the balance report, the layout writer, and the
# quantile probes share one corpus pass instead of re-aggregating the
# grid per subtree. First call builds it; the gate always runs cold.
@_memo.per_app
def _orders_grid(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    o = _orders_x(spark, sf_dir)
    params = _grid_params(o).localCheckpoint()
    cum = _hist_cum(o, params).localCheckpoint()
    return params, cum


def _hist_cum(o: DataFrame, params: DataFrame) -> DataFrame:
    """Histogram + cumulative counts (bin, n_bin, cum_before). The
    cumulative side is a broadcast self-join over the <= B-row histogram:
    a global-order window -- even over B rows -- would trip the
    no-partition WindowExec path, while the B x B broadcast join is free
    and keeps every consumer's plan exchange-to-one-free."""
    hist = (
        o.crossJoin(F.broadcast(params))
        .select(_bin_expr().alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_bin"))
    )
    prev = hist.select(F.col("bin").alias("pbin"), F.col("n_bin").alias("pn"))
    return (
        hist.join(F.broadcast(prev), F.col("pbin") < F.col("bin"), "left")
        .groupBy("bin", "n_bin")
        .agg(F.coalesce(F.sum("pn"), F.lit(0)).alias("cum_before"))
    )


def _boundary_sel(spark: SparkSession, params: DataFrame, cum: DataFrame) -> DataFrame:
    """The N_RANGES-1 boundary rows (i, mass, idx, bound) interpolated
    from the cumulative histogram -- shared by the gated balance report
    and the range-layout writer."""
    from ..sources.tables import arrow_local_df

    bs = arrow_local_df(spark, {"i": list(range(1, N_RANGES))}, "i int")
    return (
        bs.crossJoin(F.broadcast(params))
        .withColumn("idx", F.ceil(F.col("i") * F.col("n_rows") / F.lit(N_RANGES)))
        .join(
            F.broadcast(cum),
            F.col("cum_before") + F.col("n_bin") >= F.col("idx"),
        )
        .groupBy("i")
        .agg(
            F.min(F.struct("bin", "n_bin", "cum_before")).alias("_m"),
            F.first("lo").alias("lo"),
            F.first("w").alias("w"),
            F.first("idx").alias("idx"),
        )
        .select(
            "i",
            F.col("_m.n_bin").alias("mass"),
            "idx",
            (
                F.col("lo")
                + F.col("w")
                * (
                    F.col("_m.bin")
                    + (F.col("idx") - F.col("_m.cum_before")) / F.col("_m.n_bin")
                )
            ).alias("bound"),
        )
    )


def range_bounds_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition boundaries read from the histogram sketch -- the
    100 TB scale path of ``maintenance_range_bounds`` (whose exact ntile
    report needs a global total order). ``repartitionByRange`` picks its
    boundaries by SAMPLING, which is non-deterministic; the sketch gives a
    deterministic, mergeable alternative: interpolate the N_RANGES-1
    boundary values from the cumulative histogram, assign every row by
    comparing against the broadcast boundary array, and audit the balance.

    Gated guarantee: assigning by a boundary interpolated inside bin b can
    misplace only rows of bin b itself, so each range's row count deviates
    from its ideal share by at most the mass of its two boundary bins --
    emitted as ``within_bound`` (abs_dev <= dev_bound) per range. Every
    column is deterministic IEEE arithmetic on the shared grid, so the
    whole report (bounds, counts, deviations) hash-gates regardless.

    Caveat (found by the property fuzz in tests/test_streaming.py): the
    two-bin bound is exact in real arithmetic but can be exceeded by
    edge-tie pathologies in IEEE floats -- under extreme dynamic range
    (~1e300 spread), a row can bin to b+1 yet compare below a boundary
    interpolated at bin b's upper edge. On value-like domains (prices,
    sizes, scores: bounded ratio, fixed decimals) the bound holds, which
    is what the fuzz pins; the gate itself can never flip either way
    because both engines run the identical arithmetic.

    Output: (range_id, lo_bound, hi_bound, n_range, ideal, abs_dev,
    dev_bound, within_bound), one row per range, lo/hi NULL at the ends."""
    o = _orders_x(spark, sf_dir)
    params, cum = _orders_grid(spark, sf_dir)
    sel = _boundary_sel(spark, params, cum)
    barr = sel.groupBy().agg(F.sort_array(F.collect_list("bound")).alias("bounds"))
    counts = (
        o.crossJoin(F.broadcast(barr))
        .select(
            F.size(F.filter("bounds", lambda b: b <= F.col("x")))
            .cast("long")
            .alias("range_id")
        )
        .groupBy("range_id")
        .agg(F.count(F.lit(1)).alias("n_range"))
    )
    spine = spark.range(N_RANGES).withColumnRenamed("id", "range_id")
    left = sel.select(
        F.col("i").cast("long").alias("range_id"),
        F.col("bound").alias("lo_bound_raw"),
        F.col("mass").alias("lmass"),
        F.col("idx").alias("lidx"),
    )
    right = sel.select(
        (F.col("i") - 1).cast("long").alias("range_id"),
        F.col("bound").alias("hi_bound_raw"),
        F.col("mass").alias("rmass"),
        F.col("idx").alias("ridx"),
    )
    ideal = F.coalesce("ridx", F.col("n_rows")) - F.coalesce("lidx", F.lit(0))
    n_range = F.coalesce("n_range", F.lit(0))
    dev_bound = F.coalesce("lmass", F.lit(0)) + F.coalesce("rmass", F.lit(0))
    return (
        spine.crossJoin(F.broadcast(params.select("n_rows")))
        .join(F.broadcast(left), "range_id", "left")
        .join(F.broadcast(right), "range_id", "left")
        .join(F.broadcast(counts), "range_id", "left")
        .select(
            "range_id",
            F.round("lo_bound_raw", 6).alias("lo_bound"),
            F.round("hi_bound_raw", 6).alias("hi_bound"),
            n_range.alias("n_range"),
            ideal.alias("ideal"),
            F.abs(n_range - ideal).alias("abs_dev"),
            dev_bound.alias("dev_bound"),
            (F.abs(n_range - ideal) <= dev_bound).alias("within_bound"),
        )
        .orderBy("range_id")
    )


def _bounds_cte_sql() -> str:
    """Oracle CTE chain computing the boundary rows + sorted bound array
    -- shared by the balance-report and pruned-layout oracles (the oracle
    must RECOMPUTE the bounds: oracle strings are built without Spark, so
    they can never embed the engine's computed values)."""
    bs = ", ".join(f"({i})" for i in range(1, N_RANGES))
    return f"""
WITH {_GRID_SQL},
hist AS (
  SELECT bin, count(*) AS n_bin
  FROM (SELECT {_BIN_SQL} AS bin FROM o, params)
  GROUP BY bin),
cum AS (
  SELECT bin, n_bin,
         sum(n_bin) OVER (ORDER BY bin) - n_bin AS cum_before
  FROM hist),
bs(i) AS (VALUES {bs}),
sel AS (
  SELECT i, mass, idx,
         lo + w * (bin + (idx - cum_before) / n_bin) AS bound
  FROM (
    SELECT bs.i, c.bin, c.n_bin AS mass, c.n_bin, c.cum_before, p.lo, p.w,
           ceil(bs.i * p.n_rows / {N_RANGES})::BIGINT AS idx,
           row_number() OVER (PARTITION BY bs.i ORDER BY c.bin) AS pick
    FROM bs, params p, cum c
    WHERE c.cum_before + c.n_bin >= ceil(bs.i * p.n_rows / {N_RANGES})::BIGINT)
  WHERE pick = 1),
barr AS (SELECT list(bound ORDER BY bound) AS bounds FROM sel)""".strip()


def range_bounds_sketch_oracle() -> str:
    return f"""
{_bounds_cte_sql()},
counts AS (
  SELECT range_id, count(*) AS n_range
  FROM (SELECT len(list_filter(bounds, b -> b <= x))::BIGINT AS range_id
        FROM o, barr)
  GROUP BY range_id),
spine AS (SELECT unnest(range({N_RANGES}))::BIGINT AS range_id)
SELECT s.range_id,
       round(l.bound, 6) AS lo_bound,
       round(r.bound, 6) AS hi_bound,
       coalesce(c.n_range, 0) AS n_range,
       coalesce(r.idx, p.n_rows) - coalesce(l.idx, 0) AS ideal,
       abs(coalesce(c.n_range, 0)
           - (coalesce(r.idx, p.n_rows) - coalesce(l.idx, 0))) AS abs_dev,
       coalesce(l.mass, 0) + coalesce(r.mass, 0) AS dev_bound,
       abs(coalesce(c.n_range, 0)
           - (coalesce(r.idx, p.n_rows) - coalesce(l.idx, 0)))
         <= coalesce(l.mass, 0) + coalesce(r.mass, 0) AS within_bound
FROM spine s
CROSS JOIN params p
LEFT JOIN sel l ON l.i = s.range_id
LEFT JOIN sel r ON r.i = s.range_id + 1
LEFT JOIN counts c ON c.range_id = s.range_id
ORDER BY s.range_id
""".strip()


RANGE_PRUNE_IDS = (2, 5)


@_memo.per_app
def orders_range_layout_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write orders partitioned by the sketch-assigned range_id, once per
    (application, sf_dir) -- the layout `sketch_range_bounds` plans,
    actually built. The N_RANGES-1 boundary values are fetched to the
    driver as literals (bounded parameter state, like the Bloom filter's
    m or the exact report's per-partition counts) and stamped into the
    write as a broadcast comparison -- exactly how a deterministic range
    writer works at scale, with the sketch replacing repartitionByRange's
    nondeterministic sampling."""
    from ..sources.artifacts import scratch_dir

    params, cum = _orders_grid(spark, sf_dir)
    bounds = sorted(
        r["bound"] for r in _boundary_sel(spark, params, cum).collect()
    )
    range_id = sum(
        (F.col("o_totalprice") >= F.lit(b)).cast("int") for b in bounds
    ).alias("range_id")
    out = scratch_dir("orders-ranged-")
    from ..sources.tables import load_table

    from ..sources.artifacts import write_partitioned

    write_partitioned(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", range_id
        ),
        out,
        "range_id",
    )
    return out


def range_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan two ranges of the sketch-partitioned layout: the range_id
    filter resolves to directory pruning at planning time (asserted via
    PartitionFilters in tests), so only 2 of N_RANGES partitions are ever
    opened -- the sketch plans the layout, the layout prunes the scan.
    The oracle RECOMPUTES the boundary assignment from the flat table
    through the same CTE chain, so a wrong bound, a wrong assignment
    comparison, or a row landing in the wrong directory all flip the
    gate. Aggregate per range: count + value/key extrema."""
    df = spark.read.parquet(orders_range_layout_dir(spark, sf_dir))
    return (
        df.filter(F.col("range_id").isin(*RANGE_PRUNE_IDS))
        .groupBy("range_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.round(F.min("o_totalprice"), 6) + F.lit(0.0)).alias("min_price"),
            (F.round(F.max("o_totalprice"), 6) + F.lit(0.0)).alias("max_price"),
            F.min("o_orderkey").alias("first_key"),
            F.max("o_orderkey").alias("last_key"),
        )
        .orderBy("range_id")
    )


def range_pruned_scan_oracle() -> str:
    ids = ", ".join(str(i) for i in RANGE_PRUNE_IDS)
    return f"""
{_bounds_cte_sql()},
assigned AS (
  SELECT o.o_orderkey, o.x,
         len(list_filter(bounds, b -> o.x >= b))::INT AS range_id
  FROM (SELECT o_orderkey, o_totalprice AS x FROM orders) o, barr)
SELECT range_id, count(*) AS n_rows,
       (round(min(x), 6) + 0.0) AS min_price,
       (round(max(x), 6) + 0.0) AS max_price,
       min(o_orderkey) AS first_key,
       max(o_orderkey) AS last_key
FROM assigned
WHERE range_id IN ({ids})
GROUP BY range_id
ORDER BY range_id
""".strip()


def hist_quantiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quantiles from per-group histogram sketches (VERDICT r8
    item 3 -- a 100 TB data-quality rollup is per-source): each
    o_orderpriority group gets its own (lo, hi, w) grid and B-bounded
    histogram, estimates interpolate per group, and the exact gate ranks
    ONLY inside the sketch-selected bin partitioned by (grp, q) -- the
    same scale-safe exact-rank trick as :func:`hist_quantiles`, keyed.
    Output: (grp, q, bin, est, exact, abs_err, within_bound)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), F.col("o_totalprice").alias("x")
    )
    params = o.groupBy("grp").agg(
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select("grp", "lo", "hi", "n_rows", ((F.col("hi") - F.col("lo")) / N_BINS).alias("w"))
    hist = (
        o.join(F.broadcast(params), "grp")
        .select("grp", _bin_expr().alias("bin"))
        .groupBy("grp", "bin")
        .agg(F.count(F.lit(1)).alias("n_bin"))
    )
    # per-group cumulative counts: the window IS partitioned (by grp), and
    # each partition holds <= B rows -- bounded by the sketch parameter
    cum = hist.select(
        "grp",
        "bin",
        "n_bin",
        (
            F.sum("n_bin").over(Window.partitionBy("grp").orderBy("bin"))
            - F.col("n_bin")
        ).alias("cum_before"),
    )
    from ..sources.tables import arrow_local_df

    qs = arrow_local_df(spark, {"q": [float(q) for q in QS]}, "q double")
    sel = (
        qs.crossJoin(F.broadcast(params))
        .withColumn("idx", F.ceil(F.col("q") * F.col("n_rows")))
        .join(
            F.broadcast(
                cum.select(
                    F.col("grp").alias("cgrp"), "bin", "n_bin", "cum_before"
                )
            ),
            (F.col("cgrp") == F.col("grp"))
            & (F.col("cum_before") + F.col("n_bin") >= F.col("idx")),
        )
        .groupBy("grp", "q")
        .agg(
            F.min(F.struct("bin", "n_bin", "cum_before")).alias("_m"),
            F.first("lo").alias("lo"),
            F.first("w").alias("w"),
            F.first("idx").alias("idx"),
        )
        .select(
            F.col("grp").alias("sgrp"),
            "q",
            F.col("_m.bin").alias("bin"),
            F.col("_m.cum_before").alias("cum_before"),
            "lo",
            "w",
            "idx",
            (
                F.col("lo")
                + F.col("w")
                * (
                    F.col("_m.bin")
                    + (F.col("idx") - F.col("_m.cum_before"))
                    / F.col("_m.n_bin")
                )
            ).alias("est_raw"),
        )
    )
    cand = o.join(
        F.broadcast(sel),
        (F.col("sgrp") == F.col("grp"))
        & (
            F.least(
                F.floor((F.col("x") - F.col("lo")) / F.col("w")), F.lit(N_BINS - 1)
            ).cast("int")
            == F.col("bin")
        ),
    )
    out = cand.withColumn(
        "rloc",
        F.row_number()
        .over(Window.partitionBy("grp", "q").orderBy("x"))
        .cast("long"),
    ).filter(F.col("rloc") == F.col("idx") - F.col("cum_before"))
    err = F.abs(F.col("est_raw") - F.col("x"))
    return out.select(
        "grp",
        "q",
        "bin",
        (F.round("est_raw", 6) + F.lit(0.0)).alias("est"),
        (F.round("x", 6) + F.lit(0.0)).alias("exact"),
        (F.round(err, 6) + F.lit(0.0)).alias("abs_err"),
        (err <= F.col("w")).alias("within_bound"),
    ).orderBy("grp", "q")


def hist_quantiles_by_group_oracle() -> str:
    qs = ", ".join(f"({q!r})" for q in QS)
    return f"""
WITH o AS (SELECT o_orderpriority AS grp, o_totalprice AS x FROM orders),
params AS (
  SELECT grp, min(x) AS lo, max(x) AS hi, count(*) AS n_rows,
         (max(x) - min(x)) / {N_BINS} AS w
  FROM o GROUP BY grp),
binned AS (
  SELECT o.grp, {_BIN_SQL} AS bin FROM o JOIN params USING (grp)),
hist AS (SELECT grp, bin, count(*) AS n_bin FROM binned GROUP BY grp, bin),
cum AS (
  SELECT grp, bin, n_bin,
         sum(n_bin) OVER (PARTITION BY grp ORDER BY bin) - n_bin AS cum_before
  FROM hist),
qs(q) AS (VALUES {qs}),
sel AS (
  SELECT grp, q, bin, cum_before, lo, w, idx,
         lo + w * (bin + (idx - cum_before) / n_bin) AS est_raw
  FROM (
    SELECT p.grp, qs.q, c.bin, p.lo, p.w, ceil(qs.q * p.n_rows)::BIGINT AS idx,
           c.n_bin, c.cum_before,
           row_number() OVER (PARTITION BY p.grp, qs.q ORDER BY c.bin) AS pick
    FROM qs, params p JOIN cum c USING (grp)
    WHERE c.cum_before + c.n_bin >= ceil(qs.q * p.n_rows)::BIGINT)
  WHERE pick = 1),
cand AS (
  SELECT s.grp, s.q, s.bin, s.w, s.est_raw, o.x,
         row_number() OVER (PARTITION BY s.grp, s.q ORDER BY o.x) AS rloc,
         s.idx - s.cum_before AS target
  FROM o JOIN sel s
    ON o.grp = s.grp
   AND least(floor((o.x - s.lo) / s.w), {N_BINS - 1})::INT = s.bin)
SELECT grp, q, bin,
       (round(est_raw, 6) + 0.0) AS est,
       (round(x, 6) + 0.0) AS exact,
       (round(abs(est_raw - x), 6) + 0.0) AS abs_err,
       abs(est_raw - x) <= w AS within_bound
FROM cand WHERE rloc = target
ORDER BY grp, q
""".strip()


def hist_by_group_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-group MERGE leg of the quantile sketch (completes the
    per-group protocol kmv_by_group_merge gates for KMV): per-(group,
    shard) histograms built on each GROUP'S OWN (lo, hi, B) grid -- the
    grid is a per-group shared parameter, which is exactly what makes the
    keyed rollup sound -- merge by bin-wise addition into the per-group
    whole histogram. One gated summary row per group: bin counts, total
    rows, and a per-group cell diff that must be 0. At 100 TB each
    (source, shard) ships <= B counters on its source's grid; a shard
    binned on the WRONG group's grid flips the diff."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("x"),
        "o_orderkey",
    )
    params = (
        o.groupBy("grp")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .select("grp", "lo", ((F.col("hi") - F.col("lo")) / N_BINS).alias("w"))
    )
    binned = o.join(F.broadcast(params), "grp").select(
        "grp",
        (F.col("o_orderkey") % N_SHARDS).alias("shard"),
        _bin_expr().alias("bin"),
    )
    shard_hists = binned.groupBy("grp", "shard", "bin").agg(
        F.count(F.lit(1)).alias("n_bin")
    )
    merged = shard_hists.groupBy("grp", "bin").agg(
        F.sum("n_bin").alias("merged_n")
    )
    whole = binned.groupBy("grp", "bin").agg(F.count(F.lit(1)).alias("whole_n"))
    cells = merged.join(whole, ["grp", "bin"], "full_outer").select(
        "grp",
        "bin",
        F.coalesce("merged_n", F.lit(0)).alias("merged_n"),
        F.coalesce("whole_n", F.lit(0)).alias("whole_n"),
    )
    return (
        cells.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("merged_n").alias("merged_rows"),
            F.sum("whole_n").alias("whole_rows"),
            F.sum(F.abs(F.col("merged_n") - F.col("whole_n"))).alias(
                "abs_diff_total"
            ),
        )
        .select(
            "grp",
            "n_cells",
            "merged_rows",
            "whole_rows",
            "abs_diff_total",
            (F.col("abs_diff_total") == 0).alias("sketch_equal"),
        )
        .orderBy("grp")
    )


def hist_by_group_merge_oracle() -> str:
    return f"""
WITH o AS (SELECT o_orderpriority AS grp, o_totalprice AS x, o_orderkey
           FROM orders),
params AS (
  SELECT grp, min(x) AS lo, (max(x) - min(x)) / {N_BINS} AS w
  FROM o GROUP BY grp),
binned AS (
  SELECT o.grp, o.o_orderkey % {N_SHARDS} AS shard, {_BIN_SQL} AS bin
  FROM o JOIN params USING (grp)),
shard_hists AS (
  SELECT grp, shard, bin, count(*) AS n_bin
  FROM binned GROUP BY grp, shard, bin),
merged AS (
  SELECT grp, bin, sum(n_bin) AS merged_n FROM shard_hists GROUP BY grp, bin),
whole AS (SELECT grp, bin, count(*) AS whole_n FROM binned GROUP BY grp, bin),
cells AS (
  SELECT coalesce(m.grp, w.grp) AS grp, coalesce(m.bin, w.bin) AS bin,
         coalesce(merged_n, 0) AS merged_n, coalesce(whole_n, 0) AS whole_n
  FROM merged m FULL OUTER JOIN whole w ON m.grp = w.grp AND m.bin = w.bin)
SELECT grp, count(*) AS n_cells,
       sum(merged_n)::BIGINT AS merged_rows,
       sum(whole_n)::BIGINT AS whole_rows,
       sum(abs(merged_n - whole_n))::BIGINT AS abs_diff_total,
       sum(abs(merged_n - whole_n)) = 0 AS sketch_equal
FROM cells
GROUP BY grp
ORDER BY grp
""".strip()


# --------------------------------------------------------------------------
# 2-D histogram: the JOINT distribution grid over a column pair -- the
# scatter-density profile that shows WHERE a correlation lives (the
# Pearson screen in maintenance.py says how linear the pair is; this says
# which region of the plane carries the mass). Same portable binning as
# the 1-D sketch: floor((x - lo) / w) on identical IEEE inputs, clamped
# to the last cell, so every cell count hash-gates. Bounded output
# (<= HIST2D_BINS^2 cells, only non-empty cells emitted); mergeable by
# cell-wise addition exactly like the 1-D grid.
# --------------------------------------------------------------------------

HIST2D_BINS = 16


def hist2d(spark: SparkSession, sf_dir: str, b: int = HIST2D_BINS) -> DataFrame:
    """(bx, by, n_cell): joint (l_quantity, l_extendedprice) density on a
    b x b equi-width grid over the exact per-column min/max -- one bounds
    pass + one binned aggregate, both single-shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    )
    params = li.agg(
        F.min("x").alias("lox"),
        F.max("x").alias("hix"),
        F.min("y").alias("loy"),
        F.max("y").alias("hiy"),
    ).select(
        "lox",
        "loy",
        ((F.col("hix") - F.col("lox")) / b).alias("wx"),
        ((F.col("hiy") - F.col("loy")) / b).alias("wy"),
    )
    bx = F.least(
        F.floor((F.col("x") - F.col("lox")) / F.col("wx")), F.lit(b - 1)
    ).cast("int")
    by = F.least(
        F.floor((F.col("y") - F.col("loy")) / F.col("wy")), F.lit(b - 1)
    ).cast("int")
    return (
        li.crossJoin(F.broadcast(params))
        .select(bx.alias("bx"), by.alias("by"))
        .groupBy("bx", "by")
        .agg(F.count(F.lit(1)).alias("n_cell"))
        .orderBy("bx", "by")
    )


def hist2d_oracle(b: int = HIST2D_BINS) -> str:
    return f"""
WITH li AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem),
params AS (SELECT min(x) AS lox, min(y) AS loy,
                  (max(x) - min(x)) / {b} AS wx,
                  (max(y) - min(y)) / {b} AS wy
           FROM li)
SELECT least(floor((x - lox) / wx), {b - 1})::INT AS bx,
       least(floor((y - loy) / wy), {b - 1})::INT AS by,
       count(*) AS n_cell
FROM li, params
GROUP BY bx, by
ORDER BY bx, by
""".strip()
