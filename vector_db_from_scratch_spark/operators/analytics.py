"""Event-sequence analytics over the ``events`` table: funnel conversion,
gaps-and-islands runs, and first-event-per-key -- the product-analytics
query family a training-data platform runs next to its corpus pipelines.

The reference engine has no event-sequence surface at all (its only
time-ordered data is entity ``created_at`` bookkeeping,
``vector_db/entities.py:16-24``); these are Spark-native extensions in the
spirit of SURVEY.md §2.10.

Scale notes (100 TB thinking):
  - Everything here partitions by ``user_id`` -- one shuffle each, on a
    high-cardinality well-distributed key; window functions then run
    within partitions with no further exchange.
  - The funnel is three narrow per-user aggregates joined on user_id; all
    three derive from ONE scan of events (Spark reuses the exchange), and
    the final count is a single-row reduce.
  - No collect()/driver loops anywhere; islands use a running sum over a
    lag flag, the textbook single-pass formulation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import _memo
from ..sources.tables import load_table

FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_WINDOW = "INTERVAL 1 HOUR"  # each step within 1h of the previous


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-step ordered funnel (view -> click -> purchase), each later
    step within 1h of the user's qualifying previous step.

    Per user: t1 = first view; t2 = first click in [t1, t1+1h];
    t3 = first purchase in [t2, t2+1h]. Output is one row of step
    cardinalities -- the canonical funnel report.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter(
            (F.col("ts") >= F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr(FUNNEL_WINDOW))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter(
            (F.col("ts") >= F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr(FUNNEL_WINDOW))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .agg(
            F.count(F.lit(1)).alias("step1_users"),
            F.count("t2").alias("step2_users"),
            F.count("t3").alias("step3_users"),
        )
    )


def funnel_conversion_oracle() -> str:
    v, c, p = FUNNEL_STEPS
    return f"""
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = '{v}' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(e.ts) AS t2
       FROM events e JOIN s1 USING (user_id)
       WHERE e.event_type = '{c}' AND e.ts >= s1.t1
         AND e.ts <= s1.t1 + {FUNNEL_WINDOW}
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(e.ts) AS t3
       FROM events e JOIN s2 USING (user_id)
       WHERE e.event_type = '{p}' AND e.ts >= s2.t2
         AND e.ts <= s2.t2 + {FUNNEL_WINDOW}
       GROUP BY e.user_id)
SELECT count(*) AS step1_users,
       count(t2) AS step2_users,
       count(t3) AS step3_users
FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
""".strip()


def event_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive same-type events per
    user (ordered by ts, event_id). Single-pass formulation: a lag-change
    flag summed over the ordering window numbers the islands; one shuffle
    on user_id serves both windows and the final grouping.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts", "event_type")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flag = F.when(
        F.lag("event_type").over(order_w).isNull()
        | (F.lag("event_type").over(order_w) != F.col("event_type")),
        1,
    ).otherwise(0)
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        ev.withColumn("flag", flag)
        .withColumn("island", F.sum("flag").over(run_w))
        .groupBy("user_id", "island")
        .agg(
            F.first("event_type").alias("event_type"),
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
        )
        .orderBy("user_id", "island")
    )


def event_islands_oracle() -> str:
    return """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT user_id, event_id, event_type,
         sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS island
  FROM flagged)
SELECT user_id, island::BIGINT AS island, min(event_type) AS event_type,
       count(*) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM islands
GROUP BY user_id, island
ORDER BY user_id, island
""".strip()


def first_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest event per (user_id, event_type) by event time -- the
    deterministic batch twin of streaming dedup. The streaming analogs:
    ``streaming.windows.dedup_stream`` (watermarked dropDuplicates; keeps
    an arrival-order row, so only the KEY SET is deterministic) and
    ``streaming.stateful.first_event_stream`` (explicit min-tracking
    state). tests/test_streaming.py pins the key-set equivalence.
    Timestamps surface as epoch micros so both engines hash the same
    integer.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            "event_id",
            # ts is TIMESTAMP_NTZ; micros-since-naive-epoch via timestampdiff
            # is timezone-free in both engines (a cast through TIMESTAMP
            # would shift by the session zone)
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("first_ts_us"),
        )
        .orderBy("user_id", "event_type")
    )


def first_event_per_key_oracle() -> str:
    return """
SELECT user_id, event_type, event_id, epoch_us(ts) AS first_ts_us
FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
ORDER BY user_id, event_type
""".strip()


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity week
    (the cohort), counted in every subsequent week they remain active.

    Classic product-analytics shape; in a training-data platform the same
    query tracks source/feed liveness (cohort = first-crawl week). Week
    bucketing uses date_trunc('week') -- ISO Monday start in BOTH engines
    -- and the offset is an exact integer day-diff / 7, so the matrix is
    hash-stable. Cohort weeks surface as 'yyyy-MM-dd' strings (date dtype
    families differ between engines' pandas bridges).

    Scale notes: two shuffles -- user_id for the cohort min, then
    (cohort_week, week_offset) for the matrix -- both on balanced keys;
    the per-user week list never leaves the executors (distinct happens
    map-side first).
    """
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    cohort = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(cohort, "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


def retention_cohorts_oracle() -> str:
    return """
WITH weekly AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events),
cohort AS (SELECT user_id, min(week) AS cohort_week FROM weekly GROUP BY user_id)
SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
       (date_diff('day', cohort_week, week) // 7)::BIGINT AS week_offset,
       count(*) AS n_users
FROM weekly JOIN cohort USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
""".strip()


# --------------------------------------------------------------------------
# Z-score anomaly detection over hourly event volumes: each (event_type,
# hour) bucket scored against that type's own mean/stddev. The moments are
# computed from INTEGER hourly counts (sum, sum-of-squares, bucket count
# are exact BIGINTs), so mean/std/z derive from identical operands in both
# engines -- the portable form of a statistic that is order-dependent when
# engines sum floats. Two aggregations (hourly counts, per-type moments)
# + a broadcast join back; population std (divide by N) by design.
# --------------------------------------------------------------------------

ZSCORE_FLAG = 2.0


def event_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hour, n, zscore, anomaly_flag) for every hourly bucket;
    types with zero variance score 0 (guarded division)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    moments = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("buckets"),
        F.sum("n").cast("long").alias("s1"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("s2"),
    )
    joined = hourly.join(F.broadcast(moments), "event_type")
    mean = F.col("s1").cast("double") / F.col("buckets").cast("double")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * mean
    ) / F.col("buckets").cast("double")
    std = F.sqrt(var)
    z = F.when(std > 0.0, (F.col("n").cast("double") - mean) / std).otherwise(F.lit(0.0))
    zr = F.round(z, 6) + F.lit(0.0)
    return (
        joined.select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n",
            zr.alias("zscore"),
        )
        .withColumn("anomaly_flag", F.abs(F.col("zscore")) > ZSCORE_FLAG)
        .orderBy("event_type", "hour")
    )


def event_volume_anomalies_oracle() -> str:
    return f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2),
moments AS (
  SELECT event_type, count(*)::BIGINT AS buckets,
         sum(n)::BIGINT AS s1, sum(n * n)::BIGINT AS s2
  FROM hourly GROUP BY event_type),
scored AS (
  SELECT h.event_type AS event_type,
         strftime(h.hour::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS hour, h.n AS n,
         (s1::DOUBLE / buckets::DOUBLE) AS mean,
         sqrt((s2::DOUBLE - s1::DOUBLE * (s1::DOUBLE / buckets::DOUBLE))
              / buckets::DOUBLE) AS std
  FROM hourly h JOIN moments m USING (event_type))
SELECT event_type, hour, n,
       round(CASE WHEN std > 0.0 THEN (n::DOUBLE - mean) / std ELSE 0.0 END, 6) + 0.0
         AS zscore,
       abs(round(CASE WHEN std > 0.0 THEN (n::DOUBLE - mean) / std ELSE 0.0 END, 6) + 0.0)
         > {ZSCORE_FLAG} AS anomaly_flag
FROM scored
ORDER BY event_type, hour
""".strip()


# --------------------------------------------------------------------------
# As-of LEFT join: each purchase matched to the user's LATEST click at or
# before it, KEEPING purchases with no prior click as null-padded rows --
# the outer form of relational.asof_purchase_click (which drops them) and
# the one an attribution pipeline actually needs (unattributed purchases
# are a reported class, not discarded rows). Also carries both event
# times, so attribution lag is computable downstream. Same Spark-first
# formulation: NO range join, NO per-row subquery -- union both sides,
# ONE shuffle on user_id, and a running last_value(ignorenulls) over the
# merged event-time order fills the most recent click forward.
#
# The oracle cross-validates against DuckDB's NATIVE ASOF LEFT JOIN -- an
# independent implementation of the semantics, not a mirror of the window
# algebra. Tie discipline (both engines): clicks sort before purchases at
# equal ts (<= semantics), and among clicks tied on (user_id, ts) the max
# event_id wins (the oracle dedups to that click; the window's ordering
# makes it the last value seen). Pinned by tests/test_round3_ops.py::
# test_asof_tie_semantics on a constructed frame.
# --------------------------------------------------------------------------

def asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    u = ev.filter(F.col("event_type").isin("click", "purchase"))
    # clicks before purchases at equal ts => click_ts <= purchase_ts matches
    order_cols = [
        F.col("ts"),
        F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0)),
        F.col("event_id"),
    ]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.withColumn(
        "last_click_id",
        F.last(
            F.when(F.col("event_type") == "click", F.col("event_id")),
            ignorenulls=True,
        ).over(w),
    ).withColumn(
        "last_click_ts",
        F.last(
            F.when(F.col("event_type") == "click", F.col("ts")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        filled.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            "last_click_id",
            F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss").alias("last_click_ts"),
        )
        .orderBy("user_id", "purchase_id")
    )


def asof_last_click_oracle() -> str:
    return """
WITH c AS (
  SELECT user_id, ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts),
p AS (
  SELECT user_id, ts, event_id AS purchase_id
  FROM events WHERE event_type = 'purchase')
SELECT p.user_id AS user_id, p.purchase_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       c.click_id AS last_click_id,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
FROM p ASOF LEFT JOIN c
  ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY user_id, purchase_id
""".strip()


# --------------------------------------------------------------------------
# Poisson-bootstrap confidence interval (Chamandy et al. 2012, "Estimating
# uncertainty for massive data streams" -- the distributed bootstrap):
# classic resampling needs n draws per replicate from a global counter;
# the Poisson form gives every row an INDEPENDENT Poisson(1) resample
# weight per replicate, so all B replicates compute in one scan with no
# coordination -- the only bootstrap that works at 100 TB. Determinism +
# portability: the weight is the inverse-CDF of Poisson(1) applied to a
# portable-hash uniform (md5-derived, identical in both engines), with
# the CDF embedded as integer micro-unit literals (driver-computed once,
# the nDCG-discount-table device) -- no transcendentals in either engine,
# so every weight, every replicate mean, and the CI bounds hash-gate.
# --------------------------------------------------------------------------

B_REPLICATES = 40
# cumulative Poisson(1) CDF in micro-units: weight = #{t : u >= t}
_POISSON1_CDF_MICROS = (
    367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990, 999999,
)


@_memo.per_app
def _hashed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(h, p_micros) per order, materialized BEFORE the replicate
    crossJoin: project collapsing would otherwise inline the md5 into
    every one of the 9 threshold comparisons x 2 uses of w per (row,
    replicate) -- measured 7s warm at sf0.1 vs <1s hashed-once."""
    from ..functions.hashing import hash31
    from .relational import MICRO

    return (
        load_table(spark, sf_dir, "orders")
        .select(
            hash31(F.col("o_orderkey").cast("string")).alias("h"),
            F.round(F.col("o_totalprice") * F.lit(float(MICRO)), 0)
            .cast("long")
            .alias("p_micros"),
        )
        .localCheckpoint()
    )


def bootstrap_ci(
    spark: SparkSession, sf_dir: str, b: int = B_REPLICATES
) -> DataFrame:
    """(replicate, n_eff, mean_micros, ci_lo_micros, ci_hi_micros): B
    Poisson-bootstrap replicate means of o_totalprice in exact micro-units
    plus the percentile CI (2nd-smallest / 2nd-largest replicate mean at
    B=40 -- the 2.5th/97.5th percentile analog), constant across rows.

    Plan: one scan of orders crossJoined with the broadcast B-row
    replicate table, per-(row, replicate) weight from the hashed uniform,
    one groupBy(replicate) with map-side partial aggregation, then a
    window over the B bounded replicate rows -- never over the corpus.

    Hashing cost: ONE md5 per row (hash31), then per-replicate uniforms
    by Carter-Wegman mixing u_b = ((a_b*h + b_b) mod M31) mod 1e6 with
    the (a_b, b_b) pairs as COLUMNS of the broadcast replicate table --
    pure long arithmetic per (row, replicate), overflow-safe (a, h <
    2^31). The per-(row, replicate) md5 form cost 14s warm at sf0.1 (6M
    digest evaluations -- the join_bloom_prefiltered lesson); pairwise
    independence across replicates is sufficient for the bootstrap
    variance estimate."""
    # the percentile CI picks rk == 2 and rk == b-1: below b=4 those
    # bounds are null or inverted (b=2 would make ci_lo the max), and a
    # degenerate replicate count also risks n_eff == 0 in the mean's
    # divisor (ADVICE r9)
    if b < 4:
        raise ValueError(f"bootstrap_ci: b must be >= 4, got {b}")
    from ..functions.hashing import MERSENNE31, minhash_params
    from .relational import MICRO

    orders = _hashed_orders(spark, sf_dir)
    params = minhash_params(b, seed=131)
    # arrow_local_df, not createDataFrame: tuple-list local relations
    # re-serialize per ACTION on this build (~4.5s for a handful of rows
    # -- the round-3 broadcast-centroid lesson)
    from ..sources.tables import arrow_local_df

    reps = arrow_local_df(
        spark,
        {
            "replicate": list(range(b)),
            "a": [a for a, _ in params],
            "b": [bb for _, bb in params],
        },
        "replicate long, a long, b long",
    )
    u = (F.col("a") * F.col("h") + F.col("b")) % MERSENNE31 % MICRO
    w = sum(
        (F.when(u >= F.lit(t), 1).otherwise(0) for t in _POISSON1_CDF_MICROS),
        F.lit(0),
    ).cast("long")
    per_rep = (
        orders.crossJoin(F.broadcast(reps))
        .select("replicate", (w * F.col("p_micros")).alias("wp"), w.alias("w"))
        .groupBy("replicate")
        .agg(F.sum("wp").alias("num"), F.sum("w").alias("n_eff"))
        .select(
            "replicate",
            "n_eff",
            # exact half-up via Spark's integer ``div`` (long arithmetic
            # end to end): the (num - pmod)/den float trick used by
            # graph._intdiv requires operands < 2^53, and this numerator
            # 2*sum(w*p_micros) is ~1.5e17 at sf0.1 -- past 2^53 the
            # long->double hop can land the quotient a hair under its
            # integer and the cast truncates to Q-1 while DuckDB's `//`
            # says Q
            F.expr("(2 * num + n_eff) div (2 * n_eff)").alias("mean_micros"),
        )
        # 40 bounded rows; referenced twice (CI window + final output) --
        # checkpointing makes the subtree reuse unconditional instead of
        # plan-shape-dependent ReuseExchange
        .localCheckpoint()
    )
    ranked = per_rep.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy("mean_micros", "replicate")
        ),  # B bounded rows -- never a corpus-sized window
    )
    ci = ranked.agg(
        F.max(F.when(F.col("rk") == 2, F.col("mean_micros"))).alias("ci_lo_micros"),
        F.max(F.when(F.col("rk") == b - 1, F.col("mean_micros"))).alias(
            "ci_hi_micros"
        ),
    )
    return (
        per_rep.crossJoin(F.broadcast(ci))
        .select("replicate", "n_eff", "mean_micros", "ci_lo_micros", "ci_hi_micros")
        .orderBy("replicate")
    )


def bootstrap_ci_oracle(b: int = B_REPLICATES) -> str:
    from ..functions.hashing import MERSENNE31, hash31_sql, minhash_params
    from .relational import MICRO

    params = minhash_params(b, seed=131)
    rep_rows = ", ".join(f"({i}, {a}, {bb})" for i, (a, bb) in enumerate(params))
    u = f"(((r.a * o.h + r.b) % {MERSENNE31}) % {MICRO})"
    w_terms = " + ".join(
        f"CASE WHEN {u} >= {t} THEN 1 ELSE 0 END" for t in _POISSON1_CDF_MICROS
    )
    return f"""
WITH reps(replicate, a, b) AS (VALUES {rep_rows}),
hashed AS (
  SELECT {hash31_sql("o_orderkey::VARCHAR")} AS h,
         round(o_totalprice * {MICRO}.0)::BIGINT AS p_micros
  FROM orders),
weighted AS (
  SELECT r.replicate,
         ({w_terms})::BIGINT AS w,
         o.p_micros
  FROM hashed o CROSS JOIN reps r),
per_rep AS (
  SELECT replicate, sum(w)::BIGINT AS n_eff,
         (2 * sum(w * p_micros) + sum(w)) // (2 * sum(w)) AS mean_micros
  FROM weighted GROUP BY replicate),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY mean_micros, replicate) AS rk
  FROM per_rep),
ci AS (
  SELECT max(CASE WHEN rk = 2 THEN mean_micros END) AS ci_lo_micros,
         max(CASE WHEN rk = {b - 1} THEN mean_micros END) AS ci_hi_micros
  FROM ranked)
SELECT replicate::BIGINT AS replicate, n_eff, mean_micros::BIGINT AS mean_micros,
       ci_lo_micros::BIGINT AS ci_lo_micros, ci_hi_micros::BIGINT AS ci_hi_micros
FROM per_rep CROSS JOIN ci
ORDER BY replicate
""".strip()


def resample_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(hour, event_type, n): per-type hourly event counts over the FULL
    dense hour grid -- hours with no events appear as explicit zero rows.
    Gap-filling onto a regular time grid is the regularization step every
    time-series / training-telemetry pipeline runs before windowed
    models; a naive groupBy silently drops empty buckets.

    Plan: the grid is sequence(min_hour, max_hour, 1h) exploded from ONE
    broadcast bounds row crossJoined with the distinct type set -- grid
    size = hours x types regardless of corpus size -- then a left join
    against the per-(hour, type) counts (one shuffle on a bounded key
    space). Nothing corpus-sized is windowed or collected."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    )
    bounds = ev.agg(
        F.min("hour").alias("lo"), F.max("hour").alias("hi")
    )
    hours = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy("hour", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return (
        hours.crossJoin(types)
        .join(counts, ["hour", "event_type"], "left")
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        )
        .orderBy("hour", "event_type")
    )


def resample_hourly_oracle() -> str:
    return """
WITH ev AS (SELECT date_trunc('hour', ts) AS hour, event_type FROM events),
bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM ev),
hours AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
          FROM bounds),
types AS (SELECT DISTINCT event_type FROM ev),
counts AS (SELECT hour, event_type, count(*) AS n FROM ev GROUP BY hour, event_type)
SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour,
       t.event_type AS event_type,
       coalesce(c.n, 0)::BIGINT AS n
FROM hours h CROSS JOIN types t
LEFT JOIN counts c ON c.hour = h.hour AND c.event_type = t.event_type
ORDER BY hour, event_type
""".strip()
