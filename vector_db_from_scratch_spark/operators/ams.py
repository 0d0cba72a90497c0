"""AMS tug-of-war sketch for F2 (second frequency moment) -- the fifth
member of the deterministic sketch toolkit (Bloom = membership, KMV =
distinct, CM = per-key frequency, histogram = quantiles, AMS = join/skew
mass), built on the same portable md5-derived hash so the sketch
STRUCTURE and the estimate it yields both hash-gate against DuckDB.

F2 = sum over keys of count^2 is the SELF-JOIN SIZE: the single statistic
a planner needs to size a key's join fan-out and detect skew before
shuffling anything (F2 / n^2 collapses to 1/distinct under uniform keys
and blows up when a handful of keys dominate -- exactly when salting or a
skew-join hint pays off). The exact computation is a full per-key groupBy;
the AMS estimator (Alon, Matias & Szegedy 1996) replaces it with
AMS_COUNTERS running sums of hash-derived +/-1 signs: each counter is ONE
integer regardless of corpus size, counters from disjoint shards merge by
plain addition, and the estimator is the median over AMS_GROUPS groups of
the mean of squared counters. Everything up to the final division is
integer arithmetic on the portable hash, so the estimate is bit-identical
across engines and sits under the hash gate -- unlike engine-internal
sketches (approx_count_distinct et al.) that can only ever be
verdict-gated.

Sizing: per-group variance of a squared counter is <= 2*F2^2, so a group
mean over AMS_GROUP_SIZE counters lands within ~sqrt(2/AMS_GROUP_SIZE)
(~35%) of F2; the median across AMS_GROUPS groups suppresses outlier
groups. The 48-counter default measures 4-32% relative F2 error across
the test SFs -- a planning-grade signal for ~48 BIGINTs of state per
shard. Signs: ONE md5 digest per row, counter j reads bit j (see
_sign_expr -- the per-counter salted family costs 48 digests/row, which
was the entire measured cost of the family at sf0.1); counters compute
as 48 fused aggregate expressions in one scan pass (_counter_sums), never
an explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hash60, hash60_sql
from ..sources.tables import load_table
from . import _memo

AMS_GROUPS = 3  # odd, so the median is one group's value (no averaging)
AMS_GROUP_SIZE = 16
AMS_COUNTERS = AMS_GROUPS * AMS_GROUP_SIZE
N_SHARDS = 4


def _sign_expr(h, j: int):
    """+1 / -1 from bit j of the PRECOMPUTED 60-bit hash column ``h``.

    One md5 digest per row supplies all AMS_COUNTERS signs (bit j is
    counter j's coin flip; md5 bits are independent uniform coins). The
    textbook construction draws each counter's sign from its own salted
    hash -- 48 digests per row, which the round-9 bench measured at
    7-38s PER AMS QUERY at sf0.1 with md5 as the entire cost (the same
    lesson as the Bloom filter's Carter-Wegman switch, bloom.py:61-78).
    The bit family is the standard engineering substitution; counter
    groups use disjoint bit ranges so the median-of-means grouping sees
    independent groups."""
    return (
        F.when(F.shiftright(h, j) % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .cast("long")
    )


def _sign_sql(hexpr: str, j: int) -> str:
    """DuckDB twin of :func:`_sign_expr` over a precomputed h column."""
    return f"(CASE WHEN (({hexpr} >> {j}) % 2) = 0 THEN 1 ELSE -1 END)"


def _events_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("user_id")


def _counter_sums():
    """All AMS_COUNTERS counters as aggregate expressions over the hashed
    frame -- ONE scan pass, partial-aggregation friendly, no explode (the
    explode form multiplied a 600k-row table to 28.8M rows before the
    groupBy; measured 8.6s warm vs sub-second for the fused aggregate)."""
    return [
        F.sum(_sign_expr(F.col("h"), j)).alias(f"c{j}")
        for j in range(AMS_COUNTERS)
    ]


def _unpivot_counters(row_df: DataFrame, *keys: str) -> DataFrame:
    """(keys..., j, counter) from a keys + c0..cN-1 aggregate row."""
    return row_df.select(
        *keys,
        F.posexplode(
            F.array(*[F.col(f"c{j}") for j in range(AMS_COUNTERS)])
        ).alias("j", "counter"),
    )


def _cells_sql(hexpr: str) -> str:
    return ", ".join(
        f"struct_pack(j := {j}, s := {_sign_sql(hexpr, j)})"
        for j in range(AMS_COUNTERS)
    )


def _hashed(df: DataFrame, key: str, *keep: str) -> DataFrame:
    """Project the key to its portable hash ONCE per row (the single md5
    the whole counter vector derives from)."""
    return df.select(*keep, hash60(F.col(key).cast("string")).alias("h"))


def _events_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, shard, h): the hashed per-user event stream -- now a
    projection of the sketch-family-wide shared frame
    (operators/_evhash.py), which also carries the CM bucket columns, so
    the whole sketch family pays for ONE digest pass per application
    instead of one per query family."""
    from ._evhash import events_hashed

    return events_hashed(spark, sf_dir).select("grp", "shard", "h")


@_memo.per_app
def _counter_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp, shard, c0..c{AMS_COUNTERS-1}) memoized + localCheckpointed
    once per (application, sf_dir). AMS counters are plain integer sums,
    so every surface the five gated queries emit -- global, per-shard,
    per-group, per-(group, shard) -- is an associative FOLD of this finest
    base (sum over the dropped dimensions gives bit-identical integers).
    Before round 10 each query branch re-ran the 48-expression aggregate
    over the full hashed event stream; now the stream pass happens once
    per application and each query folds a <=|groups x shards|-row table.
    This is literally the sketch's own mergeability claim applied to the
    bench: per-(source, shard) counter vectors ARE the maintained state,
    and every read is a rollup."""
    return (
        _events_hashed(spark, sf_dir)
        .groupBy("grp", "shard")
        .agg(*_counter_sums())
        .localCheckpoint()
    )


def _fold_counters(base: DataFrame, keys: list[str]) -> DataFrame:
    """Sum the c0..cN-1 columns over the dimensions not in ``keys``."""
    aggs = [F.sum(f"c{j}").alias(f"c{j}") for j in range(AMS_COUNTERS)]
    return base.groupBy(*keys).agg(*aggs) if keys else base.agg(*aggs)


def ams_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AMS counter vector over per-user event occurrences as a
    (j, counter) table, hash-gated: a wrong salt, sign convention, or
    counter count flips rows. Build is one shuffled partial-sum aggregate;
    at most AMS_COUNTERS rows leave each partition regardless of corpus
    size."""
    base = _counter_base(spark, sf_dir)
    return _unpivot_counters(_fold_counters(base, [])).orderBy("j")


def ams_counters_oracle() -> str:
    return f"""
WITH cells AS (
  SELECT c.j AS j, c.s AS s
  FROM (SELECT unnest([{_cells_sql('h')}]) AS c
        FROM (SELECT {hash60_sql('user_id::VARCHAR')} AS h FROM events)))
SELECT j, sum(s)::BIGINT AS counter
FROM cells
GROUP BY j
ORDER BY j
""".strip()


def ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The F2 estimate read from the counter vector, gated against the
    exact second moment: one row with (n_total, exact_distinct, exact_f2,
    est_f2, rel_err, skew_ratio). est_f2 = median over AMS_GROUPS groups
    of mean(counter^2) -- integer sums until the single final division, so
    the estimate is engine-portable. skew_ratio = exact_f2 * distinct /
    n^2 (1.0 = perfectly uniform keys; >> 1 = skew worth salting). The
    exact side is the per-key groupBy the sketch REPLACES at 100 TB -- it
    exists here only to gate the estimate and measure its error."""
    counters = ams_counters(spark, sf_dir)
    group_sums = (
        counters.select(
            (F.col("j") / AMS_GROUP_SIZE).cast("int").alias("g"),
            (F.col("counter") * F.col("counter")).alias("sq"),
        )
        .groupBy("g")
        .agg(F.sum("sq").alias("gs"))
        .agg(F.sort_array(F.collect_list("gs")).alias("arr"))
        .select(
            (F.col("arr")[AMS_GROUPS // 2] / F.lit(float(AMS_GROUP_SIZE))).alias(
                "est_f2"
            )
        )
    )
    from ._evhash import events_hashed

    ev = events_hashed(spark, sf_dir).select("user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum(F.col("c") * F.col("c")).alias("exact_f2"),
        F.sum("c").alias("n_total"),
        F.count(F.lit(1)).alias("exact_distinct"),
    )
    return (
        exact.crossJoin(F.broadcast(group_sums))
        .select(
            "n_total",
            "exact_distinct",
            "exact_f2",
            F.round("est_f2", 6).alias("est_f2"),
            F.round(
                F.abs(F.col("est_f2") - F.col("exact_f2")) / F.col("exact_f2"), 6
            ).alias("rel_err"),
            F.round(
                F.col("exact_f2")
                * F.col("exact_distinct")
                / (F.col("n_total") * F.col("n_total")),
                6,
            ).alias("skew_ratio"),
        )
    )


def ams_f2_oracle() -> str:
    mid = AMS_GROUPS // 2 + 1  # DuckDB lists are 1-indexed
    return f"""
WITH cells AS (
  SELECT c.j AS j, c.s AS s
  FROM (SELECT unnest([{_cells_sql('h')}]) AS c
        FROM (SELECT {hash60_sql('user_id::VARCHAR')} AS h FROM events))),
counters AS (SELECT j, sum(s)::BIGINT AS counter FROM cells GROUP BY j),
groups AS (
  SELECT (j // {AMS_GROUP_SIZE})::INT AS g, sum(counter * counter) AS gs
  FROM counters GROUP BY g),
med AS (
  SELECT list_sort(list(gs))[{mid}] / {float(AMS_GROUP_SIZE)!r} AS est_f2
  FROM groups),
exact AS (
  SELECT sum(c * c)::BIGINT AS exact_f2, sum(c)::BIGINT AS n_total,
         count(*)::BIGINT AS exact_distinct
  FROM (SELECT count(*) AS c FROM events GROUP BY user_id))
SELECT n_total, exact_distinct, exact_f2,
       round(est_f2, 6) AS est_f2,
       round(abs(est_f2 - exact_f2) / exact_f2, 6) AS rel_err,
       round(exact_f2 * exact_distinct / (n_total::DOUBLE * n_total), 6)
         AS skew_ratio
FROM exact, med
""".strip()


def ams_merge_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability under the gate: independent counter vectors per
    disjoint shard (user_id % N_SHARDS) merge by ELEMENT-WISE ADDITION
    (the AMS merge rule -- each counter is a plain sum, so shard counters
    add), emitted full-outer-joined with the whole-corpus vector as
    (j, merged_counter, whole_counter, diff) with every diff gated 0.
    This is the 100 TB rollup: per-shard planning statistics combine into
    the global one without the raw keys ever co-shuffling."""
    shard_counters = _unpivot_counters(
        _fold_counters(_counter_base(spark, sf_dir), ["shard"]), "shard"
    )
    merged = shard_counters.groupBy("j").agg(F.sum("counter").alias("merged_counter"))
    whole = ams_counters(spark, sf_dir).withColumnRenamed("counter", "whole_counter")
    return (
        merged.join(whole, ["j"], "full_outer")
        .select(
            "j",
            F.coalesce("merged_counter", F.lit(0)).alias("merged_counter"),
            F.coalesce("whole_counter", F.lit(0)).alias("whole_counter"),
            (
                F.coalesce("merged_counter", F.lit(0))
                - F.coalesce("whole_counter", F.lit(0))
            ).alias("diff"),
        )
        .orderBy("j")
    )


def ams_merge_shards_oracle() -> str:
    cells = _cells_sql("h")
    hev = f"(SELECT user_id, {hash60_sql('user_id::VARCHAR')} AS h FROM events)"
    return f"""
WITH cells AS (
  SELECT user_id % {N_SHARDS} AS shard, c.j AS j, c.s AS s
  FROM (SELECT user_id, unnest([{cells}]) AS c FROM {hev})),
shard_counters AS (
  SELECT shard, j, sum(s) AS counter FROM cells GROUP BY shard, j),
merged AS (
  SELECT j, sum(counter) AS merged_counter FROM shard_counters GROUP BY j),
whole AS (
  SELECT c.j AS j, sum(c.s) AS whole_counter
  FROM (SELECT unnest([{cells}]) AS c FROM {hev})
  GROUP BY j)
SELECT coalesce(m.j, w.j) AS j,
       coalesce(merged_counter, 0)::BIGINT AS merged_counter,
       coalesce(whole_counter, 0)::BIGINT AS whole_counter,
       (coalesce(merged_counter, 0) - coalesce(whole_counter, 0))::BIGINT AS diff
FROM merged m FULL OUTER JOIN whole w ON m.j = w.j
ORDER BY 1
""".strip()


def ams_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type AMS sketch -- the per-source skew monitor a 100 TB
    data-quality rollup runs: one AMS_COUNTERS-long vector per group
    (groupBy(grp, j), still bounded output), the median-of-means F2
    estimate read per group, gated against each group's exact second
    moment. Emits (grp, n_total, exact_distinct, exact_f2, est_f2,
    rel_err, skew_ratio): a group whose skew_ratio spikes is the one
    whose joins need salting. Completes the per-group matrix leg for the
    fifth sketch member (KMV and histogram landed theirs in round 9)."""
    from ._evhash import events_hashed

    ev = events_hashed(spark, sf_dir).select("grp", "user_id")
    counters = _unpivot_counters(
        _fold_counters(_counter_base(spark, sf_dir), ["grp"]), "grp"
    )
    est = (
        counters.select(
            "grp",
            (F.col("j") / AMS_GROUP_SIZE).cast("int").alias("g"),
            (F.col("counter") * F.col("counter")).alias("sq"),
        )
        .groupBy("grp", "g")
        .agg(F.sum("sq").alias("gs"))
        .groupBy("grp")
        .agg(F.sort_array(F.collect_list("gs")).alias("arr"))
        .select(
            "grp",
            (F.col("arr")[AMS_GROUPS // 2] / F.lit(float(AMS_GROUP_SIZE))).alias(
                "est_f2"
            ),
        )
    )
    exact = (
        ev.groupBy("grp", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("grp")
        .agg(
            F.sum(F.col("c") * F.col("c")).alias("exact_f2"),
            F.sum("c").alias("n_total"),
            F.count(F.lit(1)).alias("exact_distinct"),
        )
    )
    return (
        exact.join(est, "grp")
        .select(
            "grp",
            "n_total",
            "exact_distinct",
            "exact_f2",
            F.round("est_f2", 6).alias("est_f2"),
            F.round(
                F.abs(F.col("est_f2") - F.col("exact_f2")) / F.col("exact_f2"), 6
            ).alias("rel_err"),
            F.round(
                F.col("exact_f2")
                * F.col("exact_distinct")
                / (F.col("n_total") * F.col("n_total")),
                6,
            ).alias("skew_ratio"),
        )
        .orderBy("grp")
    )


def ams_by_group_oracle() -> str:
    mid = AMS_GROUPS // 2 + 1
    return f"""
WITH cells AS (
  SELECT grp, c.j AS j, c.s AS s
  FROM (SELECT grp, unnest([{_cells_sql('h')}]) AS c
        FROM (SELECT event_type AS grp,
                     {hash60_sql('user_id::VARCHAR')} AS h FROM events))),
counters AS (
  SELECT grp, j, sum(s)::BIGINT AS counter FROM cells GROUP BY grp, j),
groups AS (
  SELECT grp, (j // {AMS_GROUP_SIZE})::INT AS g, sum(counter * counter) AS gs
  FROM counters GROUP BY grp, g),
med AS (
  SELECT grp, list_sort(list(gs))[{mid}] / {float(AMS_GROUP_SIZE)!r} AS est_f2
  FROM groups GROUP BY grp),
exact AS (
  SELECT grp, sum(c * c)::BIGINT AS exact_f2, sum(c)::BIGINT AS n_total,
         count(*)::BIGINT AS exact_distinct
  FROM (SELECT event_type AS grp, count(*) AS c FROM events
        GROUP BY event_type, user_id)
  GROUP BY grp)
SELECT e.grp, n_total, exact_distinct, exact_f2,
       round(est_f2, 6) AS est_f2,
       round(abs(est_f2 - exact_f2) / exact_f2, 6) AS rel_err,
       round(exact_f2 * exact_distinct / (n_total::DOUBLE * n_total), 6)
         AS skew_ratio
FROM exact e JOIN med m ON e.grp = m.grp
ORDER BY e.grp
""".strip()


# the per-row md5 over both key streams is the sketch side's whole cost (one
# digest per orders + lineitem row); memoize the hashed projections like
# _events_hashed so repeat calls pay only the 48-counter aggregate
@_memo.per_app
def _keyed_hashed(spark: SparkSession, sf_dir: str, table: str, key: str) -> DataFrame:
    return _hashed(
        load_table(spark, sf_dir, table).select(F.col(key).alias("k")), "k"
    ).localCheckpoint()


# the 48-sum pass over the hashed key stream is itself memoized as a 1-row
# checkpoint (the table's counter vector IS the maintained sketch state;
# repeat calls fold nothing)
@_memo.per_app
def _keyed_counters(
    spark: SparkSession, sf_dir: str, table: str, key: str
) -> DataFrame:
    hashed = _keyed_hashed(spark, sf_dir, table, key)
    return hashed.agg(*_counter_sums()).localCheckpoint()


def ams_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JOIN-SIZE estimation from two AMS sketches (the AGMS inner-product
    estimator, Alon-Gibbons-Matias-Szegedy 1999): |R join S| on a key
    equals the inner product of the two frequency vectors, and the
    median-of-means over per-counter PRODUCTS of the two relations'
    tug-of-war counters estimates it -- the statistic `join_strategy_auto`
    would consult when neither side's per-key histogram fits anywhere.
    Both sides use the SAME sign family (same portable hash, same salt per
    counter j), which is what makes the cross-sketch product unbiased.
    Sides: orders.o_orderkey (unique key) vs lineitem.l_orderkey (~4 lines
    per order) -- integer arithmetic until one final division, so the
    ESTIMATE hash-gates; the exact join count it replaces at 100 TB sits
    next to it with the measured relative error.

    Accuracy: per-group variance is <= 2*F2(R)*F2(S)/AMS_GROUP_SIZE, which
    on NEAR-UNIQUE keys (F2 ~ n) gives a relative std of
    sqrt(2*F2R*F2S)/|J|/4 ~ 25-60% at the default 48 counters -- an
    order-of-magnitude planning signal (broadcast vs shuffle vs salt), not
    a cardinality oracle; measured 0.26 / 0.59 rel_err at sf0.001/0.01.
    Sharper estimates scale AMS_GROUP_SIZE (std ~ 1/sqrt(w)), still a few
    hundred BIGINTs of state."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k")
    )

    def _vec(table: str, key: str, name: str) -> DataFrame:
        return _unpivot_counters(_keyed_counters(spark, sf_dir, table, key)).select(
            "j", F.col("counter").alias(name)
        )

    prod = (
        _vec("orders", "o_orderkey", "cr")
        .join(_vec("lineitem", "l_orderkey", "cs"), "j")
        .select(
            (F.col("j") / AMS_GROUP_SIZE).cast("int").alias("g"),
            (F.col("cr") * F.col("cs")).alias("p"),
        )
    )
    est = (
        prod.groupBy("g")
        .agg(F.sum("p").alias("gs"))
        .agg(F.sort_array(F.collect_list("gs")).alias("arr"))
        .select(
            (F.col("arr")[AMS_GROUPS // 2] / F.lit(float(AMS_GROUP_SIZE))).alias(
                "est_join_size"
            )
        )
    )
    exact = (
        orders.join(li, "k")
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
        .crossJoin(orders.agg(F.count(F.lit(1)).alias("n_left")))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n_right")))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "n_left",
        "n_right",
        "exact_join_size",
        F.round("est_join_size", 6).alias("est_join_size"),
        F.round(
            F.abs(F.col("est_join_size") - F.col("exact_join_size"))
            / F.col("exact_join_size"),
            6,
        ).alias("rel_err"),
    )


def ams_join_size_oracle() -> str:
    mid = AMS_GROUPS // 2 + 1
    return f"""
WITH rc AS (
  SELECT c.j AS j, sum(c.s)::BIGINT AS cr
  FROM (SELECT unnest([{_cells_sql('h')}]) AS c
        FROM (SELECT {hash60_sql('o_orderkey::VARCHAR')} AS h FROM orders))
  GROUP BY j),
sc AS (
  SELECT c.j AS j, sum(c.s)::BIGINT AS cs
  FROM (SELECT unnest([{_cells_sql('h')}]) AS c
        FROM (SELECT {hash60_sql('l_orderkey::VARCHAR')} AS h FROM lineitem))
  GROUP BY j),
groups AS (
  SELECT (rc.j // {AMS_GROUP_SIZE})::INT AS g, sum(cr * cs) AS gs
  FROM rc JOIN sc ON rc.j = sc.j GROUP BY g),
med AS (
  SELECT list_sort(list(gs))[{mid}] / {float(AMS_GROUP_SIZE)!r} AS est_join_size
  FROM groups),
exact AS (
  SELECT (SELECT count(*) FROM orders)::BIGINT AS n_left,
         (SELECT count(*) FROM lineitem)::BIGINT AS n_right,
         count(*)::BIGINT AS exact_join_size
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
SELECT n_left, n_right, exact_join_size,
       round(est_join_size, 6) AS est_join_size,
       round(abs(est_join_size - exact_join_size) / exact_join_size, 6)
         AS rel_err
FROM exact, med
""".strip()

def ams_by_group_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(group, shard) counter vectors merged to each group's whole --
    the last per-group x mergeability cell of the sketch matrix (KMV, CM,
    and histogram landed theirs in round 9; AMS had the global merge and
    the per-group estimate but not their composition). Shards are
    user_id % N_SHARDS inside each event_type group, same salts, merge =
    element-wise addition per (grp, j); (grp, j, merged_counter,
    whole_counter, diff) with every diff gated 0 -- per-source skew
    statistics roll up shard-locally without the raw keys co-shuffling."""
    base = _counter_base(spark, sf_dir)
    shard_counters = _unpivot_counters(base, "grp", "shard")
    merged = shard_counters.groupBy("grp", "j").agg(
        F.sum("counter").alias("merged_counter")
    )
    whole = _unpivot_counters(
        _fold_counters(base, ["grp"]), "grp"
    ).withColumnRenamed("counter", "whole_counter")
    return (
        merged.join(whole, ["grp", "j"], "full_outer")
        .select(
            "grp",
            "j",
            F.coalesce("merged_counter", F.lit(0)).alias("merged_counter"),
            F.coalesce("whole_counter", F.lit(0)).alias("whole_counter"),
            (
                F.coalesce("merged_counter", F.lit(0))
                - F.coalesce("whole_counter", F.lit(0))
            ).alias("diff"),
        )
        .orderBy("grp", "j")
    )


def ams_by_group_merge_oracle() -> str:
    cells = _cells_sql("h")
    hev = (
        f"(SELECT event_type AS grp, user_id, "
        f"{hash60_sql('user_id::VARCHAR')} AS h FROM events)"
    )
    return f"""
WITH cells AS (
  SELECT grp, user_id % {N_SHARDS} AS shard, c.j AS j, c.s AS s
  FROM (SELECT grp, user_id, unnest([{cells}]) AS c FROM {hev})),
shard_counters AS (
  SELECT grp, shard, j, sum(s) AS counter FROM cells GROUP BY grp, shard, j),
merged AS (
  SELECT grp, j, sum(counter) AS merged_counter
  FROM shard_counters GROUP BY grp, j),
whole AS (
  SELECT grp, j, sum(s) AS whole_counter FROM cells GROUP BY grp, j)
SELECT coalesce(m.grp, w.grp) AS grp, coalesce(m.j, w.j) AS j,
       coalesce(merged_counter, 0)::BIGINT AS merged_counter,
       coalesce(whole_counter, 0)::BIGINT AS whole_counter,
       (coalesce(merged_counter, 0) - coalesce(whole_counter, 0))::BIGINT AS diff
FROM merged m FULL OUTER JOIN whole w ON m.grp = w.grp AND m.j = w.j
ORDER BY 1, 2
""".strip()
