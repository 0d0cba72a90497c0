"""Shared memoized hashed-events projection for the events-keyed sketches.

Every events-keyed sketch (AMS, KMV, HLL, CM, and the sketch-driven skew
decision) derives from the same per-row digests: the portable 60-bit md5
hash of ``user_id`` (``h``) and the CM_DEPTH salted bucket hashes
(``b0..b3``). Before round 10 each of ~18 gated sketch queries re-ran those
md5 passes over the full events table on every invocation — one to five
digest passes per query, the single largest warm-time block in the bench
(sketch family: 23.7s of 160s total warm, BENCH_DETAIL r10-before). The
projection is narrow (one string + 7 longs per row), so it is memoized +
localCheckpointed once per (application, sf_dir) — the same discipline as
``ams._events_hashed`` and the dedup shingle index — and every sketch build
aggregates from it.

At 100 TB this is exactly the "fingerprint once, aggregate many" layout a
sketch-maintenance job materializes before fanning out per-sketch rollups:
the digests are computed in one scan and the per-sketch aggregates consume
the hashed columns, never re-reading the raw keys. The EXACT sides of the
gated queries (the per-key groupBys the sketches replace) also read this
frame where it carries the needed columns — same rows, same values, one
materialization instead of a parquet re-scan per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import hash60
from ..sources.tables import load_table
from . import _memo
from .countmin import CM_DEPTH, _bucket_expr

# Shard fan-out shared by the ams/kmv/hll/cm merge demonstrators (their
# module-level N_SHARDS constants all equal 4; the frame bakes the shard
# column so it is computed once).
N_SHARDS = 4

@_memo.per_app
def events_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(user_id, grp, shard, h, b0..b{CM_DEPTH-1})`` — one row per events
    row: ``grp`` = event_type, ``shard`` = user_id % N_SHARDS, ``h`` =
    hash60(user_id), ``bi`` = the i-th count-min bucket of user_id."""
    # the frame BAKES the shard column, so a drifted or dropped
    # module-level N_SHARDS in any consumer family would silently
    # corrupt that family's merge demonstrators (ADVICE r10) -- fail
    # loudly instead
    from . import ams, hll, kmv
    from . import countmin as cm

    for mod in (ams, cm, kmv, hll):
        got = getattr(mod, "N_SHARDS", None)
        if got != N_SHARDS:
            raise AssertionError(
                f"{mod.__name__}.N_SHARDS is "
                f"{'missing' if got is None else got}, not _evhash.N_SHARDS "
                f"({N_SHARDS}); the shared hashed-events frame bakes the shard column"
            )
    uid = F.col("user_id")
    return (
        load_table(spark, sf_dir, "events")
        .select(
            uid,
            F.col("event_type").alias("grp"),
            (uid % N_SHARDS).alias("shard"),
            hash60(uid.cast("string")).alias("h"),
            *[_bucket_expr(uid, i).alias(f"b{i}") for i in range(CM_DEPTH)],
        )
        .localCheckpoint()
    )


def cm_cells(frame: DataFrame, *keys: str) -> DataFrame:
    """``(keys..., row, bucket)`` count-min update cells from the hashed
    frame — the explode reads the precomputed ``bi`` columns instead of
    re-digesting the key CM_DEPTH times per row."""
    return frame.select(
        *keys,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("row"),
                        F.col(f"b{i}").alias("bucket"),
                    )
                    for i in range(CM_DEPTH)
                ]
            )
        ).alias("c"),
    ).select(*keys, "c.row", "c.bucket")
