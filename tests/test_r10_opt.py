"""Round-10 optimization equivalence pins.

Each optimization that changed an operator's internals gets a focused test
asserting the new shape produces the SAME values as the direct computation
it replaced (the oracle gate already pins end-to-end outputs; these pin
the refactored building blocks themselves so a future edit cannot drift
one consumer silently).
"""

from pyspark.sql import functions as F


def test_evhash_frame_matches_direct_expressions(spark, sf_dir):
    """The shared hashed-events frame must be row-for-row identical to
    computing hash60 / CM buckets / shard / grp directly from events."""
    from vector_db_from_scratch_spark.functions.hashing import hash60
    from vector_db_from_scratch_spark.operators._evhash import (
        CM_DEPTH,
        N_SHARDS,
        events_hashed,
    )
    from vector_db_from_scratch_spark.operators.countmin import _bucket_expr
    from vector_db_from_scratch_spark.sources.tables import load_table

    frame = events_hashed(spark, sf_dir)
    uid = F.col("user_id")
    direct = load_table(spark, sf_dir, "events").select(
        uid,
        F.col("event_type").alias("grp"),
        (uid % N_SHARDS).alias("shard"),
        hash60(uid.cast("string")).alias("h"),
        *[_bucket_expr(uid, i).alias(f"b{i}") for i in range(CM_DEPTH)],
    )
    assert frame.columns == direct.columns
    assert frame.count() == direct.count()
    # exceptAll both ways = multiset equality
    assert frame.exceptAll(direct).count() == 0
    assert direct.exceptAll(frame).count() == 0


def test_ams_counter_base_folds_to_direct_aggregate(spark, sf_dir):
    """Every AMS surface folds the (grp, shard) counter base; the fold must
    be bit-identical to aggregating the full hashed stream directly."""
    from vector_db_from_scratch_spark.operators import ams

    direct = (
        ams._events_hashed(spark, sf_dir)
        .agg(*ams._counter_sums())
        .collect()[0]
    )
    folded = ams._fold_counters(ams._counter_base(spark, sf_dir), []).collect()[0]
    for j in range(ams.AMS_COUNTERS):
        assert folded[f"c{j}"] == direct[f"c{j}"], f"counter {j} diverged"


def test_repeated_spans_df_test_matches_window_form(spark, sf_dir):
    """The partial-agg + broadcast-semi-join df>=2 hit set must equal the
    pre-round-10 window form (min!=max over a gh partition window)."""
    from pyspark.sql import Window

    from vector_db_from_scratch_spark.operators import dedup

    grams = dedup._positional_grams_cached(spark, sf_dir)
    wgh = Window.partitionBy("gh")
    window_hits = (
        grams.withColumn("d_min", F.min("doc_id").over(wgh))
        .withColumn("d_max", F.max("doc_id").over(wgh))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("doc_id", "n_chars", "pos")
    )
    cross_gh = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("d_min"), F.max("doc_id").alias("d_max"))
        .filter(F.col("d_min") != F.col("d_max"))
        .select("gh")
    )
    agg_hits = grams.join(F.broadcast(cross_gh), "gh").select(
        "doc_id", "n_chars", "pos"
    )
    assert agg_hits.exceptAll(window_hits).count() == 0
    assert window_hits.exceptAll(agg_hits).count() == 0


def test_lsh_widened_gate_still_falls_back(spark, sf_dir):
    """With k larger than any bucket's occupancy, the gated widened branch
    must activate and return the exact flat top-k (the reference's <k
    fallback semantics survive the AQE-gate rewrite)."""
    from vector_db_from_scratch_spark.operators import knn, lsh

    k = 64  # sf0.001 buckets are far smaller than this
    got = [r["vec_id"] for r in lsh.lsh_knn(spark, sf_dir, "cosine", k=k).collect()]
    want = [
        r["vec_id"] for r in knn.flat_knn(spark, sf_dir, "cosine", k=k).collect()
    ]
    assert got == want


def test_minhash_pair_memo_is_stable_across_calls(spark, sf_dir):
    """The memoized candidate/pair tables must return identical rows on
    repeated calls (cache identity cannot change the verified pair set)."""
    from vector_db_from_scratch_spark.operators import dedup

    a = sorted(map(tuple, dedup.minhash_lsh_pairs(spark, sf_dir).collect()))
    b = sorted(map(tuple, dedup.minhash_lsh_pairs(spark, sf_dir).collect()))
    assert a == b


def test_evhash_shard_guard_fails_on_drift_and_on_missing(spark, monkeypatch):
    """The hashed-events frame bakes the shard column, so its guard must
    refuse a consumer whose N_SHARDS differs AND one that dropped it. The
    guard runs before any table is read, so a directory that was never
    built keeps the memo from answering."""
    import pytest

    from vector_db_from_scratch_spark.operators import _evhash, kmv

    with monkeypatch.context() as m:
        m.setattr(kmv, "N_SHARDS", _evhash.N_SHARDS + 1)
        with pytest.raises(AssertionError, match=r"kmv\.N_SHARDS is 5"):
            _evhash.events_hashed(spark, "/nonexistent/evhash-guard-drift")
    with monkeypatch.context() as m:
        m.delattr(kmv, "N_SHARDS")
        with pytest.raises(AssertionError, match=r"kmv\.N_SHARDS is missing"):
            _evhash.events_hashed(spark, "/nonexistent/evhash-guard-missing")
