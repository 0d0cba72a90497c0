"""Query registry: every implemented operator from SURVEY.md §2 as a named
(spark_callable, oracle_sql) pair consumed by ``__spark_entry__``.

Each Spark callable takes (spark, sf_dir) -> DataFrame; the oracle is the
equivalent DuckDB SQL (None for genuinely non-SQL-expressible ops, which the
driver checks rows-only).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .operators import (
    analytics,
    corpus,
    dedup,
    entity,
    ivf,
    knn,
    lsh,
    multimodal,
    pq,
    relational,
    search,
    skew,
    sq,
    textops,
)
from .streaming import windows as stream_windows

Entry = tuple[Callable[[SparkSession, str], DataFrame], "str | None"]

ZERO64 = [0.0] * 64


def _scalarize(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
    """Serialize array/struct/map result columns to JSON strings.

    The driver's canonicalizer sorts every result column before hashing;
    pandas cannot sort list-valued cells ("unhashable type: 'list'",
    round-1 failures on ivf_kmeans_train / multimodal_features), so any
    registry entry whose natural output carries nested types goes through
    this wrapper. Operators keep their rich types for library callers and
    tests -- only the driver-facing surface is stringified.
    """
    from pyspark.sql import functions as F

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        cols = [
            F.to_json(f.name).alias(f.name)
            if f.dataType.typeName() in ("array", "struct", "map")
            else F.col(f.name)
            for f in df.schema.fields
        ]
        return df.select(*cols)

    return wrapped


# Rotating priority: the round driver records correctness results in
# queries() dict order, capped at the first ~50 entries. A static prefix
# made rounds 2 and 3 record the IDENTICAL set (VERDICT r3 finding #1), so
# the order is now derived from the recorded CORRECTNESS_r*.json files at
# the repo root: a handful of sentinel queries stay first every round (to
# catch regressions on the flagship paths), then every gated entry that has
# never had a green driver row, interleaved round-robin across operator
# families (stream_*, functions_*, text_*, tpch_*, ...) so a capped run
# still covers full SURVEY §2 breadth, then the already-verified remainder,
# then rows-only entries last.
_SENTINELS = [
    "knn_cosine_flat",        # flagship exact search (Q1/Q2)
    "lsh_knn",                # flagship approximate search (Q3)
    "tpch_pricing_summary",   # relational agg core
    "dedup_exact",            # dedup core
    "dedup_minhash_lsh",      # this round's scale fix must stay green
    "dedup_ngram_jaccard",    # this round swaps in the df-capped flagship
]


def _driver_verified() -> dict[str, int]:
    """Names with a green row in any recorded CORRECTNESS_r*.json, mapped
    to the NEWEST round in which they were green.

    Green = err is null AND (hash_match, or rows_match for rows-only
    entries whose hash_match is recorded null). Failed/errored rows do NOT
    count, so they rotate back to the front of the next round's window.
    The round number feeds staleness-ordered re-verification: with every
    gated query green at least once, the verified tail of each driver
    window is filled oldest-green-round first, so "was green once in r1"
    decays into "re-confirmed green" instead of going unmonitored forever.

    Note: recorded rows may reference queries no longer registered (e.g.
    `agg_approx_stats`, demoted to test-only in r2, commit 47a8986) --
    harmless, `_reorder` only looks names up in the live registry.
    """
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seen: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("err") == "no_oracle":
                # rows-only entry: the driver can only record that the
                # Spark query ran and produced rows. That IS its full
                # check succeeding (r07 recorded the six IVF/PQ persisted
                # paths this way) -- without counting it, these entries
                # would re-occupy window slots every round forever. An
                # EMPTY result is not a pass though (ADVICE r8): every
                # rows-only entry is a non-empty probe by construction, so
                # 0 rows means the query regressed -- rotate it forward.
                ok = bool(row.get("spark_rows"))
            elif row.get("err"):
                continue
            else:
                ok = row.get("hash_match")
                if ok is None:
                    ok = row.get("rows_match")
            if ok:
                seen[name] = max(seen.get(name, 0), rnd)
    return seen


def _interleave_families(names: list[str]) -> list[str]:
    """Round-robin across `<family>_...` name prefixes, preserving
    registration order within a family — so a 50-entry window touches
    every operator family instead of exhausting one."""
    fams: dict[str, list[str]] = {}
    for n in names:
        fams.setdefault(n.split("_", 1)[0], []).append(n)
    out: list[str] = []
    while len(out) < len(names):
        for f in list(fams):
            if fams[f]:
                out.append(fams[f].pop(0))
    return out


def _reorder(reg: dict[str, Entry]) -> dict[str, Entry]:
    seen = _driver_verified()
    out: dict[str, Entry] = {n: reg[n] for n in _SENTINELS if n in reg}
    fresh = [
        n for n, e in reg.items()
        if n not in out and n not in seen and e[1] is not None
    ]
    for n in _interleave_families(fresh):
        out[n] = reg[n]
    # Never-driver-recorded ROWS-ONLY entries come next (VERDICT r6 item 6:
    # ivf_trained_persisted_knn / pq_persisted_knn had never appeared in
    # any window because rows-only sorted last unconditionally). A rows-only
    # row is a weaker check, but "rows_match recorded once" beats "no driver
    # row of any kind"; once recorded they fall back behind the gated pool.
    fresh_rows_only = [
        n for n, e in reg.items()
        if n not in out and n not in seen and e[1] is None
    ]
    for n in _interleave_families(fresh_rows_only):
        out[n] = reg[n]
    # Staleness cap for RECORDED rows-only entries (VERDICT r9 item 6 /
    # ADVICE r9): unconditionally-last meant a rows-only green recorded in
    # r7 would never re-enter a driver window. A rows-only green recorded
    # >= STALE_ROWS_ONLY_ROUNDS behind the newest recorded round (i.e.
    # ~3 rounds behind the round currently running, since `latest` is the
    # round BEFORE this one) re-enters here -- ahead of the
    # recently-confirmed gated pool -- so the weakest check class still
    # decays back into verification instead of staying "recorded once"
    # forever.
    STALE_ROWS_ONLY_ROUNDS = 2
    latest = max(seen.values(), default=0)
    stale_rows_only = [
        n for n, e in reg.items()
        if n not in out and e[1] is None
        and seen.get(n, 0) <= latest - STALE_ROWS_ONLY_ROUNDS
    ]
    for n in _interleave_families(stale_rows_only):
        out[n] = reg[n]
    # Staleness-ordered re-verification of the already-verified remainder
    # (VERDICT r7 item 1): with all gated queries green at least once, the
    # tail of each ~50-entry driver window is what keeps old greens honest.
    # Fill it oldest-newest-green-round FIRST, family-interleaved within
    # each round cohort (VERDICT r5: a registration-ordered run of 14
    # consecutive knn_* broke family breadth), so the r1/r2-verified rows
    # re-enter a window before anything re-confirmed last round does.
    verified_gated = [
        n for n, e in reg.items() if n not in out and e[1] is not None
    ]
    by_round: dict[int, list[str]] = {}
    for n in verified_gated:
        by_round.setdefault(seen.get(n, 0), []).append(n)
    for rnd in sorted(by_round):
        for n in _interleave_families(by_round[rnd]):
            out[n] = reg[n]
    # recorded rows-only entries last, also oldest-recorded-round first --
    # a rows-only green is the weakest check, so it too should decay back
    # into a window instead of staying "recorded once in r7" forever
    # (ADVICE r8 item 4's staleness half).
    rows_only = sorted(
        (n for n in reg if n not in out), key=lambda n: (seen.get(n, 0), n)
    )
    for n in rows_only:
        out[n] = reg[n]
    assert len(out) == len(reg)
    return out


def build() -> dict[str, Entry]:
    reg: dict[str, Entry] = {}

    # --- flagship: exact (flat) k-NN, all three metrics (SURVEY §2.9 Q1/Q2) ---
    reg["knn_cosine_flat"] = (
        lambda spark, sf: knn.flat_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        knn.flat_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["knn_euclidean_flat"] = (
        lambda spark, sf: knn.flat_knn(spark, sf, "euclidean", k=10, query_vec_id=0),
        knn.flat_knn_oracle("euclidean", k=10, query_vec_id=0),
    )
    reg["knn_dot_product_flat"] = (
        lambda spark, sf: knn.flat_knn(spark, sf, "dot_product", k=10, query_vec_id=0),
        knn.flat_knn_oracle("dot_product", k=10, query_vec_id=0),
    )
    # metadata-equality pre-filter (F1/F2; label plays the metadata tag)
    reg["knn_filtered"] = (
        lambda spark, sf: knn.flat_knn(spark, sf, "cosine", k=10, query_vec_id=0, label_filter=5),
        knn.flat_knn_oracle("cosine", k=10, query_vec_id=0, label_filter=5),
    )
    # empty candidate set short-circuits to [] (vector_store.py:256-257)
    reg["knn_filtered_empty"] = (
        lambda spark, sf: knn.flat_knn(spark, sf, "cosine", k=10, query_vec_id=0, label_filter=-1),
        knn.flat_knn_oracle("cosine", k=10, query_vec_id=0, label_filter=-1),
    )
    # MMR diversity re-rank over the cosine shortlist: K greedy selections
    # composed as one lazy plan, oracle = the loop unrolled as CTEs (the
    # bpe_train_merges discipline); every winner + score hash-gated
    reg["knn_mmr_rerank"] = (
        knn.knn_mmr_rerank,
        knn.knn_mmr_rerank_oracle(),
    )
    # zero-norm query -> every cosine distance is +inf, rows still returned
    # sorted by the (distance, vec_id) tie-break (indexes.py:112-113 trap)
    reg["knn_zero_vector"] = (
        lambda spark, sf: knn.flat_knn(spark, sf, "cosine", k=5, query_literal=ZERO64),
        knn.flat_knn_oracle("cosine", k=5, query_literal=ZERO64),
    )
    # scale fast path: the NumPy exact-scan kernel (knn._local_topk,
    # mapInArrow local top-k + one global merge); SAME oracle as the
    # expression form -- both must produce identical rounded results
    reg["knn_cosine_flat_fast"] = (
        lambda spark, sf: knn.flat_knn_fast(spark, sf, "cosine", k=10, query_vec_id=0),
        knn.flat_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    # the same exact-scan kernel proven for the other two metrics
    for _m in ("euclidean", "dot_product"):
        reg[f"knn_{_m}_flat_fast"] = (
            (lambda m: lambda spark, sf: knn.flat_knn_fast(spark, sf, m, k=10, query_vec_id=0))(_m),
            knn.flat_knn_oracle(_m, k=10, query_vec_id=0),
        )
    # multi-query batch (beyond-reference): the exact-scan kernel scores
    # all queries against each Arrow batch at once, then the two-phase
    # distributed top-k; same oracle as the declarative twin below
    reg["knn_batch"] = (
        lambda spark, sf: knn.batch_knn_fast(spark, sf, "cosine", k=5, num_queries=8),
        knn.batch_knn_oracle("cosine", k=5, num_queries=8),
    )
    # declarative expression-path twin (reference-shaped plan, same oracle)
    reg["knn_batch_expr"] = (
        lambda spark, sf: knn.batch_knn(spark, sf, "cosine", k=5, num_queries=8),
        knn.batch_knn_oracle("cosine", k=5, num_queries=8),
    )
    # multi-tenant top-k per label partition (per-library index analog)
    reg["knn_per_label"] = (
        lambda spark, sf: knn.knn_per_label(spark, sf, "cosine", k=3, query_vec_id=0),
        knn.knn_per_label_oracle("cosine", k=3, query_vec_id=0),
    )
    # range (radius) search: cap-by-distance twin of top-k (0.72 sits inside
    # the testdata's near-neighbor band -- ~10 hits, a real cutoff)
    reg["knn_radius"] = (
        lambda spark, sf: knn.radius_search(spark, sf, "cosine", radius=0.72, query_vec_id=0),
        knn.radius_search_oracle("cosine", radius=0.72, query_vec_id=0),
    )
    # recommend API: positive/negative examples, best-score semantics
    # (min-over-positives minus min-over-negatives, examples excluded) --
    # zero-shuffle scan, examples pivoted into literal columns
    reg["knn_recommend"] = (knn.knn_recommend, knn.knn_recommend_oracle())
    # average-vector recommend strategy: q = mean(pos) - mean(neg) computed
    # division-free in integer micros (cosine scale-invariance)
    reg["knn_recommend_centroid"] = (
        knn.knn_recommend_centroid,
        knn.knn_recommend_centroid_oracle(),
    )
    # F1/F4 on the recommend endpoint: the metadata filter lands on the
    # scan before any distance work and composes with example exclusion
    reg["knn_recommend_filtered"] = (
        lambda spark, sf: knn.knn_recommend(spark, sf, label_filter=5),
        knn.knn_recommend_oracle(label_filter=5),
    )
    # discovery search: integer context-pair votes rank first, target
    # distance breaks ties -- constrained exploration, no float blending
    reg["knn_discovery"] = (knn.knn_discovery, knn.knn_discovery_oracle())
    # group-by search: top groups by best hit, top-n hits per group
    reg["knn_group_topk"] = (knn.knn_group_topk, knn.knn_group_topk_oracle())
    # distance matrix over the bounded vec_id % 20 sample (pairwise
    # endpoint with an explicit sample cap; broadcast nested loop)
    reg["knn_distance_matrix"] = (
        knn.knn_distance_matrix,
        knn.knn_distance_matrix_oracle(),
    )
    # approximate k-NN graph blocked by LSH bucket (all-pairs at scale)
    reg["knn_graph_blocked"] = (
        lambda spark, sf: lsh.knn_graph_blocked(spark, sf, "cosine", neighbors=2),
        lsh.knn_graph_blocked_oracle("cosine", neighbors=2),
    )

    # --- relational suite over the TPC-H-ish tables (SURVEY §2.1-2.6) ---
    r = relational
    reg["tpch_pricing_summary"] = (r.pricing_summary, r.pricing_summary_oracle())
    reg["tpch_shipping_priority"] = (r.shipping_priority, r.shipping_priority_oracle())
    reg["tpch_local_supplier_volume"] = (r.local_supplier_volume, r.local_supplier_volume_oracle())
    reg["window_top_orders_per_customer"] = (r.top_orders_per_customer, r.top_orders_per_customer_oracle())
    reg["window_running_revenue"] = (r.running_revenue_per_customer, r.running_revenue_per_customer_oracle())
    reg["rollup_orders"] = (r.order_rollup, r.order_rollup_oracle())
    # full grouping-sets surface: CUBE + GROUPING() subtotal disambiguation
    reg["cube_orders"] = (r.order_cube, r.order_cube_oracle())
    # PIVOT with declared values (single-pass conditional aggregation)
    reg["pivot_orders"] = (r.order_pivot, r.order_pivot_oracle())
    reg["semi_join_urgent_customers"] = (r.customers_with_urgent_orders, r.customers_with_urgent_orders_oracle())
    reg["anti_join_cascade_delete"] = (r.lineitems_after_order_delete, r.lineitems_after_order_delete_oracle())
    reg["hierarchy_join_rollup"] = (r.hierarchy_rollup, r.hierarchy_rollup_oracle())
    reg["pagination_documents"] = (r.paginated_documents, r.paginated_documents_oracle())
    reg["scan_filter_project"] = (r.scan_filter_project, r.scan_filter_project_oracle())
    reg["agg_doc_counts"] = (r.doc_counts, r.doc_counts_oracle())
    reg["agg_distinct_users"] = (r.distinct_users_by_event, r.distinct_users_by_event_oracle())
    reg["filter_events_json"] = (r.events_json_filter, r.events_json_filter_oracle())
    reg["tpch_revenue_forecast"] = (r.revenue_forecast, r.revenue_forecast_oracle())
    reg["tpch_min_cost_parts"] = (r.min_cost_parts, r.min_cost_parts_oracle())
    reg["pivot_order_status"] = (r.order_status_pivot, r.order_status_pivot_oracle())
    reg["set_intersect_customers"] = (r.building_and_urgent, r.building_and_urgent_oracle())
    reg["set_except_customers"] = (r.building_without_urgent, r.building_without_urgent_oracle())
    reg["entity_patch_update"] = (entity.patch_documents, entity.patch_documents_oracle())
    reg["entity_batch_insert"] = (entity.batch_insert_documents, entity.batch_insert_documents_oracle())
    # GET-by-id with column pruning (P3: embedding dropped "for bandwidth")
    reg["entity_point_lookup"] = (
        lambda spark, sf: entity.point_lookup_documents(spark, sf),
        entity.point_lookup_documents_oracle(),
    )
    # the same lookup against the write-once bucketed layout (CRUD at
    # scale: equality guards scan one bucket, SCALE.md)
    reg["entity_bucketed_lookup"] = (
        lambda spark, sf: entity.bucketed_point_lookup_query(spark, sf),
        entity.bucketed_point_lookup_query_oracle(),
    )
    # ingest-time embedding-shape validation report (F6)
    reg["entity_embedding_validation"] = (
        lambda spark, sf: entity.embedding_validation_stats(spark, sf),
        entity.embedding_validation_stats_oracle(),
    )
    # SCD2 versioned dimension history (the auditable form of P4's PATCH)
    reg["entity_scd2_history"] = (entity.scd2_history, entity.scd2_history_oracle())
    # flagship search through the entity surface (Q1 end-to-end under the gate)
    reg["entity_store_search"] = (
        lambda spark, sf: entity.store_search_query(spark, sf),
        entity.store_search_query_oracle(),
    )
    # the recommend endpoint through the same composition (library scope +
    # metadata filter + example exclusion + best-score), gated end-to-end
    reg["entity_store_recommend"] = (
        lambda spark, sf: entity.store_recommend_query(spark, sf),
        entity.store_recommend_query_oracle(),
    )
    # F1 MapType metadata filter with missing-key semantics, gated
    reg["filter_metadata_map"] = (r.metadata_map_filter, r.metadata_map_filter_oracle())
    # Q3 (bucket probe + <k fallback) through the entity surface
    reg["entity_store_search_lsh"] = (
        lambda spark, sf: entity.store_search_lsh_query(spark, sf),
        entity.store_search_lsh_query_oracle(),
    )
    # non-default per-library seed/width (reference indexes.py:172-187,
    # tests/test_indexes.py:64-90): the library row's (num_projections,
    # random_state) must reach the projection matrix, not module constants
    # reference JSON-per-entity + .npy tree, written then read back through
    # the migration reader; content-preserving, so the parquet-path search
    # oracle gates it (disk_store.py round trip, test_disk_persistence.py)
    reg["entity_reference_layout_search"] = (
        lambda spark, sf: entity.reference_layout_search_query(spark, sf),
        entity.store_search_query_oracle(),
    )
    reg["entity_store_search_lsh_seeded"] = (
        lambda spark, sf: entity.store_search_lsh_query(
            spark, sf, num_projections=6, random_state=123
        ),
        entity.store_search_lsh_query_oracle(num_projections=6, random_state=123),
    )
    # range-partition boundary + balance audit (sorted-layout planning)
    from .operators import maintenance
    reg["maintenance_range_bounds"] = (
        maintenance.range_partition_report,
        maintenance.range_partition_report_oracle(),
    )
    # ANALYZE-style per-column statistics (row/null counts, exact + KMV
    # NDV, typed min/max) -- the stats table a cost-based optimizer reads
    # pairwise Pearson screen over lineitem numerics from one single-pass
    # aggregate -- exact decimal(38,0)/HUGEINT integer moments (the
    # documented int64-overflow fallback, exercised: sum(price_cents^2)
    # passes 2^63 at sf0.1), differences cast to double only for the one
    # division + correctly-rounded IEEE sqrt
    reg["maintenance_column_correlations"] = (
        maintenance.column_correlations,
        maintenance.column_correlations_oracle(),
    )
    reg["maintenance_column_stats"] = (
        maintenance.column_stats,
        maintenance.column_stats_oracle(),
    )
    # ... and the partition-stats ROLLUP protocol: per-partition stats
    # rows + k-row KMV sketches fold to the table-level stats without a
    # rescan (counts add, bounds least/greatest, NDV k-smallest-of-union)
    reg["maintenance_column_stats_merge"] = (
        maintenance.column_stats_merge,
        maintenance.column_stats_merge_oracle(),
    )
    # Deequ-style declarative data-quality suite: uniqueness / FK /
    # domain / null / tolerance checks fused into one aggregate per table
    # (two tolerance checks fire on the test corpus, so the violation
    # arithmetic is gated non-vacuously)
    reg["maintenance_constraint_audit"] = (
        maintenance.constraint_audit,
        maintenance.constraint_audit_oracle(),
    )

    # single-pass vector aggregate: quantize-to-6dp + exact decimal sums
    # make the centroid hash-checkable (unlike the iterative kmeans below)
    reg["agg_label_centroids"] = (ivf.label_centroids, ivf.label_centroids_oracle())
    # nearest-centroid confusion matrix over the exact micro-unit centroids
    # (true label x assigned label -- cluster-separability eval)
    reg["agg_centroid_confusion"] = (
        ivf.centroid_confusion,
        ivf.centroid_confusion_oracle(),
    )
    # embedding distribution drift between corpus halves, per label
    reg["agg_embedding_drift"] = (ivf.embedding_drift, ivf.embedding_drift_oracle())
    # iterative k-means IVF training: rows-only (float centroid means are
    # not portably SQL-reproducible); convergence asserted in tests
    reg["ivf_kmeans_train"] = (
        _scalarize(lambda spark, sf: ivf.kmeans_train(spark, sf, n_cells=8, iterations=2)),
        None,
    )
    # trained-quantizer ANN paths: rows-only for the same reason; recall
    # quantified against exact k-NN in tests/test_lsh_ivf.py / test_pq.py
    reg["ivf_knn_trained"] = (
        lambda spark, sf: ivf.ivf_knn_trained(spark, sf, "cosine", k=10, query_vec_id=0),
        None,
    )
    # same probe served from the persisted artifact (centroids + cell-
    # partitioned assignment parquet); equality with the in-process twin
    # asserted in tests, rows-only here like it
    reg["ivf_trained_persisted_knn"] = (
        lambda spark, sf: ivf.ivf_trained_persisted_knn(
            spark, sf, "cosine", k=10, query_vec_id=0
        ),
        None,
    )
    # persisted-vs-in-process equality as a deterministic VERDICT row
    # (the hash-gated signal for the rows-only persisted path above)
    reg["ann_equal_ivf_persisted"] = (
        lambda spark, sf: ivf.ivf_persisted_equality(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.persisted_equality_oracle(k=10),
    )
    reg["pq_knn_rerank"] = (
        lambda spark, sf: pq.pq_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        None,
    )
    # ADC + re-rank served from the persisted codebook/codes artifact;
    # equality with the in-process twin asserted in tests
    reg["pq_persisted_knn"] = (
        lambda spark, sf: pq.pq_persisted_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        None,
    )
    # persisted-vs-in-process equality verdict (ann_equal_ivf_persisted twin)
    reg["ann_equal_pq_persisted"] = (
        lambda spark, sf: pq.pq_persisted_equality(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.persisted_equality_oracle(k=10),
    )
    # accounting is centroid-independent integers -> fully gated
    reg["pq_code_sizes"] = (
        lambda spark, sf: pq.pq_code_sizes(spark, sf),
        pq.pq_code_sizes_oracle(),
    )
    reg["ivfpq_knn"] = (
        lambda spark, sf: pq.ivfpq_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        None,
    )
    # sketch aggregates under the gate as a deterministic within-tolerance
    # verdict (see sketch_accuracy_report docstring). The raw-estimate form
    # (relational.approx_stats) is test-only: HLL/quantile internals differ
    # per engine, so it can never be more than a rows-count check -- its
    # error bounds are asserted against exact values in
    # tests/test_oracle_parity.py instead of occupying a rows-only slot.
    reg["agg_sketch_accuracy"] = (
        r.sketch_accuracy_report,
        r.sketch_accuracy_report_oracle(),
    )
    # SQ8 scalar quantization: min/max training is exact and portable, so
    # this ANN compressor is FULLY hash-checked (unlike k-means IVF/PQ)
    for metric in ("cosine", "euclidean", "dot_product"):
        reg[f"sq8_knn_{metric}"] = (
            (lambda m: lambda spark, sf: sq.sq8_knn(spark, sf, m, k=10, query_vec_id=0))(metric),
            sq.sq8_knn_oracle(metric, k=10, query_vec_id=0),
        )
    # two-stage shortlist+rerank whose intermediate stage the oracle also
    # reproduces (PQ's shortlist is rows-only; this one is end-to-end gated)
    reg["sq8_knn_rerank"] = (
        lambda spark, sf: sq.sq8_knn_rerank(spark, sf, "cosine", k=10, query_vec_id=0),
        sq.sq8_knn_rerank_oracle("cosine", k=10, query_vec_id=0),
    )
    # recall of the SQ8 compressor vs exact -- both sides closed-form SQL
    reg["ann_recall_sq8"] = (
        lambda spark, sf: sq.sq8_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        sq.sq8_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    # binary quantization (operators/bq.py): midpoint thresholds are exact
    # like SQ8's ranges, Hamming distances are exact integers, so the whole
    # memory-tier path (train -> pack bits -> popcount shortlist -> exact
    # re-rank -> recall) is hash-checked end-to-end
    from .operators import bq

    reg["bq_knn_hamming"] = (
        lambda spark, sf: bq.bq_knn_hamming(spark, sf, k=10, query_vec_id=0),
        bq.bq_knn_hamming_oracle(k=10, query_vec_id=0),
    )
    reg["bq_knn_rerank"] = (
        lambda spark, sf: bq.bq_knn_rerank(spark, sf, "cosine", k=10, query_vec_id=0),
        bq.bq_knn_rerank_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["ann_recall_bq"] = (
        lambda spark, sf: bq.bq_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        bq.bq_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    # ColBERT-style late interaction: multi-vector docs (label groups)
    # scored sum-of-per-token-max over micro-unit-rounded similarities
    reg["knn_late_interaction"] = (
        lambda spark, sf: knn.late_interaction_topk(spark, sf, k=10),
        knn.late_interaction_topk_oracle(k=10),
    )
    # keyset pagination (search_after): page 2 strictly after page 1's
    # (distance, vec_id) cursor, cursor computed inside the plan
    reg["knn_search_after"] = (
        lambda spark, sf: knn.knn_search_after(spark, sf, "cosine", k=10, query_vec_id=0),
        knn.knn_search_after_oracle("cosine", k=10, query_vec_id=0),
    )
    # F1/F4 on the BQ family: the metadata filter lands on the 16-byte
    # code scan before any popcount (the float column is never touched)
    reg["bq_knn_filtered"] = (
        lambda spark, sf: bq.bq_knn_hamming(spark, sf, k=5, query_vec_id=0, label_filter=5),
        bq.bq_knn_hamming_oracle(k=5, query_vec_id=0, label_filter=5),
    )
    # batch form: one code scan serves every query (Q XOR+popcounts per
    # row), per-query shortlist window, rerank over Q*k*oversample pairs
    reg["bq_knn_batch"] = (
        lambda spark, sf: bq.bq_knn_batch(spark, sf, "cosine", k=5, num_queries=8),
        bq.bq_knn_batch_oracle("cosine", k=5, num_queries=8),
    )
    # persisted 16-byte code table: probe reads the artifact, floats are
    # touched only for the shortlist re-rank (same oracle as bq_knn_rerank)
    reg["bq_index_persisted_knn"] = (
        lambda spark, sf: bq.bq_index_persisted_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        bq.bq_knn_rerank_oracle("cosine", k=10, query_vec_id=0),
    )
    # Matryoshka truncated-dim FUNNEL (operators/matryoshka.py): the
    # production two-stage form of the prefix-truncation whose raw
    # top-k-overlap knn.matryoshka_recall (ann_recall_matryoshka) already
    # measures -- shortlist on the prefix, exact re-rank at full dim; the
    # funnel's own recall gates separately (oversample recovers what the
    # bare prefix top-k loses)
    from .operators import matryoshka as mat

    reg["knn_matryoshka"] = (
        lambda spark, sf: mat.matryoshka_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        mat.matryoshka_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["ann_recall_matryoshka_funnel"] = (
        lambda spark, sf: mat.matryoshka_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        mat.matryoshka_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    # recall-vs-bytes tuning curve: one gated row per truncation width,
    # prefix_dim = full dim is the exact-scan degeneracy at recall 1.0
    reg["ann_matryoshka_dim_sweep"] = (
        lambda spark, sf: mat.matryoshka_dim_sweep(spark, sf, "cosine", k=10, query_vec_id=0),
        mat.matryoshka_dim_sweep_oracle("cosine", k=10, query_vec_id=0),
    )
    # trained-quantizer family under the gate via deterministic recall
    # VERDICT rows (k + exact-top-k count cross-checked, boolean floor
    # check on the trained probe) -- the hash-checkable signal for the
    # rows-only ivf_knn_trained / pq_knn_rerank / ivfpq_knn paths
    reg["ann_recall_ivf_trained"] = (
        lambda spark, sf: ivf.ivf_trained_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.ivf_trained_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["ann_recall_pq"] = (
        lambda spark, sf: pq.pq_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        pq.trained_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["ann_recall_ivfpq"] = (
        lambda spark, sf: pq.ivfpq_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        pq.trained_recall_oracle("cosine", k=10, query_vec_id=0),
    )

    # --- multimodal binary plumbing + skew mitigation ---
    reg["multimodal_binary_stats"] = (multimodal.binary_stats, multimodal.binary_stats_oracle())
    # mapInPandas feature extraction, hash-GATED (round 7): byte_mean
    # rounded 6dp both sides, hist pinned as its JSON string -- the last
    # two kernels whose correctness rested on pytest alone now have
    # integer-exact oracles (VERDICT r6 item 1)
    reg["multimodal_features"] = (
        multimodal.extract_features_gated,
        multimodal.extract_features_oracle(),
    )
    reg["multimodal_frame_sample"] = (
        multimodal.sample_frames,
        multimodal.sample_frames_oracle(),
    )
    reg["multimodal_blob_dedup"] = (multimodal.blob_dedup, multimodal.blob_dedup_oracle())
    # the resize kernel (Arrow/NumPy gather) under the gate byte-for-byte
    reg["multimodal_resize"] = (multimodal.resize_media, multimodal.resize_media_oracle())
    # the real codec layer (PGM/WAV/y4m parse) hash-gated: sample count,
    # sample sum, AND per-format container header overhead
    reg["multimodal_decoded_stats"] = (
        multimodal.decoded_stats,
        multimodal.decoded_stats_oracle(),
    )
    # the same codec layer against GENUINE blobs (2-D PGM rasters, WAV
    # with an odd-sized LIST chunk, multi-frame y4m) gated on a golden
    # parquet derived at fixture-generation time from the raw samples --
    # not from document text (VERDICT r9 item 8)
    reg["multimodal_decoded_stats_real"] = (
        multimodal.real_decoded_stats,
        multimodal.real_decoded_stats_oracle(),
    )
    reg["multimodal_features_real"] = (
        multimodal.real_features,
        multimodal.real_features_oracle(),
    )
    reg["skew_salted_agg"] = (skew.salted_event_totals, skew.salted_event_totals_oracle())
    reg["skew_salted_join"] = (skew.salted_weighted_join, skew.salted_weighted_join_oracle())
    # the sketch toolkit driving the engine's own skew decision: salt
    # factor derived from CM (heaviest-key bound) + KMV (distinct) inside
    # the lazy plan, salted two-stage agg executed WITH that S, checksum
    # vs the direct agg and the decision itself under the hash gate
    reg["skew_salt_auto"] = (skew.skew_salt_auto, skew.skew_salt_auto_oracle())

    # --- Bloom-filter join pruning (explicit runtime-filter / DPP form) ---
    from .operators import bloom
    reg["sketch_bloom_bitmap"] = (bloom.bloom_bitmap, bloom.bloom_bitmap_oracle())
    reg["join_bloom_prefiltered"] = (
        bloom.bloom_prefiltered_join,
        bloom.bloom_prefiltered_join_oracle(),
    )
    # word-wise OR merge of per-shard bitmaps == whole-corpus bitmap (the
    # Bloom member of the sketch-mergeability family, VERDICT r7 item 2)
    reg["sketch_bloom_merge_shards"] = (
        bloom.bloom_merge_shards,
        bloom.bloom_merge_shards_oracle(),
    )
    # per-group (order-year) Bloom bitmaps on the shared global sizing --
    # the membership member's per-group leg: partition-local runtime
    # filters whose word-wise OR reproduces the corpus filter exactly
    # (rollup pinned in tests/test_bloom.py)
    reg["sketch_bloom_by_group"] = (
        bloom.bloom_by_group,
        bloom.bloom_by_group_oracle(),
    )
    # KMV bottom-k distinct sketch: deterministic on the portable hash, so
    # the estimate itself (and its measured error) is under the hash gate
    from .operators import kmv
    reg["sketch_kmv_distinct"] = (kmv.kmv_distinct, kmv.kmv_distinct_oracle())
    # theta-style set algebra on two KMV sketches (union/intersection
    # estimates from the k-row sketches alone), fully hash-gated
    reg["sketch_kmv_set_ops"] = (kmv.kmv_set_ops, kmv.kmv_set_ops_oracle())
    # mergeability under the gate (VERDICT r7 item 2): per-shard sketches
    # merged == whole-corpus sketch, element-wise -- the 100 TB rollup
    # protocol itself, not just the single-pass sketch
    reg["sketch_kmv_merge_shards"] = (
        kmv.kmv_merge_shards,
        kmv.kmv_merge_shards_oracle(),
    )
    # HyperLogLog on the portable hash: unlike engine-native
    # approx_count_distinct (tolerance-gated only, sketch_accuracy_report),
    # these registers are bit-identical cross-engine, so the register state
    # itself, the estimate, and the element-wise MAX shard merge all sit
    # under the hash gate -- the sixth mergeable sketch family
    from .operators import hll
    reg["sketch_hll_distinct"] = (hll.hll_distinct, hll.hll_distinct_oracle())
    reg["sketch_hll_merge_shards"] = (
        hll.hll_merge_shards,
        hll.hll_merge_shards_oracle(),
    )
    reg["sketch_hll_by_group"] = (hll.hll_by_group, hll.hll_by_group_oracle())
    # set algebra on two HLLs: lossless register-max union, inclusion-
    # exclusion intersection, reported next to the exact counts
    reg["sketch_hll_set_ops"] = (hll.hll_set_ops, hll.hll_set_ops_oracle())
    # count-min frequency sketch: the grid AND its point estimates (with
    # the never-underestimate guarantee as a gated column) hash-gated
    from .operators import countmin
    reg["sketch_cm_counters"] = (countmin.cm_counters, countmin.cm_counters_oracle())
    reg["sketch_cm_point_estimates"] = (
        countmin.cm_point_estimates,
        countmin.cm_point_estimates_oracle(),
    )
    # per-GROUP count-min (per-event_type grids, shared salts/width) and
    # its per-(group, shard) merge gate -- completes the per-group matrix
    # for the frequency member (KMV/hist/AMS already have theirs)
    reg["sketch_cm_by_group"] = (countmin.cm_by_group, countmin.cm_by_group_oracle())
    reg["sketch_cm_by_group_merge"] = (
        countmin.cm_by_group_merge,
        countmin.cm_by_group_merge_oracle(),
    )
    # cell-wise additive merge of per-shard grids == whole-corpus grid
    reg["sketch_cm_merge_shards"] = (
        countmin.cm_merge_shards,
        countmin.cm_merge_shards_oracle(),
    )
    # heavy hitters composed ENTIRELY from sketches (CM estimates over a
    # KMV-estimated mean threshold) with the no-false-negative guarantee
    # (est >= exact always) as a gated column
    reg["sketch_cm_heavy_hitters"] = (
        countmin.cm_heavy_hitters,
        countmin.cm_heavy_hitters_oracle(),
    )
    # fixed-grid histogram QUANTILE sketch (4th sketch member): the
    # bounded histogram, the quantile estimates read from it (with the
    # one-bin-width error bound as a gated boolean), and its cell-wise
    # shard merge -- the hash-gatable alternative to t-digest/KLL, whose
    # engine internals (approx_percentile) can never be more than
    # verdict-gated
    from .operators import quantiles
    reg["sketch_hist_bins"] = (quantiles.hist_sketch, quantiles.hist_sketch_oracle())
    reg["sketch_hist_quantiles"] = (
        quantiles.hist_quantiles,
        quantiles.hist_quantiles_oracle(),
    )
    reg["sketch_hist_merge_shards"] = (
        quantiles.hist_merge_shards,
        quantiles.hist_merge_shards_oracle(),
    )
    # per-GROUP sketches (VERDICT r8 item 3): the GROUP BY form of the
    # merge-gated toolkit -- a 100 TB data-quality rollup is per-source.
    # Per-event_type KMV distinct counts, the per-group shard-merge
    # protocol (merged == whole per group, diff gated 0), and per-priority
    # histogram quantiles with the scale-safe in-bin exact rank
    reg["sketch_kmv_by_group"] = (kmv.kmv_by_group, kmv.kmv_by_group_oracle())
    reg["sketch_kmv_by_group_merge"] = (
        kmv.kmv_by_group_merge,
        kmv.kmv_by_group_merge_oracle(),
    )
    reg["sketch_hist_by_group"] = (
        quantiles.hist_quantiles_by_group,
        quantiles.hist_quantiles_by_group_oracle(),
    )
    # the per-group MERGE leg for the quantile member: per-(group, shard)
    # histograms on each group's OWN grid sum bin-wise to the per-group
    # whole -- a shard binned on the wrong group's grid flips the diff
    reg["sketch_hist_by_group_merge"] = (
        quantiles.hist_by_group_merge,
        quantiles.hist_by_group_merge_oracle(),
    )
    # AMS tug-of-war sketch (5th member): F2 / self-join-size / skew mass
    # from AMS_COUNTERS integer sums of portable-hash signs -- the counter
    # vector, the median-of-means estimate read from it (gated against the
    # exact second moment with rel_err and the skew diagnostic), and the
    # element-wise-addition shard merge
    from .operators import ams
    reg["sketch_ams_counters"] = (ams.ams_counters, ams.ams_counters_oracle())
    reg["sketch_ams_f2"] = (ams.ams_f2, ams.ams_f2_oracle())
    reg["sketch_ams_merge_shards"] = (
        ams.ams_merge_shards,
        ams.ams_merge_shards_oracle(),
    )
    # ... and its per-GROUP form (per-event_type F2 / skew monitor),
    # completing the per-group matrix for the fifth member
    reg["sketch_ams_by_group"] = (ams.ams_by_group, ams.ams_by_group_oracle())
    # ... and its per-(group, shard) merge: the last per-group x
    # mergeability cell of the sketch matrix, element-wise addition per
    # (grp, j) with every diff gated 0
    reg["sketch_ams_by_group_merge"] = (
        ams.ams_by_group_merge,
        ams.ams_by_group_merge_oracle(),
    )
    # the AGMS inner-product JOIN-SIZE estimator: the two relations'
    # tug-of-war vectors (same sign family) multiplied counter-wise,
    # median-of-means -- integer until one division, estimate hash-gated
    # next to the exact join count it replaces
    reg["sketch_ams_join_size"] = (ams.ams_join_size, ams.ams_join_size_oracle())
    # quantized PageRank over the exact k-NN similarity graph: the
    # graph-algorithm family joining the quantized-chain discipline (Lloyd,
    # BPE) -- integer micro-unit ranks, half-up divisions, N iterations as
    # one lazy plan, oracle = the loop unrolled as CTEs. Top-N final ranks
    # and the per-iteration mass trajectory gated separately.
    from .operators import graph
    reg["graph_pagerank_topn"] = (graph.pagerank_topn, graph.pagerank_topn_oracle())
    reg["graph_pagerank_trajectory"] = (
        graph.pagerank_trajectory,
        graph.pagerank_trajectory_oracle(),
    )
    # personalized PageRank (teleport restricted to a seed set -- rank =
    # proximity to the seeds) and the in-degree histogram diagnostic
    reg["graph_ppr_topn"] = (graph.ppr_topn, graph.ppr_topn_oracle())
    # quantized HITS (hubs/authorities; L1 normalization in exact integers
    # replaces the non-portable L2 sqrt)
    reg["graph_hits_topn"] = (graph.hits_topn, graph.hits_topn_oracle())
    # hard-negative mining: per anchor, the k nearest OTHER-label vectors
    # (the contrastive-training negatives worth training on)
    # routed through the exact-scan kernel behind every knn _fast path,
    # with the same-label mask applied in the kernel; the expression twin
    # stays pinned bit-equal in tests/test_knn
    reg["knn_hard_negatives"] = (
        knn.hard_negatives_fast,
        knn.hard_negatives_oracle(),
    )
    # retrieval-quality eval: per-label MRR@k / hit-rate@k of cosine
    # retrieval judged by label agreement, reciprocal ranks in exact
    # half-up micro-units so the metric hash-gates
    reg["knn_retrieval_mrr"] = (knn.retrieval_mrr, knn.retrieval_mrr_oracle())
    # ... and binary-relevance nDCG@k over the same judgment, discount
    # table embedded as identical literals in both engines
    reg["knn_retrieval_ndcg"] = (knn.retrieval_ndcg, knn.retrieval_ndcg_oracle())
    reg["graph_degree_histogram"] = (
        graph.degree_histogram,
        graph.degree_histogram_oracle(),
    )
    # triangle participation + local clustering coefficient via
    # degree-ordered orientation (compact-forward): cluster-cohesion
    # diagnostic of the near-dup similarity graph
    reg["graph_triangle_counts"] = (
        graph.triangle_counts,
        graph.triangle_counts_oracle(),
    )
    # clamped-seed label propagation: held-out nodes take the
    # (votes DESC, label ASC) argmax of their out-neighbours per round --
    # the pseudo-labeling eval, exact integer votes need no quantization
    reg["graph_label_propagation"] = (
        graph.label_propagation,
        graph.label_propagation_oracle(),
    )
    # similarity-weighted rank chain: contribution proportional to edge
    # weight (integer micros) instead of uniform 1/K
    reg["graph_pagerank_weighted"] = (
        graph.pagerank_weighted_topn,
        graph.pagerank_weighted_topn_oracle(),
    )
    # k-core peel trajectory: per-round surviving node/edge counts of the
    # iterative degree->=k deletion -- exact integer cascade, gates with no
    # quantization device; on this corpus the 5-core cascades to empty
    # (out-degree is exactly 4), and the gate hashes the full cascade
    reg["graph_kcore_trajectory"] = (
        graph.kcore_trajectory,
        graph.kcore_trajectory_oracle(),
    )
    # common-neighbour / Jaccard link prediction over the undirected k-NN
    # graph: the "edge the k-NN cutoff missed" candidate generator,
    # half-up integer-micro Jaccard, wedge-bounded candidate space
    reg["graph_link_prediction"] = (
        graph.link_prediction,
        graph.link_prediction_oracle(),
    )
    # the sketch driving the engine's own layout planning: range-partition
    # boundaries interpolated from the cumulative histogram (the
    # deterministic twin of repartitionByRange's sampling), balance audited
    # with the per-range deviation bound (<= the two boundary bins' mass)
    # as a gated boolean -- the 100 TB scale path of
    # maintenance_range_bounds' exact ntile report
    reg["sketch_range_bounds"] = (
        quantiles.range_bounds_sketch,
        quantiles.range_bounds_sketch_oracle(),
    )
    # joint-distribution grid over (quantity, price): the scatter-density
    # profile companion to the Pearson screen -- same portable IEEE
    # binning as the 1-D sketch, bounded b^2 cells, cell-add mergeable
    reg["sketch_hist2d"] = (quantiles.hist2d, quantiles.hist2d_oracle())

    # --- text analysis over documents (training-data-pipeline surface) ---
    t = textops
    reg["text_token_stats"] = (t.token_stats, t.token_stats_oracle())
    reg["text_quality_scores"] = (t.quality_scores, t.quality_scores_oracle())
    reg["text_language_id"] = (t.language_id, t.language_id_oracle())
    reg["text_language_id_trigram"] = (t.language_id_trigram, t.language_id_trigram_oracle())
    reg["text_fingerprints"] = (t.fingerprints, t.fingerprints_oracle())
    reg["text_token_counts_bpe"] = (t.token_counts_bpe, t.token_counts_bpe_oracle())
    # tokenizer TRAINING kernel, iteration 1 gated (kmeans-iter1 discipline)
    reg["text_bpe_top_merges"] = (t.bpe_top_merges, t.bpe_top_merges_oracle())
    # iteration 2: the vocabulary-MUTATION step (apply the iter-1 winner,
    # recount over the mutated symbol table) under the gate
    reg["text_bpe_merge_iter2"] = (t.bpe_merge_iter2, t.bpe_merge_iter2_oracle())
    # the full training LOOP: N merge iterations end-to-end, every
    # winner + frequency gated (oracle = the loop unrolled as CTEs)
    reg["text_bpe_train_merges"] = (t.bpe_train_merges, t.bpe_train_merges_oracle())
    # train -> APPLY composition (VERDICT r8 item 6): tokenize the corpus
    # with merges trained inside the same lazy plan, per-document counts
    reg["text_tokenize_trained_bpe"] = (
        t.tokenize_trained_bpe,
        t.tokenize_trained_bpe_oracle(),
    )
    # per-language fertility of the SAME trained vocab (tokenizer-fairness
    # report: tokens/word and chars/token by lang)
    reg["text_bpe_fertility"] = (t.bpe_fertility, t.bpe_fertility_oracle())
    reg["text_winnow_fingerprints"] = (t.winnow_fingerprints, t.winnow_fingerprints_oracle())
    reg["text_repetition_metrics"] = (t.repetition_metrics, t.repetition_metrics_oracle())
    reg["text_unigram_lm_scores"] = (t.unigram_lm_scores, t.unigram_lm_scores_oracle())
    # context-conditional LM quality filter (add-one bigram, CCNet-style)
    reg["text_bigram_lm_scores"] = (t.bigram_lm_scores, t.bigram_lm_scores_oracle())
    # domain-shift diagnostic: per-source KL from the corpus unigram mix
    # (integer micro-unit terms keep the big sum order-free)
    reg["text_source_kl_divergence"] = (
        t.source_kl_divergence,
        t.source_kl_divergence_oracle(),
    )
    reg["text_vocab_growth"] = (t.vocab_growth, t.vocab_growth_oracle())
    reg["text_ngram_topk"] = (t.ngram_topk, t.ngram_topk_oracle())
    # cross-document boilerplate fraction over the shared shingle artifacts
    reg["text_boilerplate_fraction"] = (
        t.boilerplate_fraction,
        t.boilerplate_fraction_oracle(),
    )
    # vocabulary coverage: per-doc OOV fraction against the top-K vocab
    reg["text_oov_rate"] = (t.oov_rate, t.oov_rate_oracle())
    # character-distribution entropy (encoding/garbage detector)
    reg["text_char_entropy"] = (t.char_entropy, t.char_entropy_oracle())
    # PII redaction with audit counts (md5-gated scrubbed text)
    reg["text_pii_scrub"] = (t.pii_scrub, t.pii_scrub_oracle())
    # power-of-two length histogram (chunking/packing parameter report)
    reg["text_length_histogram"] = (t.length_histogram, t.length_histogram_oracle())

    # --- keyword search + hybrid retrieval (lexical twin of the vector path) ---
    reg["search_bm25"] = (search.bm25_topk, search.bm25_topk_oracle())
    reg["search_tfidf_top_terms"] = (search.tfidf_top_terms, search.tfidf_top_terms_oracle())
    reg["search_hybrid_rrf"] = (search.hybrid_rrf, search.hybrid_rrf_oracle())
    reg["search_boolean"] = (search.boolean_search, search.boolean_search_oracle())
    # sparse-vector leg: inverted-index dot product over integer-exact
    # TF-IDF postings (SPLADE-style sparse search as the postings join it is)
    reg["search_sparse_dot"] = (
        search.sparse_dot_topk,
        search.sparse_dot_topk_oracle(),
    )
    # the canonical two-encoder hybrid: dense cosine + sparse dot lists
    # fused by reciprocal rank (both legs pool-capped before the join)
    # batch sparse retrieval: one postings pass serves Q queries, per-
    # query top-k two-phase (the batch_knn discipline on the sparse leg)
    reg["search_sparse_batch"] = (
        search.sparse_dot_batch,
        search.sparse_dot_batch_oracle(),
    )
    reg["search_hybrid_sparse_dense"] = (
        search.hybrid_sparse_dense,
        search.hybrid_sparse_dense_oracle(),
    )

    # --- scalar function families (SURVEY §2.7 inherited built-ins) ---
    from .functions import scalars as sc
    reg["functions_string"] = (sc.string_functions, sc.string_functions_oracle())
    reg["functions_datetime"] = (sc.datetime_functions, sc.datetime_functions_oracle())
    reg["functions_math"] = (sc.math_functions, sc.math_functions_oracle())
    reg["functions_array"] = (sc.array_functions, sc.array_functions_oracle())
    reg["functions_conditional"] = (sc.conditional_functions, sc.conditional_functions_oracle())
    reg["functions_regex"] = (sc.regex_functions, sc.regex_functions_oracle())
    reg["functions_map"] = (sc.map_functions, sc.map_functions_oracle())

    # --- dedup family (exact, ngram-jaccard, minhash-LSH, simhash, cosine) ---
    d = dedup
    reg["dedup_exact"] = (d.exact_dedup, d.exact_dedup_oracle())
    # exact-SUBSTRING dedup (Lee et al. 2022) re-expressed distributed:
    # positional k-gram hashes + cross-doc df>=2 filter + per-doc
    # gaps-and-islands interval merge; per-doc span report gated
    reg["dedup_repeated_spans"] = (
        d.repeated_substring_spans,
        d.repeated_substring_spans_oracle(),
    )
    reg["dedup_exact_normalized"] = (d.exact_dedup_normalized, d.exact_dedup_normalized_oracle())
    reg["pipeline_corpus_prep"] = (corpus.corpus_prep, corpus.corpus_prep_oracle())
    # the per-document curation DECISION TABLE: 'kept' or the first
    # pipeline stage that rejected it -- the provenance/audit artifact a
    # production curation run materializes next to the cleaned corpus
    reg["pipeline_curation_verdict"] = (
        corpus.curation_verdict,
        corpus.curation_verdict_oracle(),
    )
    reg["pipeline_sample_split"] = (corpus.corpus_sample_split, corpus.corpus_sample_split_oracle())
    # dedup-aware split: near-dup CLUSTERS assigned to splits atomically
    # (split keyed on the cluster rep), gated with both leakage audits --
    # cluster-keyed violations (0 by construction) next to the doc-keyed
    # count it prevents
    reg["pipeline_leakage_safe_split"] = (
        corpus.leakage_safe_split,
        corpus.leakage_safe_split_oracle(),
    )
    reg["pipeline_stratified_sample"] = (corpus.corpus_stratified_sample, corpus.corpus_stratified_sample_oracle())
    reg["pipeline_decontaminate"] = (corpus.corpus_decontaminate, corpus.corpus_decontaminate_oracle())
    reg["pipeline_pack_sequences"] = (corpus.corpus_pack_sequences, corpus.corpus_pack_sequences_oracle())
    # per-epoch seeded reshuffle + shard manifest (order-sensitive
    # fingerprint pins the exact permutation, not just membership)
    reg["pipeline_epoch_shuffle"] = (
        corpus.corpus_epoch_shuffle,
        corpus.corpus_epoch_shuffle_oracle(),
    )
    # chunk layer of the reference's library->document->chunk data model
    reg["pipeline_chunk_documents"] = (
        corpus.corpus_chunk_documents,
        corpus.corpus_chunk_documents_oracle(),
    )
    # per-stage survivor counts: the curation run's observability row
    reg["pipeline_funnel_report"] = (
        corpus.corpus_funnel_report,
        corpus.corpus_funnel_report_oracle(),
    )
    # token-budget allocation across weighted sources (corpus mixing)
    reg["pipeline_mix_schedule"] = (
        corpus.corpus_mix_schedule,
        corpus.corpus_mix_schedule_oracle(),
    )
    # temperature-flattened (alpha=0.5) per-language token allocation
    reg["pipeline_temperature_mix"] = (
        corpus.corpus_temperature_mix,
        corpus.corpus_temperature_mix_oracle(),
    )
    # deterministic fixed-size per-group sample (reservoir analog)
    reg["pipeline_group_sample"] = (
        corpus.corpus_group_sample,
        corpus.corpus_group_sample_oracle(),
    )
    # deterministic WEIGHTED per-group sample (A-ES analog, hash/weight
    # priority -- one IEEE division, no transcendental portability budget)
    reg["pipeline_weighted_sample"] = (
        corpus.corpus_weighted_sample,
        corpus.corpus_weighted_sample_oracle(),
    )
    # flagship Jaccard near-dup is the df-CAPPED form (candidates from rare
    # shingles only, exact verify over full sets) -- the uncapped self-join
    # (`ngram_jaccard_pairs`) survives as a test-only recall cross-check,
    # never as a registered query (a hot boilerplate shingle is a quadratic
    # join key at 100 TB); same demotion round 3 applied to simhash.
    reg["dedup_ngram_jaccard"] = (d.ngram_jaccard_pairs_dfcap, d.ngram_jaccard_pairs_dfcap_oracle())
    # asymmetric containment |A∩B|/|A|, same df-capped candidate subtree
    reg["dedup_containment"] = (d.containment_pairs_dfcap, d.containment_pairs_dfcap_oracle())
    reg["dedup_minhash_lsh"] = (d.minhash_lsh_pairs, d.minhash_lsh_pairs_oracle())
    # the banded candidates re-verified by LEVENSHTEIN over fixed-length
    # prefixes (local-edit near-dups; constant per-pair cost)
    reg["dedup_edit_distance"] = (
        d.edit_distance_pairs,
        d.edit_distance_pairs_oracle(),
    )
    reg["dedup_minhash_autotuned"] = (
        lambda spark, sf: d.minhash_lsh_pairs_autotuned(spark, sf, threshold=0.5),
        d.minhash_lsh_pairs_autotuned_oracle(threshold=0.5),
    )
    # bucket cap derived from the bucket-size histogram under a linear
    # per-doc pair budget (the dfcap_auto discipline applied to banding)
    reg["dedup_minhash_bucketcap_auto"] = (
        d.minhash_lsh_pairs_bucketcap_auto,
        d.minhash_lsh_pairs_bucketcap_auto_oracle(),
    )
    reg["dedup_ngram_jaccard_dfcap_auto"] = (
        d.ngram_jaccard_pairs_dfcap_auto,
        d.ngram_jaccard_pairs_dfcap_auto_oracle(),
    )
    reg["dedup_simhash_table"] = (d.simhash_table, d.simhash_table_oracle())
    # Spark side is the BANDED (linear) form for both entries; the quadratic
    # self-join survives only as the _pairs oracle (DuckDB at sf0.01) and as
    # a test-only twin -- pigeonhole guarantees identical rows, so this gate
    # cross-checks banding recall every round without registering an
    # unbanded doc_id<doc_id self-join as a runnable query.
    reg["dedup_simhash_pairs"] = (d.simhash_banded_pairs, d.simhash_near_pairs_oracle())
    reg["dedup_simhash_banded"] = (d.simhash_banded_pairs, d.simhash_banded_pairs_oracle())
    reg["dedup_cluster_components"] = (d.neardup_clusters, d.neardup_clusters_oracle())
    # the same clustering served by the O(log^2 n) large-star/small-star
    # backend, under the SAME oracle (identical labelings by construction)
    reg["dedup_cluster_star"] = (d.neardup_clusters_star, d.neardup_clusters_oracle())
    reg["dedup_cluster_minhash"] = (d.neardup_clusters_minhash, d.neardup_clusters_minhash_oracle())
    # the KEEP policy that completes the pipeline: quality-aware canonical
    # representative per cluster (longest text, tie lower doc_id)
    reg["dedup_canonical_select"] = (d.canonical_select, d.canonical_select_oracle())
    # LSH-bucket-blocked pairs at the label-blocked entry's 0.4 threshold:
    # the label-blocked all-pairs twin (embedding_neardup) is demoted to a
    # test-only oracle -- a skewed label would re-create the cartesian, so
    # no registered query runs an unblocked/label-blocked pair space.
    reg["dedup_embedding_cosine"] = (
        lambda spark, sf: d.embedding_neardup_lsh(spark, sf, threshold=0.4),
        d.embedding_neardup_lsh_oracle(threshold=0.4),
    )
    reg["dedup_embedding_clusters"] = (
        d.embedding_neardup_clusters,
        d.embedding_neardup_clusters_oracle(),
    )
    # per-shard incremental ingestion: classify a delta batch against the
    # ingested base (exact_dup / near_dup / new) without full re-dedup
    reg["dedup_incremental_ingest"] = (
        d.incremental_ingest_dedup,
        d.incremental_ingest_dedup_oracle(),
    )
    reg["dedup_embedding_lsh_blocked"] = (d.embedding_neardup_lsh, d.embedding_neardup_lsh_oracle())

    # --- approximate indexes: sign-bit LSH (reference Q3) and IVF ---
    reg["lsh_knn"] = (
        lambda spark, sf: lsh.lsh_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        lsh.lsh_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["lsh_knn_filtered"] = (
        lambda spark, sf: lsh.lsh_knn(spark, sf, "cosine", k=5, query_vec_id=0, label_filter=5),
        lsh.lsh_knn_oracle("cosine", k=5, query_vec_id=0, label_filter=5),
    )
    reg["ivf_knn"] = (
        lambda spark, sf: ivf.ivf_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.ivf_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["lsh_knn_batch"] = (
        lambda spark, sf: lsh.lsh_knn_batch(spark, sf, "cosine", k=5, num_queries=8),
        lsh.lsh_knn_batch_oracle("cosine", k=5, num_queries=8),
    )
    # the batch probe WITH the reference's per-query <k fallback as a
    # union plan (no driver round-trip per query) -- per-query results
    # equal lsh_knn exactly (tests pin it)
    reg["lsh_knn_batch_fallback"] = (
        lambda spark, sf: lsh.lsh_knn_batch_fallback(spark, sf, "cosine", k=5, num_queries=8),
        lsh.lsh_knn_batch_fallback_oracle("cosine", k=5, num_queries=8),
    )
    reg["ivf_knn_batch"] = (
        lambda spark, sf: ivf.ivf_knn_batch(spark, sf, "cosine", k=5, num_queries=8),
        ivf.ivf_knn_batch_oracle("cosine", k=5, num_queries=8),
    )
    # index introspection: bucket occupancy histogram (S10-metadata analog)
    reg["lsh_bucket_stats"] = (lsh.bucket_stats, lsh.bucket_stats_oracle())
    reg["ivf_cell_stats"] = (ivf.ivf_cell_stats, ivf.ivf_cell_stats_oracle())
    # the k-means TRAINING kernel under the gate: iteration-1 assignment
    # counts from the exact _lloyd_partials Arrow kernel train_centroids
    # iterates, vs a declarative SQL argmin (seeded init, so the floats
    # are portable); later iterations stay covered by the recall verdicts
    reg["ivf_kmeans_iter1_sizes"] = (
        ivf.kmeans_iter1_sizes,
        ivf.kmeans_iter1_sizes_oracle(),
    )
    # the centroid-UPDATE half of Lloyd: exact-decimal means over iter-1
    # cells (micro-unit pattern), then iteration-2 assignment counts
    reg["ivf_kmeans_iter2_sizes"] = (
        ivf.kmeans_iter2_sizes,
        ivf.kmeans_iter2_sizes_oracle(),
    )
    # the full quantized-Lloyd LOOP: every iteration's assignment counts
    # gated (oracle = the loop unrolled as CTEs; bpe_train discipline)
    reg["ivf_kmeans_train_quantized"] = (
        ivf.kmeans_train_quantized,
        ivf.kmeans_train_quantized_oracle(),
    )
    # trained ANN probe with the ENTIRE pipeline under the hash gate
    # (training -> assignment -> probe -> distances); the float-trained
    # twins remain rows-only with recall/equality verdicts
    reg["ivf_knn_trained_quantized"] = (
        lambda spark, sf: ivf.ivf_knn_trained_quantized(
            spark, sf, "cosine", k=10, query_vec_id=0
        ),
        ivf.ivf_knn_trained_quantized_oracle("cosine", k=10, query_vec_id=0),
    )
    # the SAME discipline on PQ -- the last ANN family whose training was
    # only verdict-gated (VERDICT r8 item 1): quantized per-subspace Lloyd
    # trajectory (every iteration of every subspace) ...
    reg["pq_train_quantized"] = (
        pq.pq_train_quantized,
        pq.pq_train_quantized_oracle(),
    )
    # ... and a trained-PQ ADC probe with training, encode, micro-unit ADC
    # shortlist, and exact re-rank ALL under the hash gate
    reg["pq_knn_rerank_quantized"] = (
        lambda spark, sf: pq.pq_knn_rerank_quantized(
            spark, sf, "cosine", k=10, query_vec_id=0
        ),
        pq.pq_knn_rerank_quantized_oracle("cosine", k=10, query_vec_id=0),
    )
    # the IVFADC composition end-to-end: quantized coarse cells + quantized
    # residual codebooks + per-cell micro-unit ADC + exact re-rank
    reg["ivfpq_knn_quantized"] = (
        lambda spark, sf: pq.ivfpq_knn_quantized(
            spark, sf, "cosine", k=10, query_vec_id=0
        ),
        pq.ivfpq_knn_quantized_oracle("cosine", k=10, query_vec_id=0),
    )
    # S10/S11 persisted-artifact round trip: save partitionBy(bucket),
    # load, probe -- the probe is a partition-pruned parquet read
    reg["lsh_index_persisted_knn"] = (
        lambda spark, sf: lsh.lsh_index_persisted_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        lsh.lsh_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    # segment-merge compaction: two ingest segments union into one merged
    # bucket-partitioned artifact; probing the merge must be
    # indistinguishable from probing a one-shot build (same lsh_knn oracle)
    reg["lsh_index_merge_knn"] = (
        lambda spark, sf: lsh.lsh_index_merge_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        lsh.lsh_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    # tombstone-aware probe: deletes as a broadcast anti-join over the
    # persisted artifact, no rebuild; the <k fallback widens over the LIVE
    # corpus only (oracle = lsh_knn with the same exclusion predicate)
    reg["lsh_index_tombstone_knn"] = (
        lambda spark, sf: lsh.lsh_index_tombstone_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        lsh.lsh_knn_oracle("cosine", k=10, query_vec_id=0, exclude_sql=lsh.TOMBSTONE_SQL),
    )
    # versioned snapshots: one plan probes the pre-delete artifact (v1)
    # and the post-delete compaction (v2) -- as-of reads reproducible
    reg["lsh_index_versioned_knn"] = (
        lambda spark, sf: lsh.lsh_index_versioned_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        lsh.lsh_index_versioned_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    # IVF lifecycle mirrors (tombstones / segment-merge compaction): same
    # operational invariants as the LSH pair, same plain-probe oracles
    reg["ivf_index_tombstone_knn"] = (
        lambda spark, sf: ivf.ivf_index_tombstone_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.ivf_knn_oracle("cosine", k=10, query_vec_id=0, exclude_sql=lsh.TOMBSTONE_SQL),
    )
    reg["ivf_index_merge_knn"] = (
        lambda spark, sf: ivf.ivf_index_merge_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.ivf_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    # metadata pre-filter on the IVF probe (F1/F4 on the second family)
    reg["ivf_knn_filtered"] = (
        lambda spark, sf: ivf.ivf_knn(spark, sf, "cosine", k=5, query_vec_id=0, label_filter=5),
        ivf.ivf_knn_oracle("cosine", k=5, query_vec_id=0, label_filter=5),
    )
    # recommend composed with the ANN index: union of every example's
    # nprobe cells (negatives pull their regions in too -- a candidate
    # near a negative must be SEEN to be scored down), best-score rerank
    reg["ivf_recommend"] = (ivf.ivf_recommend, ivf.ivf_recommend_oracle())
    reg["ann_recall_recommend"] = (
        ivf.recommend_recall,
        ivf.recommend_recall_oracle(),
    )
    # stats-driven filtered-ANN strategy: KMV-NDV + min/max-interpolation
    # selectivity estimate picks pre-filter exact scan vs IVF probe per
    # query; decision inputs, chosen strategy, and the chosen branch's
    # top-k all gated (branch-free lazy-plan union, lsh-fallback shape)
    reg["knn_strategy_auto"] = (
        ivf.knn_strategy_auto,
        ivf.knn_strategy_auto_oracle(),
    )
    # the same persisted lifecycle for the IVF family (cell-partitioned)
    reg["ivf_index_persisted_knn"] = (
        lambda spark, sf: ivf.ivf_index_persisted_knn(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.ivf_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    # ANN quality under the gate: recall@k of each approximate index vs
    # the exact flat scan (deterministic overlap count, hash-checked)
    reg["ann_recall_lsh"] = (
        lambda spark, sf: lsh.lsh_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        lsh.lsh_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    reg["ann_recall_ivf"] = (
        lambda spark, sf: ivf.ivf_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        ivf.ivf_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    # the recall-vs-nprobe TUNING CURVE: one gated row per probed cell
    # count; monotone non-decreasing by construction, nprobe=NUM_CELLS is
    # the exact-scan degeneracy at recall exactly 1.0 (both pinned)
    reg["ann_nprobe_sweep"] = (
        ivf.ivf_nprobe_sweep,
        ivf.ivf_nprobe_sweep_oracle(),
    )
    # Matryoshka-style truncation quality: prefix-distance top-k vs the
    # full-dimension exact top-k (both deterministic -> fully gated)
    reg["ann_recall_matryoshka"] = (
        lambda spark, sf: knn.matryoshka_recall(spark, sf, "cosine", k=10, query_vec_id=0),
        knn.matryoshka_recall_oracle("cosine", k=10, query_vec_id=0),
    )
    # frozen-quantizer delta ingestion audit (cell growth per arriving batch)
    reg["ivf_incremental_add"] = (ivf.ivf_incremental_add, ivf.ivf_incremental_add_oracle())
    reg["lsh_knn_multiprobe"] = (
        lambda spark, sf: lsh.lsh_knn_multiprobe(spark, sf, "cosine", k=10, query_vec_id=0),
        lsh.lsh_knn_multiprobe_oracle("cosine", k=10, query_vec_id=0),
    )
    # full metric coverage on the approximate indexes (the reference
    # supports every metric on both index kinds)
    for metric in ("euclidean", "dot_product"):
        reg[f"lsh_knn_{metric}"] = (
            (lambda m: lambda spark, sf: lsh.lsh_knn(spark, sf, m, k=10, query_vec_id=0))(metric),
            lsh.lsh_knn_oracle(metric, k=10, query_vec_id=0),
        )
        reg[f"ivf_knn_{metric}"] = (
            (lambda m: lambda spark, sf: ivf.ivf_knn(spark, sf, m, k=10, query_vec_id=0))(metric),
            ivf.ivf_knn_oracle(metric, k=10, query_vec_id=0),
        )
    reg["outer_join_order_counts"] = (r.customer_order_counts, r.customer_order_counts_oracle())
    reg["pagination_with_total"] = (r.paginated_with_total, r.paginated_with_total_oracle())
    reg["asof_join_purchase_click"] = (r.asof_purchase_click, r.asof_purchase_click_oracle())
    reg["range_join_year_buckets"] = (r.range_join_year_buckets, r.range_join_year_buckets_oracle())
    reg["window_trailing_1h"] = (r.trailing_hour_activity, r.trailing_hour_activity_oracle())
    reg["grouping_sets_orders"] = (r.grouping_sets_orders, r.grouping_sets_orders_oracle())
    reg["tpch_order_priority_check"] = (r.order_priority_check, r.order_priority_check_oracle())
    reg["tpch_returned_items"] = (r.returned_item_report, r.returned_item_report_oracle())
    reg["tpch_priority_shipping_split"] = (r.priority_shipping_split, r.priority_shipping_split_oracle())
    reg["tpch_large_orders"] = (r.large_orders, r.large_orders_oracle())
    reg["tpch_nation_trade_volume"] = (r.nation_trade_volume, r.nation_trade_volume_oracle())
    reg["tpch_customer_distribution"] = (r.customer_distribution, r.customer_distribution_oracle())
    reg["tpch_top_supplier"] = (r.top_supplier, r.top_supplier_oracle())
    reg["tpch_sales_opportunity"] = (r.sales_opportunity, r.sales_opportunity_oracle())
    reg["tpch_market_share"] = (r.market_share, r.market_share_oracle())
    reg["tpch_promo_revenue"] = (r.promo_revenue, r.promo_revenue_oracle())
    reg["tpch_small_qty_revenue"] = (r.small_quantity_revenue, r.small_quantity_revenue_oracle())
    reg["tpch_disjunctive_revenue"] = (r.disjunctive_revenue, r.disjunctive_revenue_oracle())
    reg["tpch_product_profit"] = (r.product_profit, r.product_profit_oracle())
    reg["agg_value_percentiles"] = (r.value_percentiles, r.value_percentiles_oracle())
    reg["window_order_analytics"] = (r.window_order_analytics, r.window_order_analytics_oracle())
    # SQL-surface shapes both engines decorrelate/plan natively
    reg["subquery_above_avg_orders"] = (r.above_avg_orders, r.above_avg_orders_oracle())
    reg["join_lateral_topk"] = (r.lateral_top_orders, r.lateral_top_orders_oracle())
    # co-located bucketed big-big join: the pay-the-shuffle-once layout
    # strategy as a gated query (plan shape pinned in test_bucketed_join)
    reg["join_bucketed_colocated"] = (
        r.bucketed_join_revenue,
        r.bucketed_join_revenue_oracle(),
    )
    # stats-driven broadcast-vs-shuffle decision: Selinger width model
    # (8B per numeric col + measured mean string lengths) x row count vs
    # the broadcast threshold, executed branch-free with hint-forced
    # subtrees behind decision flags; decision inputs + join aggregates
    # gated (plan shapes of the forced branches pinned in tests)
    from .operators import maintenance as _mnt
    reg["join_strategy_auto"] = (
        _mnt.join_strategy_auto,
        _mnt.join_strategy_auto_oracle(),
    )
    # sort-free argmax (max-of-struct) -- the window-free top-1-per-key
    reg["agg_argmax_latest_event"] = (
        r.latest_event_per_user,
        r.latest_event_per_user_oracle(),
    )
    # ROWS-frame moving aggregate (micro-unit exact inside the frame)
    reg["window_rows_frame_avg"] = (
        r.trailing_orders_avg,
        r.trailing_orders_avg_oracle(),
    )
    # Pareto/ABC concentration analysis over the per-customer aggregate
    reg["window_revenue_pareto"] = (r.revenue_pareto, r.revenue_pareto_oracle())

    # --- interchange sources/sinks (S4/S7 analog; fidelity hash-gated) ---
    from .sources import csvio, jsonl, orcio
    reg["source_jsonl_roundtrip"] = (jsonl.jsonl_roundtrip_stats, jsonl.jsonl_roundtrip_stats_oracle())
    reg["source_csv_roundtrip"] = (csvio.csv_roundtrip_stats, csvio.csv_roundtrip_stats_oracle())
    reg["source_orc_roundtrip"] = (orcio.orc_roundtrip_stats, orcio.orc_roundtrip_stats_oracle())
    # heterogeneous-shard ingestion: parquet+orc+csv unioned with lineage
    reg["source_multi_format_union"] = (
        orcio.multi_format_union_stats,
        orcio.multi_format_union_stats_oracle(),
    )
    reg["sink_partition_pruned"] = (csvio.partition_pruned_stats, csvio.partition_pruned_stats_oracle())
    # the sketch plans the layout, the layout prunes the scan: orders
    # written partitioned by the histogram-derived range_id, scanned with
    # a range filter that resolves to directory pruning; the oracle
    # recomputes the boundary assignment from the flat table
    reg["sink_range_pruned"] = (
        quantiles.range_pruned_scan,
        quantiles.range_pruned_scan_oracle(),
    )
    # 2-D extension of the same layout story: Morton-curve (Z-order) cell
    # ids over (o_totalprice, o_custkey), written partitioned by the cell
    # prefix; a bucket-space box query prunes to the statically-enumerable
    # covered directories and the oracle recomputes grid + interleave
    from .operators import zorder
    reg["sink_zorder_pruned"] = (
        zorder.zorder_pruned_scan,
        zorder.zorder_pruned_scan_oracle(),
    )
    # the locality-optimal curve on the SAME grid/box/fanout: Hilbert cell
    # ids via a driver-computed literal lookup shared by both engines
    # (operators/hilbert.py), plus the measured per-curve read
    # amplification -- the number a layout optimizer actually weighs
    from .operators import hilbert
    reg["sink_hilbert_pruned"] = (
        hilbert.hilbert_pruned_scan,
        hilbert.hilbert_pruned_scan_oracle(),
    )
    reg["layout_curve_compare"] = (
        hilbert.layout_curve_compare,
        hilbert.layout_curve_compare_oracle(),
    )
    # additive schema evolution: mergeSchema read over two shard generations
    from .sources import evolution
    reg["source_schema_evolution"] = (
        evolution.schema_evolution_stats,
        evolution.schema_evolution_stats_oracle(),
    )

    # --- event-sequence analytics (funnel, islands, stream-dedup twin) ---
    reg["funnel_view_click_purchase"] = (analytics.funnel_conversion, analytics.funnel_conversion_oracle())
    # Poisson-bootstrap CI (the distributed bootstrap): B replicate means
    # in one scan via independent per-(row, replicate) Poisson(1) weights
    # from the portable hash, CDF embedded as micro-unit literals -- every
    # weight, replicate mean, and CI bound hash-gates
    reg["agg_bootstrap_ci"] = (
        analytics.bootstrap_ci,
        analytics.bootstrap_ci_oracle(),
    )
    # dense-grid gap-fill: per-type hourly counts with explicit zero rows
    # via sequence()/explode over one broadcast bounds row -- the
    # time-series regularization a naive groupBy silently skips
    reg["window_resample_hourly"] = (
        analytics.resample_hourly,
        analytics.resample_hourly_oracle(),
    )
    reg["window_event_islands"] = (analytics.event_islands, analytics.event_islands_oracle())
    reg["stream_first_event_per_key"] = (analytics.first_event_per_key, analytics.first_event_per_key_oracle())
    reg["window_retention_cohorts"] = (analytics.retention_cohorts, analytics.retention_cohorts_oracle())
    # as-of join (point-in-time correlation): one-shuffle merged-stream
    # last_value fill, cross-validated against DuckDB's NATIVE ASOF JOIN
    reg["join_asof_last_click"] = (analytics.asof_last_click, analytics.asof_last_click_oracle())
    # z-score volume anomalies from exact-integer moments (portable stddev)
    reg["window_anomaly_zscore"] = (
        analytics.event_volume_anomalies,
        analytics.event_volume_anomalies_oracle(),
    )

    # --- event-time windows (batch forms of the streaming queries) ---
    w = stream_windows
    reg["window_tumbling_events"] = (w.tumbling_counts, w.tumbling_counts_oracle())
    # the streaming engine itself under the gate: drain the watermarked
    # stream through a memory sink, compare to the batch-SQL oracle
    reg["stream_tumbling_drained"] = (w.tumbling_counts_drained, w.tumbling_counts_drained_oracle())
    reg["stream_session_drained"] = (w.session_stats_drained, w.session_stats_drained_oracle())
    # built-in streaming dedup (dropDuplicates + watermark) under the gate
    reg["stream_dedup_drained"] = (w.dedup_drained, w.dedup_drained_oracle())
    # O8 incremental counter maintenance drained to final state
    reg["stream_counter_drained"] = (w.counter_drained, w.counter_drained_oracle())
    reg["stream_sliding_drained"] = (w.sliding_counts_drained, w.sliding_counts_drained_oracle())
    # streaming INDEX ingestion: LSH bucket assignment as a streaming
    # stateful aggregation whose drained state == the batch occupancy
    reg["stream_lsh_ingest_drained"] = (w.lsh_ingest_drained, w.lsh_ingest_drained_oracle())
    # streaming SKETCH maintenance: the count-min grid and the Bloom
    # join-pruning bitmap kept current as continuous aggregations; the
    # drained state shares the batch sketch's oracle verbatim
    from .operators import countmin as _cm
    reg["stream_cm_ingest_drained"] = (w.cm_ingest_drained, _cm.cm_counters_oracle())
    # continuous BQ quantizer monitoring: drained per-dimension set-bit
    # populations == batch recompute (threshold-drift / re-train signal)
    reg["stream_bq_ingest_drained"] = (
        w.bq_ingest_drained,
        w.bq_ingest_drained_oracle(),
    )
    reg["stream_bloom_ingest_drained"] = (
        w.bloom_ingest_drained,
        bloom.bloom_bitmap_oracle(),
    )
    # the quantile sketch's grid maintained as a streaming aggregation
    # under the batch sketch's oracle (state bounded by B cells) -- with
    # this every PURE-AGGREGATION sketch member streams: CM, Bloom, hist
    reg["stream_hist_ingest_drained"] = (
        w.hist_ingest_drained,
        quantiles.hist_sketch_oracle(),
    )
    # ... and the HLL register table (pure MAX aggregation, m-bounded
    # state): the cardinality monitor maintained continuously, drained
    # registers under the batch register-table oracle
    from .operators import hll as _hll
    reg["stream_hll_ingest_drained"] = (
        w.hll_ingest_drained,
        _hll.hll_registers_oracle(),
    )
    # ... and the AMS counter vector (pure sum aggregation): the
    # join-size/skew planning statistic maintained continuously, drained
    # state under the batch sketch's oracle verbatim
    from .operators import ams as _ams
    reg["stream_ams_ingest_drained"] = (
        w.ams_ingest_drained,
        _ams.ams_counters_oracle(),
    )
    # streaming ANALYZE: the pure-aggregation column stats (count / nulls
    # / typed min & max) maintained continuously via unpivot + one
    # groupBy(col); state = one row per column (the NDV member streams
    # separately as the stateful bottom-k, stream_kmv_ingest_drained)
    reg["stream_stats_ingest_drained"] = (
        w.stats_ingest_drained,
        w.events_stats_oracle(),
    )
    # ingest-time slice of the Deequ-style constraint audit: the pure-
    # aggregation checks maintained continuously (uniqueness stays batch
    # -- exact distinct state is outside the single-aggregation
    # constraint); tolerance check fires non-vacuously
    reg["stream_audit_ingest_drained"] = (
        w.audit_ingest_drained,
        w.events_audit_oracle(),
    )
    # KMV is NOT a pure aggregation (bottom-k has no built-in streaming
    # agg): applyInPandasWithState holds each shard's k smallest hashes
    # (bounded state), and the read path merges shards by
    # k-smallest-of-union -- the gated rollup protocol fed by a state
    # store; oracle shared with the batch sketch at k = K_MERGE
    from .streaming import stateful as _stateful
    reg["stream_kmv_ingest_drained"] = (
        _stateful.kmv_ingest_drained,
        kmv.kmv_distinct_oracle(k=kmv.K_MERGE),
    )
    # ... and its per-GROUP form: bounded bottom-k state per (group,
    # shard), merged per group on read -- the per-source data-quality
    # rollup running continuously; oracle shared with sketch_kmv_by_group
    reg["stream_kmv_by_group_ingest_drained"] = (
        _stateful.kmv_by_group_ingest_drained,
        kmv.kmv_by_group_oracle(),
    )
    # the STANDING RETRIEVAL QUERY: top-k to a monitored query vector
    # maintained continuously as vectors ingest -- per-shard bottom-k
    # (distance, vec_id) state, merged on read by k-smallest-of-union;
    # oracle shared VERBATIM with the batch exact scan
    reg["stream_knn_ingest_drained"] = (
        _stateful.knn_ingest_drained,
        knn.flat_knn_oracle("cosine", k=10, query_vec_id=0),
    )
    # multiplexed multi-topic source: union of landing dirs with a lineage
    # column, one streaming query, per-topic windows under the gate
    reg["stream_multiplex_drained"] = (
        w.multiplex_counts_drained,
        w.multiplex_counts_drained_oracle(),
    )
    # foreachBatch UPSERT sink: per-batch keyed merge into a parquet state
    # table (atomic swap); final state == batch argmax under the gate
    from .streaming import sinks as stream_sinks
    reg["stream_upsert_drained"] = (
        stream_sinks.upsert_sink_drained,
        stream_sinks.upsert_sink_drained_oracle(),
    )
    # checkpoint-RECOVERY equivalence (VERDICT r8 item 4): stop mid-input,
    # restart from the same checkpoint, gate final state AND the
    # per-epoch ingest total (exactly-once across the restart)
    reg["stream_upsert_restart_drained"] = (
        stream_sinks.upsert_restart_drained,
        stream_sinks.upsert_restart_drained_oracle(),
    )
    # ... and the STATE-STORE half: a complete-mode windowed agg resumed
    # from checkpoint mid-window (the boundary window is only correct if
    # aggregation state survived the restart)
    reg["stream_tumbling_restart_drained"] = (
        stream_sinks.tumbling_restart_drained,
        stream_sinks.tumbling_restart_drained_oracle(),
    )
    # ... and session-window MERGING state across a restart: a session
    # straddling the phase boundary emits ONE merged window only if the
    # recovered open-session state merges with phase-2 arrivals
    reg["stream_session_restart_drained"] = (
        stream_sinks.session_restart_drained,
        stream_sinks.session_restart_drained_oracle(),
    )
    # ... and dropDuplicates KEY state across a restart: each key emits at
    # most once across the whole stream only if the seen-key state
    # survived (a lost row re-emits in phase 2 and flips the per-user
    # distinct-count reduction)
    reg["stream_dedup_restart_drained"] = (
        stream_sinks.dedup_restart_drained,
        stream_sinks.dedup_restart_drained_oracle(),
    )
    # ... and stream-stream JOIN buffer state across a restart (the fifth
    # recovered state type): a click buffered shortly before the phase
    # boundary pairs with its phase-2 purchase only if the join buffer
    # survived -- lost rows drop pairs, re-read files duplicate them
    reg["stream_join_restart_drained"] = (
        stream_sinks.join_restart_drained,
        stream_sinks.join_restart_drained_oracle(),
    )
    reg["window_sliding_events"] = (w.sliding_counts, w.sliding_counts_oracle())
    reg["window_session_events"] = (w.session_stats, w.session_stats_oracle())
    from .streaming import joins as stream_joins
    reg["stream_join_click_purchase"] = (
        stream_joins.click_purchase_batch_join,
        stream_joins.click_purchase_join_oracle(),
    )
    # the actual watermarked stream-stream join drained under the gate
    reg["stream_join_drained"] = (
        stream_joins.click_purchase_join_drained,
        stream_joins.click_purchase_join_drained_oracle(),
    )
    # LEFT OUTER interval join: null emission at min-watermark liveness,
    # made deterministic by sentinel batches (semantics pinned by
    # tests/test_streaming.py::test_left_outer_interval_join_null_emission)
    reg["stream_join_left_drained"] = (
        stream_joins.click_purchase_left_join_drained,
        stream_joins.click_purchase_left_join_drained_oracle(),
    )
    # custom stateful operator (applyInPandasWithState) under the gate:
    # drain the stream, reduce to final per-key state, hash-match batch SQL
    from .streaming import stateful
    reg["stream_stateful_first_event"] = (
        stateful.first_event_drained,
        stateful.first_event_drained_oracle(),
    )
    return _reorder(reg)
