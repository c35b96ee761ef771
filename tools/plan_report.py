"""Generate PLANS.md: a physical-plan fingerprint for every registered
query — the efficiency evidence trail (exchanges, broadcasts, codegen,
pushdown) at a glance. tests/test_plans.py imports ``iter_plans`` /
``fingerprint`` / ``unpartitioned_windows`` so the report and the
plan-shape regression gate can never disagree.

Usage: python tools/plan_report.py [sf_dir]
``SKIP`` names the keys whose plan is not built: eager or side-effecting
keys and 17 of the live-streaming keys. Every other live key is built —
its stream runs to completion — and the batch DataFrame it returns (the
drained sink plus any batch-side finish) is the plan checked.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Iterator

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKIP = {"stream_window_live", "stream_session_live", "stream_take_live",
        "stream_join_live", "stream_queue_live", "stream_sessionize_live",
        "scan_pystream_live", "stream_agg_complete_live", "stream_sliding_live",
        "stream_dedup_live", "stream_foreach_upsert_live", "stream_prep_live",
        "stream_outer_join_live", "stream_sliding_distinct_live",
        "stream_full_outer_join_live", "stream_agg_update_live",
        "stream_heavy_hitters_live",
        "by_element", "sink_collect", "sink_copy", "sink_discard", "sink_file",
        "sink_csv", "sink_json", "sink_orc", "sink_partitioned", "sink_pysink",
        "sink_compact", "scan_evolved",
        "join_bucketed", "scan_queue", "scan_delegate",
        "kmeans_fit"}  # eager/side-effecting or per-batch plans


def iter_plans(spark, sf_dir: str) -> Iterator[tuple[str, str]]:
    """Yield (qkey, executedPlan string) for every registered batch query.

    The cache is cleared per query: some operators persist() small
    intermediates by design (e.g. lsh_candidate_pairs' signature table),
    and a MATERIALIZED cache entry from an earlier query substitutes an
    InMemoryRelation with real size stats into later identical subtrees,
    flipping broadcast decisions — fingerprints must reflect the
    cold-plan shape, not suite-order cache state."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in sorted(qs):
        if name in SKIP:
            continue
        spark.catalog.clearCache()
        df = qs[name](spark, sf_dir)
        yield name, df._jdf.queryExecution().executedPlan().toString()


def unpartitioned_windows(plan: str) -> list[str]:
    """Window nodes with an EMPTY partition spec — the single-partition
    global-sort trap. A physical Window prints its non-empty spec groups
    as trailing brackets: ``[exprs], [part], [order]`` (3 groups),
    ``[exprs], [part]`` (partition-only — parallel, fine), or
    ``[exprs], [order]`` (order-only — the trap). With <3 groups the
    last group tells them apart: sort directions appear only in an
    ORDER spec, so ``ASC``/``DESC`` there means no partition group."""
    hits = []
    for ln in plan.splitlines():
        t = ln.strip().lstrip("+-: ").strip()
        if not t.startswith("Window "):
            continue
        if t.count("], [") >= 2:
            continue  # [exprs], [part], [order]
        last = t.rsplit("], [", 1)[-1]
        if t.count("], [") == 0 or " ASC " in last or " DESC " in last:
            hits.append(t[:160])
    return hits


def fingerprint(plan: str) -> dict:
    return {
        "ex": plan.count("Exchange hashpartitioning") + plan.count("Exchange rangepartitioning"),
        "bc": plan.count("BroadcastExchange"),
        "smj": plan.count("SortMergeJoin"),
        "wscg": plan.count("WholeStageCodegen"),
        "arrow": (
            plan.count("MapInPandas") + plan.count("ArrowEvalPython")
            + plan.count("FlatMapGroupsInPandas") + plan.count("FlatMapCoGroupsInPandas")
        ),
        "pushf": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        "prune": "ReadSchema" in plan,
        "unpart_windows": len(unpartitioned_windows(plan)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from flod_spark.session import get_spark

    spark = get_spark("plans", cpus=8, shuffle_partitions=8)
    lines = [
        "# PLANS — physical-plan fingerprints (generated by tools/plan_report.py)",
        "",
        f"One row per registered query at `{sf_dir}`; eager/side-effecting and",
        "per-micro-batch (live streaming) queries are omitted. Abbreviations:",
        "Ex=shuffle exchanges, Bc=broadcast exchanges/joins, SMJ=sort-merge joins,",
        "WSCG=whole-stage-codegen spans, PyArrow=Arrow-batched Python stages,",
        "PushF=scan has pushed filters, Prune=scan reads a column subset,",
        "UW=unpartitioned Window nodes (tests/test_plans.py pins this to 0).",
        "",
        "| qkey | Ex | Bc | SMJ | WSCG | PyArrow | PushF | Prune | UW |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    n = 0
    for name, p in iter_plans(spark, sf_dir):
        f = fingerprint(p)
        lines.append(
            f"| `{name}` | {f['ex']} | {f['bc']} | {f['smj']} | {f['wscg']} | {f['arrow']} | "
            f"{'y' if f['pushf'] else '-'} | {'y' if f['prune'] else '-'} | {f['unpart_windows']} |"
        )
        n += 1
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    open(out, "w").write("\n".join(lines) + "\n")
    print(f"wrote {out} ({n} queries)")


if __name__ == "__main__":
    main()
