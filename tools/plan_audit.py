"""Generate PLANS.md: a physical-plan audit of every registered query.

For each query, build the plan at the given sf_dir (no execution beyond
what plan construction itself requires) and summarize the properties
that matter at 100 TB: shuffle count, join strategies, scan filter
pushdown, and whole-stage-codegen coverage. The artifact makes plan
regressions (a broadcast silently becoming a sort-merge, a filter
falling out of a scan) reviewable in diffs.

Plans are built on a fixed ``local[AUDIT_CPUS]`` session whatever the
host or ``SPARK_GRAFT_CPUS``/``SPARK_GRAFT_MASTER`` say: shuffle width and
scan splits follow the core count, and some join choices with them, so
a host-sized session would rewrite rows of queries that did not change.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SKIP_PREFIXES = ("streaming_",)  # streaming queries execute on build
AUDIT_CPUS = 32  # the core count every committed PLANS.md was planned at


def _unpartitioned_ordered_windows(plan: str) -> int:
    """Count Window nodes with an ORDER BY but NO partition spec — the
    single-partition global-sort class (the r15 verdict's one
    scale-killer, `quality_gate_recalibrate`'s old merged rank). A
    Window line prints as ``Window [exprs], [part], [order]`` (3
    top-level bracket groups) when partitioned; 2 groups means either
    [exprs], [order] (unpartitioned ordered — counted) or
    [exprs], [part] (partition-only running total — benign, no global
    sort), distinguished by ASC/DESC tokens in the second group. The
    count is 0 for most queries; nonzero rows must sit on the
    bounded-input allowlist pinned in tests/test_plan_invariants.py
    (top-k-capped ranks, per-partition offset tables, day-grain
    frames)."""
    n = 0
    for ln in plan.splitlines():
        s = ln.strip().lstrip("+-*: ")
        if not s.startswith("Window "):
            continue
        groups, depth, cur = [], 0, ""
        for ch in s[len("Window "):]:
            if ch == "[":
                depth += 1
                if depth == 1:
                    cur = ""
                    continue
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    continue
            if depth >= 1:
                cur += ch
        if len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1]):
            n += 1
    return n


def summarize(plan: str) -> dict[str, int]:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "python": plan.count("ArrowEvalPython")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInPandas")
        + plan.count("BatchEvalPython"),
        "uwin": _unpartitioned_ordered_windows(plan),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from lakehouse_workshop_spark import get_spark
    from lakehouse_workshop_spark.operators import all_queries

    os.environ["SPARK_GRAFT_CPUS"] = str(AUDIT_CPUS)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    spark = get_spark(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    lines = [
        "# Physical-plan audit (generated by tools/plan_audit.py — do not edit)",
        "",
        f"Plans built against `{sf_dir}` on `local[{AUDIT_CPUS}]`. "
        "Columns: shuffle exchanges, broadcast-hash / sort-merge / "
        "shuffled-hash / broadcast-nested-loop joins, cartesian products, scans with pushed "
        "filters, Python (Arrow) boundaries, unpartitioned ORDERED windows "
        "(uwin — the single-partition global-sort class; nonzero rows must "
        "sit on the bounded-input allowlist in tests/test_plan_invariants.py). "
        "Plans are pre-AQE (codegen "
        "fusion and runtime join demotions resolve at execution). "
        "Streaming queries are omitted (plan construction executes them); "
        "`row-at-a-time Python` must stay zero everywhere.",
        "",
        "| query | exch | BHJ | SMJ | SHJ | BNLJ | cart | pushed | py | uwin |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, fn in all_queries().items():
        if name.startswith(SKIP_PREFIXES):
            continue
        try:
            df = fn(spark, sf_dir)
            s = summarize(df._jdf.queryExecution().executedPlan().toString())
        except Exception as exc:  # pragma: no cover - audit robustness
            lines.append(f"| {name} | plan-error: {type(exc).__name__} | | | | | | | | |")
            continue
        lines.append(
            f"| {name} | {s['exchanges']} | {s['bhj']} | {s['smj']} | {s['shj']} "
            f"| {s['bnlj']} | {s['cartesian']} | {s['pushed']} | {s['python']} "
            f"| {s['uwin']} |"
        )
    # Source-hash footer: the same change-atomicity rule that governs
    # DRIVER_ORDER. tests/test_registry.py::test_plans_md_current compares
    # every audited query's CURRENT governed hash (docstring-free AST of
    # the transitive closure, plus the oracle SQL; srchash.py) against
    # these, so neither a query rewrite nor a shared-helper edit can ship
    # without regenerating the affected plan rows.
    from lakehouse_workshop_spark.srchash import registry_hash

    lines.append("")
    lines.append("<!-- source hashes (governance: test_plans_md_current) -->")
    for name in all_queries():
        if name.startswith(SKIP_PREFIXES):
            continue
        lines.append(f"<!-- hash {name} {registry_hash(name)} -->")
    out = Path(__file__).resolve().parent.parent / "PLANS.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(lines)} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
