"""Generate PLANS.md: a physical-plan skeleton per headline query,
so plan quality (pushdown / broadcast / partial agg / TakeOrdered)
is reviewable without running Spark.

    python tools/dump_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

NODE_RE = re.compile(
    r"^(?P<indent>[\s:+*-]*)(?P<node>(?:\*\(\d+\)\s*)?[A-Za-z][A-Za-z0-9]+)"
)

KEEP = (
    "Scan", "FileScan", "Filter", "Project", "HashAggregate", "SortAggregate", "Exchange",
    "BroadcastExchange", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
    "SortMergeJoin", "ShuffledHashJoin", "TakeOrderedAndProject", "Sort",
    "Window", "Expand", "Generate", "GlobalLimit", "LocalLimit", "Union",
    "ObjectHashAggregate", "MapInPandas", "FlatMapGroupsInPandas", "AQEShuffleRead",
)


def skeleton(plan: str, max_lines: int = 28) -> list[str]:
    out = []
    for line in plan.splitlines():
        m = NODE_RE.match(line)
        if not m:
            continue
        node = m.group("node").split("(")[-1] if "*(" in m.group("node") else m.group("node")
        node = node.strip("* ")
        if not any(node.startswith(k) for k in KEEP):
            continue
        depth = len(m.group("indent"))
        extra = ""
        if "PushedFilters: [" in line:
            extra = "  " + line.split("PushedFilters:", 1)[1].strip()[:80]
        if node.startswith("Scan"):
            cols = re.search(r"ReadSchema: struct<([^>]*)", line)
            if cols:
                names = [c.split(":")[0] for c in cols.group(1).split(",") if c]
                extra += f"  cols=[{', '.join(names[:6])}{'…' if len(names) > 6 else ''}]"
        out.append(" " * min(depth, 12) + node + extra)
        if len(out) >= max_lines:
            out.append("  …")
            break
    return out


def main() -> None:
    from bench import BENCH_QUERIES
    from hive_hdfs_practise_spark import plans
    from hive_hdfs_practise_spark.session import get_spark

    spark = get_spark("dump-plans")
    sf = "/root/testdata/sf0.001"
    lines = [
        "# PLANS — physical-plan skeletons of the headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (sf0.001, AQE final",
        "plans not expanded — shapes match what runs at scale). Shows",
        "scan pushdown/pruning, join strategy, aggregation phases.",
        "",
    ]
    for name in BENCH_QUERIES:
        df = plans.QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        lines.append(f"## {name}\n")
        lines.append("```")
        lines.extend(skeleton(plan))
        lines.append("```\n")
    with open(f"{REPO}/PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(BENCH_QUERIES)} queries)")


if __name__ == "__main__":
    main()
