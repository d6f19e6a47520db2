#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan audit of every driver query.

For each __spark_entry__ query at sf0.01: executed (AQE-final) plan →
scan ReadSchema columns, PushedFilters, broadcast/sort-merge join
counts, Python-eval presence, TakeOrderedAndProject.  The audit is the
100 TB posture check — column pruning + filter pushdown + broadcast
dims + JVM-only relational paths.
"""

from __future__ import annotations

import os
import re
import sys


def audit(plan: str) -> list[str]:
    lines = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = ",".join(c.split(":")[0] for c in m.group(1).split(",") if c)
        lines.append(f"- scan columns: `{cols}`")
    pushed = set()
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            pushed.add(m.group(1).strip())
    for p in sorted(pushed):
        lines.append(f"- pushed filters: `{p}`")
    bhj = len(re.findall(r"BroadcastHashJoin", plan))
    smj = len(re.findall(r"SortMergeJoin", plan))
    py = (
        "PYTHON IN PLAN"
        if re.search(r"ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas", plan)
        else "no Python in plan"
    )
    topk = "; TakeOrderedAndProject" if "TakeOrderedAndProject" in plan else ""
    lines.append(f"- joins: {bhj} broadcast, {smj} sort-merge; {py}{topk}")
    return lines


def plan_nodes(node):
    """Every node of a JVM physical plan, descending through AQE's
    adaptive root and query stages."""
    kind = node.getClass().getSimpleName()
    if kind == "AdaptiveSparkPlanExec":
        yield from plan_nodes(node.executedPlan())
        return
    yield node
    if kind.endswith("QueryStageExec"):
        yield from plan_nodes(node.plan())
    children = node.children()
    for i in range(children.size()):
        yield from plan_nodes(children.apply(i))


def join_output_rows(df) -> list[int]:
    """``numOutputRows`` of each join in ``df``'s executed plan, root
    first; read after an action on ``df`` itself (``collect``, not
    ``count``, which plans a new query)."""
    return [
        n.metrics().apply("numOutputRows").value()
        for n in plan_nodes(df._jdf.queryExecution().executedPlan())
        if "Join" in n.getClass().getSimpleName()
    ]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from powerbi_ontology_extractor_spark import get_spark

    spark = get_spark(app_name="plan-audit", parallelism=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical-plan audit of the driver queries",
        "",
        "Generated by `python plan_audit.py` from the AQE-final",
        "`executedPlan` at sf0.01.  What to look for, per the 100 TB",
        "posture: column-pruned `ReadSchema`, `PushedFilters` reaching the",
        "parquet scan, broadcast joins for dim-sized sides, no Python in",
        "relational paths, TakeOrderedAndProject for top-k.  The kg_*",
        "pipeline plans legitimately contain ArrowEvalPython — the DAX",
        "rule-extraction and MinHash UDFs are Arrow-batched by design.",
        "",
    ]
    for name, fn in sorted(entry.queries().items()):
        df = fn(spark, sf_dir)
        df.count()  # drive AQE to the final plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"## {name}")
        out.extend(audit(plan))
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
