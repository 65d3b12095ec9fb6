#!/usr/bin/env python
"""Generate PLANS.md: physical-plan audit over every registered query
(scale invariants: no cartesian products, no undocumented nested-loop
joins, filter pushdown, column pruning) plus the full
`explain("formatted")` output for the headline bench queries.

Run: python tools/plan_audit.py   (writes /root/repo/PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from copperhead_spark.plans.registry import all_queries
from copperhead_spark.session import get_spark
from copperhead_spark.testing import BNLJ_BASELINES

SF_DIR = os.environ.get("COPPERHEAD_TEST_SF", "/root/testdata/sf0.001")

HEADLINE = [
    "flagship_selection_yield",
    "a6_pricing_summary",
    "j1_star_join_revenue",
    "j4_top2_pivot",
    "a5_weighted_histogram",
    "dedup_minhash_signatures",
]


def main() -> None:
    spark = get_spark(app_name="copperhead-plan-audit", shuffle_partitions=8)
    spark.conf.set("spark.sql.maxMetadataStringLength", "100000")

    rows = []
    formatted: dict[str, str] = {}
    for name, q in sorted(all_queries().items()):
        df = q.builder(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        pushed = bool(re.search(r"PushedFilters: \[[^\]]+\]", plan))
        notes = []
        if "CartesianProduct" in plan:
            notes.append("CARTESIAN")
        if "BroadcastNestedLoopJoin" in plan:
            notes.append(
                "BNLJ (documented brute-force baseline)"
                if name in BNLJ_BASELINES
                else "BNLJ"
            )
        rows.append(
            (
                name,
                "y" if "Exchange" in plan else "-",
                "y" if "BroadcastHashJoin" in plan or "BroadcastExchange" in plan else "-",
                "y" if pushed else "-",
                "y" if "ArrowEvalPython" in plan or "MapInPandas" in plan or "FlatMapGroupsInPandas" in plan else "-",
                "; ".join(notes) or "ok",
            )
        )
        if name in HEADLINE:
            formatted[name] = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("# PLANS — physical-plan audit (generated by tools/plan_audit.py)\n\n")
        f.write(f"Scale factor dir: `{SF_DIR}`. Invariants enforced by `tests/test_plan_audit.py`.\n\n")
        f.write("| query | shuffle | broadcast | pushdown | arrow-udf | audit |\n")
        f.write("|---|---|---|---|---|---|\n")
        for r in rows:
            f.write("| " + " | ".join(r) + " |\n")
        f.write("\n## Headline query plans (`explain formatted`)\n")
        for name, text in formatted.items():
            f.write(f"\n### {name}\n\n```\n{text}\n```\n")
    print(f"PLANS.md written: {len(rows)} queries audited")


if __name__ == "__main__":
    main()
