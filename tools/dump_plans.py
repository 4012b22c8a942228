"""Dump explain('formatted') for the headline queries into PLANS.md.

The perf discipline made auditable: for each headline query, the
physical plan (post-planning) plus the counters the engine optimizes
for — shuffle exchanges, broadcast joins, cartesian presence, pushed
filters. Regenerate after plan-shape changes:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from capstone_etl_spark.plans import (
    ALLOWED_CARTESIAN,
    HEADLINE,
    broadcast_hash_join_count,
    exchange_count,
    formatted_plan,
    has_cartesian,
)
from capstone_etl_spark.session import get_spark

# Hand-written sections below this marker survive regeneration (the
# bench regression notes are history; the allowlist bench.py gates on
# is its REGRESSION_OK constant).
PRESERVE_MARKER = "## Bench regression notes"


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("plans", cpus=8, shuffle_partitions=8)
    qs = entrymod.queries()
    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        f"Generated by tools/dump_plans.py at {sf_dir} "
        "(post-planning, AQE root; regenerate after plan changes).",
        "",
        "Note: `cartesian: True` is allowed ONLY for the queries in",
        "capstone_etl_spark/plans/contracts.py ALLOWED_CARTESIAN — each a",
        "deliberate bounded broadcast (1-row scalar aggregates replacing",
        "eager driver-side .count()/.collect(), or a ≈√N / sketch-sized",
        "build side), never a pairwise blow-up. The list is enforced by",
        "tests/test_plans.py::test_cartesian_allowlist. Allowed entries:",
        "",
    ]
    for qname, reason in sorted(ALLOWED_CARTESIAN.items()):
        out.append(f"- `{qname}`: {reason}")
    out.append("")
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        out.append(f"## {name}")
        out.append("")
        out.append(
            f"- shuffle exchanges: {exchange_count(df)} | broadcast hash joins: "
            f"{broadcast_hash_join_count(df)} | cartesian: {has_cartesian(df)}"
        )
        out.append("")
        out.append("```")
        plan = formatted_plan(df)
        # keep the operator tree; trim the verbose per-node details
        tree = plan.split("\n\n")[0]
        out.append(tree.strip())
        out.append("```")
        out.append("")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    preserved = ""
    if os.path.exists(path):
        old = open(path).read()
        idx = old.find(PRESERVE_MARKER)
        if idx >= 0:
            preserved = old[idx:]
    with open(path, "w") as f:
        f.write("\n".join(out))
        if preserved:
            f.write("\n" + preserved)
    print(f"wrote PLANS.md ({len(HEADLINE)} queries, preserved={bool(preserved)})")


if __name__ == "__main__":
    main()
