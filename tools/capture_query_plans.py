"""Dump `.explain("formatted")` of declared queries to plans/<dir>/.

Usage:
    python tools/capture_query_plans.py <plans_subdir> <suffix> <query> [...]

e.g. `python tools/capture_query_plans.py r18 after betweenness_approx`
writes plans/r18/betweenness_approx_after.txt from the CURRENT tree.
Run it from a worktree checked out at an older commit to capture
`before` plans.  Note: iterative queries execute their rounds during
construction (eager checkpoints), so their full-query plan shows the
final assembly over checkpointed waves — the per-round exchange
evidence lived in hand-built subplan pairs under plans/r16/ and
plans/r17/ (plans/r16/ and plans/r17/ have since been removed; the
numbers recorded in OPTIMIZATION_r16.md and OPTIMIZATION_r17.md stand).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from networkframe_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# plans always land in the MAIN repo, even when run from a worktree
OUT_REPO = os.environ.get("PLANS_REPO", REPO)


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


USAGE = "usage: python tools/capture_query_plans.py <plans_subdir> <suffix> <query> [...]"


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(USAGE)
    subdir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    qs = entry_mod.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries {unknown}\n{USAGE}")
    out = os.path.join(OUT_REPO, "plans", subdir)
    os.makedirs(out, exist_ok=True)
    spark = get_spark("capture_query_plans")
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = formatted_plan(df)
        path = os.path.join(out, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(
            f"{name}_{suffix}: {plan.count('Exchange hashpartitioning')} "
            f"hash exch, {plan.count('InMemoryTableScan')} cached scans"
        )
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
