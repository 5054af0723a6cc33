"""Dump .explain("formatted") for named registry queries to plans/rNN/.

Usage: python tools/dump_plans.py <suffix> query [query ...]
Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (default r14)
for each query, at $SPARK_GRAFT_SF_DIR (default sf0.1) — the bench
scale, so the committed plan matches the claims in OPTIMIZATION_rNN.md.

Compare two dumps only when each came from a fresh session that built
the same query list in the same order. Formatted plans carry
expression ids, and some operators order by them: an Expand lists its
``count_distinct`` groups in expression-id order, so the same code
prints a different plan after other queries have run in the session.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
    )
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as e
    from randas_spark.session import get_spark

    spark = get_spark("dump_plans")
    qs = e.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} B)", file=sys.stderr)


if __name__ == "__main__":
    main()
