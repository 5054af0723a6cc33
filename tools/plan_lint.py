"""Physical-plan antipattern lint over EVERY registry query.

The per-round perf audit reads the most expensive plans by hand; this
automates the part a regex can catch, across all of them, so a new
operator can't ship a scale landmine the headline bench never runs:

- ``CartesianProduct``          — an unbroadcast cross join: O(n·m) rows
  shuffled. Every intended ANN/sketch cross join in this repo broadcasts
  its small side (BroadcastNestedLoopJoin), which is the accepted shape.
- ``BatchEvalPython``           — a row-at-a-time Python UDF in the plan;
  the hot-path policy is built-ins or Arrow-batched pandas_udf
  (``ArrowEvalPython`` / ``FlatMapGroupsInPandas`` / ``MapInPandas``,
  which are fine and expected where registered).
- ``slice(<array>, lambda <var>, <k>)`` — a slice whose start is a bare
  lambda variable: one whole-array copy per position, O(n²) per row
  (functions.text.kgrams builds the same grams in linear time). Strided
  windows (``lambda i * stride + 1``) make ~n/stride slices and pass.

Planning only — no query is executed (operators that checkpoint eagerly
during *construction*, e.g. iterative connected components, still run
their build-time jobs).

Exceptions must be EXPLICIT: add (query, pattern) to ALLOW with a reason.
An empty finding list is the contract; tests/test_plan_lint.py enforces
it at sf0.001 and this tool runs standalone at any sf dir.

Usage: python tools/plan_lint.py [sf_dir] [query ...]
Prints one JSON line {"n_queries": N, "findings": [...], "allowed": [...]}.
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_LAMBDA_VAR = re.compile(r"lambda \w+(#\d+)?")


def _top_level_args(plan: str, open_at: int) -> list[str]:
    """Arguments of the call whose '(' is at ``open_at``, split on the
    commas at its own parenthesis depth."""
    args, depth, start = [], 0, open_at + 1
    for i in range(open_at, len(plan)):
        c = plan[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return args + [plan[start:i].strip()]
        elif c == "," and depth == 1:
            args.append(plan[start:i].strip())
            start = i + 1
    return args


def per_position_slice(plan: str) -> bool:
    """True if some ``slice(arr, start, len)`` in ``plan`` starts at a
    bare lambda variable. The start is read as the second-to-last
    argument, so a raw ',' literal inside the array argument (plans print
    string literals unquoted) cannot shift it."""
    for m in re.finditer(r"\bslice\(", plan):
        args = _top_level_args(plan, m.end() - 1)
        if len(args) >= 3 and _LAMBDA_VAR.fullmatch(args[-2]):
            return True
    return False


#: plan pattern -> (matcher over the plan string, why it is suspect at 100 TB)
PATTERNS = {
    "CartesianProduct": (
        lambda plan: "CartesianProduct" in plan,
        "unbroadcast cross join (O(n*m) shuffle)",
    ),
    "BatchEvalPython": (
        lambda plan: "BatchEvalPython" in plan,
        "row-at-a-time Python UDF (use pandas_udf/built-ins)",
    ),
    "slice(<array>, lambda <var>, <k>)": (
        per_position_slice,
        "per-position slice in a lambda: O(n^2) per row (use functions.text.kgrams)",
    ),
}

#: (query, pattern) -> reason this occurrence is by design
ALLOW: dict[tuple[str, str], str] = {}


def lint(spark, qs, sf_dir: str, names: list[str]):
    findings, allowed, errors = [], [], []
    for name in names:
        try:
            df = qs[name](spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 - lint must visit every query
            errors.append({"query": name, "error": str(ex)[:200]})
            continue
        for pat, (matches, why) in PATTERNS.items():
            if matches(plan):
                row = {"query": name, "pattern": pat, "why": why}
                if (name, pat) in ALLOW:
                    row["reason"] = ALLOW[(name, pat)]
                    allowed.append(row)
                else:
                    findings.append(row)
    return findings, allowed, errors


def main() -> int:
    args = sys.argv[1:]
    sf_dir = (
        args.pop(0)
        if args and os.path.isdir(args[0])
        else "/root/testdata/sf0.01"
    )
    import __spark_entry__ as e
    from randas_spark.session import get_spark

    spark = get_spark("plan-lint")
    qs = e.queries()
    names = args or list(qs)
    findings, allowed, errors = lint(spark, qs, sf_dir, names)
    print(
        json.dumps(
            {
                "n_queries": len(names),
                "findings": findings,
                "allowed": allowed,
                "errors": errors,
            }
        )
    )
    return 1 if findings or errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
