#!/usr/bin/env python
"""Dump .explain('formatted') for registry queries.

Usage:
    python tools/explain_dump.py <out_dir> <suffix> q1,q2,...
    python tools/explain_dump.py --all OUT

The first form writes <out_dir>/<query>_<suffix>.txt for each named
query (plan evidence for OPTIMIZATION rounds: capture the plan shape —
Exchange count, join strategy, PushedFilters/ReadSchema,
BatchEvalPython nodes — before and after each change).

``--all OUT`` builds every registry query in name order in one session
and writes all their formatted plans to the single file OUT, each
normalized (:func:`normalize`) so that two checkouts' files compare
with a plain ``diff``: an empty diff means every physical plan is the
same.  The data directory is ``$ISO_SF_DIR`` (default sf0.1).
"""
from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tajo_spark.queries.registry import all_queries  # noqa: E402
from tajo_spark.session import build_spark  # noqa: E402

# The field names of operators/similarity.py's anchor structs (and of
# the columns those fields are built from).  They carry no meaning of
# their own, so they are renumbered like lambda variables: a consistent
# renaming of them does not change a plan.
ANCHOR_FIELDS = (
    "seed_id", "sv", "sn", "coarse_id", "cv", "cn", "centroid_id",
    "q_id", "qv", "qn",
)

_FIXED = [
    # a Scan ExistingRDD's RDD id and call site
    (re.compile(r"\w*RDD\[\d+\] at \S+ at \S+:\d+"), "RDD"),
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id]"),
    (re.compile(r"(/tmp/tajo_spark_\w*?_)\w+"), r"\1X"),
]
_FIRST = [
    (re.compile(r"#\d+\b"), "#"),
    (re.compile(r"\blambda \w+?_\d+\b"), "lambda L"),
    (re.compile(r"\b(?:" + "|".join(ANCHOR_FIELDS) + r")\b"), "F"),
]


def normalize(plan: str, root: str = ROOT) -> str:
    """One formatted plan with its run-specific tokens removed:
    expression ids, RDD ids and call sites, exchange ``plan_id``s,
    ``/tmp/tajo_spark_*`` suffixes and the checkout path.  Expression
    ids, lambda-variable names and anchor-struct field names are
    renumbered in order of first occurrence in the plan."""
    plan = plan.replace(root, "<ROOT>")
    for pat, rep in _FIXED:
        plan = pat.sub(rep, plan)
    for pat, prefix in _FIRST:
        seen: dict[str, int] = {}
        plan = pat.sub(
            lambda m: f"{prefix}{seen.setdefault(m.group(0), len(seen))}",
            plan,
        )
    return plan


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def dump_all(out_path: str, sf_dir: str) -> None:
    spark = build_spark(app_name="explain_dump")
    reg = all_queries()
    with open(out_path, "w") as f:
        for name in sorted(reg):
            try:
                plan = normalize(formatted_plan(reg[name].spark(spark, sf_dir)))
            except Exception as e:  # a query that fails to build is a plan too
                plan = f"ERROR {type(e).__name__}: {e}\n"
                print(f"{name}: {plan}", file=sys.stderr, end="")
            f.write(f"===== {name}\n{plan}\n")
    spark.stop()


def main() -> None:
    sf_dir = os.environ.get("ISO_SF_DIR", "/root/testdata/sf0.1")
    if sys.argv[1] == "--all":
        dump_all(sys.argv[2], sf_dir)
        return
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3].split(",")
    os.makedirs(out_dir, exist_ok=True)
    spark = build_spark(app_name="explain_dump")
    reg = all_queries()
    for name in names:
        plan = formatted_plan(reg[name].spark(spark, sf_dir))
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan)} chars, {n_ex} Exchange", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
