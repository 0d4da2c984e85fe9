"""Uniform-pandas aggregation fallback for mixed UDAF queries.

The reference evaluates Python UDAFs and built-in aggregates in the
same per-group loop (PythonAggFunctionInvoke.java alongside
AggregationFunctionCallEval), so queries freely mix them:

    select avgpy(n_nationkey), avg(n_nationkey), countpy() from nation

Spark's aggregation planner refuses to place a grouped-agg pandas UDF
and a JVM aggregate in the same Aggregate node
(INVALID_PANDAS_UDF_PLACEMENT). Rather than reject those queries, the
engine retries them with every *built-in* aggregate rewritten to a
pandas twin, making the whole aggregation uniform on the Arrow path.
Cost: the rewritten aggregates lose whole-stage codegen and partial
(map-side) aggregation for that one query — acceptable for a fallback
that only fires on the mixed case; unmixed queries never take it.

Also bridges the reference's zero-argument UDAF protocol: Tajo allows
``countpy()`` (controller.py feeds it whole rows); Spark's pandas UDAFs
need at least one column, so registered zero-arg UDAF calls get a
constant argument injected (``countpy(1)``) — the example UDAFs count
series size, not non-null values, so any constant is equivalent.

Numeric-only twins: avg/sum/min/max return DOUBLE (exact for integers
below 2^53), counts return BIGINT. A mixed query whose built-in
aggregates need non-numeric inputs (e.g. max over strings) still
fails — no silent wrong answers.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

# Names of grouped-agg pandas UDAFs registered by the python_udf
# loader; zero-arg calls of exactly these names get the constant
# injected (never touches built-ins or unknown functions).
LOADED_AGGREGATES: set[str] = set()

MIXED_PLACEMENT_ERROR = "INVALID_PANDAS_UDF_PLACEMENT"

_TWINS: dict[str, tuple[str, object]] = {
    "__pd_avg": ("double", lambda s: None if s.count() == 0 else float(s.mean())),
    "__pd_sum": ("double", lambda s: None if s.count() == 0 else float(s.sum())),
    "__pd_min": ("double", lambda s: None if s.count() == 0 else float(s.min())),
    "__pd_max": ("double", lambda s: None if s.count() == 0 else float(s.max())),
    # count(x): non-null; count(*) → __pd_count_all over a constant
    "__pd_count": ("bigint", lambda s: int(s.count())),
    "__pd_count_all": ("bigint", lambda s: int(s.size)),
    "__pd_sum_distinct": (
        "double",
        lambda s: (lambda d: None if d.count() == 0 else float(d.sum()))(
            s.drop_duplicates()
        ),
    ),
    "__pd_avg_distinct": (
        "double",
        lambda s: (lambda d: None if d.count() == 0 else float(d.mean()))(
            s.drop_duplicates()
        ),
    ),
    "__pd_count_distinct": ("bigint", lambda s: int(s.dropna().nunique())),
}


def register_twins(spark: SparkSession) -> None:
    """Register the twins on ``spark`` unless they are there already.
    Called when the fallback first fires on a session, so sessions that
    never mix aggregates never pay for the nine registrations."""
    if spark.catalog.functionExists(next(iter(_TWINS))):
        return
    for name, (ret, fn) in _TWINS.items():
        def make(f):
            # Series → scalar hint marks this as a grouped-agg UDF;
            # the declared `ret` string governs the SQL type.
            def agg(s: pd.Series) -> float:
                return f(s)
            return agg
        spark.udf.register(name, pandas_udf(make(fn), ret))


# order matters: DISTINCT forms before the plain forms
_REWRITES: list[tuple[re.Pattern, str]] = [
    (re.compile(r"\bcount\s*\(\s*\*\s*\)", re.IGNORECASE), "__pd_count_all(1)"),
    (re.compile(r"\bcount\s*\(\s*distinct\s+", re.IGNORECASE),
     "__pd_count_distinct("),
    (re.compile(r"\bsum\s*\(\s*distinct\s+", re.IGNORECASE),
     "__pd_sum_distinct("),
    (re.compile(r"\bavg\s*\(\s*distinct\s+", re.IGNORECASE),
     "__pd_avg_distinct("),
    (re.compile(r"\bavg\s*\(", re.IGNORECASE), "__pd_avg("),
    (re.compile(r"\bsum\s*\(", re.IGNORECASE), "__pd_sum("),
    (re.compile(r"\bmin\s*\(", re.IGNORECASE), "__pd_min("),
    (re.compile(r"\bmax\s*\(", re.IGNORECASE), "__pd_max("),
    (re.compile(r"\bcount\s*\(", re.IGNORECASE), "__pd_count("),
]


def rewrite_uniform_pandas(sql: str) -> str:
    """Rewrite built-in aggregate calls to their pandas twins.

    Applied to the whole statement (subqueries included) — uniformity
    is the point; a subquery's ``avg`` running on the Arrow path is
    semantically identical. String literals are left untouched.
    """
    from tajo_spark.plans.dialect import _outside_strings

    def rw(segment: str) -> str:
        for pat, repl in _REWRITES:
            segment = pat.sub(repl, segment)
        return segment

    return _outside_strings(sql, rw)


def inject_zero_arg_constants(sql: str) -> str:
    """``countpy()`` → ``countpy(1)`` for loaded pandas UDAFs only."""
    if not LOADED_AGGREGATES:
        return sql
    from tajo_spark.plans.dialect import _outside_strings

    names = "|".join(re.escape(n) for n in sorted(LOADED_AGGREGATES))
    pat = re.compile(rf"\b({names})\s*\(\s*\)", re.IGNORECASE)
    return _outside_strings(sql, lambda s: pat.sub(r"\1(1)", s))
