"""The one measurement kernel shared by ``bench.py`` and the tools.

A measured run writes a query's DataFrame to the noop sink, so the
wall covers the whole distributed plan and no driver-side result
transfer (the reference's harness shape: BenchmarkSet.perform,
tajo-core/.../benchmark/BenchmarkSet.java:115-129, a wall clock around
executeQuery). The wall includes building the DataFrame, because many
callables run jobs while they build. Each run counts its Spark jobs
under a fresh job group: at these magnitudes a wall is ±0.3 s of host
noise, a job count is exact. Blocks the run persists are released when
it ends, so run N+1 never pays for run N's storage memory.

Best-of-N stays with the caller, as ``min`` over ``run`` calls.
"""

from __future__ import annotations

import time
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from tajo_spark.session import released_checkpoints

# Settle after the warm-up: the warm-up executions queue hundreds of
# C2 compilation tasks whose threads otherwise steal cycles from the
# first measured runs (dedup_simhash measured 5.0 s right after a
# bench warm-up vs 1.2 s settled).
SETTLE_S = 8


class Run(NamedTuple):
    wall_s: float
    jobs: int


def run(spark: SparkSession, build: Callable[[], DataFrame]) -> Run:
    """Build the DataFrame and write it to the noop sink; return the
    wall from the start of ``build`` to the end of the write, and the
    number of jobs submitted in between."""
    sc = spark.sparkContext
    group = f"profile-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "profile.run")
    try:
        with released_checkpoints(spark):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t0
    finally:
        sc.setJobGroup(None, None)
    return Run(wall, len(sc.statusTracker().getJobIdsForGroup(group)))


def warm(
    spark: SparkSession,
    builds: dict[str, Callable[[], DataFrame]],
    passes: int = 2,
) -> dict[str, str]:
    """Run every build ``passes`` times, then gc the JVM and settle
    for ``SETTLE_S``. Returns ``{name: error}`` for the builds that
    raised; a warm-up failure never stops the caller.

    Warm on the smallest SF: generated code depends on the plan, not
    the data, so the codegen cache carries over to the measured SF
    while its data stays untouched. The second pass runs against a hot
    cache and gives the C2 JIT a profile to finish tiering (tpch_q2
    measured 7.4 s after one pass vs ~1.6 s after two)."""
    errors: dict[str, str] = {}
    for _ in range(passes):
        for name, build in builds.items():
            try:
                run(spark, build)
            except Exception as exc:  # recorded for the caller
                errors[name] = str(exc)
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)
    return errors
