#!/usr/bin/env python
"""Isolation-protocol measurement (PERF_BUDGET.md's method, made
reproducible): for each named registry query — solo process, per-query
sf0.001 codegen warmup x2, JVM gc + settle (``profile.warm``), then 3
runs at sf0.1 through the noop sink (``profile.run``), each with its
wall and its Spark job count.  ``best`` is the number budget rows are
set from; the driver bench's min-of-2-in-a-133-query-process sits
above it by the host factor.

Run 1 is the cold run: it includes one-time per-process builds such
as the persisted-index memo; runs 2-3 are the steady state the
bench's min-of-2 reports.  Job counts are exact evidence for
fold-the-pre-jobs optimizations where a wall at these magnitudes is
±0.3 s of host noise.

Usage: python tools/iso_bench.py q1,q2,...   → one JSON line
{"name": {"best": s, "walls": [s, s, s], "jobs": [N, N, N]}, ...}
"""
from __future__ import annotations

import json
import os
import sys
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tajo_spark import profile  # noqa: E402
from tajo_spark.queries.registry import all_queries  # noqa: E402
from tajo_spark.session import build_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 2 or not sys.argv[1].strip():
        print(__doc__, file=sys.stderr)
        raise SystemExit(2)
    names = sys.argv[1].split(",")
    warm_dir = os.environ.get("ISO_WARM_DIR", "/root/testdata/sf0.001")
    sf_dir = os.environ.get("ISO_SF_DIR", "/root/testdata/sf0.1")
    spark = build_spark(app_name="iso_bench")
    reg = all_queries()
    out = {}
    for name in names:
        spec = reg[name]
        warm = {name: partial(spec.spark, spark, warm_dir)}
        for exc in profile.warm(spark, warm).values():
            print(f"warmup {name}: {exc}", file=sys.stderr)
        runs = [
            profile.run(spark, partial(spec.spark, spark, sf_dir))
            for _ in range(3)
        ]
        walls = [round(r.wall_s, 3) for r in runs]
        out[name] = {
            "best": min(walls),
            "walls": walls,
            "jobs": [r.jobs for r in runs],
        }
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
