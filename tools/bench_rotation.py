#!/usr/bin/env python
"""Rotation bench for the registry queries OUTSIDE bench.py's headline
set (VERDICT r10 task 7): the driver bench wall-clocks 133 of the 215
registry queries every round; the remaining ~82 (micro operator-
correctness shapes — fn_*/agg_*/join_*/src_* and friends) were
hash-gated for correctness but never measured, so a perf regression in
one of them was invisible until it hit a driver round.

This tool measures ALL of them with the driver bench's own protocol
and kernel (tajo_spark/profile.py: sf0.001 two-pass codegen warmup,
then min-of-2 noop-sink walls at the measured SF) and merges the
walls into ``bench_rotation.json`` (tracked), stamping each entry with the in-progress round number
(max BENCH_r*.json + 1). tools/audit_coverage.py rule 5 fails CI when
any registry query's most recent wall row — driver bench or rotation —
is more than 2 rounds stale, so "bench the long tail" can't silently
lapse. Movers vs the previous rotation (>1.5x either way) are printed
for adjudication, mirroring the VERDICT's per-round bench diff.

Usage: python tools/bench_rotation.py [--sf-dir /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

ROTATION_FILE = os.path.join(REPO, "bench_rotation.json")


def current_round() -> int:
    """The in-progress round: one past the newest driver bench
    artifact (the driver writes BENCH_r{N}.json after the build)."""
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(REPO, "BENCH_r*.json"))
        if (m := re.search(r"BENCH_r(\d+)\.json$", p))
    ]
    return (max(rounds) + 1) if rounds else 1


def rotation_names() -> list[str]:
    import bench
    from tajo_spark.queries.registry import all_queries

    registry = all_queries()
    headline = set(bench.HEADLINE)
    return [n for n in sorted(registry) if n not in headline]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir", default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
        )
    )
    args = ap.parse_args()

    from tajo_spark import profile
    from tajo_spark.queries.registry import all_queries
    from tajo_spark.session import build_spark

    spark = build_spark(app_name="tajo_spark_bench_rotation")
    registry = all_queries()
    names = rotation_names()
    rnd = current_round()

    warm_dir = os.path.join(
        os.path.dirname(args.sf_dir.rstrip("/")), "sf0.001"
    )
    errors: dict[str, str] = {}
    if os.path.isdir(warm_dir):
        builds = {n: partial(registry[n].spark, spark, warm_dir) for n in names}
        errors = {n: e[:200] for n, e in profile.warm(spark, builds).items()}

    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            if name in errors:
                continue
            build = partial(registry[name].spark, spark, args.sf_dir)
            try:
                t = round(profile.run(spark, build).wall_s, 3)
            except Exception as exc:
                errors[name] = str(exc)[:200]
                continue
            timings[name] = min(timings.get(name, t), t)

    try:
        with open(ROTATION_FILE) as f:
            prev = json.load(f)
    except Exception:
        prev = {}
    movers = []
    for name, wall in timings.items():
        old = prev.get(name, {}).get("wall")
        if old and old > 0.15 and wall > 0.15:
            r = wall / old
            if r > 1.5 or r < 1 / 1.5:
                movers.append((name, old, wall, round(r, 2)))
        prev[name] = {
            "wall": wall,
            "round": rnd,
            "ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
        }
    with open(ROTATION_FILE, "w") as f:
        json.dump(prev, f, indent=1, sort_keys=True)

    total = round(sum(timings.values()), 2)
    for name, old, new, r in sorted(movers, key=lambda m: -m[3]):
        print(f"  mover {name}: {old:.2f}s -> {new:.2f}s ({r}x)")
    print(
        json.dumps(
            {
                "metric": "rotation_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "round": rnd,
                "errors": errors,
                "movers": len(movers),
            }
        )
    )
    spark.stop()
    sys.exit(1 if errors else 0)


if __name__ == "__main__":
    main()
