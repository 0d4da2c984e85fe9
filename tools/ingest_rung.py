#!/usr/bin/env python
"""Sustained-ingest rung for the streaming ANN index (r09 VERDICT
task 6): prove probe latency stays FLAT as micro-batches accumulate,
and that one `compact_index_batches` fold restores the file count without
changing probe results.

Protocol: bootstrap a 20k-vector index (dim 64, 16 centroids), append
100 micro-batches of 200 vectors each (the small-file worst case: one
file per touched (centroid, batch) directory), measure the SAME
shortlist probe (k=10, nprobe=4, median of 5) after 10 / 50 / 100
batches, then compact and re-measure.  Probe cost is bounded by the
probed centroid partitions' ROW count, which grows only with ingested
rows — the flatness claim is that per-row cost doesn't degrade with
file count until the file count dominates task scheduling, and that
compaction removes exactly that overhead.

Every fold also reports the batch directories it removed and the
bytes under ``__batch_id=-1`` after it, from one listing
(`batch_store.batch_dirs`): the bytes each fold rewrites, which grow
with the base while a fold rewrites the whole index.

Usage: python tools/ingest_rung.py [--batches 100]
Prints the markdown rows SCALE.md carries.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--batches", type=int, default=100)
    ap.add_argument("--batch-rows", type=int, default=200)
    ap.add_argument("--boot-rows", type=int, default=20_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument(
        "--auto-every",
        type=int,
        default=None,
        help="arm maybe_compact(compact_every=N) at the head of every "
        "batch — the self-maintaining stream mode (r10 VERDICT task 2); "
        "probes are sampled either side of each fold to show the "
        "sawtooth steady state",
    )
    ap.add_argument(
        "--auto-max-dirs",
        type=int,
        default=None,
        help="arm maybe_compact(max_batch_dirs=M) — the SLO arm a "
        "production stream would actually use (r11 VERDICT task 6): "
        "the fold fires when the FOLDABLE (centroid, batch) leaf-dir "
        "count crosses M, and must re-arm only as new batches "
        "accumulate (foldable count resets to 0 post-fold)",
    )
    args = ap.parse_args()

    import numpy as np

    from tajo_spark.operators.similarity import ivf_q8_shortlist
    from tajo_spark.session import build_spark
    from tajo_spark.streaming import ann_ingest as AI
    from tajo_spark.streaming import batch_store

    spark = build_spark(app_name="ingest_rung")
    rng = np.random.default_rng(42)

    def df(n, id0):
        vecs = rng.standard_normal((n, args.dim))
        return spark.createDataFrame(
            [
                (int(id0 + i), [float(x) for x in vecs[i]])
                for i in range(n)
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )

    qv = [float(x) for x in rng.standard_normal(args.dim)]

    def probe():
        walls = []
        res = None
        for _ in range(5):
            t0 = time.perf_counter()
            res = [
                (r.vec_id, round(r["__q8_cos"], 9))
                for r in ivf_q8_shortlist(
                    spark, index, model, qv, k=10, nprobe=4
                ).collect()
            ]
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls), res

    def base_bytes():
        return sum(
            d.bytes for d in batch_store.batch_dirs(index)
            if d.batch_id == batch_store.BASE
        )

    def nfiles():
        return len(
            glob.glob(index + "/centroid_id=*/__batch_id=*/*.parquet")
        )

    root = tempfile.mkdtemp(prefix="tajo_spark_ingest_rung_")
    index = os.path.join(root, "index")
    model = AI.ivf_ingest_init(df(args.boot_rows, 0), index, n_centroids=16)
    probe()  # codegen warmup

    if args.auto_every:
        # sample either side of every fold: batch id k*N fires the fold
        # at its head, so "after k*N batches" (recorded at the END of
        # batch id k*N - 1) is the sawtooth peak and "after k*N + 1
        # batches" the post-fold trough (base + 1 fresh batch)
        marks = {args.batches}
        for k in range(1, args.batches // args.auto_every + 1):
            marks |= {k * args.auto_every, k * args.auto_every + 1}
    elif args.auto_max_dirs:
        # fold timing is data-dependent (listing threshold), so sample
        # on a fixed cadence and additionally right after each fold
        # (handled in the loop below via dynamic marks)
        marks = set(range(10, args.batches + 1, 10)) | {args.batches}
    else:
        marks = {10, 50, args.batches}
    rows = []
    folds = []
    t_ingest0 = time.perf_counter()
    dirs_trace = []
    for b in range(args.batches):
        if args.auto_every or args.auto_max_dirs:
            if args.auto_max_dirs:
                # record the foldable-dir count the arm compares
                # against, so the re-arm behavior (reset to ~0 after a
                # fold, regrowth until the threshold) is in evidence
                dirs_trace.append(
                    (b, AI.count_batch_dirs(index, exclude_base=True))
                )
            st = AI.maybe_compact(
                spark, index, b,
                compact_every=args.auto_every,
                max_batch_dirs=args.auto_max_dirs,
            )
            if st:
                st["base_bytes"] = base_bytes()
                folds.append(st)
                if args.auto_max_dirs:
                    marks.add(b + 1)  # post-fold trough sample
        AI.ivf_append_batch(
            df(args.batch_rows, 1_000_000 + b * args.batch_rows),
            model,
            index,
            batch_id=b,
        )
        if (b + 1) in marks:
            w, _ = probe()
            rows.append((f"after {b + 1} batches", w, nfiles()))
    ingest_wall = time.perf_counter() - t_ingest0

    _, res_before = probe()
    t0 = time.perf_counter()
    stats = AI.compact_index_batches(spark, index, upto_batch_id=args.batches - 1)
    compact_wall = time.perf_counter() - t0
    stats["base_bytes"] = base_bytes()
    w, res_after = probe()
    rows.append(
        (f"after compact_index_batches (base fold)", w, nfiles())
    )
    identical = res_before == res_after

    print("| state | probe median (5x) | index files |")
    print("|---|---|---|")
    for label, w, nf in rows:
        print(f"| {label} | {w * 1000:.0f} ms | {nf} |")
    print(
        f"\ningest wall for {args.batches} batches: {ingest_wall:.1f}s; "
        f"compaction: {compact_wall:.1f}s folding "
        f"{stats['batch_dirs_removed']} batch dirs / "
        f"{stats['rows_folded']} rows, {stats['base_bytes']} bytes in the "
        f"base after; "
        f"probe results bit-identical across compaction: {identical}"
    )
    if folds and args.auto_max_dirs:
        print(
            f"auto-compaction (dirs arm, max_batch_dirs="
            f"{args.auto_max_dirs}) fired {len(folds)}x: "
            + "; ".join(
                f"batch {s['fired_at_batch']}: {s['batch_dirs_removed']} "
                f"dirs folded, {s['base_bytes']} base bytes after"
                for s in folds
            )
        )
        # foldable-count trace around each fold: threshold crossing and
        # post-fold reset
        fired = {s["fired_at_batch"] for s in folds}
        around = [
            f"b{b}={n}" for b, n in dirs_trace
            if any(abs(b - f) <= 1 for f in fired)
        ]
        print("foldable-dir counts around folds: " + ", ".join(around))
    elif folds:
        print(
            f"auto-compaction fired {len(folds)}x "
            f"(every {args.auto_every} batches): "
            + "; ".join(
                f"batch {s['fired_at_batch']}: {s['batch_dirs_removed']} "
                f"dirs folded, {s['base_bytes']} base bytes after"
                for s in folds
            )
        )
    print(
        json.dumps(
            {
                "rows": [
                    {"state": s, "probe_ms": round(w * 1000, 1), "files": nf}
                    for s, w, nf in rows
                ],
                "identical_across_compaction": identical,
                "folds": [
                    {k: s[k] for k in (
                        "fired_at_batch", "batch_dirs_removed", "base_bytes"
                    )}
                    for s in folds
                ],
                "final_fold": {
                    k: stats[k] for k in ("batch_dirs_removed", "base_bytes")
                },
                "probe_after": res_after,
            }
        )
    )
    import shutil

    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
