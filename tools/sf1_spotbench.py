#!/usr/bin/env python
"""sf1-equivalent spot-bench of the heaviest registry queries
(VERDICT r07 #8): one-shot wall-clock at 10x the bench scale factor to
validate that the sf0.1 budget envelopes EXTRAPOLATE — the SCALE.md
ladders multiply documents, not TPC-H sf, so this is the one
measurement that grows both corpora together.

Protocol: stage 10x documents / embeddings / TPC-H facts with the
scaling_ladder generators (replica texts are shingle-distinct — the
dedup worst case, see scaling_ladder.py), codegen-warm each query at
sf0.001, then ONE measured run per query at 10x through the
tajo_spark/profile.py kernel (noop sink).
Prints the markdown table SCALE.md carries plus the ratio vs the
tracked sf0.1 bench wall (bench_results.json) — a healthy
shuffle-bound operator lands well under 10x/ratio-of-cores; anything
super-linear beyond its documented candidate-volume note is a bug.

Usage: python tools/sf1_spotbench.py [--mult 10]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from functools import partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

# the heaviest budget rows (bench_results.json r07 ranking), one per
# heavy family: composed pipeline, containment (asym + weighted),
# cluster survivor choice (graph), PQ persisted ANN, k-means,
# BPE train+encode, tar export w/ consumer verify.
#
# r09 VERDICT task 2: the persisted-ANN row is SPLIT into its two
# production legs — `sim_ann_pq_build` (index build, once per corpus
# version; measured with the per-process memo cleared) and
# `sim_ann_pq_probe` (steady-state serving against the warm index, the
# production-repeated number). The old single row timed build + exact
# brute-force leg + probe in whichever run hit the cold memo, which is
# why r08 AND r09 each needed a "measurement pressure" adjudication.
HEAVY = [
    ("pipeline_corpus_prep_v7", "docs"),
    ("dedup_containment_asym", "docs"),
    ("dedup_weighted_containment", "docs"),
    ("dedup_best_by_centrality", "docs"),
    ("dedup_best_of_cluster", "docs"),
    ("sim_ann_pq_build", "emb"),
    ("sim_ann_pq_probe", "emb"),
    ("sim_kmeans_lloyd", "emb"),
    ("text_bpe_train", "docs"),
    ("export_tar_verify", "docs"),
    ("tpch_q18", "tpch"),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument(
        "--tpch-all",
        action="store_true",
        help="sweep ALL of tpch_q1..q22 at --mult x instead of the "
        "heavy-family list (the relational-side scale table)",
    )
    args = ap.parse_args()
    heavy = (
        [(f"tpch_q{i}", "tpch") for i in range(1, 23)]
        if args.tpch_all
        else HEAVY
    )

    import scaling_ladder as SL

    from __spark_entry__ import queries
    from tajo_spark import profile as P
    from tajo_spark.session import build_spark

    spark = build_spark(app_name="sf1_spotbench")
    qs = queries()
    baseline = {}
    baseline_full = {}
    try:
        baseline_full = json.load(
            open(os.path.join(REPO, "bench_results.json"))
        )
        baseline = baseline_full.get("queries", baseline_full)
    except Exception:
        pass

    root = tempfile.mkdtemp(prefix="tajo_spark_sf1_")
    try:
        dirs = (
            {"tpch": SL.stage_tpch(args.mult, root)}
            if args.tpch_all
            else {
                "docs": SL.stage(args.mult, root),
                "emb": SL.stage_emb(args.mult, root),
                "tpch": SL.stage_tpch(args.mult, root),
            }
        )
        from tajo_spark.queries import datapipe as DP

        def build_leg(sf_dir: str) -> float:
            """The one leg that is an index build, not a DataFrame:
            clear the per-process memo so the timed call IS the build
            (KMeans + codebooks + encode + partitioned persist)."""
            DP._IVFPQ_INDEX.clear()
            t0 = time.perf_counter()
            DP._ivfpq_index(spark, sf_dir, n_centroids=8)
            return time.perf_counter() - t0

        def run_one(q: str, sf_dir: str) -> float:
            """One measured leg's wall; raises on failure.
            sim_ann_pq_probe rides the registry body: by protocol it
            runs AFTER the build leg, so the memoized index is warm and
            the timing is steady-state serving only."""
            if q == "sim_ann_pq_build":
                return build_leg(sf_dir)
            return P.run(spark, partial(qs[q], spark, sf_dir)).wall_s

        # codegen warmup at tiny SF (same protocol as bench.py)
        try:
            build_leg(SL.WARM_DIR)
        except Exception:
            pass
        P.warm(spark, {
            q: partial(qs[q], spark, SL.WARM_DIR)
            for q, _ in heavy
            if q != "sim_ann_pq_build"
        })

        # host-speed probe AFTER warmup, same regime as the measured
        # runs (r09 VERDICT task 8: raw one-shot walls needed prose
        # adjudication every round — normalize like bench.py does)
        import bench as B

        probe_sec = B._host_speed_probe(spark)
        try:
            ref = json.load(
                open(os.path.join(REPO, "perf_budgets.json"))
            ).get("_probe_reference_sec")
        except Exception:
            ref = None
        host_factor = B.host_factor(probe_sec, ref)
        base_probe = baseline_full.get("host_probe_sec")
        base_factor = B.host_factor(base_probe, ref) if base_probe else 1.0

        rows = {}
        print(
            f"| query | sf0.1 wall | {args.mult}x wall | ratio "
            f"(host-normalized) |"
        )
        print("|---|---|---|---|")
        for q, which in heavy:
            wall = None
            status = ""
            try:
                wall = run_one(q, dirs[which])
            except Exception as exc:
                status = f" FAIL({str(exc).splitlines()[0][:50]})"
            base = baseline.get(q)
            # normalize each side by ITS run's host factor so the
            # ratio compares engine work, not bench-host load
            ratio_norm = (
                (wall / host_factor) / (base / base_factor)
                if base and wall is not None
                else None
            )
            ratio = f"{ratio_norm:.1f}x" if ratio_norm else "—"
            base_s = f"{base:.2f} s" if base else "—"
            wall_s = f"{wall:.2f} s" if wall is not None else "—"
            print(f"| `{q}` | {base_s} | {wall_s} | {ratio}{status} |")
            rows[q] = {
                "wall_sec": round(wall, 3) if wall is not None else None,
                "base_sec": base,
                "ratio_norm": round(ratio_norm, 2) if ratio_norm else None,
                "status": status.strip() or "ok",
            }
        out = {
            "mult": args.mult,
            "host_probe_sec": probe_sec,
            "host_factor": host_factor,
            "baseline_host_factor": base_factor,
            "queries": rows,
        }
        with open(
            os.path.join(REPO, "sf1_spotbench.json"), "w"
        ) as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(
            f"\nhost_probe={probe_sec}s factor={host_factor} "
            f"(baseline factor={base_factor}) → sf1_spotbench.json"
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
