#!/usr/bin/env python
"""ANN recall curves (VERDICT r04 #5): measured recall@10 vs nprobe
for the persisted int8-IVF and IVF-PQ indexes against the exact
brute-force top-10, on the sf0.1 embeddings corpus and a 4x replica
ladder rung (tools/scaling_ladder.stage_emb jitter keeps replicas from
being near-dups).

recall@10 = |approx top-10 ∩ exact top-10| / 10, averaged over the
512-query batch.  Same coarse geometry as the pq ladder (c=16); the
nprobe dial is the serving-time cost/recall trade: probe cost scales
with nprobe/n_centroids of the corpus.

The measured floor backs the in-query recall contracts
(datapipe.py sim_ann_pq_persisted / sim_ann_q8_persisted).

Usage: python tools/recall_curves.py [--mults 1,4] [--nprobes 1,2,4,8]
Prints a markdown table; paste/refresh into SCALE.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0,
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    ),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,4")
    ap.add_argument("--nprobes", default="1,2,4,8")
    ap.add_argument("--centroids", type=int, default=16)
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",")]
    nprobes = [int(n) for n in args.nprobes.split(",")]

    from pyspark.sql import functions as F

    import scaling_ladder as SL
    from tajo_spark.catalog import load_table
    from tajo_spark.operators.similarity import ann_join, ann_join_persisted
    from tajo_spark.session import build_spark
    from tajo_spark.streaming.ann_ingest import ivf_ingest_init

    spark = build_spark(app_name="recall_curves")
    root = tempfile.mkdtemp(prefix="tajo_spark_recall_")
    rows = []
    try:
        for mult in mults:
            sf_dir = SL.stage_emb(mult, root)
            emb = load_table(spark, sf_dir, "embeddings").localCheckpoint()
            q = emb.filter(F.col("vec_id") < 512).select(
                F.col("vec_id").alias("q_id"), "embedding"
            )
            exact = (
                ann_join(q, emb, k=10)
                .select("q_id", "vec_id")
                .localCheckpoint()
            )
            n_exact = exact.count()
            p8 = os.path.join(root, f"idx_q8_x{mult}")
            ppq = os.path.join(root, f"idx_pq_x{mult}")
            codecs = {
                "q8": (p8, ivf_ingest_init(emb, p8, n_centroids=args.centroids)),
                "pq": (ppq, ivf_ingest_init(
                    emb, ppq, n_centroids=args.centroids, m=16, ksub=64
                )),
            }
            for np_ in nprobes:
                rec = {}
                for name, (path, codec) in codecs.items():
                    t0 = time.time()
                    hits = (
                        ann_join_persisted(
                            spark, path, codec, q, emb, k=10, nprobe=np_
                        )
                        .select("q_id", "vec_id")
                        .join(exact, ["q_id", "vec_id"], "left_semi")
                        .count()
                    )
                    rec[name] = (hits / n_exact, time.time() - t0)
                rows.append((mult, np_, rec["q8"], rec["pq"]))
                print(
                    f"x{mult} nprobe={np_}: "
                    f"q8 recall {rec['q8'][0]:.3f} ({rec['q8'][1]:.1f}s)  "
                    f"pq recall {rec['pq'][0]:.3f} ({rec['pq'][1]:.1f}s)",
                    flush=True,
                )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    print()
    print("| corpus | nprobe | recall@10 q8 | recall@10 pq |")
    print("|---|---|---|---|")
    for mult, np_, (r8, _), (rpq, _) in rows:
        print(f"| {mult}x | {np_} | {r8:.3f} | {rpq:.3f} |")


if __name__ == "__main__":
    main()
