#!/usr/bin/env python
"""Memory-pressure rung (VERDICT r04 #6): run the heavy queries at 16x
data with the JVM heap deliberately capped and prove they degrade to
SPILL, not OOM.

SCALE.md's ladders prove no-spill under the full 128 GiB heap; a
production executor sees a few GiB per task slot, so the behavior that
actually matters at 100 TB is what happens when the working set does
NOT fit: Spark's UnsafeExternalSorter / ExternalAppendOnlyMap must
spill to disk and the query must still finish.  This tool caps
spark.driver.memory (the ONE heap in local mode), turns the memory
managers' INFO logging on, and counts spill lines per query between
stderr markers.

Verdict per query: OK(spilled)  — finished, spill lines observed
                   OK(fit)     — finished, no spill (heap still fit)
                   OOM         — failed with an OutOfMemory condition

Usage: python tools/memory_rung.py [--heap 2g] [--mult 16]
Prints a markdown table for SCALE.md; stderr (the spill evidence) goes
to /tmp/memory_rung_stderr.log via an fd-level redirect so the JVM's
log4j output lands in the same file as the markers.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import sys
import tempfile
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools")
)

LOG_PATH = "/tmp/memory_rung_stderr.log"
SPILL_RE = re.compile(r"spilling", re.IGNORECASE)
OOM_RE = re.compile(r"OutOfMemory|Java heap space|GC overhead", re.IGNORECASE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--heap", default="2g")
    ap.add_argument("--mult", type=int, default=16)
    ap.add_argument(
        "--spot64",
        action="store_true",
        help="additionally run the r07 broadcast-bug offender (tpch_q18) "
        "at 64x — the guard must hold one ladder rung past where it "
        "last failed",
    )
    args = ap.parse_args()

    # fd-level stderr redirect: the JVM inherits fd 2, so log4j output
    # and our python markers interleave in one file
    log_fd = os.open(LOG_PATH, os.O_CREAT | os.O_WRONLY | os.O_TRUNC)
    os.dup2(log_fd, 2)

    import scaling_ladder as SL
    from __spark_entry__ import queries
    from tajo_spark import profile
    from tajo_spark.session import build_spark

    # GCLocker retry budget (r09 rung finding): the vectorized parquet
    # reader's ~1 MB array allocations race snappy-java's
    # GetPrimitiveArrayCritical sections; at an adversarial 2 GiB heap
    # the JVM's default of 2 retries can abort the WHOLE JVM
    # ("Retried waiting for GCLocker too often") on a loaded host —
    # observed killing q21@64x in this round's re-run where r08's run
    # of identical code passed. Raising the retry budget converts the
    # flake into ordinary GC waits; same guidance applies to real
    # small-heap executors running snappy-compressed scans.
    gclocker = (
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64"
    )
    spark = build_spark(
        app_name="memory_rung",
        extra_conf={
            "spark.driver.memory": args.heap,
            "spark.driver.extraJavaOptions": gclocker,
            # keep result transfer out of the measurement: noop sink
        },
    )
    qs = queries()
    root = tempfile.mkdtemp(prefix="tajo_spark_memrung_")
    plan = []
    try:
        tpch_dir = SL.stage_tpch(args.mult, root)
        docs_dir = SL.stage(args.mult, root)
        emb_dir = SL.stage_emb(args.mult, root)
        plan = [
            ("tpch_q18", tpch_dir),
            ("tpch_q21", tpch_dir),
            ("dedup_best_of_cluster", docs_dir),
            ("sim_ann_pq_persisted", emb_dir),
            ("text_bpe_train", docs_dir),
            # r09 VERDICT task 7: the registry body's ~6 MB dictionary
            # gate routes this corpus through the driver-local merge
            # loop, so the 2 GiB row was measuring the local path;
            # this row forces local_dict_max_rows=0 so the DISTRIBUTED
            # merge loop (the 100 TB path) carries its own spill
            # evidence like every other heavy shape
            ("text_bpe_train@dist", docs_dir),
            ("dedup_exact_substring", docs_dir),
            # round-7 heavy shapes: the candidate-volume-bound verify
            # joins and the composed pipeline that embeds them
            ("dedup_containment_asym", docs_dir),
            ("dedup_weighted_containment", docs_dir),
            ("pipeline_corpus_prep_v7", docs_dir),
        ]
        if args.spot64:
            tpch64 = SL.stage_tpch(64, root)
            plan.append(("tpch_q18@64x", tpch64))
            plan.append(("tpch_q21@64x", tpch64))
        # Shuffle partitions must SCALE WITH DATA, never stay pinned to
        # the core count (cluster_conf derives exactly this; AQE
        # coalesces down but never splits up).  First measured here:
        # q21@64x with partitions pinned at 8 put ~500 MB of decoded
        # lineitem in each 256 MB task slot and died in the
        # spill-MERGE phase (UnsafeSorterSpillReader buffers, one per
        # spill file) — not a planner bug, a task-sizing bug.  The 16x
        # rows keep the r06/r07 geometry (8) for comparability; the
        # 64x spots get the 4x-scaled 32.
        base_parts = os.environ.get("SPARK_GRAFT_CPUS", "8")
        part_for = {
            q: ("32" if q.endswith("@64x") else base_parts)
            for q, _ in plan
        }
        # warm codegen at the tiny SF so compilation doesn't pollute
        # walls (same protocol as bench.py)
        def _bpe_dist(spark_, sf_dir_):
            from tajo_spark.catalog import load_table
            from tajo_spark.operators.bpe import train_bpe

            docs = load_table(spark_, sf_dir_, "documents")
            merges = train_bpe(
                docs, n_merges=8, batch_k=8, local_dict_max_rows=0
            )
            return spark_.createDataFrame(
                [(len(merges),)], "n_merges BIGINT"
            )

        def qfn(label):
            if label.startswith("text_bpe_train@dist"):
                return _bpe_dist
            return qs[label.split("@")[0]]

        def warm(labels):
            profile.warm(spark, {
                q: partial(qfn(q), spark, SL.WARM_DIR)
                for q in labels
            }, passes=1)

        warm([q for q, _ in plan])
        spark.sparkContext.setLogLevel("INFO")
        results = []
        swapped = False
        for q, sf_dir in plan:
            if q.endswith("@64x") and not swapped:
                # Slots must scale with heap (the r09 companion to
                # r08's partitions-scale-with-data rule): local[32] on
                # a 2 GiB heap is 64 MB/slot — a geometry
                # session.cluster_conf can never produce (its floor is
                # ~4 GB/slot at the 4-core/16 GB default) and at 64x
                # data 32 concurrent consumers exhaust the pool faster
                # than spilling can free it (UNABLE_TO_ACQUIRE ... got
                # 0). The 64x spots therefore run at ~256 MB/slot, the
                # production-shaped floor; 16x rows keep local[32] for
                # round-over-round comparability.
                heap_mb = 1024 * int(re.sub(r"[^0-9]", "", args.heap) or 2)
                if args.heap.lower().endswith(("m", "mb")):
                    heap_mb = int(re.sub(r"[^0-9]", "", args.heap))
                slots = max(4, heap_mb // 256)
                spark.sparkContext.setLogLevel("WARN")
                spark.stop()
                spark = build_spark(
                    app_name="memory_rung_64x",
                    master=f"local[{slots}]",
                    extra_conf={
                        "spark.driver.memory": args.heap,
                        "spark.driver.extraJavaOptions": gclocker,
                    },
                )
                warm([wq for wq, _ in plan if wq.endswith("@64x")])
                spark.sparkContext.setLogLevel("INFO")
                swapped = True
            # per-query isolation inside the capped JVM: drop cached
            # tables and prior broadcasts so query N+1 is not failed
            # by query N's residue (a broadcast HashedRelation stays
            # referenced until the ContextCleaner runs — at 2 GiB that
            # lag alone flipped dedup_weighted_containment to FAIL
            # while the same query passed in a fresh JVM); each run
            # releases its own checkpoint blocks
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            time.sleep(2)
            spark.conf.set("spark.sql.shuffle.partitions", part_for[q])
            os.write(2, f"\n===RUNG-BEGIN {q}===\n".encode())
            wall = None
            status = "OK"
            try:
                wall = profile.run(spark, partial(qfn(q), spark, sf_dir)).wall_s
            except Exception as exc:
                status = (
                    "OOM" if OOM_RE.search(str(exc)) else
                    f"FAIL({str(exc).splitlines()[0][:60]})"
                )
            os.write(2, f"\n===RUNG-END {q}===\n".encode())
            results.append((q, wall, status))
        spark.sparkContext.setLogLevel("WARN")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    # parse the interleaved log for spill lines per marker span
    spills: dict[str, int] = {}
    cur = None
    with open(LOG_PATH, errors="replace") as fh:
        for line in fh:
            m = re.match(r"===RUNG-BEGIN (\S+)===", line)
            if m:
                cur = m.group(1)
                spills[cur] = 0
                continue
            if line.startswith("===RUNG-END"):
                cur = None
                continue
            if cur and SPILL_RE.search(line):
                spills[cur] += 1

    print(f"heap={args.heap} mult={args.mult}x  (stderr: {LOG_PATH})")
    print("| query | wall | spill lines | verdict |")
    print("|---|---|---|---|")
    for q, wall, status in results:
        n = spills.get(q, 0)
        verdict = (
            status if status != "OK"
            else ("OK(spilled)" if n else "OK(fit)")
        )
        wall_s = f"{wall:.1f} s" if wall is not None else "—"
        print(f"| `{q}` | {wall_s} | {n} | {verdict} |")


if __name__ == "__main__":
    main()
