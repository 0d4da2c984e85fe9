"""Scaling-ladder measurement: run representative curation operators
over 1x/4x/16x/64x multiplied copies of the sf0.1 documents corpus and
record how wall-clock scales.  The point is evidence for the 100 TB
argument — a plan that is linear (or top-k-sublinear) on this ladder
and whose shuffle structure does not change with corpus size is the
plan we claim survives the real scale-up.

Replica texts get a replica tag spliced into EVERY 4th word, so with
5-word shingles every shingle of every replica differs — the
multiplied corpus has NO new exact/near duplicates and dedup operators
see the worst case (signature + banding cost scales with the corpus,
candidate sets stay proportional), not a degenerate k-fold-dup corpus.
(A first version suffixed one tag at the END of the text; that leaves
minhash signatures ~identical across replicas, so every band bucket
holds all k replicas and candidate pairs grow O(k²) — a real
megabucket corpus, but not a scaling measurement.)

Usage: python tools/scaling_ladder.py [--mults 1,4,16,64]
Prints one markdown table; paste/refresh into SCALE.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tajo_spark import profile  # noqa: E402

BASE_SF = "/root/testdata/sf0.1"
WARM_DIR = os.path.join(os.path.dirname(BASE_SF), "sf0.001")
QUERIES = [
    # scan-bound projection (classifier): should be ~linear
    "text_quality_classifier",
    # one-scan attrition ledger (rules inline + dedup-marker window on
    # the same scan, nested-CASE fold to a ≤|stages|+1-row ledger):
    # should be ~linear, scan-bound (r11 — the r10 operator's 64x rung)
    "pipeline_attrition_report",
    # explode + count shuffle + top-k: ~linear in corpus, k fixed
    "text_ngram_topk",
    # signature + banded candidate shuffle: ~linear, one shuffle
    "dedup_minhash_pairs",
    # two-stage skew-safe window: ~linear
    "curation_source_cap",
    # two-phase distributed cumsum + manifest agg: ~linear
    "export_shard_manifest",
    # chunk explode + window-on-hash + reassembly groupBy: ~linear
    "dedup_paragraphs",
    # Arrow hash pass + banded Hamming LSH: candidate pairs grow
    # O(n²/2^16) per band on hash-uniform corpora (this replica corpus
    # is the worst case; real perceptual hashes cluster) — measured to
    # find where the verify join starts to dominate
    "multimodal_phash_neardup",
    # CDC: posexplode + doc-partitioned running-sum window + chunk
    # hash/keep/reassemble — token-linear, one more window than
    # dedup_paragraphs
    "dedup_cdc_chunks",
    # one scan checkpointed (tf+df+N+avglen), filtered explode, top-k
    "text_bm25_topk",
    # bloom build word-groupBy (m/32 rows) + broadcast probe +
    # maybe-subset-sized exact confirm: both scans linear, join sized
    # by dup rate not batch
    "dedup_bloom_prefilter",
    # 1 feature scan + 8 x 4-scalar aggregates over the checkpointed
    # frame: per-iteration cost linear in corpus, constant shuffle
    "text_quality_train",
    # explode + (doc,bucket) groupBy + broadcast 1024-row models +
    # per-doc scoring groupBy + TakeOrdered: gram-linear
    "curation_dsir_select",
    # LM lineage + sample percentiles + map-only threshold compare
    "text_ppl_buckets",
    # two-stage near-dup pipeline + projection-only split labels
    "dedup_split_leakage",
    # gopher filter -> LM bucketing -> manifest composition
    "pipeline_corpus_prep_v5",
    # near-dup pipeline + quality projection + struct-max/component
    "dedup_best_of_cluster",
    # planner aggregate + broadcast plan + zero-shuffle repeat explode
    "sample_epoch_materialize",
    # Arrow fingerprint pass + shared banded-LSH join (phash shape)
    "multimodal_audio_neardup",
    # checkpointed token explode -> bounded 8K-cell groupBy + exact leg
    "text_cms_heavy_hitters",
    # two LANGUAGES-row aggregates + broadcast-sized full-outer join
    "corpus_drift_report",
    # leakage audit pipeline + broadcast anti-join of offenders
    "dedup_split_repair",
    # both retrieval legs at depth 50 + a 50-row fusion join
    "sim_hybrid_rrf",
    # round-5 additions
    # stride-1 window hashing (~1 md5/token) + ONE uniform-key shuffle
    "dedup_exact_substring",
    # zero-shuffle regex projection
    "text_blocklist_filter",
    # corpus bigram-count scan + broadcast model re-join
    "text_bigram_logprob",
    # round-6 additions
    # chunk explode + (source, hash) census + flag join + reassembly
    "text_boilerplate_strip",
    # zero-shuffle sorted-run projection
    "text_char_entropy",
    # key projection + TakeOrderedAndProject
    "sample_weighted_reservoir",
    # strip -> entropy -> reservoir with three stage checkpoints
    "pipeline_corpus_prep_v6",
    # banding + 3 rank iterations over the checkpointed edge list
    "graph_pagerank_neardup",
    # bounded-key histogram groupBy + aggregate-row window
    "sketch_hist_quantiles",
    # two-stage containment verify over LSH candidates
    "dedup_containment_pairs",
    # round-7 additions
    # rarest-k posting probe (df-capped) + exact verify
    "dedup_containment_asym",
    # df groupBy + per-doc weight totals + candidate-bounded inter join
    "dedup_weighted_containment",
    # CC label propagation + aggregate-domain size histogram
    "dedup_cluster_stats",
    # zero-shuffle regex projection + lang-keyed two-phase agg
    "text_bpe_fertility",
]


def stage(mult: int, root: str) -> str:
    import duckdb

    out = os.path.join(root, f"x{mult}")
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(BASE_SF):
        if f != "documents.parquet":
            shutil.copy(os.path.join(BASE_SF, f), os.path.join(out, f))
    con = duckdb.connect()
    reps = ", ".join(str(i) for i in range(mult))
    con.execute(
        f"""
        COPY (
            SELECT d.doc_id + r.r * 1000000 AS doc_id,
                   array_to_string(
                       list_transform(
                           string_split(d.text, ' '),
                           (w, i) -> CASE WHEN i % 4 = 0
                                     THEN w || 'x' || CAST(r.r AS VARCHAR)
                                     ELSE w END),
                       ' ') AS text,
                   d.lang, d.source, d.n_chars
            FROM read_parquet('{BASE_SF}/documents.parquet') d,
                 (SELECT unnest([{reps}]) AS r) r
        ) TO '{out}/documents.parquet' (FORMAT PARQUET)
        """
    )
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mults", default="1,4,16,64")
    ap.add_argument("--emb", action="store_true",
                    help="ladder semantic_dedup over multiplied "
                         "embeddings with corpus-scaled seed counts")
    ap.add_argument("--ann", action="store_true",
                    help="ladder the batched ANN join (fixed 64-query "
                         "batch, growing corpus): exact vs IVF")
    ap.add_argument("--tpch", action="store_true",
                    help="ladder TPC-H bodies over multiplied fact "
                         "tables (lineitem/orders), catalog constant")
    ap.add_argument("--chain", action="store_true",
                    help="ladder connected components over CHAIN-shaped "
                         "graphs (diameter == n): simple propagation's "
                         "worst case vs the auto-selected star variant")
    ap.add_argument("--pq", action="store_true",
                    help="ladder persisted-index batch probes (int8 "
                         "IVF vs IVF-PQ) — fixed 512-query batch, "
                         "growing corpus, build amortized per rung")
    ap.add_argument("--queries", default=None,
                    help="comma-separated subset of the default "
                         "document-corpus ladder queries")
    args = ap.parse_args()
    mults = [int(m) for m in args.mults.split(",")]
    if args.emb:
        emb_ladder(mults)
        return
    if args.ann:
        ann_ladder(mults)
        return
    if args.tpch:
        tpch_ladder(mults)
        return
    if args.pq:
        pq_ladder(mults)
        return
    if args.chain:
        chain_ladder(mults)
        return
    if args.queries:
        keep = set(args.queries.split(","))
        QUERIES[:] = [q for q in QUERIES if q in keep]

    from tajo_spark.session import build_spark
    from __spark_entry__ import queries

    spark = build_spark(app_name="scaling_ladder")
    qs = queries()
    root = tempfile.mkdtemp(prefix="tajo_spark_ladder_")
    results: dict[str, dict[int, float]] = {q: {} for q in QUERIES}
    try:
        profile.warm(
            spark, {q: partial(qs[q], spark, WARM_DIR) for q in QUERIES},
            passes=1,
        )
        for mult in mults:
            sf_dir = stage(mult, root)
            for q in QUERIES:
                # profile.run writes to the noop sink, NOT collect():
                # collect adds driver-side result transfer proportional
                # to output size (row-heavy ops like dedup_paragraphs
                # would measure the transfer, not the plan) and count()
                # lets Catalyst elide work.
                best = min(
                    profile.run(spark, partial(qs[q], spark, sf_dir)).wall_s
                    for _ in range(2)
                )
                results[q][mult] = best
                print(f"x{mult:<3} {q:28s} {best:6.2f}s", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()

    header = "| query | " + " | ".join(f"{m}x" for m in mults) + " | ratio last/first vs data ratio |"
    sep = "|---" * (len(mults) + 2) + "|"
    print()
    print(header)
    print(sep)
    span = mults[-1] / mults[0]
    for q in QUERIES:
        row = " | ".join(f"{results[q][m]:.2f} s" for m in mults)
        ratio = results[q][mults[-1]] / results[q][mults[0]]
        print(f"| `{q}` | {row} | {ratio:.1f}x vs {span:.0f}x |")



def stage_emb(mult: int, root: str) -> str:
    """Multiplied embeddings: per-replica deterministic jitter keeps
    replicas from being semantic near-dups of their source (what
    matters for semantic_dedup's candidate density)."""
    import duckdb

    out = os.path.join(root, f"emb_x{mult}")
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(BASE_SF):
        if f != "embeddings.parquet":
            shutil.copy(os.path.join(BASE_SF, f), os.path.join(out, f))
    con = duckdb.connect()
    reps = ", ".join(str(i) for i in range(mult))
    con.execute(
        f"""
        COPY (
            SELECT e.vec_id + r.r * 10000000 AS vec_id,
                   list_transform(e.embedding,
                       (x, i) -> CAST(x + 0.35 * sin(i * (r.r * 13 + 7))
                                 AS FLOAT)) AS embedding,
                   e.label
            FROM read_parquet('{BASE_SF}/embeddings.parquet') e,
                 (SELECT unnest([{reps}]) AS r) r
        ) TO '{out}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    return out


def emb_ladder(mults: list[int]) -> None:
    """Semantic dedup laddered in its DEPLOYMENT shape: seeds scale
    with the corpus (|corpus| / target-cluster-size), which is what
    bounds the per-cluster quadratic term — the registry query's fixed
    n_seeds=16 is the sf0.1 demo configuration, not the scaling rule."""
    from tajo_spark.catalog import load_table
    from tajo_spark.operators.similarity import semantic_dedup
    from tajo_spark.session import build_spark

    spark = build_spark(app_name="scaling_ladder_emb")
    root = tempfile.mkdtemp(prefix="tajo_spark_ladder_emb_")
    rows = []
    try:
        for mult in mults:
            sf_dir = stage_emb(mult, root)
            emb = load_table(spark, sf_dir, "embeddings")
            n_seeds = 16 * mult  # constant target cluster size
            # noop write, NOT count(): Catalyst eliminates the
            # cardinality-preserving verdict join (and the whole pair
            # scan feeding it) under count() — measured 0.24 s counted
            # vs 4.05 s executed at 4x
            build = partial(semantic_dedup, emb, n_seeds=n_seeds)
            best = min(profile.run(spark, build).wall_s for _ in range(2))
            rows.append((mult, n_seeds, best))
            print(
                f"x{mult:<3} semantic_dedup seeds={n_seeds:<5}"
                f" {best:6.2f}s",
                flush=True,
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print()
    print("| corpus | seeds | wall |")
    print("|---|---|---|")
    for mult, seeds, t in rows:
        print(f"| {mult}x | {seeds} | {t:.2f} s |")




def ann_ladder(mults: list[int]) -> None:
    """Batched ANN join in its deployment shape: a FIXED query batch
    (512 vectors — a retrieval/eval set doesn't grow with the corpus)
    against a growing corpus.  Both are linear in the corpus; the
    constant is the point: exact scores |Q| pairs per corpus row, IVF
    scores c centroids + nprobe·|Q|/c candidates per row — the win
    needs |Q| >> c + nprobe·|Q|/c (at |Q|=512, c=64, nprobe=8 that is
    512 vs 128 per-row scores).  A 64-query batch against c=64
    centroids measured SLOWER than exact (assignment alone equals the
    exact scoring) — kept here as the negative result: one-shot IVF
    only pays above that break-even, or when the assignment is a
    persisted index column (ivf_persist_index / ivf_ingest_init, where
    it amortizes to zero)."""
    from pyspark.sql import functions as F

    from tajo_spark.catalog import load_table
    from tajo_spark.operators.similarity import ann_join, ann_join_ivf
    from tajo_spark.session import build_spark

    spark = build_spark(app_name="scaling_ladder_ann")
    root = tempfile.mkdtemp(prefix="tajo_spark_ladder_ann_")
    rows = []
    try:
        for mult in mults:
            sf_dir = stage_emb(mult, root)
            emb = load_table(spark, sf_dir, "embeddings")
            q = (
                emb.filter(F.col("vec_id") < 512)  # fixed batch: base
                # replica keeps original ids at every rung
                .select(F.col("vec_id").alias("q_id"), "embedding")
            )
            walls = {
                name: min(profile.run(spark, build).wall_s for _ in range(2))
                for name, build in (
                    ("exact", partial(ann_join, q, emb, k=10)),
                    ("ivf", partial(ann_join_ivf, q, emb, k=10,
                                    n_centroids=64, nprobe=8)),
                )
            }
            rows.append((mult, walls["exact"], walls["ivf"]))
            print(
                f"x{mult:<3} ann exact {walls['exact']:6.2f}s   "
                f"ivf {walls['ivf']:6.2f}s",
                flush=True,
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print()
    print("| corpus | exact | ivf (c=64, nprobe=8) |")
    print("|---|---|---|")
    for mult, ex, iv in rows:
        print(f"| {mult}x | {ex:.2f} s | {iv:.2f} s |")



def stage_tpch(mult: int, root: str) -> str:
    """Multiplied FACT tables (lineitem + orders, order keys offset per
    replica so join cardinalities stay 1:N), catalog dims untouched —
    the realistic growth axis: more transactions against the same
    part/supplier/customer catalog."""
    import duckdb

    out = os.path.join(root, f"tpch_x{mult}")
    os.makedirs(out, exist_ok=True)
    for f in os.listdir(BASE_SF):
        if f not in ("lineitem.parquet", "orders.parquet"):
            shutil.copy(os.path.join(BASE_SF, f), os.path.join(out, f))
    con = duckdb.connect()
    reps = ", ".join(str(i) for i in range(mult))
    con.execute(
        f"""
        COPY (
            SELECT l.* REPLACE (l.l_orderkey + r.r * 10000000
                                AS l_orderkey)
            FROM read_parquet('{BASE_SF}/lineitem.parquet') l,
                 (SELECT unnest([{reps}]) AS r) r
        ) TO '{out}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
            SELECT o.* REPLACE (o.o_orderkey + r.r * 10000000
                                AS o_orderkey)
            FROM read_parquet('{BASE_SF}/orders.parquet') o,
                 (SELECT unnest([{reps}]) AS r) r
        ) TO '{out}/orders.parquet' (FORMAT PARQUET)
        """
    )
    return out


TPCH_LADDER = ["tpch_q1", "tpch_q3", "tpch_q9", "tpch_q18", "tpch_q21"]


def tpch_ladder(mults: list[int]) -> None:
    """TPC-H bodies over growing facts: the claim under test is that
    no plan changes shuffle structure or broadcasts a grown relation
    as the fact side scales (broadcast_if_dim + AQE decide at
    runtime) — wall-clock should track data ~linearly on fixed
    cores."""
    from __spark_entry__ import queries
    from tajo_spark.session import build_spark

    spark = build_spark(app_name="scaling_ladder_tpch")
    qs = queries()
    root = tempfile.mkdtemp(prefix="tajo_spark_ladder_tpch_")
    results: dict[str, dict[int, float]] = {q: {} for q in TPCH_LADDER}
    try:
        profile.warm(
            spark, {q: partial(qs[q], spark, WARM_DIR) for q in TPCH_LADDER},
            passes=1,
        )
        for mult in mults:
            sf_dir = stage_tpch(mult, root)
            for q in TPCH_LADDER:
                best = min(
                    profile.run(spark, partial(qs[q], spark, sf_dir)).wall_s
                    for _ in range(2)
                )
                results[q][mult] = best
                print(f"x{mult:<3} {q:10s} {best:6.2f}s", flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    header = ("| query | " + " | ".join(f"{m}x" for m in mults)
              + " | ratio last/first vs data ratio |")
    print()
    print(header)
    print("|---" * (len(mults) + 2) + "|")
    span = mults[-1] / mults[0]
    for q in TPCH_LADDER:
        row = " | ".join(f"{results[q][m]:.2f} s" for m in mults)
        ratio = results[q][mults[-1]] / results[q][mults[0]]
        print(f"| `{q}` | {row} | {ratio:.1f}x vs {span:.0f}x |")




def pq_ladder(mults: list[int]) -> None:
    """Persisted-index batch retrieval at growing corpus: int8 IVF vs
    IVF-PQ, same coarse geometry (c=16, nprobe=4), fixed 512-query
    batch, k=10.  Index build runs once per rung (amortized in
    production; build wall reported separately) — the measured quantity
    is the steady-state PROBE, where PQ's 32x-smaller scan and
    LUT-lookup scoring should hold the line as the corpus grows."""
    from pyspark.sql import functions as F

    from tajo_spark.catalog import load_table
    from tajo_spark.operators.similarity import ann_join_persisted
    from tajo_spark.session import build_spark
    from tajo_spark.streaming.ann_ingest import ivf_ingest_init

    spark = build_spark(app_name="scaling_ladder_pq")
    root = tempfile.mkdtemp(prefix="tajo_spark_ladder_pq_")
    rows = []
    try:
        for mult in mults:
            sf_dir = stage_emb(mult, root)
            emb = load_table(spark, sf_dir, "embeddings")
            q = emb.filter(F.col("vec_id") < 512).select(
                F.col("vec_id").alias("q_id"), "embedding"
            )
            p8 = os.path.join(root, f"idx_q8_x{mult}")
            ppq = os.path.join(root, f"idx_pq_x{mult}")
            t0 = time.time()
            codec8 = ivf_ingest_init(emb, p8, n_centroids=16)
            b8 = time.time() - t0
            t0 = time.time()
            codecp = ivf_ingest_init(emb, ppq, n_centroids=16, m=16, ksub=64)
            bpq = time.time() - t0
            walls = {
                name: min(profile.run(spark, build).wall_s for _ in range(2))
                for name, build in (
                    ("q8", partial(ann_join_persisted, spark, p8, codec8,
                                   q, emb, k=10, nprobe=4)),
                    ("pq", partial(ann_join_persisted, spark, ppq, codecp,
                                   q, emb, k=10, nprobe=4)),
                )
            }
            rows.append((mult, b8, bpq, walls["q8"], walls["pq"]))
            print(
                f"x{mult:<3} build q8 {b8:6.2f}s pq {bpq:6.2f}s   "
                f"probe q8 {walls['q8']:6.2f}s pq {walls['pq']:6.2f}s",
                flush=True,
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    print()
    print("| corpus | build q8 | build pq | probe q8 | probe pq |")
    print("|---|---|---|---|---|")
    for mult, b8, bpq, w8, wpq in rows:
        print(f"| {mult}x | {b8:.2f} s | {bpq:.2f} s | {w8:.2f} s | {wpq:.2f} s |")




def chain_ladder(mults: list[int]) -> None:
    """Connected components over chain graphs (diameter == node count,
    the shape min-label propagation cannot finish): the auto-selected
    large-star/small-star fallback (graph.py, r07 verdict #3) must
    keep ROUNDS ~O(log n) — wall per rung should grow ~linearly with
    the chain, not with diameter/rounds."""
    import math

    from pyspark.sql import functions as F

    from tajo_spark.operators.graph import connected_components
    from tajo_spark.session import build_spark

    spark = build_spark(app_name="chain_ladder")
    base_n = 20_000
    print("| chain nodes | wall | components found | log2(n) |")
    print("|---|---|---|---|")
    for mult in mults:
        n = base_n * mult
        edges = spark.range(n).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        t0 = time.time()
        ncomp = (
            connected_components(edges)
            .agg(F.countDistinct("component"))
            .collect()[0][0]
        )
        wall = time.time() - t0
        assert ncomp == 1, ncomp
        print(
            f"| {n:,} | {wall:.1f} s | {ncomp} | {math.log2(n):.1f} |",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
