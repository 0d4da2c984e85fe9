"""Skew-mitigation and IVF-ANN tests: salted transforms must be
semantics-preserving; the IVF probe must degrade gracefully to the
exact result at full probe width."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tajo_spark.catalog import load_table
from tajo_spark.operators import similarity as sim
from tajo_spark.operators.skew import salted_agg, salted_join
from tajo_spark.streaming.ann_ingest import ivf_ingest_init
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def skewed_df(spark):
    # 90% of rows share key 0 — the hot-key shape
    return spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 97).cast("double").alias("v"),
    )


def test_salted_agg_equals_plain(spark, skewed_df):
    plain = {
        (r.k): (r.s, r.c, r.mn, r.mx)
        for r in skewed_df.groupBy("k")
        .agg(
            F.sum("v").alias("s"),
            F.count("v").alias("c"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.k): (r.s, r.c, r.mn, r.mx)
        for r in salted_agg(
            skewed_df,
            ["k"],
            {
                "s": ("sum", "v"),
                "c": ("count", "v"),
                "mn": ("min", "v"),
                "mx": ("max", "v"),
            },
            unique_col="uid",
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark, skewed_df):
    dim = spark.range(0, 50).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    plain = sorted(
        (r.k, r.uid, r.name)
        for r in skewed_df.join(dim, ["k"]).select("k", "uid", "name").collect()
    )
    salted = sorted(
        (r.k, r.uid, r.name)
        for r in salted_join(skewed_df, dim, ["k"], unique_col="uid")
        .select("k", "uid", "name")
        .collect()
    )
    assert salted == plain


def test_salted_agg_rejects_non_decomposable(skewed_df):
    with pytest.raises(ValueError):
        salted_agg(skewed_df, ["k"], {"a": ("avg", "v")}, unique_col="uid")


def test_ivf_full_probe_equals_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = [
        (r.vec_id, r.cos_sim)
        for r in sim.cosine_topk(emb, query_vec_id=0, k=10).collect()
    ]
    ivf_all = [
        (r.vec_id, r.cos_sim)
        for r in sim.ivf_topk(
            emb, query_vec_id=0, k=10, n_centroids=8, nprobe=8
        ).collect()
    ]
    assert ivf_all == exact


def test_ivf_probe_is_subset_and_sorted(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    rows = sim.ivf_topk(
        emb, query_vec_id=0, k=10, n_centroids=8, nprobe=2
    ).collect()
    assert 0 < len(rows) <= 10
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert len({r.centroid_id for r in rows}) <= 2


def test_plan_report_api(spark):
    from tajo_spark.plans.inspect import plan_report

    li = load_table(spark, SF_DIR, "lineitem")
    rep = plan_report(
        li.filter(F.col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    assert rep.n_scans == 1
    assert rep.has_partial_agg
    assert rep.pushed_filters and "GreaterThan(l_quantity" in rep.pushed_filters[0]


def test_join_skew_salted_query_plan(spark):
    # the headline skew query must really exercise the salted shuffle
    # path: a shuffled join on (skew_key, _salt), never a broadcast of
    # the replicated side (which would bypass what the bench measures)
    from tajo_spark.queries.registry import all_queries
    import tests.conftest as C

    df = all_queries()["join_skew_salted"].spark(spark, C.SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan
    assert "_salt" in plan  # the salt is part of the join key


def test_salted_join_rejects_outer(spark, skewed_df):
    dim = spark.range(0, 5).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(skewed_df, dim, ["k"], unique_col="uid", how="full")
    with pytest.raises(ValueError):
        salted_join(skewed_df, dim, ["k"], unique_col="uid", how="right")


def test_salting_rejects_reserved_column(spark):
    df = spark.range(3).select(
        F.col("id").alias("k"), F.col("id").alias("uid"),
        F.lit(1).alias("_salt"), F.lit(1.0).alias("v"),
    )
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], {"s": ("sum", "v")}, unique_col="uid")


def test_ivf_unknown_query_returns_empty(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    assert sim.ivf_topk(emb, query_vec_id=10**9, n_centroids=4).count() == 0


def test_ivf_prebuilt_index_reused(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    index = sim.ivf_assign(emb, n_centroids=4)
    a = sim.ivf_topk(emb, 0, k=5, nprobe=4, n_centroids=4, index=index)
    b = sim.ivf_topk(emb, 0, k=5, nprobe=4, n_centroids=4)
    assert [tuple(r) for r in a.collect()] == [tuple(r) for r in b.collect()]


def test_plan_report_in_filter_not_truncated(spark):
    from tajo_spark.plans.inspect import plan_report

    orders = load_table(spark, SF_DIR, "orders")
    rep = plan_report(
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey")
    )
    joined = ";".join(rep.pushed_filters)
    assert "In(o_orderpriority, [1-URGENT,2-HIGH])" in joined


def test_cosine_null_on_zero_vector(spark):
    # 0/0 must be NULL (SQL semantics), not NaN — NaN sorts above every
    # real similarity in desc order and would corrupt top-k results
    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], "vec_id INT, e ARRAY<DOUBLE>"
    )
    rows = df.select(
        "vec_id", sim.cosine(F.col("e"), F.array(F.lit(1.0), F.lit(0.0))).alias("c")
    ).collect()
    vals = {r.vec_id: r.c for r in rows}
    assert vals[1] is None and abs(vals[2] - 1.0) < 1e-12


def test_minhash_null_text_produces_no_pairs(spark):
    from tajo_spark.operators.dedup import minhash_candidate_pairs

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, "the quick brown fox jumps high"),
         (4, "the quick brown fox jumps high")],
        "doc_id BIGINT, text STRING",
    )
    pairs = {(r.doc_a, r.doc_b) for r in minhash_candidate_pairs(docs).collect()}
    # null-text docs must never pair (NULL propagates, as in the SQL
    # oracle); identical real docs must pair
    assert pairs == {(3, 4)}


def test_semantic_dedup_partitions_and_greedy_rule(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = sim.semantic_dedup(emb, n_seeds=8, threshold=0.3).collect()
    n = emb.count()
    assert len(out) == n  # one verdict per vector
    assert {r.cluster_id for r in out} <= set(range(8))
    # every seed vector keeps itself unless a lower-id near-dup exists;
    # vec_id 0 has no lower id, so it must always be kept
    by_id = {r.vec_id: r for r in out}
    assert by_id[0].is_kept is True
    # removal is sound: recompute — every removed vector really has a
    # lower-id cluster-mate above threshold
    assigned = sim.seeded_cluster_assign(emb, n_seeds=8)
    rows = assigned.collect()
    import numpy as np

    vec = {r.vec_id: np.asarray(r.embedding, dtype="float64") for r in rows}
    cl = {r.vec_id: r.cluster_id for r in rows}
    for r in out:
        if r.is_kept:
            continue
        mates = [i for i in cl if cl[i] == r.cluster_id and i < r.vec_id]
        best = max(
            float(vec[r.vec_id] @ vec[i]
                  / (np.linalg.norm(vec[r.vec_id]) * np.linalg.norm(vec[i])))
            for i in mates
        )
        assert round(best, 4) >= 0.3


def test_semantic_dedup_high_seed_count_shuffles_not_broadcasts(spark):
    # at production cluster counts the pair-join build side is the
    # whole corpus: the plan must shuffle on cluster_id, never
    # broadcast (the round-1 default broadcast was a 100 TB OOM). The
    # low-seed path keeps its broadcast (parallelism would otherwise
    # cap at n_seeds partitions).
    emb = load_table(spark, SF_DIR, "embeddings")
    high = sim.BROADCAST_MAX_CLUSTERS + 1
    plan_high = (
        sim.semantic_dedup(emb, n_seeds=high)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" not in plan_high, plan_high
    assert "ShuffledHashJoin" in plan_high or "SortMergeJoin" in plan_high
    plan_low = (
        sim.semantic_dedup(emb, n_seeds=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan_low
    # both strategies agree on the verdicts (cluster geometry differs
    # with seed count, so compare the SAME seed count across a forced
    # threshold flip)
    import unittest.mock as mock

    with mock.patch.object(sim, "BROADCAST_MAX_CLUSTERS", 4):
        shuffled = {
            (r.vec_id, r.cluster_id, r.is_kept)
            for r in sim.semantic_dedup(emb, n_seeds=8).collect()
        }
    broadcast = {
        (r.vec_id, r.cluster_id, r.is_kept)
        for r in sim.semantic_dedup(emb, n_seeds=8).collect()
    }
    assert shuffled == broadcast


def test_seeded_assign_is_zero_shuffle(spark):
    # the assignment itself must stay map-only: the only Exchange in
    # the plan feeds the one-row broadcast seed aggregate, never the
    # full embeddings scan.
    emb = load_table(spark, SF_DIR, "embeddings")
    plan = (
        sim.seeded_cluster_assign(emb, n_seeds=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    # every shuffle exchange present must be single-partition (the seed
    # collect_list aggregate), i.e. SinglePartition — a hashpartitioning
    # exchange would mean the data side shuffles (BroadcastExchange is
    # the seed row being shipped, not a shuffle)
    for m in re.finditer(r"(?<!Broadcast)Exchange (\w+)", plan):
        assert m.group(1) == "SinglePartition", plan


def test_ivf_persisted_index_prunes_partitions(spark, tmp_path_factory):
    # the persisted-index probe must read only the nprobe partition
    # directories: PartitionFilters in the scan, matching results vs
    # the in-memory probe path.
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    emb = load_table(spark, SF_DIR, "embeddings")
    model = sim.ivf_persist_index(emb, path, n_centroids=8)
    qrow = emb.filter(emb.vec_id == 0).select("embedding").first()
    df = sim.ivf_probe_persisted(
        spark, path, model, list(qrow.embedding), k=10, nprobe=2
    )
    import re

    plan = df._jdf.queryExecution().executedPlan().toString()
    # directory-level pruning: the scan itself carries the partition
    # filter (file listing is restricted BEFORE any file is opened)
    assert re.search(r"PartitionFilters: \[.*centroid_id", plan), plan
    rows = df.collect()
    assert 0 < len(rows) <= 10
    assert len({r.centroid_id for r in rows}) <= 2
    # and the results match the in-memory probe over the same index
    mem = sim.ivf_topk(
        emb, query_vec_id=0, k=10, nprobe=8, n_centroids=8
    ).filter(F.col("vec_id").isin([r.vec_id for r in rows]))
    mem_sims = {r.vec_id: r.cos_sim for r in mem.collect()}
    for r in rows:
        if r.vec_id in mem_sims:
            assert abs(mem_sims[r.vec_id] - r.cos_sim) < 1e-9


def test_quantize_int8_range_and_zero_vector(spark):
    df = spark.createDataFrame(
        [(0, [0.5, -1.0, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    ).select("vec_id", sim.quantize_int8(F.col("embedding")).alias("q"))
    rows = {r.vec_id: r.q for r in df.collect()}
    assert rows[0] == [64, -127, 32, 0]  # max-abs 1.0 -> scale 1/127
    assert rows[1] == [0, 0, 0, 0]  # zero vector stays zero, no NaN
    assert all(-127 <= v <= 127 for q in rows.values() for v in q)


def test_quantized_cosine_close_to_exact(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    scored = sim.quantized_scores(emb, query_vec_id=0)
    err = scored.agg(
        F.max(F.abs(F.col("cos_sim_q") - F.col("cos_sim")))
    ).first()[0]
    assert err is not None and err <= 0.02


def test_ivf_q8_full_probe_big_expand_equals_exact(spark, tmp_path):
    # with every centroid probed and an expand window covering the whole
    # corpus, the quantized shortlist cannot lose a true neighbor and
    # the exact rerank must reproduce brute force exactly
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfq8")
    codec = ivf_ingest_init(emb, path, n_centroids=4)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    got = sim.ivf_probe_persisted_q8(
        spark, path, codec, list(qrow.embedding),
        emb.filter(F.col("vec_id") != 0),
        k=10, nprobe=4, expand=10_000,
    ).collect()
    want = sim.cosine_topk(emb, query_vec_id=0, k=10).collect()
    assert [(r.vec_id, r.cos_sim) for r in got] == [
        (r.vec_id, r.cos_sim) for r in want
    ]


def test_ivf_q8_probe_prunes_partitions(spark, tmp_path):
    # the stage-1 shortlist must read only its nprobe centroid
    # directories: PartitionFilters on centroid_id in the index scan
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "ivfq8p")
    codec = ivf_ingest_init(emb, path, n_centroids=8)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    shortlist = sim.ivf_q8_shortlist(
        spark, path, codec, list(qrow.embedding), k=10, nprobe=2
    )
    plan = shortlist._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "centroid_id" in pf, plan


# ---------------------------------------------------------------------------
# Two-level (coarse-quantized) seed assignment — the production-seed-count
# path of semantic dedup (flat assignment is O(n*k); the measured ladder in
# SCALE.md is quadratic when seeds scale with the corpus)
# ---------------------------------------------------------------------------


def test_two_level_equals_flat_at_full_coarse(spark):
    # n_coarse == n_seeds puts every seed in its own singleton group, so
    # the coarse argmax IS the global argmax: the two paths must agree
    # bit-for-bit (this also pins that the precomputed-norm scoring is
    # FP-identical to cosine()'s sqrt(dot)*sqrt(dot) denominator)
    emb = load_table(spark, SF_DIR, "embeddings")
    flat = {
        (r.vec_id, r.cluster_id, r.seed_cos)
        for r in sim.seeded_cluster_assign(emb, n_seeds=32).collect()
    }
    two = {
        (r.vec_id, r.cluster_id, r.seed_cos)
        for r in sim.seeded_cluster_assign_two_level(
            emb, n_seeds=32, n_coarse=32
        ).collect()
    }
    assert flat == two


def test_two_level_matches_numpy_reference(spark):
    # independent single-threaded reference implementing the same
    # two-level rule (round-6 cosine, ties to lowest id, forced
    # self-membership for coarse seeds)
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = emb.collect()
    vec = {
        r.vec_id: np.asarray(r.embedding, dtype="float64") for r in rows
    }
    k, c = 64, 8

    def cos(a, b):
        d = np.linalg.norm(a) * np.linalg.norm(b)
        return -2.0 if d == 0 else float(a @ b / d)

    def argmax(v, cands):  # cands: list[(id, vec)] sorted by id
        return max(cands, key=lambda s: (round(cos(v, s[1]), 6), -s[0]))[0]

    coarse = [(i, vec[i]) for i in sorted(vec) if i < c]
    seed_of = {}
    for i in sorted(vec):
        if i >= k:
            continue
        seed_of[i] = i if i < c else argmax(vec[i], coarse)
    groups: dict[int, list] = {}
    for sid, g in seed_of.items():
        groups.setdefault(g, []).append((sid, vec[sid]))
    expect = {}
    for i in sorted(vec):
        g = argmax(vec[i], coarse)
        expect[i] = argmax(vec[i], groups[g])

    got = {
        r.vec_id: r.cluster_id
        for r in sim.seeded_cluster_assign_two_level(
            emb, n_seeds=k, n_coarse=c
        ).collect()
    }
    assert got == expect


def test_two_level_group_join_gate(spark):
    # under the vector-count bound the group join broadcasts (no shuffle
    # join anywhere in the assignment); above it the corpus shuffles
    # ONCE on coarse_id — and both strategies agree exactly
    import unittest.mock as mock

    emb = load_table(spark, SF_DIR, "embeddings")
    plan_bc = (
        sim.seeded_cluster_assign_two_level(emb, n_seeds=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan_bc, plan_bc
    assert "ShuffledHashJoin" not in plan_bc, plan_bc
    assert "BroadcastHashJoin" in plan_bc, plan_bc
    with mock.patch.object(sim, "BROADCAST_MAX_SEED_VECTORS", 4):
        shuffled_plan = (
            sim.seeded_cluster_assign_two_level(emb, n_seeds=64)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert (
            "ShuffledHashJoin" in shuffled_plan
            or "SortMergeJoin" in shuffled_plan
        ), shuffled_plan
        shuffled = {
            (r.vec_id, r.cluster_id, r.seed_cos)
            for r in sim.seeded_cluster_assign_two_level(
                emb, n_seeds=64
            ).collect()
        }
    broadcast = {
        (r.vec_id, r.cluster_id, r.seed_cos)
        for r in sim.seeded_cluster_assign_two_level(emb, n_seeds=64).collect()
    }
    assert shuffled == broadcast


def test_semantic_dedup_auto_branches_to_two_level(spark):
    # the auto policy engages the coarse path at COARSE_MIN_SEEDS; the
    # verdict set stays sound (one verdict per vector, vec 0 kept)
    import unittest.mock as mock

    emb = load_table(spark, SF_DIR, "embeddings")
    with mock.patch.object(sim, "COARSE_MIN_SEEDS", 8):
        out = sim.semantic_dedup(emb, n_seeds=16).collect()
    explicit = sim.semantic_dedup(emb, n_seeds=16, two_level=True).collect()
    assert {tuple(r) for r in out} == {tuple(r) for r in explicit}
    by_id = {r.vec_id: r for r in out}
    assert len(out) == emb.count()
    assert by_id[0].is_kept is True


# ---------------------------------------------------------------------------
# Batched ANN join (N queries at once — retrieval / cross-dataset dedup)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ann_queries(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    return emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )


def test_ann_join_exact_self_top1(spark, ann_queries):
    emb = load_table(spark, SF_DIR, "embeddings")
    out = sim.ann_join(ann_queries, emb, k=3).collect()
    n_q = ann_queries.count()
    assert len(out) == 3 * n_q
    top1 = {r.q_id: r for r in out if r.rank == 1}
    # a query vector's nearest corpus vector is itself (cos 1.0; ties
    # on duplicate vectors break to the lowest id, which IS the query
    # here because q_ids are corpus ids)
    for q_id, r in top1.items():
        assert r.cos == 1.0
        assert r.vec_id <= q_id


def test_ann_join_ivf_full_probe_equals_exact(spark, ann_queries):
    # nprobe = n_centroids scores every (query, corpus) pair exactly
    # once (the corpus row's single centroid is always probed): the
    # IVF join must degrade to the exact result bit-for-bit
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {tuple(r) for r in sim.ann_join(ann_queries, emb, k=3).collect()}
    full = {
        tuple(r)
        for r in sim.ann_join_ivf(
            ann_queries, emb, k=3, n_centroids=16, nprobe=16
        ).collect()
    }
    assert full == exact


def test_ann_join_ivf_recall_and_candidate_reduction(spark, ann_queries):
    emb = load_table(spark, SF_DIR, "embeddings")
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.ann_join(ann_queries, emb, k=3).collect()
    }
    probed = {
        (r.q_id, r.vec_id)
        for r in sim.ann_join_ivf(
            ann_queries, emb, k=3, n_centroids=16, nprobe=4
        ).collect()
    }
    recall = len(exact & probed) / len(exact)
    assert recall >= 0.5, recall  # nprobe=4/16 on real clusters


def test_ann_join_plans(spark, ann_queries):
    # exact: the corpus never shuffles wide before scoring — every
    # non-broadcast exchange is either the query-side SinglePartition
    # collapse or the skinny ranked-triples window exchange
    import re

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = (
        sim.ann_join(ann_queries, emb, k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan
    # ivf with broadcast_queries=False: candidate join shuffles on
    # centroid_id — the declared at-scale strategy — and agrees exactly
    shuffled_plan = (
        sim.ann_join_ivf(
            ann_queries, emb, k=3, nprobe=4, broadcast_queries=False
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert (
        "ShuffledHashJoin" in shuffled_plan
        or "SortMergeJoin" in shuffled_plan
    ), shuffled_plan
    bc = {
        tuple(r)
        for r in sim.ann_join_ivf(ann_queries, emb, k=3, nprobe=4).collect()
    }
    sh = {
        tuple(r)
        for r in sim.ann_join_ivf(
            ann_queries, emb, k=3, nprobe=4, broadcast_queries=False
        ).collect()
    }
    assert bc == sh


def test_ann_q8_persisted_full_probe_equals_exact(spark, ann_queries, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    codec = ivf_ingest_init(emb, path, n_centroids=8)
    # full probe + generous expand must reduce to the exact batched join
    got = {
        tuple(r)
        for r in sim.ann_join_persisted(
            spark, path, codec, ann_queries, emb, k=5, nprobe=8, expand=100
        ).collect()
    }
    exact = {tuple(r) for r in sim.ann_join(ann_queries, emb, k=5).collect()}
    assert got == exact


def test_ann_q8_persisted_bounds_the_query_read(spark, ann_queries, tmp_path,
                                                monkeypatch):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    codec = ivf_ingest_init(emb, path, n_centroids=8)
    # 3 queries x nprobe 2 = 6 probe rows reach the driver
    monkeypatch.setattr(sim, "SERVING_BATCH_MAX_ROWS", 5)
    with pytest.raises(ValueError, match="ann_join_persisted query probes"):
        sim.ann_join_persisted(
            spark, path, codec, ann_queries.limit(3), emb, k=5, nprobe=2
        )


def test_ann_q8_persisted_prunes_index_partitions(spark, ann_queries, tmp_path):
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    codec = ivf_ingest_init(emb, path, n_centroids=8)
    out = sim.ann_join_persisted(
        spark, path, codec, ann_queries.limit(3), emb, k=5, nprobe=2
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the r13 broadcast rerank put the (unpartitioned) base-table scan
    # first in the plan string; the static centroid prune must appear
    # on SOME scan — the index one
    pfs = [p.split("]")[0] for p in plan.split("PartitionFilters")[1:]]
    assert any("centroid_id" in pf for pf in pfs), plan
    # recall at partial probe stays useful
    exact = {
        (r.q_id, r.vec_id)
        for r in sim.ann_join(ann_queries, emb, k=5).collect()
    }
    got = {
        (r.q_id, r.vec_id)
        for r in sim.ann_join_persisted(
            spark, path, codec, ann_queries, emb, k=5, nprobe=2
        ).collect()
    }
    assert len(exact & got) / len(exact) >= 0.5


def test_hybrid_rrf_fuses_both_rankings(spark):
    """RRF: a doc ranked #1 in BOTH legs must beat a doc that is #1 in
    one leg and absent from the other; absent legs contribute 0."""
    import numpy as np
    from pyspark.sql import Row

    from tajo_spark.operators import similarity as S

    rng = np.random.default_rng(5)
    base = rng.normal(size=8)
    rows_docs, rows_emb = [], []
    # doc 1: strong lexical AND dense match; doc 2: dense-only;
    # doc 3: lexical-only; fillers 4..9 weak everywhere
    rows_docs.append(Row(doc_id=1, text="spark join window spark join"))
    rows_docs.append(Row(doc_id=2, text="nothing relevant here at all"))
    rows_docs.append(Row(doc_id=3, text="spark join window join window spark"))
    for i in range(4, 10):
        rows_docs.append(Row(doc_id=i, text=f"filler text number {i} spark"))
    rows_emb.append(Row(vec_id=0, embedding=[float(x) for x in base]))
    rows_emb.append(Row(vec_id=1, embedding=[float(x) for x in base * 0.9 + 0.01]))
    rows_emb.append(Row(vec_id=2, embedding=[float(x) for x in base * 0.95]))
    rows_emb.append(Row(vec_id=3, embedding=[float(x) for x in -base]))
    for i in range(4, 10):
        rows_emb.append(
            Row(vec_id=i, embedding=[float(x) for x in rng.normal(size=8)])
        )
    docs = spark.createDataFrame(rows_docs, "doc_id long, text string")
    emb = spark.createDataFrame(rows_emb, "vec_id long, embedding array<float>")
    # depth=5 over 9 vectors so the anti-parallel doc 3 genuinely
    # falls OUT of the dense leg (depth=50 would include everything
    # and never exercise the absent-leg path)
    out = S.hybrid_rrf_topk(
        docs, emb, ["spark", "join", "window"], query_vec_id=0,
        k=9, depth=5,
    ).collect()
    ranked = [r.doc_id for r in out]
    by_id = {r.doc_id: r for r in out}
    # doc 1 leads both legs -> must win the fusion outright
    assert ranked[0] == 1, ranked
    assert by_id[1].lex_rank is not None and by_id[1].dense_rank is not None
    # dense-only doc 2: no lexical hits -> null lex_rank, and RRF by
    # design ranks it below EVERY doc present in both legs
    assert by_id[2].lex_rank is None and by_id[2].dense_rank is not None
    dual = [d for d in ranked
            if by_id[d].lex_rank is not None
            and by_id[d].dense_rank is not None]
    assert all(ranked.index(2) > ranked.index(d) for d in dual), ranked
    # lexical-only doc 3: anti-parallel embedding is outside the dense
    # top-5 -> absent leg contributes 0, rank is null
    assert by_id[3].lex_rank is not None
    assert by_id[3].dense_rank is None


def test_label_centroid_cosines_hand_computed(spark):
    """Two labels with orthogonal mean vectors -> cosine ~0; a third
    colinear with the first -> cosine 1.0. The integer-sum identity:
    cosine of centroids equals cosine of per-label component sums."""
    from tajo_spark.operators.similarity import label_centroid_cosines

    rows = [
        (1, [1.0, 0.0, 0.0], 0), (2, [3.0, 0.0, 0.0], 0),
        (3, [0.0, 2.0, 0.0], 1), (4, [0.0, 4.0, 0.0], 1),
        (5, [5.0, 0.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    got = {
        (r.label_a, r.label_b): r.cosine
        for r in label_centroid_cosines(emb).collect()
    }
    assert got[(0, 1)] == 0.0
    assert got[(0, 2)] == 1.0
    assert got[(1, 2)] == 0.0


def test_dense_id_precondition_raises_in_plan(spark):
    """r12: the dense-id guards fold into the one-row seed/centroid
    aggregate each function already materializes (no separate isEmpty
    pre-job — that extra corpus scan per call was BENCH_r11's only real
    mover). An id-space not starting at 0 must still fail loudly, now
    from inside the job, with the same actionable message."""
    emb = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.0, 1.0]), (102, [1.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    q = emb.select(F.col("vec_id").alias("q_id"), "embedding")
    with pytest.raises(Exception, match="dense from 0"):
        sim.ann_join_ivf(q, emb, k=1, n_centroids=4).collect()
    with pytest.raises(Exception, match="dense from 0"):
        sim.seeded_cluster_assign(emb, n_seeds=4).collect()
    with pytest.raises(Exception, match="dense from 0"):
        sim.seeded_cluster_assign_two_level(emb, n_seeds=4).collect()
    # and the happy path is unchanged: dense ids assign every row
    ok = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0])],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    rows = sim.seeded_cluster_assign(ok, n_seeds=2).collect()
    assert len(rows) == 3
    assert all(r.cluster_id is not None for r in rows)


# anchors 0 and 1 are the same vector, row 3 is all zeros
_TIE_ROWS = [
    (0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
    (3, [0.0, 0.0]), (4, [0.9, 0.1]),
]


def _ivf_probed_rows(emb):
    # the query ties between centroids 0 and 1 and probes only one, so
    # the rows it retrieves are the members of the centroid it chose
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("q_id"), "embedding")
    return {
        r.vec_id: 0
        for r in sim.ann_join_ivf(q, emb, k=5, n_centroids=3, nprobe=1).collect()
    }


@pytest.mark.parametrize(
    "assign",
    [
        lambda emb: {
            r.vec_id: r.cluster_id
            for r in sim.seeded_cluster_assign(emb, n_seeds=3).collect()
        },
        lambda emb: {
            r.vec_id: r.cluster_id
            for r in sim.seeded_cluster_assign_two_level(emb, n_seeds=3).collect()
        },
        _ivf_probed_rows,
    ],
    ids=["flat", "two_level", "ann_join_ivf"],
)
def test_anchor_ties_and_zero_norm_go_to_lowest_anchor(spark, assign):
    """The scoring rule every anchor assignment shares: an exact tie
    between anchors goes to the lower id, and a zero-norm row (every
    cosine −2) lands on anchor 0 instead of raising or going NULL."""
    emb = spark.createDataFrame(_TIE_ROWS, "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = assign(emb)
    assert {i: got.get(i) for i in (0, 1, 3, 4)} == {0: 0, 1: 0, 3: 0, 4: 0}


def test_ann_join_ranks_equal_cosines_by_lower_id(spark):
    emb = spark.createDataFrame(_TIE_ROWS, "vec_id LONG, embedding ARRAY<DOUBLE>")
    q = spark.createDataFrame([(7, [2.0, 0.0])], "q_id LONG, embedding ARRAY<DOUBLE>")
    got = [(r.rank, r.vec_id, r.cos) for r in sim.ann_join(q, emb, k=5).collect()]
    assert sorted(got) == [
        (1, 0, 1.0), (2, 1, 1.0), (3, 4, 0.9939), (4, 2, 0.0), (5, 3, -2.0)
    ]
