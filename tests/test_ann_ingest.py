"""Streaming IVF-index ingest: frozen-quantizer appends must equal the
batch assignment over the full corpus, survive replay without
duplicates, and keep the probe's directory pruning."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from tajo_spark.catalog import load_parquet, load_table
from tajo_spark.operators import similarity as sim
from tajo_spark.streaming import ann_ingest as AI
from tests.conftest import SF_DIR, jobs_of, py4j_round_trips


def _corpus(spark):
    return load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    )


def test_stream_ingest_equals_frozen_batch_assignment(spark, tmp_path):
    emb = _corpus(spark)
    boot = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)

    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=8)

    # late vectors arrive as two files → two micro-batches
    src = str(tmp_path / "src")
    os.makedirs(src)
    rest.filter(F.col("vec_id") < 400).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    rest.filter(F.col("vec_id") >= 400).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema(
            "vec_id BIGINT, embedding ARRAY<FLOAT>"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = AI.ivf_ingest_stream(
        stream, codec, index, str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {
        (r.vec_id, r.centroid_id)
        for r in spark.read.parquet(index).select(
            "vec_id", "centroid_id"
        ).collect()
    }
    want = {
        (r.vec_id, r.centroid_id)
        for r in AI.assign_with_frozen_centroids(emb, codec).collect()
    }
    assert got == want  # every vector present once, frozen assignment
    # quantized payload matches the batch quantizer bit-for-bit
    got_q8 = {
        r.vec_id: tuple(r.q8)
        for r in spark.read.parquet(index).select("vec_id", "q8").collect()
    }
    want_q8 = {
        r.vec_id: tuple(r.q8)
        for r in emb.select(
            "vec_id", sim.quantize_int8(F.col("embedding")).alias("q8")
        ).collect()
    }
    assert got_q8 == want_q8


def test_replayed_batch_id_overwrites_not_duplicates(spark, tmp_path):
    emb = _corpus(spark)
    boot = emb.filter(F.col("vec_id") < 100)
    late = emb.filter(F.col("vec_id").between(100, 199))
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=4)

    AI.ivf_append_batch(late, codec, index, batch_id=7)
    n1 = spark.read.parquet(index).count()
    # crash-replay of the SAME batch id: dynamic overwrite must land on
    # the same (centroid_id, __batch_id) partitions, not append
    AI.ivf_append_batch(late, codec, index, batch_id=7)
    n2 = spark.read.parquet(index).count()
    assert n1 == n2 == 200
    assert (
        spark.read.parquet(index)
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .isEmpty()
    )


def test_rebootstrap_replaces_the_whole_index(spark, tmp_path):
    # a bootstrap over an existing index must not leave the old
    # model's batches or centroid directories readable beside the new
    # base (a dynamic overwrite alone replaces only what the new corpus
    # writes)
    emb = _corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), index, n_centroids=4
    )
    AI.ivf_append_batch(
        emb.filter(F.col("vec_id").between(300, 349)), codec, index,
        batch_id=5,
    )
    assert sim.ivf_q8_shortlist(spark, index, codec, [1.0] * 64).count()
    AI.ivf_ingest_init(emb.filter(F.col("vec_id") < 200), index, n_centroids=2)
    assert sorted(
        d for d in os.listdir(index) if d.startswith("centroid_id=")
    ) == ["centroid_id=0", "centroid_id=1"]
    got = spark.read.parquet(index)
    assert got.count() == 200
    assert {r[0] for r in got.select("__batch_id").distinct().collect()} == {-1}
    # the probe memo was dropped too: it sees the new base only
    assert load_parquet(spark, index).count() == 200


def test_serve_construction_runs_one_job_per_codec(spark, tmp_path):
    # centroids and codebooks are plan literals: building the serving
    # frame runs only the request-sized query-probe read
    emb = _corpus(spark)
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    for name, geometry in (("q8", {}), ("pq", {"m": 8, "ksub": 16})):
        index = str(tmp_path / name)
        codec = AI.ivf_ingest_init(emb, index, n_centroids=4, **geometry)
        df, jobs = jobs_of(spark, f"serve_{name}", lambda: sim.ann_join_persisted(
            spark, index, codec, q, emb, k=5, nprobe=2
        ))
        assert len(jobs) == 1, (name, jobs)
        assert df.count() == 5 * q.count()


def test_second_append_and_probe_reuse_the_codec_columns(
    spark, tmp_path, monkeypatch
):
    # the columns that depend only on the frozen codec are built on
    # first use and shared by every later append and probe, which build
    # only their own literals
    emb = _corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), index, n_centroids=4
    )
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    qv = list(emb.filter(F.col("vec_id") == 450).first().embedding)
    built = []
    for name in ("_as_double", "dot", "l2_normalize", "quantize_int8"):
        real = getattr(sim, name)
        monkeypatch.setattr(
            sim, name, lambda *a, _r=real, _n=name: built.append(_n) or _r(*a)
        )

    def use(batch_id):
        AI.ivf_append_batch(
            emb.filter(F.col("vec_id").between(300 + 50 * batch_id,
                                               349 + 50 * batch_id)),
            codec, index, batch_id=batch_id, coalesce=1,
        )
        load_parquet(spark, index)  # the probe memo, outside the count
        with py4j_round_trips(spark) as trips:
            sim.ivf_q8_shortlist(spark, index, codec, qv, k=5, nprobe=2)
        sim.ann_join_persisted(spark, index, codec, q, emb, k=5, nprobe=2)
        return trips.count

    first = use(0)
    assert {"dot", "l2_normalize"} <= set(built)
    built.clear()
    second = use(1)
    assert built == []
    assert second < first, (first, second)


def test_assignment_skips_the_param_transfer(spark, tmp_path):
    # the frozen model's params reached the JVM at the fit: assigning a
    # batch calls the JVM model directly instead of re-sending each one
    # through JavaTransformer._transform, and assigns the same rows
    emb = _corpus(spark)
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), str(tmp_path / "index"),
        n_centroids=4,
    )
    batch = emb.filter(F.col("vec_id") >= 300)

    def through_the_wrapper():
        return (
            codec.model.transform(
                batch.select("vec_id", "embedding", codec.features)
            )
            .withColumnRenamed("prediction", "centroid_id")
            .drop("features")
        )

    AI.assign_with_frozen_centroids(batch, codec)
    with py4j_round_trips(spark) as direct:
        got = AI.assign_with_frozen_centroids(batch, codec)
    with py4j_round_trips(spark) as wrapped:
        want = through_the_wrapper()
    assert wrapped.count - direct.count >= 40, (wrapped.count, direct.count)
    cols = ["vec_id", "centroid_id"]
    assert sorted(got.select(cols).collect()) == sorted(
        want.select(cols).collect()
    )
    assert got.schema == want.schema


def test_probe_prunes_and_finds_streamed_vector(spark, tmp_path):
    emb = _corpus(spark)
    boot = emb.filter(F.col("vec_id") < 300)
    late = emb.filter(F.col("vec_id") >= 300)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=8)
    AI.ivf_append_batch(late, codec, index, batch_id=0)

    qrow = emb.filter(F.col("vec_id") == 450).first()
    shortlist = sim.ivf_q8_shortlist(
        spark, index, codec, list(qrow.embedding), k=5, nprobe=2
    )
    ids = [r.vec_id for r in shortlist.collect()]
    assert 450 in ids  # a streamed vector is its own nearest neighbor
    plan = shortlist._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "centroid_id" in pf, plan  # pruning survives the batch layout


def _broadcast_join_shortlist(spark, index, codec, qv, k, nprobe, expand):
    """The shortlist as it was formulated before the query side became
    plan literals: a one-row createDataFrame broadcast-joined to a
    fresh read of the index.  Reference for bit-identity."""
    import math

    import numpy as np

    qv = np.asarray(qv, dtype="float64")
    qn = qv / max(float(np.linalg.norm(qv)), 1e-12)
    order = np.argsort(
        [float(np.linalg.norm(c - qn)) for c in codec.model.clusterCenters()]
    )
    probe = [int(i) for i in order[:nprobe]]
    scale = max(float(np.max(np.abs(qv))), 1e-300) / 127.0
    qq8 = [
        float(math.floor(abs(x / scale) + 0.5)) * (1.0 if x >= 0 else -1.0)
        for x in qv
    ]
    acc = 0.0
    for x in qq8:
        acc += x * x
    qdf = spark.createDataFrame(
        [(qq8, float(acc) ** 0.5)], "qq8 ARRAY<DOUBLE>, qn8 DOUBLE"
    )
    cv, cn = F.col("__cv"), F.col("__cn")
    return (
        spark.read.parquet(index)
        .filter(F.col("centroid_id").isin(probe))
        .select("vec_id", sim._as_double(F.col("q8")).alias("__cv"))
        .withColumn("__cn", F.sqrt(sim.dot(cv, cv)))
        .join(F.broadcast(qdf))
        .select(
            "vec_id",
            F.when(
                cn * F.col("qn8") != 0,
                sim.dot(cv, F.col("qq8")) / (cn * F.col("qn8")),
            ).alias("__q8_cos"),
        )
        .orderBy(F.desc("__q8_cos"), "vec_id")
        .limit(k * expand)
    )


def test_probe_right_after_append_runs_one_job(spark, tmp_path):
    # the append hands the index memo its schema (no inference job on
    # re-load) and the query vector is a plan literal (no Python-worker
    # broadcast build): the whole probe is one scan job
    emb = _corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), index, n_centroids=4
    )
    AI.ivf_append_batch(
        emb.filter(F.col("vec_id") >= 300), codec, index, batch_id=0,
        coalesce=1,
    )
    qv = list(emb.filter(F.col("vec_id") == 450).first().embedding)
    rows, jobs = jobs_of(spark, "probe_after_append", lambda: sim.ivf_q8_shortlist(
        spark, index, codec, qv, k=5, nprobe=2
    ).collect())
    assert 450 in [r.vec_id for r in rows]
    assert len(jobs) == 1, jobs


def test_append_from_many_partitions_writes_one_file_per_centroid(
    spark, tmp_path
):
    # a 3-partition source: assignment + quantization run 3 tasks wide
    # (coalesce only caps the write tasks behind the rebalance), and
    # every touched centroid still gets exactly one file for the batch
    import glob

    emb = _corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 200), index, n_centroids=4
    )
    late = emb.filter(F.col("vec_id") >= 200).repartition(3)
    for b, cap in ((0, 1), (1, None)):
        _, jobs = jobs_of(spark, f"append_{b}", lambda: AI.ivf_append_batch(
            late, codec, index, batch_id=b, coalesce=cap
        ))
        assert 3 in [n for stages in jobs for n in stages], jobs
        leaves = glob.glob(os.path.join(index, "centroid_id=*", f"__batch_id={b}"))
        assert len(leaves) > 1
        for leaf in leaves:
            assert len(glob.glob(os.path.join(leaf, "*.parquet"))) == 1, leaf
    # the bootstrap goes through the same writer
    for leaf in glob.glob(os.path.join(index, "centroid_id=*", "__batch_id=-1")):
        assert len(glob.glob(os.path.join(leaf, "*.parquet"))) == 1, leaf
    assert spark.read.parquet(index).count() == 200 + 2 * 300


def test_literal_probe_equals_broadcast_join_before_and_after_fold(
    spark, tmp_path
):
    import numpy as np

    emb = _corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 200), index, n_centroids=4
    )
    for b in (0, 1):
        AI.ivf_append_batch(
            emb.filter(F.col("vec_id").between(200 + 150 * b, 349 + 150 * b)),
            codec, index, batch_id=b, coalesce=1,
        )
    rng = np.random.default_rng(7)
    queries = [rng.standard_normal(64).tolist() for _ in range(4)]
    queries.append(list(emb.filter(F.col("vec_id") == 321).first().embedding))

    def both():
        got = [
            [tuple(r) for r in sim.ivf_q8_shortlist(
                spark, index, codec, qv, k=5, nprobe=2, expand=3
            ).collect()]
            for qv in queries
        ]
        want = [
            [tuple(r) for r in _broadcast_join_shortlist(
                spark, index, codec, qv, k=5, nprobe=2, expand=3
            ).collect()]
            for qv in queries
        ]
        return got, want

    before, want_before = both()
    assert before == want_before
    assert AI.compact_index_batches(spark, index, upto_batch_id=1)[
        "batch_dirs_removed"
    ] > 0
    after, want_after = both()
    assert after == want_after
    assert after == before


def test_pq_stream_ingest_equals_frozen_batch_encode(spark, tmp_path):
    # streamed PQ appends under frozen (centroids, codebooks) must
    # produce byte-identical codes to a one-shot encode of the full
    # corpus with the same frozen state.
    from tajo_spark.operators.pq import pq_encode_codes

    emb = _corpus(spark)
    boot = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)

    index = str(tmp_path / "pq_index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=4, m=8, ksub=16)

    src = str(tmp_path / "pq_src")
    os.makedirs(src)
    rest.filter(F.col("vec_id") < 400).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    rest.filter(F.col("vec_id") >= 400).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = AI.ivf_ingest_stream(
        stream, codec, index, str(tmp_path / "pq_ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {
        (r.vec_id, r.centroid_id, tuple(r.codes))
        for r in spark.read.parquet(index)
        .select("vec_id", "centroid_id", "codes")
        .collect()
    }
    centers = [list(c) for c in codec.model.clusterCenters()]
    want = {
        (r.vec_id, r.centroid_id, tuple(r.codes))
        for r in pq_encode_codes(
            AI.assign_with_frozen_centroids(emb, codec), centers,
            codec.codebooks,
        ).collect()
    }
    assert got == want
    assert len(got) == emb.count()


def test_pq_ingest_replay_is_idempotent(spark, tmp_path):
    emb = _corpus(spark)
    boot = emb.filter(F.col("vec_id") < 300)
    late = emb.filter(F.col("vec_id") >= 300)
    index = str(tmp_path / "pq_index2")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=4, m=8, ksub=16)
    AI.ivf_append_batch(late, codec, index, batch_id=7)
    before = spark.read.parquet(index).count()
    AI.ivf_append_batch(late, codec, index, batch_id=7)  # replay
    after = spark.read.parquet(index).count()
    assert before == after == emb.count()


def test_neardup_gate_rejects_a_pq_codec():
    # Gate B compares batch vectors with each other in the index's
    # encoding, which only the int8 codec can do for unencoded rows
    from tajo_spark.operators.pq import PQCodec

    class _Model:
        def clusterCenters(self):
            return [np.zeros(4)]

    codec = PQCodec(_Model(), np.zeros((2, 2, 2)))
    with pytest.raises(ValueError, match="near-dup gate scores int8"):
        AI.neardup_gate_batch(None, codec, "unused", batch_id=0)


def test_pq_probe_prunes_across_ingest_batches(spark, tmp_path):
    # the accumulated (centroid_id, __batch_id) tree must still prune
    # on centroid_id at the top level, and batch probes over the
    # ingested index must serve correct exact-reranked results.
    from tajo_spark.operators.similarity import ann_join

    emb = _corpus(spark)
    boot = emb.filter(F.col("vec_id") < 300)
    late = emb.filter(F.col("vec_id") >= 300)
    index = str(tmp_path / "pq_index3")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=4, m=8, ksub=16)
    AI.ivf_append_batch(late, codec, index, batch_id=0)

    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    df = sim.ann_join_persisted(
        spark, index, codec, q, emb,
        k=5, nprobe=4, expand=1000,
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    got = sorted((r.q_id, r.rank, r.vec_id) for r in df.collect())
    want = sorted(
        (r.q_id, r.rank, r.vec_id) for r in ann_join(q, emb, k=5).collect()
    )
    assert got == want


def test_compact_index_batches_folds_and_preserves_probes(spark, tmp_path):
    # three ingest batches -> one base partition per centroid after
    # compaction; row set byte-identical, probe results unchanged,
    # batch directories actually gone.
    emb = _corpus(spark)
    index = str(tmp_path / "pq_compact")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 200), index, n_centroids=4, m=8, ksub=16
    )
    AI.ivf_append_batch(
        emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 350)),
        codec, index, batch_id=0,
    )
    AI.ivf_append_batch(
        emb.filter(F.col("vec_id") >= 350), codec, index, batch_id=1,
    )
    rows_before = {
        (r.vec_id, r.centroid_id, tuple(r.codes))
        for r in spark.read.parquet(index).collect()
    }
    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probe_before = sorted(
        (r.q_id, r.rank, r.vec_id)
        for r in sim.ann_join_persisted(
            spark, index, codec, q, emb, k=5, nprobe=4,
            expand=1000,
        ).collect()
    )

    stats = AI.compact_index_batches(spark, index, upto_batch_id=1)
    assert stats["batch_dirs_removed"] > 0
    assert stats["rows_folded"] == stats["rows_after"] == len(rows_before)

    rows_after = {
        (r.vec_id, r.centroid_id, tuple(r.codes))
        for r in spark.read.parquet(index).collect()
    }
    assert rows_after == rows_before
    import os
    batch_dirs = [
        b
        for c in os.listdir(index)
        if c.startswith("centroid_id=")
        for b in os.listdir(os.path.join(index, c))
        if b.startswith("__batch_id=") and b != "__batch_id=-1"
    ]
    assert batch_dirs == []
    probe_after = sorted(
        (r.q_id, r.rank, r.vec_id)
        for r in sim.ann_join_persisted(
            spark, index, codec, q, emb, k=5, nprobe=4,
            expand=1000,
        ).collect()
    )
    assert probe_after == probe_before


def test_auto_compaction_fires_in_stream_and_bounds_dirs(spark, tmp_path):
    # compact_every=2 over 6 micro-batches -> the fold fires at batch
    # ids 2 and 4 (two full maintenance cycles inside one stream run).
    # The self-maintaining stream must end with a bounded directory
    # tree, the full row set, no duplicates, and probe results
    # identical to an unmaintained twin.
    emb = _corpus(spark)
    boot = emb.filter(F.col("vec_id") < 200)
    rest = emb.filter(F.col("vec_id") >= 200)

    def run(index, ckpt, src, **kw):
        import os as _os

        _os.makedirs(src)
        for lo in range(200, 500, 50):  # 6 single-file micro-batches
            rest.filter(
                F.col("vec_id").between(lo, lo + 49)
            ).coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = AI.ivf_ingest_stream(stream, codec, index, ckpt, **kw).start()
        q.processAllAvailable()
        q.stop()

    idx_auto = str(tmp_path / "auto")
    codec = AI.ivf_ingest_init(boot, idx_auto, n_centroids=4, m=8, ksub=16)
    run(idx_auto, str(tmp_path / "ckpt_a"), str(tmp_path / "src_a"),
        compact_every=2)

    idx_raw = str(tmp_path / "raw")
    AI.ivf_append_batch(boot, codec, idx_raw, batch_id=-1)
    run(idx_raw, str(tmp_path / "ckpt_r"), str(tmp_path / "src_r"))

    # fold fired: only batches >= the last fold horizon survive as
    # distinct dirs (base -1 plus batches 4,5 after the batch-4 fold)
    assert AI.count_batch_dirs(idx_auto) < AI.count_batch_dirs(idx_raw)
    got = spark.read.parquet(idx_auto)
    assert got.count() == emb.count()
    assert got.groupBy("vec_id").count().filter(F.col("count") > 1).isEmpty()
    surviving = {
        r[0] for r in got.select("__batch_id").distinct().collect()
    }
    assert surviving == {-1, 4, 5}  # batches 0-3 folded into the base

    q = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    probe = lambda idx: sorted(  # noqa: E731
        (r.q_id, r.rank, r.vec_id)
        for r in sim.ann_join_persisted(
            spark, idx, codec, q, emb, k=5, nprobe=4,
            expand=1000,
        ).collect()
    )
    assert probe(idx_auto) == probe(idx_raw)


def test_auto_compaction_dir_threshold_arm(spark, tmp_path):
    # the SLO arm: max_batch_dirs fires the fold when the leaf count
    # exceeds the threshold, independent of batch-id cadence.
    emb = _corpus(spark)
    index = str(tmp_path / "thresh")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 200), index, n_centroids=4
    )
    for b in range(3):
        AI.ivf_append_batch(
            emb.filter(F.col("vec_id").between(200 + 100 * b, 299 + 100 * b)),
            codec, index, batch_id=b,
        )
    dirs = AI.count_batch_dirs(index, exclude_base=True)
    assert dirs > 8  # 3 batches x 4 centroids, base excluded
    # under threshold: no fire
    assert AI.maybe_compact(spark, index, 3, max_batch_dirs=dirs) is None
    stats = AI.maybe_compact(spark, index, 3, max_batch_dirs=8)
    assert stats is not None and stats["trigger"] == "dirs"
    # folded upto batch 2; base only (4 centroid dirs) remains
    assert AI.count_batch_dirs(index) == 4
    assert spark.read.parquet(index).count() == emb.count()
    # r11 review: the arm compares FOLDABLE dirs (base excluded), so a
    # threshold below n_centroids cannot fire a full-index rewrite on
    # every batch forever — post-fold there is nothing foldable
    assert AI.count_batch_dirs(index, exclude_base=True) == 0
    assert AI.maybe_compact(spark, index, 4, max_batch_dirs=0) is None


def test_maybe_compact_never_folds_the_inflight_batch(spark, tmp_path):
    # the replay contract: maybe_compact at batch N folds strictly
    # below N, so a crash-replay of batch N still overwrites its own
    # directories and nothing is double-counted.
    emb = _corpus(spark)
    index = str(tmp_path / "horizon")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), index, n_centroids=4
    )
    b3 = emb.filter(F.col("vec_id").between(300, 399))
    b4 = emb.filter(F.col("vec_id") >= 400)
    AI.ivf_append_batch(b3, codec, index, batch_id=3)
    # batch 4 arrives; the cadence arm fires and folds upto batch 3
    stats = AI.maybe_compact(spark, index, 4, compact_every=4)
    assert stats is not None and stats["trigger"] == "every"
    AI.ivf_append_batch(b4, codec, index, batch_id=4)
    # the fold left exactly base + batch-4 partitions: batch 3 is in
    # the base, batch 4 (in-flight at fold time) kept its own dirs
    import os as _os

    bids = {
        b
        for c in _os.listdir(index)
        if c.startswith("centroid_id=")
        for b in _os.listdir(_os.path.join(index, c))
        if b.startswith("__batch_id=")
    }
    assert bids == {"__batch_id=-1", "__batch_id=4"}
    n1 = spark.read.parquet(index).count()
    assert n1 == emb.count()
    # crash-replay of batch 4: compaction fires AGAIN on the replay
    # (same batch id, same horizon — batch 4 still never folded) then
    # the append overwrites its own partitions — still no duplicates
    AI.maybe_compact(spark, index, 4, compact_every=4)
    AI.ivf_append_batch(b4, codec, index, batch_id=4)
    assert spark.read.parquet(index).count() == n1
    assert (
        spark.read.parquet(index)
        .groupBy("vec_id").count().filter(F.col("count") > 1).isEmpty()
    )


def test_compact_skips_non_numeric_batch_dir(spark, tmp_path):
    # ADVICE r10: a stray non-numeric __batch_id directory must not
    # abort the delete phase mid-removal.
    import os as _os

    emb = _corpus(spark)
    index = str(tmp_path / "stray")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), index, n_centroids=4
    )
    AI.ivf_append_batch(
        emb.filter(F.col("vec_id") >= 300), codec, index, batch_id=0
    )
    cdir = next(
        d for d in _os.listdir(index) if d.startswith("centroid_id=")
    )
    stray = _os.path.join(index, cdir, "__batch_id=__HIVE_DEFAULT_PARTITION__")
    _os.makedirs(stray)
    stats = AI.compact_index_batches(spark, index, upto_batch_id=0)
    assert stats["batch_dirs_removed"] > 0
    assert _os.path.isdir(stray)  # skipped, not crashed on


def test_compact_rerun_after_simulated_crash_does_not_duplicate(spark, tmp_path):
    # crash window: new base written but old batch dirs not yet removed
    # -> a re-run must collapse each vector back to ONE row, not bake
    # the leftovers in twice.
    emb = _corpus(spark)
    index = str(tmp_path / "pq_crash")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), index, n_centroids=4, m=8, ksub=16
    )
    late = emb.filter(F.col("vec_id") >= 300)
    AI.ivf_append_batch(late, codec, index, batch_id=3)
    AI.compact_index_batches(spark, index, upto_batch_id=3)
    # simulate the crash leftovers: the same batch's directories
    # reappear alongside the already-folded base
    AI.ivf_append_batch(late, codec, index, batch_id=3)
    stats = AI.compact_index_batches(spark, index, upto_batch_id=3)
    assert stats["rows_after"] == emb.count()
    assert spark.read.parquet(index).count() == emb.count()
    assert (
        spark.read.parquet(index)
        .groupBy("vec_id").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_fold_runs_three_jobs(spark, tmp_path):
    # the auto-compaction fold reads through the catalog with the
    # schema the writer declared: no schema-inference job beside the
    # rebalanced write's
    emb = _corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(
        emb.filter(F.col("vec_id") < 300), index, n_centroids=4
    )
    AI.ivf_append_batch(
        emb.filter(F.col("vec_id") >= 300), codec, index, batch_id=0
    )
    stats, jobs = jobs_of(spark, "fold", lambda: AI.maybe_compact(
        spark, index, batch_id=1, compact_every=1
    ))
    assert len(jobs) == 3, jobs
    assert stats["batch_dirs_removed"] > 0
    assert AI.count_batch_dirs(index, exclude_base=True) == 0
    assert load_parquet(spark, index).count() == emb.count()


def test_compact_raises_on_a_corrupt_footer(spark, tmp_path):
    # only "nothing written yet" is benign: a batch directory whose
    # file is not parquet must fail the fold, not disable it
    part = tmp_path / "idx" / "centroid_id=0" / "__batch_id=0"
    part.mkdir(parents=True)
    (part / "part-0.parquet").write_bytes(b"not parquet" * 8)
    with pytest.raises(Exception):
        AI.compact_index_batches(spark, str(tmp_path / "idx"), upto_batch_id=0)


def test_compact_on_empty_precreated_dir_is_benign(spark, tmp_path):
    # ADVICE r12: an index dir that EXISTS but holds no readable parquet
    # (pre-created dir / zero-row bootstrap) raises
    # UNABLE_TO_INFER_SCHEMA, not PATH_NOT_FOUND — the guard must treat
    # both as "nothing written yet" instead of killing the stream.
    import os as _os

    index = str(tmp_path / "empty_idx")
    _os.makedirs(index)
    stats = AI.compact_index_batches(spark, index, upto_batch_id=5)
    assert stats == {
        "rows_folded": 0,
        "rows_after": 0,
        "batch_dirs_removed": 0,
    }
    # absent path stays benign too (the r11 arm)
    stats2 = AI.compact_index_batches(
        spark, str(tmp_path / "never_created"), upto_batch_id=5
    )
    assert stats2["rows_folded"] == 0
