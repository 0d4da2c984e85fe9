"""IVF-PQ index tests (operators/pq.py).

Contract mirrors the reference's index tests (BST index: storage layout
+ pruned probe returns the same rows a full scan would,
tajo-storage/.../TestBSTIndex.java): the approximate structure must
degrade to EXACT under full probe, prune at the source, and its
distributed scoring must match a numpy reference bit-for-bit.
"""

from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from tajo_spark.operators import pq as P
from tajo_spark.operators import similarity as S
from tajo_spark.operators.similarity import ann_join
from tajo_spark.queries.datapipe import load_table
from tajo_spark.streaming.ann_ingest import ivf_ingest_init
from tests.conftest import SF_DIR

N_CENTROIDS = 4


@pytest.fixture(scope="module")
def pq_index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    emb = load_table(spark, SF_DIR, "embeddings")
    codec = ivf_ingest_init(
        emb, path, n_centroids=N_CENTROIDS, m=P.DEFAULT_M, ksub=P.DEFAULT_KSUB
    )
    return path, codec, emb


def _queries(emb):
    return emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )


def test_pq_full_probe_degrades_to_exact(spark, pq_index):
    # nprobe = all centroids + expand >> corpus: the PQ stage selects
    # everything, so the exact rerank must reproduce ann_join verbatim
    # (ranks, ids, scores) — the index-vs-full-scan contract.
    path, codec, emb = pq_index
    q = _queries(emb)
    full = S.ann_join_persisted(
        spark, path, codec, q, emb,
        k=5, nprobe=N_CENTROIDS, expand=1000,
    )
    exact = ann_join(q, emb, k=5)
    got = sorted((r.q_id, r.rank, r.vec_id, r.cos) for r in full.collect())
    want = sorted((r.q_id, r.rank, r.vec_id, r.cos) for r in exact.collect())
    assert got == want


def test_pq_codes_schema_and_width(spark, pq_index):
    # 8 tinyint codes per vector (32x under 64 float32s), every code a
    # valid codebook row id.
    path, codec, emb = pq_index
    m, ksub, dsub = codec.codebooks.shape
    idx = spark.read.parquet(path)
    assert dict(idx.dtypes)["codes"] == "array<tinyint>"
    bad = idx.filter(
        (F.size("codes") != m)
        | F.exists("codes", lambda c: (c < 0) | (c >= ksub))
    ).count()
    assert bad == 0


def test_pq_probe_prunes_partitions(spark, pq_index):
    # the probe scan must carry centroid_id PartitionFilters: directory
    # pruning happens at file listing, before any byte is read.
    path, codec, emb = pq_index
    q = _queries(emb)
    df = S.ann_join_persisted(
        spark, path, codec, q, emb, k=3, nprobe=1, expand=2
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*centroid_id", plan), plan
    assert df.count() > 0


def test_pq_adc_matches_numpy(spark, pq_index):
    # the JVM zip_with/element_at ADC pipeline must equal the textbook
    # numpy computation: score = q̂·c + Σₘ LUT[m][code_m].
    path, codec, emb = pq_index
    codebooks = codec.codebooks
    m, ksub, dsub = codebooks.shape
    centers = np.asarray(
        [list(c) for c in codec.model.clusterCenters()], dtype="float64"
    )
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = np.asarray(qrow.embedding, dtype="float64")
    qn = qv / max(float(np.linalg.norm(qv)), 1e-12)
    luts = np.stack(
        [qn[i * dsub : (i + 1) * dsub] @ codebooks[i].T for i in range(m)]
    )
    idx = spark.read.parquet(path).orderBy("vec_id").limit(20).collect()
    want = {
        r.vec_id: float(
            qn @ centers[r.centroid_id]
            + sum(luts[i][r.codes[i]] for i in range(m))
        )
        for r in idx
    }
    lut_lit = F.lit([[float(x) for x in row] for row in luts])
    qc_by_cent = F.lit([float(qn @ c) for c in centers])
    got_df = (
        spark.read.parquet(path)
        .filter(F.col("vec_id").isin(list(want)))
        .select(
            "vec_id",
            P._adc_score(
                F.col("codes"),
                lut_lit,
                F.element_at(qc_by_cent, F.col("centroid_id") + 1),
            ).alias("adc"),
        )
    )
    got = {r.vec_id: r.adc for r in got_df.collect()}
    assert set(got) == set(want)
    for vid in want:
        assert got[vid] == pytest.approx(want[vid], abs=1e-9)


def test_pq_codebooks_deterministic():
    rng = np.random.default_rng(7)
    res = rng.normal(size=(256, 64))
    a = P.pq_train(res, m=8, ksub=16, seed=42)
    b = P.pq_train(res, m=8, ksub=16, seed=42)
    assert np.array_equal(a, b)


def test_pq_residual_reconstruction_beats_zero(spark, pq_index):
    # PQ must actually encode information: reconstruction
    # ||r - codebook[code]||² averaged over the corpus has to be
    # materially under ||r||² (the all-zeros "no PQ" baseline).
    # ~0.54 measured on this near-isotropic synthetic corpus (4
    # codebook bits per 8-dim subspace); real embedding manifolds
    # compress far better — the bound only asserts information flows.
    path, codec, emb = pq_index
    codebooks = codec.codebooks
    m, ksub, dsub = codebooks.shape
    centers = np.asarray(
        [list(c) for c in codec.model.clusterCenters()], dtype="float64"
    )
    rows = (
        spark.read.parquet(path)
        .join(emb.select("vec_id", "embedding"), "vec_id")
        .collect()
    )
    err = base = 0.0
    for r in rows:
        v = np.asarray(r.embedding, dtype="float64")
        vn = v / max(float(np.linalg.norm(v)), 1e-12)
        res = vn - centers[r.centroid_id]
        rec = np.concatenate([codebooks[i][r.codes[i]] for i in range(m)])
        err += float(((res - rec) ** 2).sum())
        base += float((res**2).sum())
    assert err < 0.75 * base


def test_pq_train_rejects_int8_overflowing_ksub():
    rng = np.random.default_rng(1)
    with pytest.raises(ValueError, match="ksub"):
        P.pq_train(rng.normal(size=(64, 64)), m=8, ksub=256)


def test_bounded_collect_raises_past_the_serving_bound(spark, pq_index, monkeypatch):
    # the query-side driver read is request-sized by contract; past the
    # bound it must fail loudly and name the call site, not pull rows
    from tajo_spark.operators.similarity import bounded_collect

    path, codec, emb = pq_index
    small = emb.select("vec_id").limit(5)
    assert len(bounded_collect(small, 5, "five rows")) == 5
    with pytest.raises(ValueError, match="five rows: 5 rows .* 4-row bound"):
        bounded_collect(small, 4, "five rows")
    # the serving path routes its read through the bound: 7 queries x
    # nprobe 2 = 14 probe rows
    q = _queries(emb).limit(7)
    monkeypatch.setattr(S, "SERVING_BATCH_MAX_ROWS", 13)
    with pytest.raises(ValueError, match="ann_join_persisted query probes"):
        S.ann_join_persisted(spark, path, codec, q, emb, nprobe=2)
    monkeypatch.setattr(S, "SERVING_BATCH_MAX_ROWS", 14)
    assert S.ann_join_persisted(
        spark, path, codec, q, emb, k=1, nprobe=2
    ).count() == 7


def test_query_side_read_is_one_row_per_query(spark, pq_index, monkeypatch):
    # each query crosses to the driver once, carrying its ranked probes
    # and its LUTs, and is exploded to its probe targets there; the
    # bound stays counted in probe rows
    path, codec, emb = pq_index
    q = _queries(emb).limit(7)
    real, reads = S.bounded_collect, []

    def spy(df, max_rows, what):
        rows = real(df, max_rows, what)
        reads.append((len(rows), max_rows))
        return rows

    monkeypatch.setattr(S, "bounded_collect", spy)
    got = S.ann_join_persisted(spark, path, codec, q, emb, k=2, nprobe=4)
    assert reads == [(7, S.SERVING_BATCH_MAX_ROWS // 4)]
    assert got.count() == 14
