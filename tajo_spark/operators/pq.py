"""Product-quantization ANN index: IVF-PQ with ADC probing + exact rerank.

Public-literature algorithm — Jégou, Douze & Schmid, "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011): the IVFADC
layout, plus the "+R" exact-rerank refinement (Jégou et al. 2011,
"Searching in one billion vectors").  Reference parity: apache/tajo has
no vector indexes; this extends the engine's similarity family the same
way the reference's BST index extends scans (an index = a storage
layout + a pruned probe, tajo-storage/.../BSTIndex.java) — completing
the float IVF → int8 IVF → PQ compression ladder in
``operators/similarity.py``.

Why this is THE 100 TB ANN shape:

* **coarse IVF** — KMeans centroids partition the corpus; the index is
  parquet partitioned on ``centroid_id`` first (the ingestable
  ``(centroid_id, __batch_id)`` layout of streaming/ann_ingest.py), so
  an ``nprobe``-probe lists only its probe directories (static
  pruning, plan-pinned).
* **residual PQ** — each vector's residual (unit-normalized vector
  minus its centroid) is split into ``M`` subvectors, each quantized
  to one of ``KSUB`` codebook entries: ``M`` bytes per vector.  At
  dim=64 / M=16 that is 256 float-bytes → 16 bytes (**16×** smaller
  than float, 4× smaller than the int8 index), so the probe scan moves
  1/16 of the bytes.  Residual (not raw) quantization is what makes a
  few bytes usable: the coarse term carries the vector's position, PQ
  only encodes the delta.  The M/KSUB dial is measured in SCALE.md:
  on this unstructured synthetic corpus M=16/KSUB=64 reaches ~90% of
  the int8 index's recall at 1/4 the bytes, and M=32 matches it
  exactly at 1/2 — coarser settings (the former M=8/KSUB=16 default)
  drown neighbor margins in quantization noise and plateau regardless
  of nprobe.
* **ADC probing** — per query, a lookup table of subvector dot
  products (``M × KSUB`` doubles) is computed JVM-side from the
  literal codebook; scoring a candidate is ``M`` array lookups + adds
  (``zip_with``/``element_at`` — whole-stage-codegen'd, no Python, no
  float vector touched).  score ≈ q̂·v̂ = q̂·c + Σₘ LUT[m][code_m].
* **exact rerank** — the approximate stage only SELECTS candidates;
  returned scores are exact float cosine over the semi-joined
  shortlist, so recall (not correctness) is what nprobe/expand dial.

The index is built, appended and served by the same pipeline as the
int8 index (``streaming/ann_ingest.ivf_ingest_init`` with ``m``/``ksub``,
``similarity.ann_join_persisted``); this module supplies only the
codec, :class:`PQCodec`, and its training.

Cost model at 1000 executors: index build is one KMeans fit on a
driver-bounded sample + one map-only encode pass (Arrow-vectorized
numpy, amortized); a batch probe reads nprobe/n_centroids of an
already-16×-smaller index, one window shuffle of skinny
(q_id, vec_id, score) triples, one semi-join rerank.
"""

from __future__ import annotations

from functools import cached_property

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tajo_spark.operators.similarity import (
    Codec,
    _as_double,
    _vec_lit,
    dot,
    l2_normalize,
)

# PQ geometry defaults for the dim=64 corpus: 16 subvectors of 4 dims,
# 64 centroids each → 16 bytes/vector (6-bit codes stored as bytes).
# Chosen from the measured recall ladder (SCALE.md): M=8/KSUB=16 was
# too coarse for dim-64 unstructured embeddings (recall plateaus ~0.26
# at ANY nprobe); M=16/KSUB=64 restores ~90% of int8-index recall at
# 1/4 its bytes.  Pass m=32 to match int8 recall exactly at 1/2.
DEFAULT_M = 16
DEFAULT_KSUB = 64
# PQ codebooks train on a driver-side sample: k-means quality saturates
# at a few hundred points per centroid, so the sample is O(M·KSUB·c),
# independent of corpus size (the FAISS train_size rule of thumb).
DEFAULT_TRAIN_SAMPLE = 4096


def _np_kmeans(x: np.ndarray, k: int, seed: int, iters: int = 12) -> np.ndarray:
    """Tiny deterministic Lloyd k-means (numpy, driver-side) for the
    per-subspace codebooks.  Input is a bounded training sample
    (DEFAULT_TRAIN_SAMPLE rows of dsub floats) — milliseconds of work;
    Spark ML would cost a job per subspace for no quality gain."""
    rng = np.random.default_rng(seed)
    n = x.shape[0]
    if n == 0:
        return np.zeros((k, x.shape[1]))
    # k-means++ style greedy init, deterministic under the seed
    centers = [x[int(rng.integers(n))]]
    for _ in range(1, k):
        d2 = np.min(
            ((x[:, None, :] - np.asarray(centers)[None, :, :]) ** 2).sum(-1),
            axis=1,
        )
        tot = float(d2.sum())
        if tot <= 0:
            centers.append(x[int(rng.integers(n))])
            continue
        # clamp: float rounding can leave cumsum[-1] < 1.0, and a draw
        # above it would index one past the end
        idx = min(
            int(np.searchsorted(np.cumsum(d2 / tot), rng.random())), n - 1
        )
        centers.append(x[idx])
    c = np.asarray(centers, dtype="float64")
    for _ in range(iters):
        d2 = ((x[:, None, :] - c[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(axis=1)
        for j in range(k):
            pts = x[assign == j]
            if len(pts):
                c[j] = pts.mean(axis=0)
    return c


def pq_train(
    residuals: np.ndarray, m: int = DEFAULT_M, ksub: int = DEFAULT_KSUB,
    seed: int = 42,
) -> np.ndarray:
    """Train the PQ codebooks on a residual sample → (m, ksub, dsub)."""
    n, dim = residuals.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    if not 0 < ksub <= 127:
        # codes persist as TINYINT: ksub=256 (the other textbook
        # setting) would wrap argmin results negative in int8 and
        # element_at would silently read the LUT from the END at probe
        # time — widen the code dtype before raising this cap
        raise ValueError(f"ksub must be in [1, 127] for int8 codes, got {ksub}")
    dsub = dim // m
    return np.stack(
        [
            _np_kmeans(
                residuals[:, i * dsub : (i + 1) * dsub], ksub, seed + i
            )
            for i in range(m)
        ]
    )


def pq_encode_codes(
    assigned: DataFrame,
    centers: list,
    codebooks: np.ndarray,
) -> DataFrame:
    """Distributed PQ encode: (vec_id, embedding, centroid_id) →
    (vec_id, codes ARRAY<TINYINT>, centroid_id)."""
    return assigned.select(
        "vec_id", _encode_column(centers, codebooks), "centroid_id"
    )


def _encode_column(centers, codebooks: np.ndarray) -> Column:
    """The ``codes`` column over (embedding, centroid_id):
    Arrow-vectorized numpy per batch (index-BUILD cost, amortized; the
    probe path is pure JVM expressions) — argmin over ksub codebook
    entries per subspace of the normalized-vector residual."""
    from pyspark.sql.functions import pandas_udf

    cb = np.ascontiguousarray(codebooks, dtype="float64")
    cents = np.ascontiguousarray(np.asarray(centers, dtype="float64"))
    m, ksub, dsub = cb.shape
    if ksub > 127:
        raise ValueError(
            f"ksub={ksub} overflows the int8 code column (see pq_train)"
        )

    @pandas_udf("array<tinyint>")
    def encode(emb: pd.Series, cid: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        v = np.stack(emb.to_numpy())
        v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
        r = v - cents[cid.to_numpy()]
        out = np.empty((len(r), m), dtype="int8")
        for i in range(m):
            sub = r[:, i * dsub : (i + 1) * dsub]
            # ||sub - c||² argmin == (c·c - 2 sub·c) argmin
            d = (cb[i] ** 2).sum(1)[None, :] - 2.0 * sub @ cb[i].T
            out[:, i] = d.argmin(axis=1)
        return pd.Series(list(out))

    return encode(
        _as_double(F.col("embedding")), F.col("centroid_id")
    ).alias("codes")


def pq_train_residuals(
    assigned,
    centers,
    m: int = DEFAULT_M,
    ksub: int = DEFAULT_KSUB,
    seed: int = 42,
    train_sample: int = DEFAULT_TRAIN_SAMPLE,
):
    """Residual-sample + codebook training for the index bootstrap
    (streaming/ann_ingest.ivf_ingest_init) — ONE copy of the
    deterministic sampling rule (r11 review: an ingest bootstrap had
    a verbatim duplicate with a hard-coded sample size).

    Sample order is md5(vec_id): deterministic AND unbiased — hash
    order decorrelates the sample from ingest/shard order (a
    vec_id-prefix sample would train codebooks on one region of a
    sharded corpus); bare limit() would be partition-order-dependent.
    TakeOrdered, one-time build cost; the collect is bounded by
    ``train_sample`` rows, independent of corpus size."""
    sample = (
        assigned.select(
            "vec_id",
            l2_normalize(F.col("embedding")).alias("vn"),
            "centroid_id",
        )
        .orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(train_sample)
        .collect()
    )  # bounded: train_sample rows — PQ training set, not the corpus
    res = np.stack(
        [np.asarray(r.vn) - centers[r.centroid_id] for r in sample]
    )
    return pq_train(res, m=m, ksub=ksub, seed=seed)


def _adc_score(codes: Column, luts: Column, coarse: Column) -> Column:
    """ADC: score = q̂·c + Σₘ LUT[m][code_m].  zip_with pairs each code
    byte with its subspace LUT; element_at is 1-based.  Pure JVM —
    whole-stage codegen, M lookups+adds per candidate."""
    return coarse + F.aggregate(
        F.zip_with(
            codes, luts, lambda c, l: F.element_at(l, c.cast("int") + 1)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


class PQCodec(Codec):
    """The PQ codec: residual product-quantized ``codes`` under the
    frozen (centroids, codebooks) pair, scored by ADC — the scan reads
    M code bytes per candidate, never a float vector."""

    column = "codes"
    expand = 8

    def __init__(self, model, codebooks: np.ndarray):
        super().__init__(model)
        self.codebooks = np.ascontiguousarray(codebooks, dtype="float64")

    @cached_property
    def codebook(self) -> Column:
        return _vec_lit(self.codebooks.ravel())

    @cached_property
    def encoded(self) -> Column:
        return _encode_column(self.centers, self.codebooks)

    @cached_property
    def query_columns(self) -> tuple[Column, ...]:
        # LUT[m][j] = q̂_sub(m)·codebook[m][j], JVM-side from the flat
        # codebook literal: M × KSUB doubles per query
        m, ksub, dsub = self.codebooks.shape

        def lut(mi):
            qsub = F.slice(F.col("__qn"), mi * dsub + 1, dsub)
            return F.transform(
                F.sequence(F.lit(0), F.lit(ksub - 1)),
                lambda j: dot(
                    qsub, F.slice(self.codebook, (mi * ksub + j) * dsub + 1, dsub)
                ),
            )

        return (
            F.transform(F.sequence(F.lit(0), F.lit(m - 1)), lut).alias("luts"),
        )

    @cached_property
    def score(self) -> Column:
        return _adc_score(F.col(self.column), F.col("luts"), F.col("qc"))
