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
  parquet ``partitionBy(centroid_id)``, so an ``nprobe``-probe lists
  only its probe directories (static pruning, plan-pinned).
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

Cost model at 1000 executors: index build is one KMeans fit on a
driver-bounded sample + one map-only encode pass (Arrow-vectorized
numpy, amortized); a batch probe reads nprobe/n_centroids of an
already-16×-smaller index, one window shuffle of skinny
(q_id, vec_id, score) triples, one semi-join rerank.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from tajo_spark.operators.similarity import (
    SERVING_BATCH_MAX_ROWS,
    _as_double,
    _index_frame,
    bounded_collect,
    cosine,
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
    (vec_id, codes ARRAY<TINYINT>, centroid_id).  Arrow-vectorized
    numpy per batch (index-BUILD cost, amortized; the probe path is
    pure JVM expressions) — argmin over ksub codebook entries per
    subspace of the normalized-vector residual."""
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

    return assigned.select(
        "vec_id",
        encode(_as_double(F.col("embedding")), F.col("centroid_id")).alias(
            "codes"
        ),
        "centroid_id",
    )


def ivf_pq_persist_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 8,
    m: int = DEFAULT_M,
    ksub: int = DEFAULT_KSUB,
    seed: int = 42,
    train_sample: int = DEFAULT_TRAIN_SAMPLE,
):
    """Build + persist the IVF-PQ index: coarse KMeans partition,
    residual-PQ codes, parquet ``partitionBy(centroid_id)`` of
    (vec_id, codes).  Returns (model, codebooks) — the only state a
    prober needs besides the path.

    Train-sample collect is bounded by ``train_sample`` rows
    (annotated driver-side: codebook k-means needs O(ksub·100)
    points per subspace, independent of corpus size)."""
    from tajo_spark.operators.similarity import ivf_assign

    assigned, model = ivf_assign(emb, n_centroids=n_centroids, seed=seed)
    centers = [np.asarray(c, dtype="float64") for c in model.clusterCenters()]
    codebooks = pq_train_residuals(
        assigned, centers, m=m, ksub=ksub, seed=seed,
        train_sample=train_sample,
    )
    (
        pq_encode_codes(assigned, centers, codebooks)
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(path)
    )
    # writer-owned invalidation (see similarity.ivf_persist_index): a
    # rebuild at a previously probed path drops the memoized listing
    from tajo_spark import catalog

    catalog.invalidate(path)
    return model, codebooks


def pq_train_residuals(
    assigned,
    centers,
    m: int = DEFAULT_M,
    ksub: int = DEFAULT_KSUB,
    seed: int = 42,
    train_sample: int = DEFAULT_TRAIN_SAMPLE,
):
    """Residual-sample + codebook training shared by
    :func:`ivf_pq_persist_index` and the streaming ingest bootstrap
    (streaming/ann_ingest.pq_ingest_init) — ONE copy of the
    deterministic sampling rule (r11 review: the ingest bootstrap had
    a verbatim duplicate with a hard-coded sample size).

    Sample order is md5(vec_id): deterministic AND unbiased — hash
    order decorrelates the sample from ingest/shard order (a
    vec_id-prefix sample would train codebooks on one region of a
    sharded corpus); bare limit() would be partition-order-dependent.
    TakeOrdered, one-time build cost; the collect is bounded by
    ``train_sample`` rows, independent of corpus size."""
    from tajo_spark.operators.similarity import l2_normalize

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


_PQ_CENTS_MEMO: dict = {}
_CENTS_MEMO_MAX = 8  # distinct live models per session; oldest evicted


def _pq_cents_frame(spark, model, codebooks: np.ndarray):
    """One-row (centroids, codebooks) frame for the ADC probe.

    Centroids AND codebooks ride as DATA in one broadcast single-row
    frame, not as expression-tree literals: an F.lit of the M x KSUB
    x dsub codebook builds a CreateArray AST with thousands of leaf
    nodes that Catalyst re-analyzes on EVERY probe — measured 5-6.5 s
    of driver-side plan time per probe at M=16/KSUB=64 vs <1 s of
    actual execution (the r06 bench split exposed it).  As a row the
    codebook is just bytes in a broadcast, analysis is O(1).

    Memoized per (session, model object): the frame is pure model
    metadata, and rebuilding it cost a py4j createDataFrame of the
    full codebook (~16k floats) on EVERY probe call (r12).  The memo
    holds a strong reference to the model so the id key can never be
    recycled; a retrained model is a new object → new entry.
    """
    key = (spark.sparkContext.applicationId, id(model), id(codebooks))
    hit = _PQ_CENTS_MEMO.get(key)
    if hit is not None and hit[0] is model and hit[1] is codebooks:
        return hit[2]
    # drop entries from stopped sessions so superseded models don't
    # accumulate for the life of the process (ADVICE r12; mirrors
    # catalog.load_table's stale-app prune)
    for k in [k for k in _PQ_CENTS_MEMO if k[0] != key[0]]:
        del _PQ_CENTS_MEMO[k]
    centers = model.clusterCenters()
    m = codebooks.shape[0]
    df = spark.createDataFrame(
        [
            (
                [
                    (i, [float(x) for x in c])
                    for i, c in enumerate(centers)
                ],
                [
                    [[float(x) for x in cent] for cent in codebooks[mi]]
                    for mi in range(m)
                ],
            )
        ],
        "__cents ARRAY<STRUCT<centroid_id: INT, cv: ARRAY<DOUBLE>>>, "
        "__cb ARRAY<ARRAY<ARRAY<DOUBLE>>>",
    )
    _PQ_CENTS_MEMO[key] = (model, codebooks, df)
    # same-session bound: one strong (model, codebooks, frame) entry
    # per retrain would otherwise accumulate for the session's life
    # (r13 review) — evict oldest-inserted first
    while len(_PQ_CENTS_MEMO) > _CENTS_MEMO_MAX:
        del _PQ_CENTS_MEMO[next(iter(_PQ_CENTS_MEMO))]
    return df


def ann_join_pq_persisted(
    spark,
    path: str,
    model,
    codebooks: np.ndarray,
    queries: DataFrame,
    base: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    expand: int = 8,
    query_id_col: str = "q_id",
    round_to: int = 4,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """Batch retrieval against the persisted IVF-PQ index — the
    billion-scale serving shape (IVFADC+R):

    1. each query ranks the centroid metadata (broadcast literal) and
       explodes to its ``nprobe`` probe targets, carrying the coarse
       term q̂·c per probed centroid;
    2. the query side computes its ADC lookup table JVM-side from the
       literal codebook: LUT[m][j] = q̂_sub(m)·codebook[m][j]
       (M × KSUB doubles per query — metadata-sized broadcast);
    3. the index scan is statically pruned to the union of probed
       centroid directories (bounded driver-side int list), equi-joins
       the broadcast query probes on ``centroid_id``, and scores each
       candidate with M lookups+adds — the scan reads 8-byte codes,
       never float vectors;
    4. per-query ``k*expand`` shortlist window → distributed exact
       float rerank (the candidate-bounded shortlist broadcast-joins
       the base table, which is never shuffled) → final top-k.

    Output: (q_id, rank, vec_id, cos) — identical contract to
    ``similarity.ann_join`` / ``ann_join_q8_persisted``; returned
    ``cos`` is EXACT (the PQ stage only selects candidates).
    """
    m, ksub, dsub = codebooks.shape
    cents = _pq_cents_frame(spark, model, codebooks)

    # rank centers by L2 distance to the normalized query (centers live
    # on the unit sphere → L2 order == cosine order), keep nprobe,
    # carry the coarse dot q̂·c for the ADC additive term
    d2 = lambda s: F.aggregate(  # noqa: E731
        F.zip_with(F.col("__qn"), s.cv, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes_arr = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    F.col("__cents"),
                    lambda s: F.struct(
                        (-F.round(d2(s), 9)).alias("negd"),
                        (-s.centroid_id).alias("neg_id"),
                        dot(F.col("__qn"), s.cv).alias("qc"),
                    ),
                )
            )
        ),
        1,
        nprobe,
    )
    luts_expr = F.transform(
        F.col("__cb"),
        lambda sub, mi: F.transform(
            sub,
            lambda cent: dot(
                F.slice(F.col("__qn"), mi * dsub + 1, dsub), cent
            ),
        ),
    )
    qplan = (
        queries.select(
            F.col(query_id_col).alias("q_id"),
            _as_double(F.col("embedding")).alias("qv"),
        )
        .withColumn("__qn", l2_normalize(F.col("qv")))
        .join(F.broadcast(cents))
        .select(
            "q_id",
            "qv",
            luts_expr.alias("luts"),
            F.explode(probes_arr).alias("__p"),
        )
        .select(
            "q_id",
            "qv",
            "luts",
            (-F.col("__p.neg_id")).cast("int").alias("centroid_id"),
            F.col("__p.qc").alias("qc"),
        )
    )
    # ONE evaluation of the query-side subtree + ONE metadata-sized
    # driver read (r13; VERDICT r12 #1).  Previously: localCheckpoint
    # (job 1) + centroid distinct-collect (job 2) + qside / qfull
    # broadcast builds re-reading the checkpoint (jobs 3-4).  The
    # collect is bounded by n_queries × nprobe rows — the serving
    # REQUEST batch (each row carries its M×KSUB-double LUT, still
    # metadata-sized) — and every downstream broadcast reads a small
    # ``Scan ExistingRDD`` of the rebuilt rows instead of re-running the
    # query-side subtree.  Doubles round-trip bit-exactly through
    # collect / createDataFrame, so results are unchanged.
    qrows = bounded_collect(
        qplan, SERVING_BATCH_MAX_ROWS, "ann_join_pq_persisted query probes"
    )
    q = spark.createDataFrame(qrows, qplan.schema)
    probed = sorted({int(r.centroid_id) for r in qrows})
    qside = q.select("q_id", "centroid_id", "luts", "qc")
    w1 = Window.partitionBy("q_id").orderBy(
        F.desc("__adc"), F.col("vec_id").asc()
    )
    shortlist = (
        (index_df if index_df is not None else _index_frame(spark, path))
        .filter(F.col("centroid_id").isin(probed))
        .join(F.broadcast(qside), "centroid_id")
        .select(
            "q_id",
            "vec_id",
            _adc_score(F.col("codes"), F.col("luts"), F.col("qc")).alias(
                "__adc"
            ),
        )
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") <= k * expand)
        .select("q_id", "vec_id")
    )
    # exact rerank: ONE broadcast hash join attaches the shortlist to
    # the base table (r13; was base ⋉ distinct(shortlist.vec_id) then
    # a re-join of shortlist — two evaluations of the windowed
    # shortlist subtree and an extra distinct exchange for an
    # identical row multiset).  The shortlist is candidate-bounded
    # (≤ n_queries·k·expand rows), so the broadcast is metadata-sized
    # and base is never shuffled.
    cand = base.select(
        "vec_id", _as_double(F.col("embedding")).alias("cv8")
    )
    # distinct (q_id, qv) from the already-collected rows — qv is
    # identical across a q_id's nprobe rows by construction, so
    # first-seen-per-q_id == Spark-side distinct; avoids an aggregate
    # job inside the broadcast build
    seen: dict = {}
    for r in qrows:
        if r.q_id not in seen:
            seen[r.q_id] = r.qv
    qfull = spark.createDataFrame(
        [(qid, qv) for qid, qv in seen.items()],
        qplan.select("q_id", "qv").schema,
    )
    w2 = Window.partitionBy("q_id").orderBy(
        F.desc("cos"), F.col("vec_id").asc()
    )
    return (
        cand.join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qfull), "q_id")
        .select(
            "q_id",
            "vec_id",
            F.round(cosine(F.col("cv8"), F.col("qv")), 6).alias("cos"),
        )
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "q_id", "rank", "vec_id", F.round("cos", round_to).alias("cos")
        )
    )
