"""Continuous embedding ingest into a persisted quantized IVF index —
the one build/append/stream pipeline for every index codec (int8
``Q8Codec``, IVF-PQ ``PQCodec``).

The production ANN shape at 100 TB is not one-shot index builds: new
embeddings arrive continuously (fresh crawl shards, nightly encoder
runs) and must become searchable without re-reading the corpus.  The
reference has no streaming at all (SURVEY §2.10 — this whole module is
beyond-reference capability, same as streaming/pipeline.py); the
design here extends the incremental-dedup signature-store pattern to
the ANN index:

* the codec — coarse quantizer and, for PQ, the codebooks — is
  **frozen at bootstrap** (`ivf_ingest_init`; the standard IVF/FAISS
  deployment: centroids are fitted once on a sample and new vectors
  are only *assigned*, never re-fitted — re-fitting would invalidate
  every existing posting list);
* each micro-batch assigns map-only against the frozen centroids
  (model metadata broadcast by Spark ML), encodes with the codec —
  both at the source's parallelism — and writes through the
  ``__batch_id`` store writer (`batch_store.write`): a ``rebalance`` on
  ``centroid_id`` (the one shuffle) then
  ``partitionBy(centroid_id, __batch_id)`` with dynamic partition
  overwrite, so each touched centroid gets one file per batch and a
  replayed batch rewrites exactly its own ``(centroid, batch)``
  directories — crash/replay is idempotent (same writer as the
  sharded-export, dedup-survivor, Bloom-gate and ledger streams);
* probes keep directory-level pruning: ``centroid_id`` stays the
  top-level partition key, so `ivf_q8_shortlist` scans only the
  ``nprobe`` probed centroid directories regardless of how many
  ingest batches have accumulated.  Small-file buildup from many
  micro-batches (one file per (centroid, batch)) is rolled up by
  `compact_index_batches`, the index's binding of `batch_store.fold`:
  committed batches fold into the base generation through the same
  writer, one file per centroid (dedup-fold on ``vec_id`` so a crash
  anywhere in the delete phase is repaired by re-running) — the
  sustained-ingest rung in SCALE.md measures the probe-latency decay
  across 100 batches and its restoration by one fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tajo_spark import catalog
from tajo_spark.operators.similarity import (
    Codec,
    Q8Codec,
    _as_double,
    bounded_collect,
    dot,
    ivf_assign,
    probe_targets,
)
from tajo_spark.streaming import batch_store
from tajo_spark.streaming.batch_store import cadence_fires
from tajo_spark.streaming.pipeline import _maintained_stream

# the index's partition key: one directory per centroid, probes prune on it
_BY = ("centroid_id",)


def assign_with_frozen_centroids(batch: DataFrame, codec: Codec) -> DataFrame:
    """Map-only assignment of new vectors against the codec's already-
    fitted KMeans model — the ingest path never re-fits (centroid drift
    would orphan every existing posting).  Same normalized feature
    space as the index build (`ivf_assign`), through the codec's
    feature column.

    Calls the fitted JVM model directly: PySpark's
    ``JavaTransformer._transform`` re-sends every model param over py4j
    on each call, though they reached the JVM at the fit and never
    change."""
    feat = batch.select("vec_id", "embedding", codec.features)
    return (
        DataFrame(codec.model._java_obj.transform(feat._jdf), feat.sparkSession)
        .withColumnRenamed("prediction", "centroid_id")
        .drop("features")
    )


def ivf_append_batch(
    batch: DataFrame,
    codec: Codec,
    index_path: str,
    batch_id: int,
    coalesce: int | None = None,
) -> None:
    """Append one ingest batch to the index, idempotently: frozen-
    centroid assignment, the codec's encode, then the store writer,
    whose dynamic partition overwrite replaces exactly the
    ``(centroid_id, __batch_id)`` directories this batch produces, so
    a replay of the same ``batch_id`` rewrites rather than duplicates.

    The file count per append is one per touched centroid, set by the
    writer's ``rebalance`` on ``centroid_id`` whatever the source's
    partitioning.  ``coalesce`` only caps the rebalance's partition
    count, i.e. the number of write tasks; the scan, assignment and
    encode keep the source's parallelism either way."""
    batch_store.write(
        codec.encode(assign_with_frozen_centroids(batch, codec)),
        index_path,
        batch_id,
        by=_BY,
        max_partitions=coalesce,
    )


def ivf_ingest_init(
    emb: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    seed: int = 42,
    m: int | None = None,
    ksub: int | None = None,
) -> Codec:
    """Bootstrap the index: fit the coarse quantizer ONCE on the
    initial corpus and write it as batch ``-1`` in the
    ``(centroid_id, __batch_id)`` layout every later append uses.
    Returns the codec — the frozen state every later append and probe
    shares.

    Without ``m``/``ksub`` the index is int8 (:class:`Q8Codec`); with
    both it is IVF-PQ (``operators/pq.py::PQCodec``), its ``m``
    subspace codebooks of ``ksub`` entries trained once here on a
    driver-bounded residual sample.  Re-fitting either layer later
    would invalidate every persisted code, so the freeze is structural.

    Whatever was at ``index_path`` is deleted first: a dynamic
    partition overwrite would replace only the directories the new
    corpus writes, leaving older batches and centroids — encoded
    against another model — readable beside it."""
    import pyarrow.fs as pafs

    from tajo_spark.sources.avro_py import _fs_for

    if (m is None) != (ksub is None):
        raise ValueError("a PQ index needs both m and ksub")
    fs, root = _fs_for(index_path)  # s3a/s3n scheme bridging
    if fs.get_file_info(root).type != pafs.FileType.NotFound:
        fs.delete_dir(root)
    catalog.invalidate(index_path)
    assigned, model = ivf_assign(emb, n_centroids=n_centroids, seed=seed)
    codec = Q8Codec(model)
    if m is not None:
        from tajo_spark.operators.pq import PQCodec, pq_train_residuals

        codec = PQCodec(model, pq_train_residuals(
            assigned, codec.centers, m=m, ksub=ksub, seed=seed
        ))
    # reuse the assignment ivf_assign already materialized (its feature
    # projection is localCheckpoint'd) instead of re-running a second
    # full-corpus model.transform pass through ivf_append_batch
    batch_store.write(
        codec.encode(assigned), index_path, batch_store.BASE, by=_BY
    )
    return codec


def ivf_ingest_stream(
    stream_df: DataFrame,
    codec: Codec,
    index_path: str,
    checkpoint: str,
    compact_every: int | None = None,
    max_batch_dirs: int | None = None,
):
    """foreachBatch writer appending each micro-batch of (vec_id,
    embedding) rows to the index under the frozen codec.  Restartable:
    the checkpoint tracks source progress, and replayed batch ids
    overwrite their own partitions.  Returns the unstarted
    ``DataStreamWriter`` (caller `.start()`s it — same convention as
    `incremental_dedup_stream`).

    ``compact_every`` / ``max_batch_dirs`` arm :func:`maybe_compact` at
    the head of every micro-batch — the r10 sustained-ingest rung
    measured probe latency degrading ~5x over 100 micro-batches from
    small-file buildup and documented "compact every O(50) batches or
    on SLO breach" as the maintenance rule, but nothing *triggered* the
    fold; with these armed, the stream maintains itself (sawtooth
    steady state measured in SCALE.md)."""
    return _maintained_stream(
        stream_df, checkpoint,
        lambda spark, batch_id: maybe_compact(
            spark, index_path, batch_id,
            compact_every=compact_every, max_batch_dirs=max_batch_dirs,
        ),
        lambda batch, batch_id: ivf_append_batch(
            batch, codec, index_path, batch_id
        ),
    )


# ---------------------------------------------------------------------------
# Capstone composition (VERDICT r08 #8): streaming near-dup gate →
# IVF-assign → persisted-index append, the full similarity-family
# pipeline as ONE restartable stream.  New embeddings only enter the
# index if they are not near-duplicates of anything already indexed
# (semantic dedup at ingest — the pattern that keeps a 100 TB corpus
# index from accreting re-crawls), and the stream is a bit-exact twin
# of the sequential batch composition (pinned in tests/test_streaming.py).


def neardup_gate_batch(
    batch: DataFrame,
    codec: Codec,
    index_path: str,
    batch_id: int,
    tau: float = 0.92,
    nprobe: int = 2,
) -> DataFrame:
    """Survivors of one micro-batch under the two-stage near-dup gate
    of an int8 index (``codec`` a :class:`Q8Codec`; the in-batch gate
    compares batch rows with each other, which PQ codes cannot do).

    Gate A (vs the index): a vector whose int8 cosine against ANY
    indexed vector in its ``nprobe`` nearest centroid partitions is
    ≥ ``tau`` is dropped.  The scan EXCLUDES this batch's own
    ``__batch_id`` partitions, so a crash-replayed batch gates against
    exactly the state it originally saw — replay recomputes the same
    survivors and the partition overwrite stays idempotent.

    Gate B (within the batch): among batch rows sharing a probed
    centroid, a vector is dropped if ANY lower-``vec_id`` batch row
    scores ≥ ``tau`` against it (greedy-by-id, evaluated in parallel —
    deterministic without sequential survivor chaining; the classic
    chain a~b, b~c, a≁c therefore keeps only ``a``, matching the
    batch twin by construction).

    Both gates score on the SAME int8-quantized vectors the index
    stores, so stream and batch twins see bit-identical floats.  Like
    any nprobe-bounded probe, a true near-dup hiding in an unprobed
    centroid escapes the gate — the standard IVF recall trade
    (operators/similarity.py nprobe docs), dialed by ``nprobe``.

    Per batch the plan metadata is the codec's centroid literal and the
    index is read through the catalog memo with the schema its writer
    declared — no centroid frame, no schema-inference job.
    """
    if not isinstance(codec, Q8Codec):
        raise ValueError(
            f"the near-dup gate scores int8 vectors; got a {type(codec).__name__}"
        )
    spark = batch.sparkSession
    probes = (
        probe_targets(codec.query_probes(batch, "vec_id", nprobe))
        .select("vec_id", "centroid_id", "__qv8", "__qn8")
        .localCheckpoint()  # reused 3x below
    )
    probed = [
        int(r.centroid_id)
        for r in bounded_collect(
            probes.select("centroid_id").distinct(),
            len(codec.centers),
            "neardup_gate_batch probed centroids",
        )
    ]  # metadata-sized: at most the model's k
    cos8 = lambda cv, cn, qv, qn: F.when(  # noqa: E731
        cn * qn != 0, dot(cv, qv) / (cn * qn)
    ).otherwise(F.lit(0.0))

    # Gate A: probe the persisted index, excluding this batch's own
    # partitions (replay safety)
    idx = (
        catalog.load_parquet(spark, index_path)
        .filter(
            F.col("centroid_id").isin(probed)
            & (F.col("__batch_id") != F.lit(batch_id))
        )
        .select(
            "centroid_id", _as_double(F.col("q8")).alias("__cv")
        )
        .withColumn("__cn", F.sqrt(dot(F.col("__cv"), F.col("__cv"))))
    )
    dup_vs_index = (
        idx.join(F.broadcast(probes), "centroid_id")
        .filter(
            cos8(
                F.col("__cv"), F.col("__cn"), F.col("__qv8"), F.col("__qn8")
            )
            >= F.lit(tau)
        )
        .select("vec_id")
        .distinct()
    )

    # Gate B: greedy-by-id within the batch, candidates = pairs
    # sharing a probed centroid
    left = probes.select(
        F.col("vec_id").alias("__lid"),
        "centroid_id",
        F.col("__qv8").alias("__lv"),
        F.col("__qn8").alias("__ln"),
    )
    right = probes.select(
        F.col("vec_id").alias("__rid"),
        "centroid_id",
        F.col("__qv8").alias("__rv"),
        F.col("__qn8").alias("__rn"),
    )
    dup_in_batch = (
        left.join(right, "centroid_id")
        .filter(F.col("__lid") < F.col("__rid"))
        .filter(
            cos8(F.col("__lv"), F.col("__ln"), F.col("__rv"), F.col("__rn"))
            >= F.lit(tau)
        )
        .select(F.col("__rid").alias("vec_id"))
        .distinct()
    )

    return batch.join(
        dup_vs_index.union(dup_in_batch).distinct(), "vec_id", "left_anti"
    )


def gated_ingest_batch(
    batch: DataFrame,
    codec: Codec,
    index_path: str,
    batch_id: int,
    tau: float = 0.92,
    nprobe: int = 2,
    coalesce: int | None = None,
) -> None:
    """One micro-batch of the gated pipeline: near-dup gate →
    IVF-assign → idempotent partition-overwrite append.  A batch whose
    every vector is gated away writes nothing (its ``(centroid,
    batch)`` partitions never exist, matching a replay that also
    gates everything)."""
    survivors = neardup_gate_batch(
        batch, codec, index_path, batch_id, tau=tau, nprobe=nprobe
    ).localCheckpoint()
    # checkpoint before isEmpty: otherwise the gate's full plan (index
    # probe + both dup joins + anti-join) runs TWICE — once for the
    # emptiness check, once inside the append — and the append action
    # would re-read index_path in the same job that overwrites it (the
    # hazard streaming/pipeline.py's incremental-dedup stream pins;
    # r11 review)
    if survivors.isEmpty():
        return
    ivf_append_batch(
        survivors, codec, index_path, batch_id, coalesce=coalesce
    )


def gated_ingest_stream(
    stream_df: DataFrame,
    codec: Codec,
    index_path: str,
    checkpoint: str,
    tau: float = 0.92,
    nprobe: int = 2,
    coalesce: int | None = None,
    compact_every: int | None = None,
    max_batch_dirs: int | None = None,
):
    """The streaming twin: foreachBatch over
    :func:`gated_ingest_batch`, restartable from the checkpoint with
    replayed batch ids gating against pre-batch state and overwriting
    their own partitions.  Returns the unstarted writer.

    Auto-compaction (``compact_every`` / ``max_batch_dirs``) runs
    BEFORE the gate, so the gate's index probe reads the freshly
    folded base — the fold changes directory layout, never the row
    set (dedup on ``vec_id``), so gate decisions and replays are
    unaffected (pinned in tests/test_ann_ingest.py)."""
    return _maintained_stream(
        stream_df, checkpoint,
        lambda spark, batch_id: maybe_compact(
            spark, index_path, batch_id,
            compact_every=compact_every, max_batch_dirs=max_batch_dirs,
        ),
        lambda batch, batch_id: gated_ingest_batch(
            batch, codec, index_path, batch_id, tau=tau, nprobe=nprobe,
            coalesce=coalesce,
        ),
    )


def compact_index_batches(
    spark, index_path: str, upto_batch_id: int, verify_counts: bool = True
) -> dict:
    """Fold committed ingest batches into the base partition, one file
    per centroid — `batch_store.fold` keyed on ``vec_id`` (unique in
    the index by construction) over the ``(centroid_id, __batch_id)``
    layout.  Keeps the tree from accumulating one directory level per
    micro-batch (the streaming-sink small-files problem in the BATCH
    dimension; sources/compaction.py handles within-directory
    fragmentation).  Both codecs' encoded columns pass through
    untouched."""
    return batch_store.fold(
        spark, index_path, upto_batch_id, key=("vec_id",), by=_BY,
        verify_counts=verify_counts,
    )


def count_batch_dirs(index_path: str, exclude_base: bool = False) -> int:
    """Number of ``(centroid_id, __batch_id)`` leaf directories in the
    index — the quantity the sustained-ingest rung showed probe latency
    tracks (one small parquet file per leaf under micro-batch ingest),
    from one listing (`batch_store.batch_dirs`).  ``exclude_base``
    counts only FOLDABLE dirs (``__batch_id != -1``) — what the
    ``max_batch_dirs`` trigger arm compares against."""
    return sum(
        1
        for d in batch_store.batch_dirs(index_path)
        if not (exclude_base and d.batch_id == batch_store.BASE)
    )


def maybe_compact(
    spark,
    index_path: str,
    batch_id: int,
    compact_every: int | None = None,
    max_batch_dirs: int | None = None,
) -> dict | None:
    """Auto-compaction trigger for the ingest streams — evaluated at
    the head of every foreachBatch invocation.

    Fires when either arm trips:

    * ``compact_every=N`` — every N committed batches
      (``batch_id % N == 0``; batch ids are monotone across restarts,
      so the cadence survives stream restarts without extra state);
    * ``max_batch_dirs=M`` — when the index's FOLDABLE
      ``(centroid, batch)`` leaf-directory count (base ``-1`` dirs
      excluded) exceeds M (the SLO-breach arm: directory count is the
      probe-latency proxy the rung measured, and one listing is far
      cheaper than a degraded probe).  Counting only foldable dirs
      keeps a threshold below ``n_centroids`` from firing a full-index
      rewrite on every batch forever — post-fold the foldable count is
      0, so the arm re-arms only as new batches accumulate (r11
      review).

    Replay-safety contract: when foreachBatch runs batch ``N``, every
    batch id ``< N`` is committed in the checkpoint (Structured
    Streaming commits batch N-1 before invoking N, and a replayed N
    means N-1 committed before the crash), so folding
    ``upto_batch_id = N - 1`` can never fold a batch that will replay.
    The one in-flight batch (``N`` itself, possibly a replay) still
    overwrites only its own ``__batch_id=N`` directories, which the
    fold never touches.  Returns the compaction stats dict (plus the
    trigger that fired) or None when nothing fired."""
    if batch_id <= 0:
        return None  # nothing committed below batch 0 but the base
    trigger = None
    if cadence_fires(batch_id, compact_every):
        trigger = "every"
    elif max_batch_dirs is not None and (
        count_batch_dirs(index_path, exclude_base=True) > max_batch_dirs
    ):
        trigger = "dirs"
    if trigger is None:
        return None
    stats = compact_index_batches(
        spark, index_path, batch_id - 1, verify_counts=False
    )
    stats["trigger"] = trigger
    stats["fired_at_batch"] = batch_id
    return stats
