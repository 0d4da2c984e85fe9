"""Continuous embedding ingest into a persisted quantized IVF index.

The production ANN shape at 100 TB is not one-shot index builds: new
embeddings arrive continuously (fresh crawl shards, nightly encoder
runs) and must become searchable without re-reading the corpus.  The
reference has no streaming at all (SURVEY §2.10 — this whole module is
beyond-reference capability, same as streaming/pipeline.py); the
design here extends the incremental-dedup signature-store pattern to
the ANN index:

* the coarse quantizer is **frozen at bootstrap** (the standard
  IVF/FAISS deployment: centroids are fitted once on a sample and new
  vectors are only *assigned*, never re-fitted — re-fitting would
  invalidate every existing posting list);
* each micro-batch assigns map-only against the frozen centroids
  (model metadata broadcast by Spark ML), int8-quantizes — both at the
  source's parallelism — and writes through `_write_index`: a
  ``rebalance`` on ``centroid_id`` (the one shuffle) then
  ``partitionBy(centroid_id, __batch_id)`` with dynamic partition
  overwrite, so each touched centroid gets one file per batch and a
  replayed batch rewrites exactly its own ``(centroid, batch)``
  directories — crash/replay is idempotent (same contract as the
  sharded-export and dedup-survivor streams);
* probes keep directory-level pruning: ``centroid_id`` stays the
  top-level partition key, so `ivf_q8_shortlist` scans only the
  ``nprobe`` probed centroid directories regardless of how many
  ingest batches have accumulated.  Small-file buildup from many
  micro-batches (one file per (centroid, batch)) is rolled up by
  `compact_index_batches`, which folds committed batches into the base
  generation through the same writer, one file per centroid
  (dedup-fold on ``vec_id`` so a crash anywhere in the delete phase is
  repaired by re-running) — the sustained-ingest rung in SCALE.md
  measures the probe-latency decay across 100 batches and its
  restoration by one fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tajo_spark import catalog
from tajo_spark.operators.similarity import (
    bounded_collect,
    ivf_assign,
    l2_normalize,
    quantize_int8,
)
from tajo_spark.streaming.pipeline import foreach_batch


def assign_with_frozen_centroids(batch: DataFrame, model) -> DataFrame:
    """Map-only assignment of new vectors against an already-fitted
    KMeans model — the ingest path never re-fits (centroid drift would
    orphan every existing posting).  Same normalized feature space as
    the index build (`ivf_assign`)."""
    from pyspark.ml.functions import array_to_vector

    feat = batch.select(
        "vec_id",
        "embedding",
        array_to_vector(l2_normalize(F.col("embedding"))).alias("features"),
    )
    return (
        model.transform(feat)
        .withColumnRenamed("prediction", "centroid_id")
        .drop("features")
    )


def ivf_append_batch(
    batch: DataFrame,
    model,
    index_path: str,
    batch_id: int,
    coalesce: int | None = None,
) -> None:
    """Append one ingest batch to the quantized index, idempotently:
    dynamic partition overwrite replaces exactly the
    ``(centroid_id, __batch_id)`` directories this batch produces, so
    a replay of the same ``batch_id`` rewrites rather than duplicates.

    The file count per append is one per touched centroid, set by the
    ``rebalance`` in `_write_index` whatever the source's partitioning.
    ``coalesce`` only caps the rebalance's partition count, i.e. the
    number of write tasks; the scan, assignment and quantization keep
    the source's parallelism either way."""
    _write_q8_batch(
        assign_with_frozen_centroids(batch, model),
        index_path,
        batch_id,
        coalesce=coalesce,
    )


def _write_index(
    df: DataFrame,
    index_path: str,
    batch_id: int,
    max_partitions: int | None = None,
) -> StructType:
    """The one writer of every ingestable index layout (int8 and PQ
    appends, bootstraps and the compaction fold): tag the rows with
    ``__batch_id``, ``rebalance`` on ``centroid_id``, then
    ``partitionBy(centroid_id, __batch_id)`` with dynamic partition
    overwrite.  Returns the written schema.

    The rebalance hash-places each centroid's rows in one shuffle
    partition and AQE coalesces the small ones, so the write leaves one
    file per (centroid, batch) directory — a partition past the
    advisory size is split, bounding file size at scale.  Unlike a
    ``coalesce`` it is a stage boundary: everything upstream (source
    scan, assignment, quantization or PQ encode) runs at the source's
    parallelism instead of in the write task.  ``max_partitions`` caps
    the rebalance's partition count."""
    df = df.withColumn("__batch_id", F.lit(batch_id).cast("long"))
    hint = ("centroid_id",) if max_partitions is None else (
        max_partitions, "centroid_id"
    )
    (
        df.hint("rebalance", *hint)
        .write.partitionBy("centroid_id", "__batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(index_path)
    )
    # the probe-side plan memo pins the file listing at first load; an
    # append adds directories a memoized plan would never see.  The
    # written schema lets the re-load skip schema inference.
    catalog.invalidate(index_path, schema=df.schema)
    return df.schema


def _write_q8_batch(
    assigned: DataFrame,
    index_path: str,
    batch_id: int,
    coalesce: int | None = None,
) -> None:
    """The write half of the int8 append, taking an ALREADY-assigned
    frame — shared by `ivf_append_batch` and `ivf_ingest_init` (which
    reuses `ivf_assign`'s materialized assignment instead of running a
    second full-corpus model.transform pass — r11 review)."""
    _write_index(
        assigned.select(
            "vec_id",
            quantize_int8(F.col("embedding")).alias("q8"),
            "centroid_id",
        ),
        index_path,
        batch_id,
        max_partitions=coalesce,
    )


def ivf_ingest_init(
    emb: DataFrame, index_path: str, n_centroids: int = 16, seed: int = 42
):
    """Bootstrap the ingestable index: fit the coarse quantizer ONCE on
    the initial corpus and write it as batch ``-1`` in the same
    ``(centroid_id, __batch_id)`` layout every later append uses
    (`ivf_persist_index_q8`'s flat layout can't be mixed with batch
    partitions in one directory tree).  Returns the frozen model."""
    assigned, model = ivf_assign(emb, n_centroids=n_centroids, seed=seed)
    # reuse the assignment ivf_assign already materialized (its feature
    # projection is localCheckpoint'd) instead of re-running a second
    # full-corpus model.transform pass through ivf_append_batch
    _write_q8_batch(assigned, index_path, batch_id=-1)
    return model


def ivf_ingest_stream(
    stream_df: DataFrame,
    model,
    index_path: str,
    checkpoint: str,
    compact_every: int | None = None,
    max_batch_dirs: int | None = None,
):
    """foreachBatch writer appending each micro-batch of (vec_id,
    embedding) rows to the index.  Restartable: the checkpoint tracks
    source progress, and replayed batch ids overwrite their own
    partitions.  Returns the unstarted ``DataStreamWriter`` (caller
    `.start()`s it — same convention as `incremental_dedup_stream`).

    ``compact_every`` / ``max_batch_dirs`` arm :func:`maybe_compact` at
    the head of every micro-batch — the r10 sustained-ingest rung
    measured probe latency degrading ~5x over 100 micro-batches from
    small-file buildup and documented "compact every O(50) batches or
    on SLO breach" as the maintenance rule, but nothing *triggered* the
    fold; with these armed, the stream maintains itself (sawtooth
    steady state measured in SCALE.md)."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # compaction BEFORE the empty-batch return: an empty cadence
        # batch must still fire its fold (the horizon proof only needs
        # the batch id to have been invoked — r11 review: skipping let
        # partitions accumulate past the intended bound)
        maybe_compact(
            batch.sparkSession, index_path, batch_id,
            compact_every=compact_every, max_batch_dirs=max_batch_dirs,
        )
        if batch.isEmpty():
            return
        ivf_append_batch(batch, model, index_path, batch_id)

    return foreach_batch(stream_df, process_batch, checkpoint)


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
    model,
    index_path: str,
    batch_id: int,
    tau: float = 0.92,
    nprobe: int = 2,
) -> DataFrame:
    """Survivors of one micro-batch under the two-stage near-dup gate.

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
    """
    from tajo_spark.operators.similarity import _as_double, dot

    spark = batch.sparkSession
    centers = model.clusterCenters()
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "centroid_id INT, cv ARRAY<DOUBLE>",
    ).agg(F.collect_list(F.struct("centroid_id", "cv")).alias("__cents"))
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
                    ),
                )
            )
        ),
        1,
        nprobe,
    )
    q = (
        batch.select(
            "vec_id", _as_double(F.col("embedding")).alias("qv")
        )
        .withColumn("__qn", l2_normalize(F.col("qv")))
        .join(F.broadcast(cents))
        .select("vec_id", F.explode(probes_arr).alias("__p"))
        .select(
            "vec_id",
            (-F.col("__p.neg_id")).cast("int").alias("centroid_id"),
        )
    )
    q8 = batch.select(
        "vec_id", _as_double(quantize_int8(F.col("embedding"))).alias("__qv8")
    ).withColumn("__qn8", F.sqrt(dot(F.col("__qv8"), F.col("__qv8"))))
    probes = q.join(q8, "vec_id").localCheckpoint()  # reused 3x below
    probed = [
        int(r.centroid_id)
        for r in bounded_collect(
            probes.select("centroid_id").distinct(),
            len(centers),
            "neardup_gate_batch probed centroids",
        )
    ]  # metadata-sized: at most the model's k
    cos8 = lambda cv, cn, qv, qn: F.when(  # noqa: E731
        cn * qn != 0, dot(cv, qv) / (cn * qn)
    ).otherwise(F.lit(0.0))

    # Gate A: probe the persisted index, excluding this batch's own
    # partitions (replay safety)
    idx = (
        spark.read.parquet(index_path)
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
    model,
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
        batch, model, index_path, batch_id, tau=tau, nprobe=nprobe
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
        survivors, model, index_path, batch_id, coalesce=coalesce
    )


def gated_ingest_stream(
    stream_df: DataFrame,
    model,
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

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        maybe_compact(  # before the empty return — see ivf_ingest_stream
            batch.sparkSession, index_path, batch_id,
            compact_every=compact_every, max_batch_dirs=max_batch_dirs,
        )
        if batch.isEmpty():
            return
        gated_ingest_batch(
            batch, model, index_path, batch_id, tau=tau, nprobe=nprobe,
            coalesce=coalesce,
        )

    return foreach_batch(stream_df, process_batch, checkpoint)


# ---------------------------------------------------------------------------
# IVF-PQ ingest: same frozen-quantizer contract, one level deeper — the
# PQ codebooks are fitted once at bootstrap alongside the coarse
# centroids and new vectors are only ENCODED (assignment + residual
# code lookup, both map-only).  Re-fitting either layer would invalidate
# every persisted code, so the freeze is structural, not an option.


def pq_append_batch(
    batch: DataFrame,
    model,
    codebooks,
    index_path: str,
    batch_id: int,
    coalesce: int | None = None,
) -> None:
    """Append one micro-batch of (vec_id, embedding) rows to the
    persisted IVF-PQ index: map-only frozen-centroid assignment, then
    the Arrow-vectorized residual encode (operators/pq.py), written
    ``partitionBy(centroid_id, __batch_id)`` with dynamic overwrite —
    replayed batch ids rewrite exactly their own directories.
    ``coalesce`` caps the write tasks exactly like `ivf_append_batch`;
    one file per touched centroid either way."""
    _write_pq_batch(
        assign_with_frozen_centroids(batch, model),
        model, codebooks, index_path, batch_id, coalesce=coalesce,
    )


def _write_pq_batch(
    assigned: DataFrame,
    model,
    codebooks,
    index_path: str,
    batch_id: int,
    coalesce: int | None = None,
) -> None:
    """Encode-and-write half of the PQ append, taking an
    already-assigned frame (shared with `pq_ingest_init`)."""
    from tajo_spark.operators.pq import pq_encode_codes

    centers = [list(c) for c in model.clusterCenters()]
    _write_index(
        pq_encode_codes(assigned, centers, codebooks),
        index_path,
        batch_id,
        max_partitions=coalesce,
    )


def pq_ingest_init(
    emb: DataFrame,
    index_path: str,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
):
    """Bootstrap the ingestable IVF-PQ index: fit coarse centroids AND
    PQ codebooks once on the initial corpus (driver-bounded residual
    sample — the SHARED deterministic sampling rule,
    operators/pq.py::pq_train_residuals), write the corpus as batch
    ``-1``.  Returns (model, codebooks) — the frozen state every later
    append and probe shares."""
    import numpy as np

    from tajo_spark.operators.pq import pq_train_residuals

    assigned, model = ivf_assign(emb, n_centroids=n_centroids, seed=seed)
    centers = [
        np.asarray(c, dtype="float64") for c in model.clusterCenters()
    ]
    codebooks = pq_train_residuals(
        assigned, centers, m=m, ksub=ksub, seed=seed
    )
    # reuse ivf_assign's materialized assignment for the bootstrap
    # write instead of a second full-corpus model.transform pass
    _write_pq_batch(assigned, model, codebooks, index_path, batch_id=-1)
    return model, codebooks


def pq_ingest_stream(
    stream_df: DataFrame,
    model,
    codebooks,
    index_path: str,
    checkpoint: str,
    compact_every: int | None = None,
    max_batch_dirs: int | None = None,
):
    """foreachBatch writer appending micro-batches to the IVF-PQ index
    under the frozen (centroids, codebooks) pair.  Same restart/replay
    contract as `ivf_ingest_stream`, same auto-compaction arming."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        maybe_compact(  # before the empty return — see ivf_ingest_stream
            batch.sparkSession, index_path, batch_id,
            compact_every=compact_every, max_batch_dirs=max_batch_dirs,
        )
        if batch.isEmpty():
            return
        pq_append_batch(batch, model, codebooks, index_path, batch_id)

    return foreach_batch(stream_df, process_batch, checkpoint)


def compact_index_batches(
    spark, index_path: str, upto_batch_id: int, verify_counts: bool = True
) -> dict:
    """Fold committed ingest batches into the base partition — the
    maintenance pass that keeps the ``(centroid_id, __batch_id)`` tree
    from accumulating one directory level per micro-batch (file-count
    growth is the streaming-sink small-files problem;
    sources/compaction.py handles within-directory fragmentation, this
    handles the BATCH DIMENSION).

    Works on both index flavors (int8 ``q8`` and PQ ``codes`` columns
    pass through untouched).  Rows with ``__batch_id <= upto_batch_id``
    are rewritten as batch ``-1`` (the base) and their old batch
    directories removed, so probes scan one directory per probed
    centroid again.

    Safety contract (same offline posture as sources/compaction.py):
    only compact batches BELOW the stream checkpoint's committed
    horizon — foreachBatch never replays a committed batch id, so the
    folded rows can no longer be re-appended; a replay of the one
    in-flight batch (id > ``upto_batch_id``) still overwrites only its
    own directories.  Crash window: the rewrite lands the new base
    before old batch directories are removed, so a crash mid-removal
    leaves duplicates readable until the compaction is re-run.  Re-run
    IS idempotent because the fold deduplicates on ``vec_id`` (unique
    in the index by construction): a re-run that reads the
    already-folded base PLUS leftover batch directories collapses each
    vector back to one row before rewriting — without the dropDuplicates
    the crash-rerun would bake every leftover batch's rows into the
    base twice, permanently.
    """
    from pyspark.errors import AnalysisException

    try:
        full = spark.read.parquet(index_path)
    except AnalysisException as exc:
        ec = exc.getErrorClass() if hasattr(exc, "getErrorClass") else None
        benign = ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
        if not any(b in (ec or str(exc)) for b in benign):
            # corrupt footer / permissions / throttling must surface —
            # a blanket catch here silently disables auto-compaction
            # forever and small-file buildup degrades probes ~5x
            # (ADVICE r11; mirrors compact_ledger_batches)
            raise
        # a cadence fold can fire before anything was written: path
        # absent (stream armed without a bootstrap) OR present but
        # empty/schemaless (pre-created dir, zero-row bootstrap —
        # UNABLE_TO_INFER_SCHEMA; ADVICE r12 — that arm raised and
        # killed the stream, the exact failure the r11 guard targeted).
        # Nothing to fold, not an error.
        return {"rows_folded": 0, "rows_after": 0, "batch_dirs_removed": 0}
    df = (
        full
        .filter(F.col("__batch_id") <= upto_batch_id)
        .dropDuplicates(["vec_id"])
        .drop("__batch_id")
    )
    # the two verification counts are full scans of the folded row set
    # — useful for the maintenance CLI / tests, pure overhead inside
    # the auto-compaction hot path (maybe_compact passes False)
    before = df.count() if verify_counts else -1
    # the shared writer's rebalance leaves ONE file per centroid
    # directory (r10 sustained-ingest rung: probe latency tracks FILE
    # count, 882→5185 ms across 100 micro-batches at near-constant
    # rows; without it the fold inherits the read parallelism and
    # writes files-per-centroid x tasks)
    schema = _write_index(df, index_path, batch_id=-1)
    # delete phase via pyarrow.fs so the same code runs against an
    # object store (every sink here writes through Spark's
    # scheme-dispatched writers; the maintenance pass must match —
    # same seam as operators/fsio.py)
    import pyarrow.fs as pafs

    from tajo_spark.sources.avro_py import _fs_for

    fs, root = _fs_for(index_path)  # s3a/s3n scheme bridging
    removed = 0
    for cinfo in fs.get_file_info(pafs.FileSelector(root)):
        if cinfo.type != pafs.FileType.Directory or not (
            cinfo.base_name.startswith("centroid_id=")
        ):
            continue
        for binfo in fs.get_file_info(pafs.FileSelector(cinfo.path)):
            if binfo.type != pafs.FileType.Directory or not (
                binfo.base_name.startswith("__batch_id=")
            ):
                continue
            try:
                bid = int(binfo.base_name.split("=", 1)[1])
            except ValueError:
                # a non-numeric partition dir (null batch id →
                # __HIVE_DEFAULT_PARTITION__, or a stray dir) must not
                # abort the delete phase after some directories were
                # already removed — skip it; its rows were never
                # selected by the numeric fold filter anyway
                continue
            # delete every folded source EXCEPT the base itself —
            # including legacy negative generation ids (r10 review: a
            # '-1 < bid' guard left e.g. __batch_id=-13 dirs on disk
            # forever after their rows were folded, duplicating every
            # vector for all subsequent probes)
            if bid != -1 and bid <= upto_batch_id:
                fs.delete_dir(binfo.path)
                removed += 1
    # the fold rewrote the base and deleted batch directories: any
    # memoized probe plan now points at vanished files
    # (FAILED_READ_FILE.FILE_NOT_EXIST on the next probe) — drop it
    catalog.invalidate(index_path, schema=schema)
    after = (
        spark.read.parquet(index_path)
        .filter(F.col("__batch_id") <= upto_batch_id)
        .count()
        if verify_counts
        else -1
    )
    return {
        "rows_folded": before,
        "rows_after": after,
        "batch_dirs_removed": removed,
    }


def count_batch_dirs(index_path: str, exclude_base: bool = False) -> int:
    """Number of ``(centroid_id, __batch_id)`` leaf directories in the
    index — the quantity the sustained-ingest rung showed probe latency
    tracks (one small parquet file per leaf under micro-batch ingest).
    One filesystem listing, no Spark job; cheap relative to any
    micro-batch.  Missing/empty index → 0.  ``exclude_base`` counts
    only FOLDABLE dirs (``__batch_id != -1``) — what the
    ``max_batch_dirs`` trigger arm compares against."""
    import pyarrow.fs as pafs

    from tajo_spark.sources.avro_py import _fs_for

    fs, root = _fs_for(index_path)  # s3a/s3n scheme bridging
    try:
        children = fs.get_file_info(pafs.FileSelector(root))
    except FileNotFoundError:
        # ONLY not-found maps to "empty index": a transient listing
        # error (throttling, permissions) must propagate, not silently
        # disarm the max_batch_dirs trigger by reporting 0 (r11 review)
        return 0
    n = 0
    for cinfo in children:
        if cinfo.type != pafs.FileType.Directory or not (
            cinfo.base_name.startswith("centroid_id=")
        ):
            continue
        for binfo in fs.get_file_info(pafs.FileSelector(cinfo.path)):
            if binfo.type == pafs.FileType.Directory and (
                binfo.base_name.startswith("__batch_id=")
            ):
                if exclude_base and binfo.base_name == "__batch_id=-1":
                    continue
                n += 1
    return n


def cadence_fires(batch_id: int, compact_every: int | None) -> bool:
    """The shared cadence predicate for every auto-folding stream
    (ANN index + attrition ledger): fire at the head of batch
    ``k * compact_every``.  Lives in ONE place so the replay-horizon
    contract (fold strictly below the in-flight batch id — committed
    ids never replay) has a single implementation to audit."""
    return (
        compact_every is not None
        and batch_id > 0
        and batch_id % compact_every == 0
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
