"""Structured Streaming pipelines over the events table.

Beyond-reference capability: the reference has NO streaming layer at
all — its only Kafka code does *batch* scans of fixed offset ranges
(tajo-storage-kafka/.../KafkaTablespace.java:59, KafkaScanner.java;
SURVEY.md §2.10: "no watermark, no tumbling/sliding/session window,
no stateful operator"). These pipelines are the Structured Streaming
twins of the batch operators in operators/sessionize.py, sharing
aggregation logic so batch and stream stay consistent (the kappa
pattern).

Scale design: every pipeline is watermark-bounded so state is evicted
deterministically; at 100 TB/day the state store holds only
|open windows| × |group keys|, independent of stream length. Sinks are
exactly-once onto files/Delta via checkpointing; tests use the memory
sink.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tajo_spark import catalog
from tajo_spark.operators import fsio
from tajo_spark.session import released_checkpoints
from tajo_spark.streaming import batch_store
from tajo_spark.streaming.batch_store import cadence_fires

SESSION_GAP = "30 minutes"
DEFAULT_WATERMARK = "1 hour"


def events_schema_ddl(ts_type: str = "BIGINT") -> str:
    """Schema of the driver's events table (FIXTURES.md §2). ``ts_type``
    is the parquet physical type of ``ts``, which has varied across
    driver testdata generations: TIMESTAMP(NANOS) → ``BIGINT`` under
    nanosAsLong, TIMESTAMP(MICROS, isAdjustedToUTC=false) →
    ``TIMESTAMP_NTZ``."""
    return (
        f"event_id BIGINT, ts {ts_type}, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )


def _stage_file_as_dir(sf_dir: str, filename: str, tag: str) -> str:
    """The file source needs a directory; stage a symlink dir (no data
    copy) under the engine's working directory. Re-entrant and
    retarget-safe: a dangling or stale link (previous run's deleted or
    different sf_dir with the same basename) is replaced, never
    silently reused — ``os.path.exists`` follows symlinks, so the
    naive 'if not exists: symlink' both crashes on dangling links and
    streams the OLD corpus through live stale ones."""
    path = os.path.join(sf_dir, filename)
    if not os.path.isfile(path):
        return path  # already a directory source
    stage = os.path.join(
        os.getcwd(), ".stream_staging",
        os.path.basename(os.path.normpath(sf_dir)) + tag,
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, filename)
    if os.path.lexists(link):
        if os.path.realpath(link) == os.path.realpath(path):
            return stage
        os.unlink(link)
    os.symlink(path, link)
    return stage


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (one-file micro-batch).

    In production this is ``spark.readStream.format("kafka")`` — the
    transformations below are source-agnostic.
    """
    # Probe the footer's ts type with a batch read (metadata-only): the
    # stream must declare its schema up front, and the rebuild applied
    # below depends on the physical type (see events_schema_ddl).
    ts_type = dict(
        spark.read.parquet(os.path.join(sf_dir, "events.parquet")).dtypes
    ).get("ts")
    path = _stage_file_as_dir(sf_dir, "events.parquet", "")
    if ts_type == "bigint":  # TIMESTAMP(NANOS) under nanosAsLong
        raw = spark.readStream.schema(events_schema_ddl("BIGINT")).parquet(path)
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    # µs-precision parquet: read as NTZ and cast — identity under the
    # session's pinned UTC timezone (same normalization as catalog.py).
    raw = spark.readStream.schema(
        events_schema_ddl("TIMESTAMP_NTZ")
    ).parquet(path)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, size: str = "1 hour",
                    watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Watermarked tumbling-window counts per event_type. Late rows beyond
    the watermark are dropped deterministically; state per (window, type)
    is evicted once the watermark passes window end."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0)
            .alias("total_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_counts(events: DataFrame, size: str = "1 hour",
                   slide: str = "30 minutes",
                   watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Sliding (hopping) windows: each row lands in size/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
        )
    )


def session_windows(events: DataFrame, gap: str = SESSION_GAP,
                    watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Native session windows (gap-merged) per user — the streaming twin
    of operators/sessionize.sessionize; Spark's session_window merges
    state across micro-batches and closes a session once the watermark
    passes last_event + gap."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0)
            .alias("session_value"),
            # the LAST EVENT's ts — win.end is last+gap, so this is
            # what makes the stream bit-identical to the batch
            # operator's session_end (= max ts), the identity the
            # late-data/restart pin in test_streaming.py asserts
            F.max("ts").alias("last_ts"),
        )
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "last_ts",
            "user_id",
            "n_events",
            "session_value",
        )
    )


def run_to_memory(sdf: DataFrame, name: str,
                  output_mode: str = "complete") -> DataFrame:
    """Drain a streaming frame through the memory sink (test harness):
    process all available input, then return the result table."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    return sdf.sparkSession.table(name)


def foreach_batch(stream_df: DataFrame, process, checkpoint: str):
    """The unstarted ``availableNow`` writer every micro-batch sink
    here returns (the caller ``.start()``s it): ``process(batch_df,
    batch_id)`` runs inside ``released_checkpoints``, so whatever a
    batch persists (its ``localCheckpoint`` stages) is released when
    the batch ends, by early return or by exception too — an always-on
    stream would otherwise accumulate storage memory per micro-batch
    until the executors GC-thrash. The checkpoint tracks source
    progress, so the writer is restartable."""

    def scoped(batch_df: DataFrame, batch_id: int) -> None:
        with released_checkpoints(batch_df.sparkSession):
            process(batch_df, batch_id)

    return (
        stream_df.writeStream.foreachBatch(scoped)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
    )


def _maintained_stream(stream_df: DataFrame, checkpoint: str, fold, write):
    """The :func:`foreach_batch` writer of every auto-folding stream
    (the two ANN ingest streams, the attrition ledger): each
    micro-batch runs ``fold(spark, batch_id)``, then
    ``write(batch, batch_id)`` when the batch is non-empty.  The fold
    runs BEFORE the empty-batch return: an empty cadence batch must
    still fire it (the horizon proof only needs the batch id to have
    been invoked — skipping let partitions accumulate past the
    intended bound)."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        fold(batch.sparkSession, batch_id)
        if not batch.isEmpty():
            write(batch, batch_id)

    return foreach_batch(stream_df, process_batch, checkpoint)


# --------------------------------------------------------------------------
# Custom stateful operator: gap-sessionizer via applyInPandasWithState
# --------------------------------------------------------------------------

SESSION_GAP_US = 30 * 60 * 1000 * 1000

_SESSION_OUT_DDL = (
    "user_id BIGINT, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events BIGINT, session_value DOUBLE"
)
_SESSION_STATE_DDL = "start_us BIGINT, last_us BIGINT, n BIGINT, v BIGINT"


def stateful_sessionize(events: DataFrame,
                        watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Arbitrary-stateful sessionization: the hand-rolled twin of
    ``session_windows`` built on ``applyInPandasWithState`` — the
    pattern for session logic Spark's built-in gap-merge can't express
    (e.g. value-dependent gaps, max-length sessions).

    State per user is one open session (4 scalars, microsecond
    timestamps); closed sessions are emitted as soon as a later in-batch
    event exceeds the gap, and the final open session is flushed on
    event-time timeout once the watermark passes last_event + gap. State
    volume is O(|active users|) regardless of stream length — the
    100 TB-safe shape.

    Late (within-watermark) events arriving in a LATER micro-batch than
    the open session they belong to merge correctly (r11 review — the
    first cut moved ``last`` backward and could emit end < start):
    an event inside the open ``[start, last]`` interval just joins it;
    one in ``[start - gap, start)`` extends the session backward; one
    predating ``start - gap`` is emitted immediately as its own
    single-event session (documented approximation: with one open
    session per user in state, two adjacent sub-gap late events cannot
    merge with each other — the native ``session_windows`` twin is the
    exact-merge path). NULL-ts rows are dropped, matching the batch
    twin (a session window is undefined without a timestamp).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = SESSION_GAP_US

    def _emit(pd, sessions):
        return pd.DataFrame(
            {
                "user_id": [s[0] for s in sessions],
                "session_start": [pd.Timestamp(s[1], unit="us") for s in sessions],
                "session_end": [pd.Timestamp(s[2], unit="us") for s in sessions],
                "n_events": [s[3] for s in sessions],
                "session_value": [s[4] / 10000.0 for s in sessions],
            }
        )

    def fn(key, pdf_iter, state: GroupState):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n, v = state.get
            state.remove()
            yield _emit(pd, [(user_id, start_us, last_us, n, v)])
            return
        rows = pd.concat(list(pdf_iter))
        # NULL ts carries no session position: drop, like the batch
        # twin (astype('int64') on NaT would otherwise poison last_us
        # with iNaT and crash setTimeoutTimestamp — r11 review)
        rows = rows[rows["ts"].notna()].sort_values("ts")
        if len(rows) == 0:
            if state.exists:
                # keep the open session armed for its timeout
                _s, last_us, _n, _v = state.get
                state.setTimeoutTimestamp((int(last_us) + gap_us) // 1000)
            return
        us = (rows["ts"].astype("int64") // 1_000).to_numpy()
        vals = rows["value"].to_numpy()
        if state.exists:
            start_us, last_us, n, v = state.get
        else:
            start_us, last_us, n, v = int(us[0]), int(us[0]), 0, 0

        def _r(val) -> int:
            # exact integer units matching the batch operator's
            # sum(round(value*10000)): NULLs are skipped (F.sum skips
            # them; the row still counts), and rounding is HALF_UP
            # away from zero (Spark's F.round), not banker's round
            if pd.isna(val):
                return 0
            x = float(val) * 10000
            return int(math.copysign(math.floor(abs(x) + 0.5), x))

        out = []
        for t, val in zip(us, vals):
            t = int(t)
            if n > 0 and t < start_us - gap_us:
                # late event predating the open session by > gap: its
                # own immediately-closed session (see docstring)
                out.append((user_id, t, t, 1, _r(val)))
                continue
            if n > 0 and t < start_us:
                start_us = t  # backward extension within the gap
                n += 1
                v += _r(val)
                continue
            if n > 0 and t <= last_us:
                n += 1  # inside the open interval: merge, last stays
                v += _r(val)
                continue
            if n > 0 and t - last_us > gap_us:
                out.append((user_id, start_us, last_us, n, v))
                n, v = 0, 0
            if n == 0:
                start_us = t
            n += 1
            v += _r(val)
            last_us = t
        state.update((int(start_us), int(last_us), int(n), int(v)))
        state.setTimeoutTimestamp((int(last_us) + gap_us) // 1000)
        if out:
            yield _emit(pd, out)

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_SESSION_OUT_DDL,
            stateStructType=_SESSION_STATE_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --------------------------------------------------------------------------
# Streaming dedup & stream-stream join
# --------------------------------------------------------------------------


def dedup_stream(events: DataFrame, id_col: str = "event_id",
                 watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Streaming exact dedup: repair an at-least-once source (Kafka
    redelivery, file re-ingest) into exactly-once rows by id.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per id only
    until the watermark passes its event time, so state is bounded by
    the ids seen inside one watermark horizon — not the stream's
    lifetime (``dropDuplicates`` without a watermark would grow state
    forever; the classic 100 TB/day footgun).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )


def click_purchase_join(events: DataFrame,
                        horizon: str = "1 hour",
                        watermark: str = DEFAULT_WATERMARK) -> DataFrame:
    """Stream-stream inner join: each purchase matched to same-user
    clicks in the preceding ``horizon`` (attribution). The streaming
    twin of the batch keyed range join (operators/temporal.py).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the join state buffer and evict rows
    once they can no longer match — unbounded-state stream joins are
    rejected by the planner by design.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {horizon}"))
    )
    return clicks.join(purchases, cond, "inner").select(
        F.col("p_user").alias("user_id"),
        "purchase_id",
        "click_id",
        "purchase_ts",
        "click_ts",
        "purchase_value",
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the continuous-
    ingest shape of a curation pipeline (new crawl shards arriving as
    files; production swaps in a Kafka source, transformations
    unchanged)."""
    path = _stage_file_as_dir(sf_dir, "documents.parquet", "_docs")
    return spark.readStream.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING, "
        "n_chars BIGINT"
    ).parquet(path)


def curate_stream(docs: DataFrame) -> DataFrame:
    """Stateless curation over a document stream: learned quality filter
    (keep score >= 0.5) + PII redaction + metadata projection.

    Every expression is a per-row projection, so the streaming and
    batch plans are IDENTICAL operator-for-operator — no watermark, no
    state store, each micro-batch independently correct. This is the
    always-on ingest filter in front of the batch dedup/mix stages
    (which need corpus-global state and stay batch)."""
    from tajo_spark.operators import text as T

    score = T.quality_classifier_score(F.col("text"))
    return docs.filter(score >= 0.5).select(
        "doc_id",
        "lang",
        "source",
        T.pii_redact(F.col("text")).alias("clean_text"),
        score.alias("clf_score"),
        T.token_count(F.col("text")).alias("n_tokens"),
    )


def incremental_dedup_stream(
    docs_stream: DataFrame,
    store_path: str,
    survivors_path: str,
    checkpoint_path: str,
):
    """Continuous near-dup dedup: every micro-batch probes the persisted
    signature store (operators/dedup.py::incremental_dedup_apply — one
    equi-join on (band_id, band_hash), corpus text never re-read),
    writes its survivors, and appends THEIR signatures to the store so
    later batches dedup against everything admitted so far.

    The store update is the greedy-incremental contract: membership
    grows monotonically, each batch costs O(|batch|), and the join
    plan is identical to the batch operator's — foreachBatch is the
    standard Structured-Streaming shape for sinks that need a
    read-modify-write the sink API can't express. Checkpointing makes
    the whole pipeline restartable, and replay is safe end to end: the
    survivors and the survivors' signatures (the batch's
    already-computed ones — never re-signed) land in ``__batch_id``
    partitions written with DYNAMIC partition overwrite, and the probe
    excludes the store's own ``__batch_id == batch_id`` partitions —
    so a replayed micro-batch sees exactly the pre-batch store (its
    half-written signatures are partition-pruned away), recomputes the
    same verdicts and overwrites its own partitions.  The store is read
    through the catalog memo with the schema its writer declared, so
    the read runs no schema-inference job; fold it with
    ``dedup.compact_signature_store``.
    """
    from tajo_spark.operators import dedup as _dedup

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_store.batch_dirs(store_path):
            store = catalog.load_parquet(spark, store_path).filter(
                F.col("__batch_id") != batch_id
            )
        else:
            store = spark.createDataFrame([], "band_id INT, bh STRING")
        survivors, batch_sigs = _dedup.incremental_dedup_apply(
            batch_df, store, return_signatures=True
        )
        survivors = survivors.localCheckpoint()
        batch_store.write(survivors, survivors_path, batch_id)
        # slice the (checkpointed) batch signatures against the
        # CHECKPOINTED survivors: the store write then reuses the
        # materialized blocks instead of re-running the store probe —
        # which would re-read store_path in the same action that
        # writes to it
        surv_sigs = batch_sigs.join(
            survivors.select("doc_id"), "doc_id", "left_semi"
        )
        batch_store.write(surv_sigs, store_path, batch_id, by=("band_id",))

    return foreach_batch(docs_stream, process_batch, checkpoint_path)


def shard_export_stream(
    docs_stream: DataFrame,
    export_path: str,
    checkpoint_path: str,
    id_col: str = "doc_id",
    bytes_col: str = "nb",
    shard_bytes: int = 32768,
    seed: int = 42,
):
    """Continuous sharded export (operators/export.py twin): every
    micro-batch packs its rows into shards CONTINUING from the global
    byte offset accumulated so far, so the last partial shard keeps
    filling across batches instead of each batch opening a fresh one.

    State between batches is a metadata-sized ledger (``_state``: one
    row per batch — base offset and the total after, written by
    ``batch_store.write`` under the batch's ``__batch_id``); the data
    write is ``batch_store.write`` keyed on ``shard_id`` (one file per
    ``(shard, batch)`` directory).  A batch's base is the highest total
    over the ledger rows of LOWER batch ids, so a replayed micro-batch
    recomputes the base it first used, deterministically regenerates
    the same assignment and overwrites its own ledger row and
    sub-partitions — exactly-once layout without rewriting earlier
    batches' files — and a leftover higher-id row of an abandoned run
    never inflates it. Within a batch the assignment is the batch
    operator's two-phase distributed cumsum (never a global window).
    """
    from tajo_spark.operators.export import shard_assign

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state_path = f"{export_path}/_state"
        base = 0
        if batch_store.batch_dirs(state_path):
            base = (
                catalog.load_parquet(spark, state_path)
                .filter(F.col("__batch_id") < batch_id)
                .agg(F.coalesce(F.max("total_bytes_after"), F.lit(0)))
                .first()[0]
            )
        batch_df = batch_df.localCheckpoint()
        sharded = shard_assign(
            batch_df,
            id_col,
            bytes_col,
            shard_bytes,
            seed=seed,
            base_bytes=base,
        )
        batch_store.write(
            sharded, f"{export_path}/shards", batch_id, by=("shard_id",)
        )
        after = base + (batch_df.agg(F.sum(bytes_col)).first()[0] or 0)
        batch_store.write(
            spark.createDataFrame(
                [(batch_id, base, after)],
                "batch_id LONG, base_bytes LONG, total_bytes_after LONG",
            ),
            state_path,
            batch_id,
        )

    return foreach_batch(docs_stream, process_batch, checkpoint_path)


def _versioned_commit(merged: DataFrame, path: str, batch_id: int,
                      keep_prev: bool = True) -> None:
    """The shared versioned-commit tail: write ``v=batch_id``, then
    prune stale lower versions and orphaned HIGHER ones (leftovers of
    an abandoned run whose checkpoint was wiped — left in place they
    stay the 'latest committed' readers pick forever).  ``keep_prev``
    keeps ``v=batch_id-1`` for handlers whose replay re-merges from
    the version strictly below the batch (cms/hist/centroid); the
    Bloom gate reads the highest version including its own, so it
    keeps only ``v=batch_id``.  Centralized after a handler drifted
    from the copy-pasted block (r11 review: bloom missed the orphan
    prune)."""
    import os as _os

    merged.write.mode("overwrite").parquet(
        _os.path.join(path, f"v={batch_id}")
    )
    floor = batch_id - 1 if keep_prev else batch_id
    for v in _committed_versions(path):
        if v < floor or v > batch_id:
            fsio.delete_dir(_os.path.join(path, f"v={v}"))


def _committed_versions(path: str, below: int | None = None) -> list[int]:
    """Committed versions of a versioned-parquet state directory:
    ``path/v=N`` subdirs carrying a ``_SUCCESS`` marker, sorted;
    ``below`` restricts to versions strictly older than a batch id
    (the non-idempotent-merge replay rule, see cms_ingest_stream).
    Shared by every versioned-commit foreachBatch handler so the
    commit protocol cannot drift between them."""
    import re as _re

    import pyarrow.fs as pafs

    # through pyarrow.fs, not os.listdir: a driver-local listing reports
    # "no state" on an object store, which silently resets the state
    fs, p = fsio.resolve(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p))
    except OSError:  # missing or unreadable: no committed version
        return []
    out = []
    for d in infos:
        if d.type != pafs.FileType.Directory:
            continue
        m = _re.fullmatch(r"v=(\d+)", d.base_name)
        if not m:
            continue
        if (
            fs.get_file_info(d.path + "/_SUCCESS").type
            != pafs.FileType.File
        ):
            continue
        v = int(m.group(1))
        if below is None or v < below:
            out.append(v)
    return sorted(out)


def bloom_gate_stream(
    docs_stream: DataFrame,
    filter_path: str,
    fps_path: str,
    admitted_path: str,
    checkpoint_path: str,
    m_bits: int | None = None,
):
    """Continuous exact-seen-before gate: every micro-batch probes the
    persisted Bloom filter (operators/dedup.py::bloom_probe — map-only
    + one broadcast join against the packed words), exact-confirms ONLY
    the maybe-subset against the persisted fingerprint store, admits
    the rest, and folds the admitted fingerprints' bits back into the
    filter.  The streaming twin of ``bloom_prefilter_dedup``: per-batch
    cost is O(|batch| + m + |fps store scan|) — definite-new rows never
    touch the store (only the maybe-subset probes it), but the exact
    confirm's semi-join still SCANS the whole fingerprint store each
    batch, and the store accumulates one ``__batch_id`` partition per
    batch.  At the filter's design false-positive rate the maybe-subset
    is small, so the scan is the dominant growing term: run
    :func:`compact_gate_store` periodically (while the stream is
    stopped) to fold committed partitions into a single base partition
    through ``batch_store.fold``, the fold of the ANN index tree too.
    The store is read through the catalog memo with the schema its
    writer declared, so the read runs no schema-inference job.

    Replay safety: admitted rows and their fingerprints land in
    ``__batch_id`` partitions written with DYNAMIC overwrite, and the
    exact confirm excludes the store's own ``__batch_id == batch_id``
    partition — so a replayed batch sees exactly the pre-batch store
    (its own half-written state is partition-pruned away), recomputes
    the same verdicts, and overwrites its own partitions.  The filter
    update is a monotone bit_or: re-OR-ing a replayed batch's bits is
    a no-op by algebra, no coordination needed.

    The filter itself is VERSIONED, never overwritten in place: batch N
    writes ``filter_path/v=N`` and readers pick the highest version with
    a ``_SUCCESS`` marker.  A plain ``mode("overwrite")`` deletes the
    old files before the job commits, so a crash mid-write would lose
    bits for everything previously admitted — and a lost bit breaks the
    no-false-negative guarantee SILENTLY (definite-new rows skip the
    exact confirm by design, so duplicates would flow in forever).
    Reading a version that already includes the replayed batch's own
    bits is safe: extra maybes only route through the exact confirm,
    which partition-prunes the batch's own fingerprints.  Stale
    versions below the latest are pruned after a successful write.
    """
    import os as _os

    from tajo_spark.operators import dedup as _dedup

    bits = m_bits if m_bits is not None else _dedup.BLOOM_BITS

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        versions = _committed_versions(filter_path)
        if versions:
            # tiny (m/32 rows) — checkpoint so nothing later re-reads
            # a directory the version pruning below may remove
            words = spark.read.parquet(
                _os.path.join(filter_path, f"v={versions[-1]}")
            ).localCheckpoint()
        else:
            words = spark.createDataFrame([], "word_idx BIGINT, bits BIGINT")
        probed = _dedup.bloom_probe(
            batch_df, words, m_bits=bits
        ).localCheckpoint()
        if batch_store.batch_dirs(fps_path):
            store_fps = catalog.load_parquet(spark, fps_path).filter(
                F.col("__batch_id") != batch_id
            )
        else:
            store_fps = spark.createDataFrame([], "fp STRING")
        dup_ids = (
            probed.filter("bloom_maybe")
            .join(store_fps.select("fp"), "fp", "left_semi")
            .select("doc_id")
        )
        # first-in-batch wins when a batch repeats a fingerprint
        admitted = (
            probed.join(dup_ids, "doc_id", "left_anti")
            .groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"))
            .localCheckpoint()
        )
        batch_store.write(
            batch_df.join(admitted.select("doc_id"), "doc_id", "left_semi"),
            admitted_path,
            batch_id,
        )
        batch_store.write(admitted.select("fp"), fps_path, batch_id)
        new_bits = (
            admitted.select(
                F.explode(
                    F.array(*_dedup._bloom_positions(F.col("fp"), bits))
                ).alias("pos")
            )
            .groupBy(F.expr("pos div 32").alias("word_idx"))
            .agg(
                F.expr(
                    "bit_or(shiftleft(1L, cast(pos % 32 as int)))"
                ).alias("bits")
            )
        )
        merged = (
            words.unionByName(new_bits)
            .groupBy("word_idx")
            .agg(F.expr("bit_or(bits)").alias("bits"))
        )
        # versioned commit: the old filter stays intact until v=N has
        # its _SUCCESS marker; overwrite only ever targets THIS batch's
        # own (possibly half-written, uncommitted) version directory
        # keep_prev=False: the gate reads the HIGHEST committed
        # version (its own on replay, safe per the docstring), so only
        # v=batch_id survives — a leftover orphan staying versions[-1]
        # was a filter missing every admitted bit (r11 review)
        _versioned_commit(merged, filter_path, batch_id, keep_prev=False)

    return foreach_batch(docs_stream, process_batch, checkpoint_path)


def compact_gate_store(spark, fps_path: str, upto_batch_id: int) -> dict:
    """Fold the Bloom gate's committed per-batch fingerprint partitions
    into the base partition — ``batch_store.fold`` keyed on ``fp`` —
    bounding :func:`bloom_gate_stream`'s per-batch store scan.  Run it
    while the stream is stopped.  The base id ``-1`` is never a live
    batch id, so the gate's own-partition exclusion never prunes the
    base; duplicate fp rows a crashed fold leaves readable change no
    verdict (the confirm is a semi-join)."""
    return batch_store.fold(spark, fps_path, upto_batch_id, key=("fp",))


def _merged_state_stream(
    stream_df: DataFrame, path: str, checkpoint: str, build, merge
):
    """The :func:`foreach_batch` writer of the cell-additive state
    streams (CMS, histogram, centroid sums): each micro-batch builds
    its own state with ``build(batch)``, merges it with
    ``merge(old, new)`` into the latest version committed STRICTLY
    below the batch id, and commits ``v=batch_id``
    (:func:`_versioned_commit`).  Cell addition is not idempotent, so a
    replayed batch must re-merge from the version it originally merged
    from — never from its own half-committed version, which would
    count the batch twice."""

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        state = build(batch)
        prior = _committed_versions(path, below=batch_id)
        if prior:
            old = batch.sparkSession.read.parquet(
                os.path.join(path, f"v={prior[-1]}")
            ).localCheckpoint()
            state = merge(old, state)
        _versioned_commit(state, path, batch_id)

    return foreach_batch(stream_df, process_batch, checkpoint)


def cms_ingest_stream(
    docs_stream: DataFrame,
    sketch_path: str,
    checkpoint_path: str,
    text_col: str = "text",
):
    """Continuous count-min maintenance: each micro-batch builds its own
    bounded sketch (operators/sketch.py::cms_build — one groupBy over
    ≤ depth×width cells regardless of batch size) and merges it into
    the persisted sketch by cell-wise addition.  THE streaming shape
    mergeability buys: state is fixed-size forever, each batch costs
    O(|batch| + cells), and term-drift queries probe the persisted
    sketch without touching any raw data.

    Durability follows the Bloom gate's versioned-commit pattern
    (``sketch_path/v=N`` + ``_SUCCESS``, read-latest, prune-old): the
    previous sketch stays intact until the new version commits.  Unlike
    the gate's idempotent bit_or, cell addition is replay-safe only
    through :func:`_merged_state_stream`'s merge-from-below rule.
    """
    from tajo_spark.operators import sketch as _sketch
    from tajo_spark.operators import text as _text

    def build(batch_df: DataFrame) -> DataFrame:
        terms = batch_df.filter(F.col(text_col).isNotNull()).select(
            F.explode(_text.tokens(F.col(text_col))).alias("term")
        ).filter(F.col("term") != "")
        return _sketch.cms_build(terms)

    return _merged_state_stream(
        docs_stream, sketch_path, checkpoint_path, build, _sketch.cms_merge
    )


def hist_ingest_stream(
    docs_stream: DataFrame,
    hist_path: str,
    checkpoint_path: str,
    value_col: str = "n_chars",
    lo: float = 0.0,
    hi: float = 640.0,
    bins: int = 64,
):
    """Continuous distribution maintenance: each micro-batch builds its
    own bounded histogram (operators/sketch.py::hist_build — one
    groupBy over <= bins cells regardless of batch size) and merges it
    into the persisted histogram by cell-wise addition — the quantile
    member of the streaming-sketch family (Bloom gate: membership, CMS
    ingest: frequency).  Quantile queries probe the persisted cells
    (hist_quantiles) without touching any raw data.

    Durability and replay safety: :func:`_merged_state_stream`.
    """
    from tajo_spark.operators import sketch as _sketch

    return _merged_state_stream(
        docs_stream,
        hist_path,
        checkpoint_path,
        lambda batch_df: _sketch.hist_build(
            batch_df, value_col, lo=lo, hi=hi, bins=bins
        ),
        _sketch.hist_merge,
    )


def centroid_ingest_stream(
    emb_stream: DataFrame,
    sums_path: str,
    checkpoint_path: str,
    label_col: str = "label",
    vec_col: str = "embedding",
):
    """Continuous embedding-centroid maintenance: each micro-batch
    folds its vectors into per-(label, pos) EXACT integer component
    sums (similarity.centroid_component_sums — elements scaled 1e6,
    cell-wise addition composes batches losslessly) and merges them
    into the persisted sum table; drift queries probe the maintained
    cells through ``centroid_cosines_from_sums`` without touching raw
    vectors.  State is |labels| x dims rows regardless of stream
    volume — the histogram/CMS bounded-state property, embedding
    flavor, and because the sums are exact integers the maintained
    state equals one batch build over the union BIT FOR BIT (the
    strongest stream≡batch pin in the family).

    Durability and replay safety: :func:`_merged_state_stream`.
    """
    from tajo_spark.operators.similarity import centroid_component_sums

    return _merged_state_stream(
        emb_stream,
        sums_path,
        checkpoint_path,
        lambda batch_df: centroid_component_sums(batch_df, label_col, vec_col),
        lambda old, new: (
            old.unionByName(new)
            .groupBy("label", "pos")
            .agg(F.sum("sv").cast("long").alias("sv"))
        ),
    )


def attrition_stream(
    stream_df: DataFrame,
    stages: list,
    ledger_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    token_col: str | None = None,
    compact_every: int | None = None,
):
    """Streaming twin of ``operators/attrition.first_drop_attrition``:
    each micro-batch's per-stage funnel appends to a partitioned
    ledger table — the live "where is my data going" feed a 100 TB
    ingest dashboard reads, produced by the SAME column logic as the
    batch report (stream ≡ batch by construction for row-rule stages;
    DataFrame drop-set stages join each batch against the same static
    frame).

    Idempotent like every sink here: rows land under
    ``__batch_id=<id>`` through ``batch_store.write``, so a
    crash-replayed batch rewrites its own partition. The ledger is
    ≤ |stages|+1 rows per batch — metadata-sized in ROWS forever, but
    its read cost tracks batch-PARTITION count (r11 rung: the
    dashboard groupBy-stage read grew 200 → 436 ms across 25 → 100
    accumulated batches, pure listing/small-file overhead — the same
    mechanism the ANN ingest rung measured at 5x). ``compact_every=N``
    arms :func:`compact_ledger_batches` (``batch_store.fold``) at the
    head of every Nth batch, folding committed partitions into the
    ``__batch_id=-1`` base; ``__src_batch_id`` (a regular column
    stamping every row with its producing batch) is what makes the
    fold's crash-rerun idempotent. Reading grouped by stage (sum
    n_docs/n_tokens) reproduces the batch report over everything
    ingested, folded or not. Returns the unstarted writer.
    """
    from tajo_spark.operators.attrition import first_drop_attrition

    def fold(spark, batch_id: int) -> None:
        if cadence_fires(batch_id, compact_every):
            compact_ledger_batches(
                spark, ledger_path, batch_id - 1, verify_counts=False
            )

    def write(batch: DataFrame, batch_id: int) -> None:
        batch_store.write(
            first_drop_attrition(
                batch, stages, id_col=id_col, token_col=token_col
            )
            .withColumn("__src_batch_id", F.lit(batch_id).cast("long"))
            .coalesce(1),
            ledger_path,
            batch_id,
        )

    return _maintained_stream(stream_df, checkpoint, fold, write)


def compact_ledger_batches(
    spark, ledger_path: str, upto_batch_id: int, verify_counts: bool = True
) -> dict:
    """Fold committed attrition-ledger batch partitions into the
    ``__batch_id=-1`` base — ``batch_store.fold`` keyed on
    ``(stage, __src_batch_id)``, unique in the ledger by construction,
    so a re-run after a crash never double-counts a stage sum.
    Dashboard reads (groupBy stage, sum) are unchanged by the fold."""
    return batch_store.fold(
        spark, ledger_path, upto_batch_id, key=("stage", "__src_batch_id"),
        verify_counts=verify_counts, read=_read_ledger,
    )


def _read_ledger(spark, ledger_path: str) -> DataFrame:
    """The ledger with every row's ``__src_batch_id``.  mergeSchema: a
    ledger written before ``__src_batch_id`` existed (or one mixing
    generations) must not let one old footer win schema inference —
    the fold key would resolve to nothing or read null on every old
    row, collapsing all old batches to one row per stage.  Old rows
    take their partition value, which IS their producing batch (those
    ledgers predate any fold, so no ``-1`` ambiguity exists among
    them)."""
    df = spark.read.option("mergeSchema", "true").parquet(ledger_path)
    src = F.col("__batch_id")
    if "__src_batch_id" in df.columns:
        src = F.coalesce(F.col("__src_batch_id"), src)
    return df.withColumn("__src_batch_id", src)
