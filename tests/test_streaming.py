"""Structured Streaming tests: stream results must equal the batch twin
(the kappa-architecture consistency check). Reference has no streaming
(SURVEY.md §2.10) — this is declared-superset capability."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tajo_spark.catalog import load_table
from tajo_spark.streaming import pipeline as P
from tests.conftest import SF_DIR, jobs_of, persisted_rdd_ids


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF_DIR, "events")


def test_tumbling_stream_equals_batch(spark, batch_events):
    sdf = P.tumbling_counts(P.stream_events(spark, SF_DIR))
    got = P.run_to_memory(sdf, "t_tumbling").orderBy("window_start", "event_type")
    exp = (
        batch_events.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0)
            .alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )
    assert [r.asDict() for r in got.collect()] == [
        r.asDict() for r in exp.collect()
    ]


def test_sliding_stream_covers_each_row_twice(spark, batch_events):
    sdf = P.sliding_counts(P.stream_events(spark, SF_DIR))
    got = P.run_to_memory(sdf, "t_sliding")
    total_batch = batch_events.count()
    # 1h window hopping every 30min → every event lands in exactly 2 windows
    assert got.agg(F.sum("n")).collect()[0][0] == 2 * total_batch


def test_session_windows_match_batch_sessionize(spark, batch_events):
    from tajo_spark.operators.sessionize import sessionize

    sdf = P.session_windows(P.stream_events(spark, SF_DIR))
    got = P.run_to_memory(sdf, "t_sessions")
    exp = sessionize(batch_events)
    # same session count and same total events per user
    assert got.count() == exp.count()
    g = {r.user_id: r.s for r in got.groupBy("user_id")
         .agg(F.sum("n_events").alias("s")).collect()}
    e = {r.user_id: r.s for r in exp.groupBy("user_id")
         .agg(F.sum("n_events").alias("s")).collect()}
    assert g == e


def test_watermark_present_in_plan(spark):
    sdf = P.tumbling_counts(P.stream_events(spark, SF_DIR))
    assert sdf.isStreaming
    assert "EventTimeWatermark" in sdf._jdf.queryExecution().logical().toString()


def test_stateful_sessionize_matches_batch_closed_sessions(spark, batch_events):
    from tajo_spark.operators.sessionize import sessionize

    sdf = P.stateful_sessionize(P.stream_events(spark, SF_DIR))
    got = P.run_to_memory(sdf, "t_stateful_sessions", output_mode="append")
    exp = sessionize(batch_events)
    # The stream emits sessions closed by a later in-batch event (plus
    # timeout flushes); every emitted session must exist verbatim in the
    # batch result — (user, start, end, n, value) is the full identity.
    exp_keys = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         float(r.session_value))
        for r in exp.collect()
    }
    rows = got.collect()
    assert len(rows) > 0
    for r in rows:
        key = (r.user_id, r.session_start, r.session_end, r.n_events,
               float(r.session_value))
        assert key in exp_keys, f"streamed session not in batch result: {key}"


def test_file_sink_checkpoint_exactly_once(spark, batch_events, tmp_path):
    # exactly-once file sink: restarting from the same checkpoint must
    # not duplicate output rows
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    total = batch_events.count()

    def run_once():
        q = (
            P.stream_events(spark, SF_DIR)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    run_once()
    run_once()  # restart: source offsets already committed → no new rows
    assert spark.read.parquet(out).count() == total


def test_stateful_sessionize_late_events_merge_not_corrupt(spark, tmp_path):
    """r11 review: a late (within-watermark) event arriving in a LATER
    micro-batch than its open session used to move ``last`` backward
    and could emit end < start. Pin the merge rules: inside-interval
    events join without moving last; sub-gap-earlier events extend
    start backward; pre-gap events become their own session. NULL ts
    must be dropped, not crash the query."""
    import os

    from pyspark.sql import functions as SF

    src = str(tmp_path / "src")
    os.makedirs(src)
    ddl = P.events_schema_ddl("TIMESTAMP_NTZ")

    def write_batch(rows):
        spark.createDataFrame(rows, ddl).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    import datetime as dt

    T = lambda h, m: dt.datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: open session [10:00, 10:10] for user 1
    write_batch(
        [
            (1, T(10, 0), 1, "view", 1.0, "{}"),
            (2, T(10, 10), 1, "view", 1.0, "{}"),
        ]
    )
    # batch 2: late events — 10:05 inside the interval, 9:50 extends
    # start backward (gap 30min), 8:00 predates by > gap (own session),
    # one NULL ts (dropped), then 11:30 closes the open session
    write_batch(
        [
            (3, T(10, 5), 1, "view", 1.0, "{}"),
            (4, T(9, 50), 1, "view", 1.0, "{}"),
            (5, T(8, 0), 1, "view", 1.0, "{}"),
            (6, None, 1, "view", 1.0, "{}"),
            (7, T(11, 30), 1, "view", 1.0, "{}"),
        ]
    )
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("ts", SF.col("ts").cast("timestamp"))
    )
    got = P.run_to_memory(
        P.stateful_sessionize(stream), "t_late_sessions",
        output_mode="append",
    )
    rows = {
        (r.session_start, r.session_end, r.n_events)
        for r in got.collect()
    }
    # the 8:00 orphan emitted alone; the merged session [9:50, 10:10]
    # with 4 events closed by the 11:30 event — never end < start
    assert (T(8, 0), T(8, 0), 1) in rows
    assert (T(9, 50), T(10, 10), 4) in rows
    for start, end, _n in rows:
        assert end >= start


def test_stateful_sessionize_null_values(spark, tmp_path):
    # NULL event values must be skipped (like F.sum), not crash the worker
    src = str(tmp_path / "null_events")
    spark.createDataFrame(
        [(1, 1_700_000_000_000_000_000 + i * 10**9, 7, "a", None if i == 1 else 2.5, "{}")
         for i in range(3)],
        "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING",
    ).write.parquet(src)
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.schema(P.events_schema_ddl())
        .parquet(src)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    sdf = P.stateful_sessionize(raw)
    got = P.run_to_memory(sdf, "t_null_sessions", output_mode="append")
    # single open session → flushed only on timeout; no crash is the test
    assert got.count() >= 0


def test_dedup_stream_removes_redelivered_rows(spark, tmp_path):
    # simulate at-least-once delivery: the same rows land twice with a
    # slightly later arrival, one file per delivery (two micro-batch inputs)
    src = str(tmp_path / "dup_events")
    base = 1_700_000_000_000_000_000
    rows = [
        (i, base + i * 10**9, i % 3, "click", 1.0, "{}") for i in range(50)
    ]
    schema = P.events_schema_ddl()
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    raw = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )
    got = P.run_to_memory(
        P.dedup_stream(raw), "t_dedup_stream", output_mode="append"
    )
    assert got.count() == 50
    assert got.select("event_id").distinct().count() == 50


def test_click_purchase_join_matches_batch_range_join(spark, batch_events):
    sdf = P.click_purchase_join(P.stream_events(spark, SF_DIR))
    got = P.run_to_memory(sdf, "t_cp_join", output_mode="append")

    clicks = batch_events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    purchases = batch_events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
    )
    exp = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    got_pairs = {(r.purchase_id, r.click_id) for r in got.collect()}
    exp_pairs = {(r.purchase_id, r.click_id) for r in exp.collect()}
    assert got_pairs == exp_pairs and len(exp_pairs) > 0


def test_curate_stream_equals_batch(spark):
    """The stateless curation stage must produce byte-identical rows
    under Structured Streaming and batch — same expressions, no state."""
    from tajo_spark.streaming.pipeline import (
        curate_stream,
        run_to_memory,
        stream_documents,
    )

    sf = SF_DIR
    streamed = run_to_memory(
        curate_stream(stream_documents(spark, sf)),
        "curated_docs",
        output_mode="append",
    )
    got = {
        (r.doc_id, r.clean_text, r.clf_score, r.n_tokens)
        for r in streamed.collect()
    }
    from tajo_spark.catalog import load_table
    from tajo_spark.streaming.pipeline import curate_stream as cs

    batch = cs(load_table(spark, sf, "documents"))
    want = {
        (r.doc_id, r.clean_text, r.clf_score, r.n_tokens)
        for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_incremental_dedup_stream_matches_sequential_batches(spark, tmp_path):
    """foreachBatch incremental dedup: the streamed store-probe-append
    loop must reproduce what sequential batch calls produce."""
    import os

    from tajo_spark.streaming.pipeline import incremental_dedup_stream

    base = "shared boilerplate words repeated across near duplicate docs"
    rows = [
        (0, base + " v1"),
        (1, base + " v1"),              # in-batch dup of 0
        (2, "unique first content about engines and plans"),
        (10, base + " v1"),             # dup of doc 0 (earlier file)
        (11, "unique second content about benchmarks and scans"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    # two files → the file source processes them as micro-batches
    spark.createDataFrame(rows[:3], "doc_id LONG, text STRING").coalesce(
        1
    ).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "survivors")
    q = incremental_dedup_stream(
        stream, store, out, str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()  # availableNow drains then terminates
    # second wave arrives; RESTART from the same checkpoint picks up
    # only the new file (restartability is part of the contract)
    spark.createDataFrame(rows[3:], "doc_id LONG, text STRING").coalesce(
        1
    ).write.mode("append").parquet(src)
    q2 = incremental_dedup_stream(
        stream, store, out, str(tmp_path / "ckpt")
    ).start()
    q2.processAllAvailable()
    q2.stop()
    got = sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    # 0 survives (lowest of its bucket), 1 dropped in-batch, 2 unique,
    # 10 dropped against the store, 11 unique
    assert got == [0, 2, 11], got


def test_shard_export_stream_continuous_offsets(spark, tmp_path):
    # 3 micro-batches (maxFilesPerTrigger=1 over 3 staged files) must
    # produce ONE continuous shard layout: each batch's assignment
    # equals the batch operator run with the ledger's base offset, and
    # the bases chain batch-to-batch (the last partial shard keeps
    # filling across batches).
    from tajo_spark.operators.export import shard_assign

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("nb")
    )
    src = str(tmp_path / "src")
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id BIGINT, nb BIGINT").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    export = str(tmp_path / "export")
    q = P.shard_export_stream(
        stream, export, str(tmp_path / "ckpt"), shard_bytes=16384
    ).start()
    q.awaitTermination(120)

    shards = spark.read.parquet(f"{export}/shards")
    n_docs = docs.count()
    assert shards.count() == n_docs
    assert shards.select("doc_id").distinct().count() == n_docs

    ledger = {
        r.batch_id: r
        for r in spark.read.parquet(f"{export}/_state").collect()
    }
    assert sorted(ledger) == [0, 1, 2]
    # bases chain: each batch starts where the previous ended
    assert ledger[0].base_bytes == 0
    for b in (1, 2):
        assert ledger[b].base_bytes == ledger[b - 1].total_bytes_after
    # per batch, the streamed assignment IS the batch operator's
    for b, row in ledger.items():
        got = {
            (r.doc_id, r.shard_id)
            for r in shards.filter(F.col("__batch_id") == b).collect()
        }
        batch_rows = shards.filter(F.col("__batch_id") == b).select(
            "doc_id", "nb"
        )
        want = {
            (r.doc_id, r.shard_id)
            for r in shard_assign(
                batch_rows, "doc_id", "nb", 16384,
                base_bytes=row.base_bytes,
            ).collect()
        }
        assert got == want, b

    # restart with the same checkpoint: availableNow + no new files
    # must be a no-op (exactly-once layout)
    before = sorted(
        (r.doc_id, r.shard_id, r["__batch_id"])
        for r in shards.select("doc_id", "shard_id", "__batch_id").collect()
    )
    q2 = P.shard_export_stream(
        spark.readStream.schema("doc_id BIGINT, nb BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        export,
        str(tmp_path / "ckpt"),
        shard_bytes=16384,
    ).start()
    q2.awaitTermination(120)
    after = sorted(
        (r.doc_id, r.shard_id, r["__batch_id"])
        for r in spark.read.parquet(f"{export}/shards")
        .select("doc_id", "shard_id", "__batch_id")
        .collect()
    )
    assert before == after


def test_bloom_gate_stream_admits_once_across_batches(spark, tmp_path):
    """Streaming Bloom gate: exact-seen-before across micro-batches
    with first-in-batch dedup, O(batch) per batch."""
    import os

    from tajo_spark.streaming.pipeline import bloom_gate_stream

    rows1 = [
        (0, "alpha doc body one"),
        (1, "alpha doc body one"),      # in-batch exact dup of 0
        (2, "beta doc body two"),
    ]
    rows2 = [
        (10, "alpha doc body one"),     # dup of batch-1 admit
        (11, "gamma doc body three"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows1, "doc_id LONG, text STRING").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    paths = [str(tmp_path / p) for p in ("filter", "fps", "admitted", "ckpt")]
    q = bloom_gate_stream(stream, *paths).start()
    q.processAllAvailable(); q.stop()
    # second wave through the SAME checkpoint (restartable contract)
    spark.createDataFrame(rows2, "doc_id LONG, text STRING").coalesce(1) \
        .write.mode("append").parquet(src)
    q2 = bloom_gate_stream(stream, *paths).start()
    q2.processAllAvailable(); q2.stop()

    got = sorted(
        r.doc_id
        for r in spark.read.parquet(paths[2]).select("doc_id").collect()
    )
    # 0 admitted (min of the in-batch pair), 1 deduped in-batch,
    # 2 admitted, 10 rejected against the store, 11 admitted
    assert got == [0, 2, 11], got
    # filter persisted and non-empty; fingerprints one per admit
    assert spark.read.parquet(paths[0]).count() > 0
    assert spark.read.parquet(paths[1]).select("fp").distinct().count() == 3


def test_bloom_gate_stream_replay_is_idempotent(spark, tmp_path):
    """Crash-replay contract: wiping the checkpoint and re-running the
    same source must reproduce the identical admitted set — each batch
    excludes its own fps partition when confirming, overwrites its own
    partitions, and the filter bit_or is monotone."""
    import os
    import shutil

    from tajo_spark.streaming.pipeline import bloom_gate_stream

    rows = [(i, f"doc body {i % 4}") for i in range(8)]  # 4 distinct texts
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows[:4], "doc_id LONG, text STRING").coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows[4:], "doc_id LONG, text STRING").coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    paths = [str(tmp_path / p) for p in ("filter", "fps", "admitted", "ckpt")]
    q = bloom_gate_stream(stream, *paths).start()
    q.processAllAvailable(); q.stop()
    first = sorted(
        (r.doc_id, r.text)
        for r in spark.read.parquet(paths[2]).select("doc_id", "text").collect()
    )
    shutil.rmtree(paths[3])  # lose the checkpoint → full replay
    q2 = bloom_gate_stream(stream, *paths).start()
    q2.processAllAvailable(); q2.stop()
    replayed = sorted(
        (r.doc_id, r.text)
        for r in spark.read.parquet(paths[2]).select("doc_id", "text").collect()
    )
    assert replayed == first
    assert len({t for _, t in first}) == len(first)  # one admit per text


def test_compact_gate_store_interleaved_with_replay(spark, tmp_path):
    """The compactor's crash-replay contract (r05 verdict #8): compact
    the committed horizon while the stream is stopped, then replay the
    last UNcommitted batch against the folded base partition — verdicts
    must be unchanged.  Simulates the crash by deleting the last batch's
    commit marker (offsets are written before commits, so the engine
    re-executes that batch on restart)."""
    import os
    import shutil

    from tajo_spark.streaming.pipeline import (
        bloom_gate_stream,
        compact_gate_store,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    waves = [
        [(0, "text alpha"), (1, "text beta")],          # batch 0
        [(10, "text alpha"), (11, "text gamma")],       # batch 1: 10 rejected
        [(20, "text beta"), (21, "text delta")],        # batch 2: 20 rejected
    ]
    for i, rows in enumerate(waves):
        spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(1) \
            .write.mode("overwrite" if i == 0 else "append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    paths = [str(tmp_path / p) for p in ("filter", "fps", "admitted", "ckpt")]
    q = bloom_gate_stream(stream, *paths).start()
    q.processAllAvailable(); q.stop()
    admitted_before = sorted(
        r.doc_id
        for r in spark.read.parquet(paths[2]).select("doc_id").collect()
    )
    assert admitted_before == [0, 1, 11, 21]

    # crash window: batch 2 processed but its commit marker lost (the
    # local checksum FS shadows each file with a .crc — drop both, as
    # a real lost rename would)
    os.remove(os.path.join(paths[3], "commits", "2"))
    crc = os.path.join(paths[3], "commits", ".2.crc")
    if os.path.exists(crc):
        os.remove(crc)
    # maintenance pass over the committed horizon (batches 0..1) while
    # the stream is stopped
    stats = compact_gate_store(spark, paths[1], upto_batch_id=1)
    assert stats["batch_dirs_removed"] == 2
    assert stats["rows_folded"] == stats["rows_after"] == 3  # alpha/beta/gamma
    remaining = {
        d for d in os.listdir(paths[1]) if d.startswith("__batch_id=")
    }
    assert remaining == {"__batch_id=-1", "__batch_id=2"}

    # restart: the engine replays batch 2 against the compacted store
    q2 = bloom_gate_stream(stream, *paths).start()
    q2.processAllAvailable(); q2.stop()
    admitted_after = sorted(
        r.doc_id
        for r in spark.read.parquet(paths[2]).select("doc_id").collect()
    )
    assert admitted_after == admitted_before
    # fingerprint store still one row per distinct admitted text
    fps = spark.read.parquet(paths[1]).select("fp")
    assert fps.distinct().count() == fps.count() == 4

    # and the folded base keeps serving the confirm: a new wave of
    # pre-compaction dups is still rejected
    spark.createDataFrame(
        [(30, "text alpha"), (31, "text epsilon")],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("append").parquet(src)
    q3 = bloom_gate_stream(stream, *paths).start()
    q3.processAllAvailable(); q3.stop()
    final = sorted(
        r.doc_id
        for r in spark.read.parquet(paths[2]).select("doc_id").collect()
    )
    assert final == [0, 1, 11, 21, 31]


def test_compact_signature_store_preserves_verdicts(spark, tmp_path):
    """Signature-store fold (the minhash twin of compact_gate_store):
    fold the committed per-batch partitions into the base while the
    stream is stopped — fewer files, identical verdicts for the next
    wave."""
    import glob
    import os

    from tajo_spark.operators.dedup import compact_signature_store
    from tajo_spark.streaming.pipeline import incremental_dedup_stream

    base = "shared boilerplate words repeated across near duplicate docs"
    src = str(tmp_path / "src")
    os.makedirs(src)
    waves = [
        [(0, base + " v1"), (1, "unique first content about engines")],
        [(10, base + " v1"), (11, "unique second content about scans")],
        [(20, base + " v1"), (21, "unique third content about shuffles")],
    ]
    for i, rows in enumerate(waves):
        spark.createDataFrame(rows, "doc_id LONG, text STRING").coalesce(1) \
            .write.mode("overwrite" if i == 0 else "append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    store = str(tmp_path / "store")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    q = incremental_dedup_stream(stream, store, out, ckpt).start()
    q.processAllAvailable(); q.stop()
    before = sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert before == [0, 1, 11, 21]

    def n_files():
        return len(glob.glob(f"{store}/**/*.parquet", recursive=True))

    files_before = n_files()
    stats = compact_signature_store(spark, store, upto_batch_id=2)
    assert stats["batch_dirs_removed"] > 0
    assert n_files() < files_before
    # one signature row set per surviving doc, no duplicates
    sigs = spark.read.parquet(store)
    assert sigs.count() == sigs.dropDuplicates(
        ["doc_id", "band_id", "bh"]
    ).count()

    # next wave against the compacted store: dups still rejected
    spark.createDataFrame(
        [(30, base + " v1"), (31, "unique fourth content about joins")],
        "doc_id LONG, text STRING",
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = incremental_dedup_stream(stream, store, out, ckpt).start()
    q2.processAllAvailable(); q2.stop()
    after = sorted(
        r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()
    )
    assert after == [0, 1, 11, 21, 31]


def test_centroid_ingest_stream_equals_batch_bit_for_bit(spark, tmp_path):
    """Streamed centroid maintenance == one batch build over the full
    corpus EXACTLY (integer component sums, no float tolerance), the
    cosines agree through centroid_cosines_from_sums, and a
    checkpoint-wipe replay converges to the same cells."""
    import os
    import re
    import shutil

    from tajo_spark.operators.similarity import (
        centroid_component_sums,
        centroid_cosines_from_sums,
        label_centroid_cosines,
    )
    from tajo_spark.streaming.pipeline import centroid_ingest_stream

    rows1 = [(1, [1.0, 0.25, -0.5], 0), (2, [0.5, -1.0, 0.75], 1)]
    rows2 = [(3, [0.1, 0.2, 0.3], 0), (4, [-0.4, 0.6, 0.9], 2),
             (5, [0.8, 0.8, -0.2], 1)]
    schema = "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("overwrite").parquet(src)
    spark.createDataFrame(rows2, schema).coalesce(1) \
        .write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sp, ck = str(tmp_path / "sums"), str(tmp_path / "ckpt")

    def latest_cells():
        latest = max(
            int(m.group(1))
            for d in os.listdir(sp)
            if (m := re.fullmatch(r"v=(\d+)", d))
            and os.path.exists(os.path.join(sp, d, "_SUCCESS"))
        )
        return (
            spark.read.parquet(os.path.join(sp, f"v={latest}")),
            {
                (r.label, r.pos): r.sv
                for r in spark.read.parquet(
                    os.path.join(sp, f"v={latest}")
                ).collect()
            },
        )

    q = centroid_ingest_stream(stream, sp, ck)
    sq = q.start(); sq.processAllAvailable(); sq.stop()
    full = spark.createDataFrame(rows1 + rows2, schema)
    batch_cells = {
        (r.label, r.pos): r.sv
        for r in centroid_component_sums(full).collect()
    }
    sums_df, got = latest_cells()
    assert got == batch_cells  # exact integer equality

    # cosines through the maintained store == direct batch cosines
    stream_cos = {
        (r.label_a, r.label_b): r.cosine
        for r in centroid_cosines_from_sums(sums_df).collect()
    }
    batch_cos = {
        (r.label_a, r.label_b): r.cosine
        for r in label_centroid_cosines(full).collect()
    }
    assert stream_cos == batch_cos

    # checkpoint wipe: replay converges to the same cells
    shutil.rmtree(ck)
    q2 = centroid_ingest_stream(stream, sp, ck)
    sq2 = q2.start(); sq2.processAllAvailable(); sq2.stop()
    assert latest_cells()[1] == batch_cells

    # crash debris: partial higher version + orphaned committed future
    os.makedirs(os.path.join(sp, "v=1"), exist_ok=True)
    shutil.copytree(os.path.join(sp, "v=0"), os.path.join(sp, "v=9"))
    spark.createDataFrame(
        [(6, [0.3, -0.3, 0.6], 0)], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q3 = centroid_ingest_stream(stream, sp, ck)
    sq3 = q3.start(); sq3.processAllAvailable(); sq3.stop()
    assert not os.path.isdir(os.path.join(sp, "v=9"))
    full2 = spark.createDataFrame(
        rows1 + rows2 + [(6, [0.3, -0.3, 0.6], 0)], schema
    )
    want2 = {
        (r.label, r.pos): r.sv
        for r in centroid_component_sums(full2).collect()
    }
    assert latest_cells()[1] == want2


def test_session_windows_late_data_bitexact_across_restart(spark, tmp_path):
    """r07 stretch: gap-based session windows with LATE data and a
    crash/restart at a micro-batch boundary must be bit-identical to
    the batch sessionizer over the full event set — (user, start,
    last_ts, n, value) per session, not just counts.

    Timeline: batch 1 sees users 1/2; batch 2 (after a restart from
    the same checkpoint) delivers a LATE event inside user 1's open
    session (within the 1 h watermark), a new-session event 40 min
    later, and a far-future flush event that advances the watermark
    past every real session's close."""
    import datetime as dt

    from tajo_spark.operators.sessionize import sessionize

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, mins, uid, val):
        return (
            eid,
            t0 + dt.timedelta(minutes=mins),
            uid,
            "click",
            val,
            "{}",
        )

    file_a = [ev(1, 0, 1, 1.0), ev(2, 10, 1, 2.0), ev(3, 0, 2, 0.5)]
    file_b = [
        ev(4, 5, 1, 0.25),       # late: merges into user 1's session
        ev(5, 50, 1, 1.0),       # 40 min after user 1's last → new session
        ev(6, 20, 2, 0.5),       # 20 min gap → same user-2 session
        ev(7, 14400, 99, 0.0),   # +10 days: watermark flush
    ]
    ddl = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
        "event_type STRING, value DOUBLE, props STRING"
    )
    src = tmp_path / "sessions_src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def land(rows, name):
        spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(
            str(tmp_path / name)
        )
        import shutil as sh

        for f in (tmp_path / name).glob("*.parquet"):
            sh.copy(str(f), str(src / f"{name}.parquet"))

    def drain():
        q = (
            P.session_windows(spark.readStream.schema(ddl).parquet(str(src)))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination(30)

    land(file_a, "a")
    drain()                      # batch 1, then "crash" (query stopped)
    land(file_b, "b")
    drain()                      # restart from checkpoint, late data merges
    drain()                      # no-data restart: watermark-only flush

    got = {
        (r.user_id, r.session_start, r.last_ts, r.n_events,
         float(r.session_value))
        for r in spark.read.parquet(out).filter("user_id != 99").collect()
    }
    exp = {
        (r.user_id, r.session_start, r.session_end, r.n_events,
         float(r.session_value))
        for r in sessionize(
            spark.createDataFrame(file_a + file_b, ddl)
        ).filter("user_id != 99").collect()
    }
    assert got == exp
    assert len(got) == 3  # u1 merged session, u1 second session, u2


# ---------------------------------------------------------------------------
# Capstone: streaming near-dup gate → IVF-assign → persisted-index
# append (streaming/ann_ingest.py gated_ingest_*) — the similarity
# family composed end-to-end as one restartable stream, bit-exact to
# the sequential batch composition (VERDICT r08 #8).


def _gate_corpus(spark):
    """Deterministic synthetic embeddings: 200 boot + 2 batch files
    with planted near-dups (exact copies → int8 cosine 1.0) among
    random-gaussian vectors (dim 32: random cosines ≈ ±0.18, far from
    tau=0.92)."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((230, 32))

    def df(ids_vecs):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in ids_vecs],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )

    boot = df((i, base[i]) for i in range(200))
    # batch 0: 10 novel + 2 exact copies of boot vectors (gated by A)
    b0 = df(
        [(300 + j, base[200 + j]) for j in range(10)]
        + [(350, base[5]), (351, base[17])]
    )
    # batch 1: 10 novel + 1 copy of a batch-0 SURVIVOR (gated by A
    # once batch 0 is indexed) + an in-batch dup pair (gated by B:
    # 461 keeps, 462 drops)
    b1 = df(
        [(400 + j, base[210 + j]) for j in range(10)]
        + [(450, base[201])]
        + [(461, base[220]), (462, base[220])]
    )
    return boot, b0, b1


def _index_rows(spark, path):
    return {
        (r.vec_id, r.centroid_id, tuple(r.q8), r["__batch_id"])
        for r in spark.read.parquet(path)
        .select("vec_id", "centroid_id", "q8", "__batch_id")
        .collect()
    }


def test_gated_ann_ingest_stream_equals_batch_composition(spark, tmp_path):
    import os

    from tajo_spark.streaming import ann_ingest as AI

    boot, b0, b1 = _gate_corpus(spark)
    # stream leg: two parquet files → two micro-batches (ids 0, 1)
    s_index = str(tmp_path / "s_index")
    codec = AI.ivf_ingest_init(boot, s_index, n_centroids=8)
    src = str(tmp_path / "src")
    os.makedirs(src)
    b0.coalesce(1).write.mode("append").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("vec_id BIGINT, embedding ARRAY<DOUBLE>")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = AI.gated_ingest_stream(
        stream, codec, s_index, str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    # batch twin: same batches, same ids, sequential composition
    # (same frozen codec, fresh index directory)
    b_index = str(tmp_path / "b_index")
    AI.ivf_append_batch(boot, codec, b_index, batch_id=-1)
    AI.gated_ingest_batch(b0, codec, b_index, batch_id=0)
    AI.gated_ingest_batch(b1, codec, b_index, batch_id=1)

    got, want = _index_rows(spark, s_index), _index_rows(spark, b_index)
    assert got == want  # bit-exact stream ≡ batch, q8 payload included

    ids = {v for v, *_ in got}
    assert {350, 351} & ids == set()  # gate A: copies of boot dropped
    assert 450 not in ids  # gate A: copy of a batch-0 survivor dropped
    assert 461 in ids and 462 not in ids  # gate B: greedy-by-id
    assert {300 + j for j in range(10)} <= ids  # novels all kept
    assert {400 + j for j in range(10)} <= ids


def test_gated_ingest_replay_is_idempotent_and_gates_same(spark, tmp_path):
    from tajo_spark.streaming import ann_ingest as AI

    boot, b0, b1 = _gate_corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=8)
    AI.gated_ingest_batch(b0, codec, index, batch_id=0)
    AI.gated_ingest_batch(b1, codec, index, batch_id=1)
    before = _index_rows(spark, index)

    # crash-replay of batch 0 AFTER batch 1 landed: the gate excludes
    # batch 0's own partitions but sees boot AND batch 1 — batch 0's
    # survivors contain no near-dups of batch 1 (novel gaussians), so
    # the replay recomputes the identical survivor set and overwrites
    # its own partitions byte-for-byte
    AI.gated_ingest_batch(b0, codec, index, batch_id=0)
    assert _index_rows(spark, index) == before

    # scale pin: the gate's index scan prunes directories on BOTH
    # partition keys — probed centroids and the own-batch exclusion
    surv = AI.neardup_gate_batch(b0, codec, index, batch_id=0)
    surv.count()
    plan = surv._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "centroid_id" in pf and "__batch_id" in pf, plan


def test_neardup_gate_bounds_the_probed_centroid_read(spark, tmp_path,
                                                     monkeypatch):
    # the probed centroid ids are the gate's one driver read; it goes
    # through bounded_collect with the codec's k as the bound
    from tajo_spark.streaming import ann_ingest as AI

    boot, b0, _ = _gate_corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=8)
    calls = []
    real = AI.bounded_collect

    def spy(df, max_rows, what):
        rows = real(df, max_rows, what)
        calls.append((max_rows, what, len(rows)))
        return rows

    monkeypatch.setattr(AI, "bounded_collect", spy)
    AI.neardup_gate_batch(b0, codec, index, batch_id=0).count()
    assert [c[:2] for c in calls] == [
        (8, "neardup_gate_batch probed centroids")
    ]
    assert 1 <= calls[0][2] <= 8


def test_gated_batch_job_count(spark, tmp_path):
    # the gate ranks centroids against the codec's literal (no
    # per-batch centroid frame and its broadcast job) and reads the
    # index through the catalog memo with the writer's schema (no
    # inference job): 19 and 20 jobs per batch before, 14 now
    from tajo_spark.streaming import ann_ingest as AI

    boot, b0, b1 = _gate_corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=8)
    for b, batch in enumerate((b0, b1)):
        _, jobs = jobs_of(spark, f"gated_{b}", lambda: AI.gated_ingest_batch(
            batch, codec, index, batch_id=b
        ))
        assert len(jobs) == 14, (b, jobs)


def test_compact_index_batches_single_file_per_centroid(spark, tmp_path):
    """Sustained-ingest maintenance (r09 VERDICT task 6): many
    micro-batch appends accrete one file per (centroid, batch);
    compact_index_batches must fold committed batches into the base
    generation with ONE file per centroid (the r10 repartition — probe
    latency tracks file count), preserve probe results bit-exactly,
    keep directory pruning, and be idempotently re-runnable (its
    vec_id dedup-fold repairs a crash anywhere in the delete phase)."""
    import glob
    import os

    import numpy as np

    from tajo_spark.operators.similarity import ivf_q8_shortlist
    from tajo_spark.streaming import ann_ingest as AI

    rng = np.random.default_rng(11)
    base = rng.standard_normal((40 + 12 * 8, 32))

    def df(lo, hi):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in base[i]]) for i in range(lo, hi)],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )

    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(df(0, 40), index, n_centroids=4)
    for b in range(12):
        # disjoint id ranges: vec_id is unique in the index by
        # construction (the dedup gate enforces it in production, and
        # compact_index_batches' fold relies on it)
        AI.ivf_append_batch(
            df(40 + 8 * b, 40 + 8 * (b + 1)), codec, index, batch_id=b
        )
    qv = [float(x) for x in base[3]]
    before = [
        (r.vec_id, round(r["__q8_cos"], 9))
        for r in ivf_q8_shortlist(
            spark, index, codec, qv, k=5, nprobe=2
        ).collect()
    ]
    files_before = len(glob.glob(index + "/centroid_id=*/__batch_id=*/*.parquet"))

    stats = AI.compact_index_batches(spark, index, upto_batch_id=11)
    # one dir per (centroid, batch) touched — at least the 12 batches
    assert stats["batch_dirs_removed"] >= 12
    assert stats["rows_after"] == stats["rows_folded"]

    # only the base generation left, ONE file per centroid dir
    bdirs = {
        os.path.basename(p)
        for p in glob.glob(index + "/centroid_id=*/__batch_id=*")
    }
    assert bdirs == {"__batch_id=-1"}
    for cdir in glob.glob(index + "/centroid_id=*"):
        leafs = glob.glob(cdir + "/__batch_id=-1/*.parquet")
        assert len(leafs) == 1, cdir
    files_after = len(glob.glob(index + "/centroid_id=*/__batch_id=*/*.parquet"))
    assert files_after < files_before

    # probe results bit-exact across compaction, pruning intact
    probe_df = ivf_q8_shortlist(spark, index, codec, qv, k=5, nprobe=2)
    after = [
        (r.vec_id, round(r["__q8_cos"], 9)) for r in probe_df.collect()
    ]
    assert after == before
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan.split("PartitionFilters")[1].split("]")[0]

    # idempotent re-run (crash-recovery path): the vec_id dedup-fold
    # rewrites the identical base, removes nothing, changes nothing
    stats2 = AI.compact_index_batches(spark, index, upto_batch_id=11)
    assert stats2["batch_dirs_removed"] == 0
    assert stats2["rows_folded"] == stats["rows_folded"]
    assert [
        (r.vec_id, round(r["__q8_cos"], 9))
        for r in ivf_q8_shortlist(
            spark, index, codec, qv, k=5, nprobe=2
        ).collect()
    ] == before

    # ingest continues after compaction: a later batch appends its own
    # partitions alongside the base and is itself foldable
    AI.ivf_append_batch(df(0, 4).selectExpr(
        "vec_id + 1000 AS vec_id", "embedding"
    ), codec, index, batch_id=12)
    stats3 = AI.compact_index_batches(spark, index, upto_batch_id=12)
    assert stats3["batch_dirs_removed"] >= 1  # batch 12's dirs folded
    assert stats3["rows_folded"] == stats["rows_folded"] + 4


def test_attrition_stream_ledger_sums_to_batch_report(spark, tmp_path):
    """Streaming attrition twin (streaming/pipeline.py::
    attrition_stream): the per-batch ledgers, summed by stage, must
    reproduce the one-shot batch report's counts; a fresh-checkpoint
    re-run (same batch ids) overwrites its own partitions and changes
    nothing (crash-replay idempotence)."""
    import os

    from pyspark.sql import functions as SF

    from tajo_spark.operators.attrition import first_drop_attrition
    from tajo_spark.streaming import pipeline as SP

    rows = [
        (i, ("the good doc " * 5) if i % 3 else "tiny", i)
        for i in range(40)
    ]
    ddl = "doc_id INT, text STRING, n_toks INT"
    docs = spark.createDataFrame(rows, ddl)
    blocked = spark.createDataFrame([(7,), (8,)], "doc_id INT")
    stages = [
        ("tiny", SF.length("text") < 10),
        ("blocklist", blocked),
    ]

    src = str(tmp_path / "src")
    os.makedirs(src)
    docs.filter("doc_id < 20").coalesce(1).write.mode("append").parquet(src)
    docs.filter("doc_id >= 20").coalesce(1).write.mode("append").parquet(src)
    ledger = str(tmp_path / "ledger")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = SP.attrition_stream(
        stream, stages, ledger, str(tmp_path / "ck"), token_col="n_toks"
    ).start()
    q.processAllAvailable()
    q.stop()

    got = {
        r.stage: (r.n, r.t)
        for r in spark.read.parquet(ledger)
        .groupBy("stage")
        .agg(
            SF.sum("n_docs").alias("n"), SF.sum("n_tokens").alias("t")
        )
        .collect()
    }
    want = {
        r.stage: (r.n_docs, r.n_tokens)
        for r in first_drop_attrition(
            docs, stages, token_col="n_toks"
        ).collect()
    }
    assert got == want
    assert set(got) == {"tiny", "blocklist", "kept"}
    # two batches x three stages, each batch's ledger metadata-sized
    per_batch = spark.read.parquet(ledger).groupBy("__batch_id").count()
    assert {r["__batch_id"] for r in per_batch.collect()} == {0, 1}

    # fresh checkpoint, same source: batch ids restart at 0 and the
    # dynamic overwrite rewrites the same partitions byte-for-byte
    q2 = SP.attrition_stream(
        stream, stages, ledger, str(tmp_path / "ck2"), token_col="n_toks"
    ).start()
    q2.processAllAvailable()
    q2.stop()
    got2 = {
        r.stage: (r.n, r.t)
        for r in spark.read.parquet(ledger)
        .groupBy("stage")
        .agg(
            SF.sum("n_docs").alias("n"), SF.sum("n_tokens").alias("t")
        )
        .collect()
    }
    assert got2 == want


def test_attrition_ledger_auto_fold_preserves_sums(spark, tmp_path):
    """r11 ledger rung follow-through: the dashboard read grows with
    batch-partition count (200→436 ms across 25→100 batches measured),
    so attrition_stream(compact_every=N) folds committed partitions
    into the __batch_id=-1 base mid-stream. Stage sums must be
    identical to the unfolded twin, partitions bounded, and a
    crash-rerun of the fold must not double-count."""
    import os

    from pyspark.sql import functions as SF

    from tajo_spark.operators.attrition import first_drop_attrition
    from tajo_spark.streaming import pipeline as SP

    rows = [
        (i, ("the good doc " * 5) if i % 3 else "tiny", i)
        for i in range(60)
    ]
    ddl = "doc_id INT, text STRING, n_toks INT"
    docs = spark.createDataFrame(rows, ddl)
    stages = [("tiny", SF.length("text") < 10)]

    src = str(tmp_path / "src")
    os.makedirs(src)
    for lo in range(0, 60, 10):  # 6 single-file micro-batches
        docs.filter(
            (SF.col("doc_id") >= lo) & (SF.col("doc_id") < lo + 10)
        ).coalesce(1).write.mode("append").parquet(src)
    ledger = str(tmp_path / "ledger")
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = SP.attrition_stream(
        stream, stages, ledger, str(tmp_path / "ck"),
        token_col="n_toks", compact_every=2,
    ).start()
    q.processAllAvailable()
    q.stop()

    # folds fired at batch ids 2 and 4: partitions are base + {4, 5}
    parts = {
        r[0]
        for r in spark.read.parquet(ledger)
        .select("__batch_id").distinct().collect()
    }
    assert parts == {-1, 4, 5}
    got = {
        r.stage: (r.n, r.t)
        for r in spark.read.parquet(ledger)
        .groupBy("stage")
        .agg(SF.sum("n_docs").alias("n"), SF.sum("n_tokens").alias("t"))
        .collect()
    }
    want = {
        r.stage: (r.n_docs, r.n_tokens)
        for r in first_drop_attrition(
            docs, stages, token_col="n_toks"
        ).collect()
    }
    assert got == want

    # crash-rerun: fold everything, then simulate leftover partitions
    # reappearing (the crash-mid-delete window) and re-fold — the
    # (stage, __src_batch_id) dedup must collapse them, sums unchanged
    SP.compact_ledger_batches(spark, ledger, upto_batch_id=5)
    base = spark.read.parquet(ledger)
    leftover = base.filter(SF.col("__src_batch_id") == 5).withColumn(
        "__batch_id", SF.lit(5).cast("long")
    )
    leftover.write.partitionBy("__batch_id").option(
        "partitionOverwriteMode", "dynamic"
    ).mode("overwrite").parquet(ledger)
    stats = SP.compact_ledger_batches(spark, ledger, upto_batch_id=5)
    assert stats["batch_dirs_removed"] == 1
    got2 = {
        r.stage: (r.n, r.t)
        for r in spark.read.parquet(ledger)
        .groupBy("stage")
        .agg(SF.sum("n_docs").alias("n"), SF.sum("n_tokens").alias("t"))
        .collect()
    }
    assert got2 == want


def test_ledger_fold_upgrades_pre_src_batch_id_partitions(spark, tmp_path):
    """r11 review: a ledger written BEFORE __src_batch_id existed must
    fold without collapsing old batches (schema-merge + per-partition
    backfill from __batch_id), mixed with new-format partitions."""
    from pyspark.sql import functions as SF

    from tajo_spark.streaming import pipeline as SP

    ledger = str(tmp_path / "ledger")
    # two legacy partitions: no __src_batch_id column at all
    for bid, n in ((0, 10), (1, 20)):
        spark.createDataFrame(
            [("tiny", n, n * 3), ("kept", 100 - n, (100 - n) * 3)],
            "stage STRING, n_docs BIGINT, n_tokens BIGINT",
        ).withColumn("__batch_id", SF.lit(bid).cast("long")).coalesce(
            1
        ).write.partitionBy("__batch_id").mode("append").parquet(ledger)
    # one new-format partition
    spark.createDataFrame(
        [("tiny", 5, 15), ("kept", 95, 285)],
        "stage STRING, n_docs BIGINT, n_tokens BIGINT",
    ).withColumn("__src_batch_id", SF.lit(2).cast("long")).withColumn(
        "__batch_id", SF.lit(2).cast("long")
    ).coalesce(1).write.partitionBy("__batch_id").mode("append").parquet(
        ledger
    )

    def sums():
        return {
            r.stage: (r.n, r.t)
            for r in spark.read.option("mergeSchema", "true")
            .parquet(ledger)
            .groupBy("stage")
            .agg(SF.sum("n_docs").alias("n"), SF.sum("n_tokens").alias("t"))
            .collect()
        }

    want = sums()
    assert want == {"tiny": (35, 105), "kept": (265, 795)}
    stats = SP.compact_ledger_batches(spark, ledger, upto_batch_id=2)
    # every (stage, batch) funnel row survives the fold distinctly —
    # the legacy rows must NOT collapse to one null-keyed row per stage
    assert stats["rows_folded"] == 6
    assert sums() == want
    # fold on a never-written ledger is a no-op, not an error
    empty = SP.compact_ledger_batches(
        spark, str(tmp_path / "nothing"), upto_batch_id=5
    )
    assert empty == {"rows_folded": 0, "rows_after": 0, "batch_dirs_removed": 0}


def test_compact_folds_and_deletes_legacy_negative_generations(
    spark, tmp_path
):
    """r10 review: a legacy consolidated generation (negative
    __batch_id from the retired compactor API) must be FOLDED into the
    base and its directory DELETED — a '-1 < bid' delete guard left it
    on disk with its rows duplicated into the base forever."""
    import glob

    import numpy as np

    from tajo_spark.streaming import ann_ingest as AI

    rng = np.random.default_rng(3)

    def df(lo, hi):
        return spark.createDataFrame(
            [
                (int(i), [float(x) for x in rng.standard_normal(16)])
                for i in range(lo, hi)
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
        )

    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(df(0, 50), index, n_centroids=4)
    # simulate the legacy layout: a generation dir with its own rows
    AI.ivf_append_batch(df(100, 110), codec, index, batch_id=-13)
    AI.ivf_append_batch(df(200, 210), codec, index, batch_id=0)

    AI.compact_index_batches(spark, index, upto_batch_id=0)
    bdirs = {
        p.rsplit("/", 1)[-1]
        for p in glob.glob(index + "/centroid_id=*/__batch_id=*")
    }
    assert bdirs == {"__batch_id=-1"}  # legacy gen dir gone
    rows = spark.read.parquet(index).select("vec_id").collect()
    ids = sorted(r.vec_id for r in rows)
    assert len(ids) == len(set(ids)) == 70  # folded once, no dupes


def _file_stream(spark, src, frames, schema):
    """One single-file micro-batch per frame, in order."""
    import os

    os.makedirs(src)
    for df in frames:
        df.coalesce(1).write.mode("append").parquet(src)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def test_stream_handlers_release_their_checkpoints(spark, tmp_path):
    # every micro-batch runs in a released_checkpoints scope: what its
    # handler persisted is gone when the batch ends — also after the
    # early return of an empty cadence batch
    from tajo_spark.streaming import ann_ingest as AI
    from tajo_spark.streaming.pipeline import bloom_gate_stream

    schema = "doc_id LONG, text STRING"
    stream = _file_stream(spark, str(tmp_path / "docs"), [
        spark.createDataFrame(rows, schema)
        for rows in ([(0, "a b"), (1, "a b")], [(2, "c d")], [(3, "a b")])
    ], schema)
    paths = [str(tmp_path / p) for p in ("filter", "fps", "admitted", "ckpt")]
    before = persisted_rdd_ids(spark)
    q = bloom_gate_stream(stream, *paths).start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(paths[2]).count() == 2  # three batches ran
    assert persisted_rdd_ids(spark) - before == set()

    boot, b0, b1 = _gate_corpus(spark)
    index = str(tmp_path / "index")
    codec = AI.ivf_ingest_init(boot, index, n_centroids=8)
    schema = "vec_id BIGINT, embedding ARRAY<DOUBLE>"
    empty = spark.createDataFrame([], schema)
    stream = _file_stream(spark, str(tmp_path / "vecs"), [b0, b1, empty],
                          schema)
    before = persisted_rdd_ids(spark)
    q = AI.gated_ingest_stream(
        stream, codec, index, str(tmp_path / "ckpt2"), compact_every=2
    ).start()
    q.processAllAvailable()
    q.stop()
    # batch 2 was empty and still fired the fold
    assert {r[0] for r in spark.read.parquet(index)
            .select("__batch_id").distinct().collect()} == {-1}
    assert persisted_rdd_ids(spark) - before == set()


def test_raising_handler_releases_its_checkpoints(spark, tmp_path,
                                                  monkeypatch):
    # the bloom gate checkpoints its probe and admitted sets before the
    # filter commit; a commit that raises must not strand those blocks
    def boom(*_args, **_kwargs):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(P, "_versioned_commit", boom)
    schema = "doc_id LONG, text STRING"
    stream = _file_stream(spark, str(tmp_path / "docs"), [
        spark.createDataFrame([(0, "a b"), (1, "c d")], schema)
    ], schema)
    paths = [str(tmp_path / p) for p in ("filter", "fps", "admitted", "ckpt")]
    before = persisted_rdd_ids(spark)
    q = P.bloom_gate_stream(stream, *paths).start()
    with pytest.raises(Exception, match="commit failed"):
        q.processAllAvailable()
    q.stop()
    assert persisted_rdd_ids(spark) - before == set()
