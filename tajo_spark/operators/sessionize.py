"""Event sessionization + time-window aggregation (batch form).

The reference has no streaming/stateful operators at all (SURVEY.md
§2.10); these are the batch-expressible halves of the standard
clickstream pipeline, built on window functions so they distribute:
the only shuffle is the PARTITION BY user_id.

The streaming versions (watermarked tumbling windows,
applyInPandasWithState sessionization) live in
tajo_spark/streaming/pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from tajo_spark.operators.dedup import ordered_concat

SESSION_GAP_MS = 30 * 60 * 1000  # 30 minutes


def sessionize(events: DataFrame, gap_ms: int = SESSION_GAP_MS) -> DataFrame:
    """Assign session ids per user: a new session starts when the gap to
    the previous event exceeds ``gap_ms``. Returns per-session rollups.

    lag(ts) + running sum of session-start flags — the classic two-window
    formulation; both windows share the same partitioning so Spark plans
    a single shuffle + one sort."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    flagged = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(ms - F.lag(ms, 1).over(w) > gap_ms, 1)
        .when(F.lag(ms, 1).over(w).isNull(), 1)
        .otherwise(0)
        .alias("is_new_session"),
    )
    with_session = flagged.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.sum("is_new_session").over(w).alias("session_id"),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact integer-scaled sum: float accumulation order differs
            # across engines and exact-half round() flips (SCALE.md /
            # memory: oracle-parity-gotchas)
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0)
            .alias("session_value"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


def tumbling_window_agg(events: DataFrame, unit: str = "hour") -> DataFrame:
    """Tumbling-window aggregation by truncated timestamp + event_type."""
    return (
        events.groupBy(
            F.date_trunc(unit, "ts").alias("window_start"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0)
            .alias("total_value"),
            # truncated 4-decimal mean over exact integer units — the
            # only cross-engine-deterministic formulation
            (
                F.floor(
                    F.sum(F.round(F.col("value") * 10000).cast("long"))
                    / F.count(F.lit(1))
                )
                / 10000.0
            ).alias("avg_value"),
        )
    )


MIN_TURNS = 3


def conversation_assembly(
    events: DataFrame,
    gap_ms: int = SESSION_GAP_MS,
    min_turns: int = MIN_TURNS,
) -> DataFrame:
    """Assemble per-session ordered event transcripts — the
    trajectory-assembly step of turning interaction logs into training
    sequences (multi-turn examples need the turns of one episode
    gathered, ordered, and length-filtered before tokenization).

    Returns ``(user_id, session_id, n_turns, transcript)`` for sessions
    with at least ``min_turns`` events; ``transcript`` is the ordered
    ``event_type`` sequence joined with ``" -> "``.

    Scale shape: the session windows and the assembly groupBy share the
    ``user_id`` partitioning (one shuffle + one sort total);
    ``array_sort(collect_list(struct(ts, event_id, type)))`` keeps
    in-session ordering deterministic under any partitioning, and a
    session's turn count is bounded by the gap rule, so the aggregation
    buffer is episode-sized, never corpus-sized.
    """
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis("ts")
    with_session = events.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(
            F.when(ms - F.lag(ms, 1).over(w) > gap_ms, 1)
            .when(F.lag(ms, 1).over(w).isNull(), 1)
            .otherwise(0)
        )
        .over(w)
        .alias("session_id"),
    )
    return (
        with_session.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            ordered_concat(
                " -> ", F.struct("ts", "event_id", "event_type"), "event_type"
            ).alias("transcript"),
        )
        .filter(F.col("n_turns") >= min_turns)
    )
