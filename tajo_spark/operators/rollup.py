"""Incremental time-bucketed rollup maintenance.

Beyond-reference capability: continuous-aggregate ("hypertable rollup")
maintenance — a date-partitioned rollup table kept current as late or
new event batches arrive, without ever recomputing history.

Scale design: correctness under late data comes from recomputing each
affected partition FROM SOURCE (idempotent, no read-modify-write races)
— but only the partitions the incoming batch touches. With
``spark.sql.sources.partitionOverwriteMode=dynamic``, the overwrite
replaces exactly the partitions present in the written frame and leaves
every other partition's files untouched (pinned in
tests/test_rollup.py by file-identity). Cost per batch is
O(|affected partitions|), independent of table history; the affected
date set ships as an ``isin`` literal list so the source scan can prune.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tajo_spark.operators.similarity import bounded_collect

# Most distinct dates one batch may refresh — the same default cap Hive
# puts on the partitions one dynamic-partition insert may create
# (hive.exec.max.dynamic.partitions).  Beyond it the date keys are no
# longer metadata-sized and the isin list no longer a cheap predicate.
MAX_BATCH_DATES = 1000


def rollup_events(events: DataFrame) -> DataFrame:
    """The rollup definition: daily counts + exact-integer value sums
    per event type (same integer-unit discipline as the streaming
    twins, so batch/stream/rollup all agree bit-for-bit)."""
    return events.groupBy(
        F.to_date("ts").alias("event_date"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(F.round(F.col("value") * 10000).cast("long")) / 10000.0).alias(
            "total_value"
        ),
    )


def build_rollup(events: DataFrame, path: str) -> None:
    """Initial full build, date-partitioned layout."""
    rollup_events(events).write.partitionBy("event_date").mode(
        "overwrite"
    ).parquet(path)


def maintain_rollup(
    spark: SparkSession, source: DataFrame, batch: DataFrame, path: str
) -> int:
    """Refresh only the partitions ``batch`` touches; returns how many.

    ``source`` must be the full current source (including the batch) —
    the affected partitions are recomputed from it, which makes the
    operation idempotent and late-data-safe.

    The affected DATE KEYS (not data) are collected to the driver: the
    set is bounded by partitions-per-batch (enforced: more than
    ``MAX_BATCH_DATES`` raises), and an `isin` literal list
    is the only predicate shape that pushes down to prune a
    date-partitioned source (a semi-join on `to_date(ts)` cannot).
    NULL event times refresh the null-date partition via an explicit
    isNull branch (isin never matches NULL).
    """
    dates = [
        r.event_date
        for r in bounded_collect(
            batch.select(F.to_date("ts").alias("event_date")).distinct(),
            MAX_BATCH_DATES,
            "maintain_rollup affected dates",
        )
    ]
    if not dates:
        return 0
    src_date = F.to_date(source["ts"])
    cond = src_date.isin([d for d in dates if d is not None])
    if None in dates:
        cond = cond | src_date.isNull()
    scoped = source.filter(cond)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        rollup_events(scoped).write.partitionBy("event_date").mode(
            "overwrite"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return len(dates)


def corpus_drift_report(
    old: DataFrame,
    new: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot-over-snapshot drift report — the data-validation gate a
    recurring ingest pipeline runs before promoting a new corpus
    snapshot (distribution shifts in language mix, document length, or
    null rates are how upstream crawler/parser regressions surface).

    One row per language present in EITHER snapshot:
    ``(lang, old_docs, new_docs, old_share, new_share, share_delta,
    old_avg_tokens, new_avg_tokens, avg_tokens_ratio, old_null_rate,
    new_null_rate)``.

    Cost shape: each snapshot is ONE scan into a LANGUAGES-row
    aggregate (map-side partials); the comparison is a full-outer join
    of two broadcast-sized tables plus projections.  Totals enter as
    broadcast 1-row aggregates — nothing row-sized reaches the driver.
    Ratios are rounded to 4 dp on integer-count inputs, so the report
    is engine-exact.
    """
    def profile(df: DataFrame, tag: str) -> DataFrame:
        from tajo_spark.operators import text as T

        per_lang = df.groupBy(lang_col).agg(
            F.count(F.lit(1)).alias(f"{tag}_docs"),
            F.sum(
                F.when(F.col(text_col).isNull(), 1).otherwise(0)
            ).alias(f"{tag}_nulls"),
            F.sum(
                F.when(
                    F.col(text_col).isNotNull(),
                    T.token_count(F.col(text_col)),
                ).otherwise(0)
            ).alias(f"{tag}_tokens"),
        )
        total = per_lang.agg(F.sum(f"{tag}_docs").alias(f"{tag}_total"))
        return per_lang.join(F.broadcast(total))

    o = profile(old, "old")
    n = profile(new, "new")
    joined = o.join(n, lang_col, "full_outer")
    old_docs = F.coalesce("old_docs", F.lit(0))
    new_docs = F.coalesce("new_docs", F.lit(0))
    old_share = F.round(old_docs / F.coalesce("old_total", F.lit(1)), 4)
    new_share = F.round(new_docs / F.coalesce("new_total", F.lit(1)), 4)
    old_avg = F.round(
        F.coalesce("old_tokens", F.lit(0))
        / F.greatest(old_docs - F.coalesce("old_nulls", F.lit(0)), F.lit(1)),
        4,
    )
    new_avg = F.round(
        F.coalesce("new_tokens", F.lit(0))
        / F.greatest(new_docs - F.coalesce("new_nulls", F.lit(0)), F.lit(1)),
        4,
    )
    return joined.select(
        lang_col,
        old_docs.alias("old_docs"),
        new_docs.alias("new_docs"),
        old_share.alias("old_share"),
        new_share.alias("new_share"),
        F.round(new_share - old_share, 4).alias("share_delta"),
        old_avg.alias("old_avg_tokens"),
        new_avg.alias("new_avg_tokens"),
        F.round(new_avg / F.greatest(old_avg, F.lit(0.0001)), 4).alias(
            "avg_tokens_ratio"
        ),
        F.round(
            F.coalesce("old_nulls", F.lit(0)) / F.greatest(old_docs, F.lit(1)),
            4,
        ).alias("old_null_rate"),
        F.round(
            F.coalesce("new_nulls", F.lit(0)) / F.greatest(new_docs, F.lit(1)),
            4,
        ).alias("new_null_rate"),
    )
