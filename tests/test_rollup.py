"""Incremental rollup maintenance: only affected partitions rewritten,
result always equals a full recompute (operators/rollup.py)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from tajo_spark.operators import rollup

SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE"
)


def _events(spark, rows):
    return spark.createDataFrame(rows, SCHEMA).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def _rows(day, n, etype="click", start_id=0):
    import datetime as dt

    base = dt.datetime(2024, 1, day, 12, 0, 0)
    return [
        (start_id + i, base + dt.timedelta(minutes=i), etype, 1.5)
        for i in range(n)
    ]


def _snapshot(path):
    return {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


def test_maintain_only_rewrites_affected_partitions(spark, tmp_path):
    path = str(tmp_path / "rollup")
    initial = _rows(1, 10) + _rows(2, 20) + _rows(3, 30)
    src1 = _events(spark, initial)
    rollup.build_rollup(src1, path)
    before = _snapshot(path)

    # a late batch lands on day 2 only
    late = _rows(2, 5, etype="purchase", start_id=1000)
    src2 = _events(spark, initial + late)
    n = rollup.maintain_rollup(spark, src2, _events(spark, late), path)
    assert n == 1

    after = _snapshot(path)
    untouched = {
        f for f in before if "event_date=2024-01-02" not in f
    }
    for f in untouched:
        assert f in after and after[f] == before[f], f"{f} was rewritten"

    # and the maintained table equals a from-scratch rebuild
    got = (
        spark.read.parquet(path)
        .orderBy("event_date", "event_type")
        .collect()
    )
    want = (
        rollup.rollup_events(src2)
        .orderBy("event_date", "event_type")
        .collect()
    )
    assert [r.asDict() for r in got] == [r.asDict() for r in want]


def test_maintain_empty_batch_is_noop(spark, tmp_path):
    path = str(tmp_path / "rollup2")
    src = _events(spark, _rows(1, 3))
    rollup.build_rollup(src, path)
    before = _snapshot(path)
    n = rollup.maintain_rollup(
        spark, src, _events(spark, []), path
    )
    assert n == 0
    assert _snapshot(path) == before


def test_maintain_refreshes_null_ts_partition(spark, tmp_path):
    path = str(tmp_path / "rollup3")
    rows = _rows(1, 4)
    null_rows = [(900, None, "click", 2.0)]
    src1 = _events(spark, rows + null_rows)
    rollup.build_rollup(src1, path)

    late_null = [(901, None, "click", 3.0)]
    src2 = _events(spark, rows + null_rows + late_null)
    n = rollup.maintain_rollup(spark, src2, _events(spark, late_null), path)
    assert n == 1
    got = spark.read.parquet(path).filter(F.col("event_date").isNull()).collect()
    assert len(got) == 1 and got[0].n == 2  # both null-ts rows counted


def test_maintain_bounds_the_affected_dates_read(spark, tmp_path,
                                                monkeypatch):
    # the affected date keys are collected to the driver; past
    # MAX_BATCH_DATES the refresh raises instead of pulling them
    path = str(tmp_path / "rollup4")
    rows = _rows(1, 3) + _rows(2, 3, start_id=100)
    src = _events(spark, rows)
    rollup.build_rollup(src, path)
    monkeypatch.setattr(rollup, "MAX_BATCH_DATES", 1)
    with pytest.raises(ValueError, match="maintain_rollup affected dates"):
        rollup.maintain_rollup(spark, src, src, path)
    monkeypatch.setattr(rollup, "MAX_BATCH_DATES", 2)
    assert rollup.maintain_rollup(spark, src, src, path) == 2


def test_corpus_drift_report_detects_shift_and_nulls(spark):
    """Drift gate: a language vanishing from the new snapshot, a new
    null regression, and a length shift must all surface."""
    from pyspark.sql import Row

    from tajo_spark.operators.rollup import corpus_drift_report

    old_rows = (
        [Row(doc_id=i, lang="en", text="a b c d e") for i in range(60)]
        + [Row(doc_id=100 + i, lang="de", text="x y z") for i in range(40)]
    )
    new_rows = (
        # en docs got twice as long; de vanished; fr appeared; 10 nulls
        [Row(doc_id=i, lang="en", text="a b c d e f g h i j") for i in range(90)]
        + [Row(doc_id=200 + i, lang="fr", text="q r s") for i in range(10)]
        + [Row(doc_id=300 + i, lang="en", text=None) for i in range(10)]
    )
    old = spark.createDataFrame(old_rows, "doc_id long, lang string, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, lang string, text string")
    rep = {r.lang: r for r in corpus_drift_report(old, new).collect()}
    assert rep["de"].new_docs == 0 and rep["de"].share_delta == -0.4
    assert rep["fr"].old_docs == 0 and rep["fr"].new_share > 0
    assert rep["en"].avg_tokens_ratio == 2.0
    assert rep["en"].new_null_rate == 0.1 and rep["en"].old_null_rate == 0.0
