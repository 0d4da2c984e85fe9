"""Shared pytest fixtures: one SparkSession per test run + a DuckDB
oracle comparator mirroring the driver's correctness gate (column-name
sort → row sort → value compare)."""

from __future__ import annotations

import math
import os
import threading
from contextlib import contextmanager
from types import SimpleNamespace

import duckdb
import pandas as pd
import pytest
from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

from tajo_spark.catalog import TABLES
from tajo_spark.session import build_spark

SF_DIR = os.environ.get("TAJO_SPARK_TEST_SF", "/root/testdata/sf0.001")
_RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME


@pytest.fixture(scope="session")
def spark():
    spark = build_spark(app_name="tajo_spark_tests", shuffle_partitions=8)
    yield spark


def persisted_rdd_ids(spark) -> set:
    """Ids of the session's persisted RDDs. Tests compare them as
    "nothing new survives", not for equality: the context cleaner may
    unpersist an earlier test's garbage at any time."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def jobs_of(spark, group, fn):
    """Run ``fn`` under a fresh job group; return (result, the task
    count of every stage of every job it submitted)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
    return out, [
        [i.numTasks for i in map(st.getStageInfo, job.stageIds) if i]
        for job in jobs
        if job
    ]


@contextmanager
def py4j_round_trips(spark, all_threads=False):
    """Count the py4j round trips this thread makes inside the block,
    or with ``all_threads`` those of every thread; yields a namespace
    whose ``count`` holds the total so far.  Counts are exact and
    repeatable for one PySpark version: building a Column or a
    DataFrame is a fixed sequence of gateway calls.  Releases of JVM
    objects Python freed are not counted: py4j sends them from its own
    thread whenever the garbage collector runs."""
    client = spark.sparkContext._gateway._gateway_client
    send, me = client.send_command, threading.get_ident()
    trips, lock = SimpleNamespace(count=0), threading.Lock()

    def counted(command, *args, **kwargs):
        if (all_threads or threading.get_ident() == me) \
                and not command.startswith(_RELEASE):
            with lock:
                trips.count += 1
        return send(command, *args, **kwargs)

    client.send_command = counted
    try:
        yield trips
    finally:
        client.send_command = send


@pytest.fixture()
def clean_catalog_memos():
    """Run a test on empty catalog memos, restoring them afterwards."""
    from tajo_spark import catalog

    saved = [(m, dict(m)) for m in (catalog._PATH_MEMO, catalog._PATH_SCHEMA)]
    for memo, _ in saved:
        memo.clear()
    yield
    for memo, entries in saved:
        memo.clear()
        memo.update(entries)


@pytest.fixture(scope="session")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # canonical row order for order-insensitive compare
    df = df.sort_values(by=list(df.columns), kind="mergesort", na_position="last")
    return df.reset_index(drop=True)


def _values_equal(a, b) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(af) and math.isnan(bf):
            return True
        return af == bf or abs(af - bf) <= 1e-9 * max(1.0, abs(af), abs(bf))
    return a == b


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str):
    assert sorted(spark_pdf.columns) == sorted(oracle_pdf.columns), (
        f"{name}: column mismatch {sorted(spark_pdf.columns)} vs "
        f"{sorted(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    a = _normalize(spark_pdf.copy())
    b = _normalize(oracle_pdf.copy())
    for col in a.columns:
        av, bv = list(a[col]), list(b[col])
        for i, (x, y) in enumerate(zip(av, bv)):
            if pd.isna(x) and pd.isna(y):
                continue
            assert _values_equal(x, y), (
                f"{name}: value mismatch col={col} row={i}: spark={x!r} "
                f"oracle={y!r}"
            )
