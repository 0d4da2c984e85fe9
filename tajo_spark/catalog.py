"""Catalog bootstrap: register the driver's parquet tables as views.

Mirrors Tajo's catalog-managed external tables
(tajo-catalog/.../CatalogService.java, TableDesc.java): a table is a
(name, format, path, schema) tuple resolved at scan time. Here the
format is parquet and Spark resolves schemas from footers — the same
self-describing path Tajo special-cases in
tajo-plan/.../rewrite/SelfDescSchemaBuildPhase.java:52.

Scale note: views over parquet paths keep Catalyst in charge of
predicate pushdown, column pruning and partition pruning; nothing is
materialized at registration time.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Plan memo: (applicationId, realpath(sf_dir), table) → DataFrame.
# A DataFrame is an UNEXECUTED logical plan — caching it caches
# metadata (schema probe + parquet footer/file-listing round trips,
# measured 96 ms per spark.read.parquet call), never data or results:
# every action on the memoized frame still scans parquet.  A
# 100+-query bench process re-derived the identical plan hundreds of
# times (~10s of seconds of pure py4j/listing overhead per pass).
# Keyed by applicationId so frames from a stopped session are never
# served; entries from older sessions are pruned on first miss.
# Caveat (static test data holds this by construction): the cached
# frame pins its file listing at creation — call sites that rewrite a
# table's files in place must bypass the memo via spark.read directly.
_TABLE_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    app = spark.sparkContext.applicationId
    key = (app, os.path.realpath(sf_dir), name)
    memo = _TABLE_MEMO.get(key)
    if memo is not None:
        return memo
    for k in [k for k in _TABLE_MEMO if k[0] != app]:
        del _TABLE_MEMO[k]  # frames of stopped sessions are invalid
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong (session.py)
    # it arrives as a long of epoch-nanos — rebuild the µs timestamp
    # (floor division matches DuckDB's ns→µs truncation).
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        # integer DIV — double division loses precision on epoch-nanos
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
        # TIMESTAMP_NTZ, which functions like unix_millis reject; with
        # the session timezone pinned to UTC (session.py) the cast to
        # session-TZ timestamp is value-identical.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _TABLE_MEMO[key] = df
    return df


# Same plan-metadata memo for non-table parquet paths (persisted ANN
# indexes): the probe functions re-derived the identical index plan —
# one directory listing + partition-schema inference JOB — on every
# probe call (r13; visible as a dedicated 'parquet at
# NativeMethodAccessorImpl' job per probe).  Unexecuted plans only,
# same appId keying/pruning as _TABLE_MEMO.
_PATH_MEMO: dict[tuple[str, str], DataFrame] = {}
# Schemas writers declared for paths they just wrote (realpath →
# StructType).  A session-independent fact about the files, so it
# outlives the plan memo: a re-load after an append or fold reads with
# this schema — a driver-side directory listing, no inference job.
_PATH_SCHEMA: dict[str, StructType] = {}


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Memoized ``spark.read.parquet(path)`` for paths whose files are
    immutable once written (built-once persisted indexes).  Call sites
    that rewrite files under ``path`` in place MUST call
    :func:`invalidate` first — the memo pins the file listing at first
    load (the enforced path ADVICE r12 asked for, instead of a
    comment-level contract).  A schema handed to :func:`invalidate` by
    the writer is used instead of inferring one: data columns in file
    order, then partition columns, typed as written (``__batch_id``
    stays BIGINT where inference would narrow it to INT)."""
    app = spark.sparkContext.applicationId
    rp = os.path.realpath(path)
    key = (app, rp)
    memo = _PATH_MEMO.get(key)
    if memo is not None:
        return memo
    for k in [k for k in _PATH_MEMO if k[0] != app]:
        del _PATH_MEMO[k]  # frames of stopped sessions are invalid
    schema = _PATH_SCHEMA.get(rp)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    _PATH_MEMO[key] = df
    return df


def invalidate(path: str, schema: StructType | None = None) -> None:
    """Drop every memoized plan related to ``path`` (any session): the
    enforced invalidation hook for writers that replace parquet files
    in place before re-reading them.

    "Related" is path-separator-aware containment in EITHER direction:
    invalidating a directory drops memos of everything inside it, and
    invalidating one file inside a memoized directory drops that
    directory's pinned listing too — while ``/idx`` never matches the
    sibling ``/idx_v2``.  Table memos key on (sf_dir, name); they are
    matched via the table's actual file path, so
    ``invalidate('/sf/documents.parquet')`` works as documented.

    ``schema`` is the schema the writer just wrote at ``path`` (its
    partition columns included); the next :func:`load_parquet` reads
    with it.  Without one, known schemas of related paths are dropped
    too — the writer may have changed them."""
    rp = os.path.realpath(path)

    def _related(a: str, b: str) -> bool:
        return a == b or a.startswith(b + os.sep) or b.startswith(a + os.sep)

    for k in [k for k in _PATH_MEMO if _related(rp, k[1])]:
        del _PATH_MEMO[k]
    for k in [
        k
        for k in _TABLE_MEMO
        if _related(rp, os.path.join(k[1], f"{k[2]}.parquet"))
    ]:
        del _TABLE_MEMO[k]
    for k in [k for k in _PATH_SCHEMA if _related(rp, k)]:
        del _PATH_SCHEMA[k]
    if schema is not None:
        _PATH_SCHEMA[rp] = schema


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each parquet table as a temp view; return the frames."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
