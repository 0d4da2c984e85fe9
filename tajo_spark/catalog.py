"""Catalog bootstrap: register the driver's parquet tables as views.

Mirrors Tajo's catalog-managed external tables
(tajo-catalog/.../CatalogService.java, TableDesc.java): a table is a
(name, format, path, schema) tuple, and binding one never touches
data. Here the format is parquet and the schema is the file's own — the
same self-describing path Tajo special-cases in
tajo-plan/.../rewrite/SelfDescSchemaBuildPhase.java:52 — read from its
footer on the driver (:func:`parquet_schema`) instead of by Spark's
schema-inference job, so registering the ten tables submits no job.

Scale note: views over parquet paths keep Catalyst in charge of
predicate pushdown, column pruning and partition pruning; nothing is
materialized at registration time.
"""

from __future__ import annotations

import functools
import json
import os
from concurrent.futures import ThreadPoolExecutor
from types import SimpleNamespace

from pyspark import inheritable_thread_target
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


# Plan memo: (applicationId, realpath) → DataFrame, for tables and
# persisted indexes alike.  A DataFrame is an UNEXECUTED logical plan —
# caching it caches metadata (file listing, partition discovery, the
# schema), never data or results: every action on the memoized frame
# still scans parquet.  A 100+-query bench process re-derived the
# identical plan hundreds of times, and each derivation inferred the
# schema in a Spark job: the 96 ms per ``spark.read.parquet`` call
# measured in r12 was mostly that job, and r13 saw it as a dedicated
# 'parquet at NativeMethodAccessorImpl' job on every index probe.
# Schemas now come from footers on the driver (:func:`parquet_schema`),
# so a miss costs a listing and a footer read, not a job.
# Keyed by applicationId so frames from a stopped session are never
# served; entries from older sessions are pruned on first miss.  The
# frame pins its file listing at creation: writers that replace files
# under a memoized path call :func:`invalidate` first.
_PATH_MEMO: dict[tuple[str, str], DataFrame] = {}
# Schemas writers declared for paths they just wrote (realpath →
# StructType).  A session-independent fact about the files, so it
# outlives the plan memo: a re-load after an append or fold reads with
# this schema instead of one read from a footer.
_PATH_SCHEMA: dict[str, StructType] = {}


@functools.lru_cache(maxsize=1)
def _jvm_classes(gateway) -> SimpleNamespace:
    """The JVM classes :func:`parquet_schema` calls, resolved once per
    gateway: py4j resolves a dotted class name with one round trip per
    name segment."""
    jvm = gateway.jvm
    sources = jvm.org.apache.spark.sql.execution.datasources
    return SimpleNamespace(
        Path=jvm.org.apache.hadoop.fs.Path,
        Collections=jvm.java.util.Collections,
        seqs=jvm.scala.jdk.javaapi.CollectionConverters,
        parquet=getattr(getattr(sources.parquet, "ParquetFileFormat$"),
                        "MODULE$"),
        partitioning=sources.PartitioningUtils,
    )


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read from one
    footer on the driver — no Spark job, and a fixed number of JVM
    calls whatever the file count.

    Spark's non-merging inference (``ParquetUtils.inferSchema``) runs a
    one-task job that reads a single footer: the file itself for a file
    path; for a directory a ``_common_metadata`` or ``_metadata``
    summary if one exists, else the first data file by path.  This
    reads that same footer with Spark's own reader and converter
    (``ParquetFileFormat.readSchema``), so the session conf applies as
    it does in the job (``nanosAsLong``, ``inferTimestampNTZ``, the
    Spark row-metadata key).  A directory's files and partition columns
    come from Spark's own file index, built under an empty schema so it
    lists and discovers partitions but infers nothing; partition
    columns are merged in as ``HadoopFsRelation`` does.  The footer is
    picked on the JVM side: a root-level ``_common_metadata``, then a
    root-level ``_metadata``, then the least path of the listing.
    Spark's writers put summary files only at the root; one nested
    below a partition directory is not looked for.  A footer that
    cannot be read raises, as the inference job does."""
    jvm, jss = _jvm_classes(spark.sparkContext._gateway), spark._jsparkSession
    state = jss.sessionState()
    conf = state.newHadoopConf()
    root = jvm.Path(path)
    fs = root.getFileSystem(conf)
    touch = fs.getFileStatus(root)
    relation = None
    if touch.isDirectory():
        relation = (
            spark.read.schema(StructType()).parquet(path)
            ._jdf.logicalPlan().relation()
        )
        touch = _summary_file(jvm, fs, root)
        if touch is None:
            files = relation.location().allFiles()
            if files.isEmpty():
                raise FileNotFoundError(f"no parquet files under {path}")
            touch = jvm.Collections.min(jvm.seqs.asJava(files))
    footers = jvm.parquet.readParquetFootersInParallel(
        conf, jvm.seqs.asScala(jvm.Collections.singletonList(touch)).toSeq(),
        False,
    )
    schema = jvm.parquet.readSchema(footers, jss).get().asNullable()
    if relation is not None:
        schema = jvm.partitioning.mergeDataAndPartitionSchema(
            schema, relation.partitionSchema(),
            state.conf().caseSensitiveAnalysis(),
        )._1()
    return StructType.fromJson(json.loads(schema.json()))


def _summary_file(jvm: SimpleNamespace, fs, root):
    """The status of ``root``'s summary file, ``_common_metadata`` first,
    or None."""
    for name in ("_common_metadata", "_metadata"):
        summary = jvm.Path(root, name)
        if fs.exists(summary):
            return fs.getFileStatus(summary)
    return None


def _load(spark: SparkSession, path: str, events: bool = False) -> DataFrame:
    app = spark.sparkContext.applicationId
    rp = os.path.realpath(path)
    key = (app, rp)
    memo = _PATH_MEMO.get(key)
    if memo is not None:
        return memo
    # frames of stopped sessions are invalid.  A snapshot and pop, as
    # register_tables' workers run this concurrently with inserts
    for k in [k for k in list(_PATH_MEMO) if k[0] != app]:
        _PATH_MEMO.pop(k, None)
    schema = _PATH_SCHEMA.get(rp)
    if schema is None:
        schema = parquet_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    ts_type = events and dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong
        # (session.py) it arrives as a long of epoch-nanos — rebuild the
        # µs timestamp (floor division matches DuckDB's ns→µs
        # truncation; integer DIV — double division loses precision on
        # epoch-nanos).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
        # TIMESTAMP_NTZ, which functions like unix_millis reject; with
        # the session timezone pinned to UTC (session.py) the cast to
        # session-TZ timestamp is value-identical.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _PATH_MEMO[key] = df
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Memoized read of table ``name`` under ``sf_dir`` (see
    :func:`_load`); ``events.ts`` is normalized to a session-TZ
    timestamp whatever its parquet physical type."""
    return _load(
        spark, os.path.join(sf_dir, f"{name}.parquet"), name == "events"
    )


def load_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Memoized ``spark.read.parquet(path)`` for paths whose files are
    immutable once written (built-once persisted indexes).  Call sites
    that rewrite files under ``path`` in place MUST call
    :func:`invalidate` first — the memo pins the file listing at first
    load (the enforced path ADVICE r12 asked for, instead of a
    comment-level contract).  A schema handed to :func:`invalidate` by
    the writer is used instead of the footer's: data columns in file
    order, then partition columns, typed as written (``__batch_id``
    stays BIGINT where discovery would narrow it to INT)."""
    return _load(spark, path)


def invalidate(path: str, schema: StructType | None = None) -> None:
    """Drop every memoized plan related to ``path`` (any session): the
    enforced invalidation hook for writers that replace parquet files
    in place before re-reading them.

    "Related" is path-separator-aware containment in EITHER direction:
    invalidating a directory drops memos of everything inside it (a
    table's sf dir drops each of its tables), and invalidating one file
    inside a memoized directory drops that directory's pinned listing
    too — while ``/idx`` never matches the sibling ``/idx_v2``.

    ``schema`` is the schema the writer just wrote at ``path`` (its
    partition columns included); the next :func:`load_parquet` reads
    with it.  Without one, known schemas of related paths are dropped
    too — the writer may have changed them."""
    rp = os.path.realpath(path)

    def _related(a: str, b: str) -> bool:
        return a == b or a.startswith(b + os.sep) or b.startswith(a + os.sep)

    for k in [k for k in _PATH_MEMO if _related(rp, k[1])]:
        del _PATH_MEMO[k]
    for k in [k for k in _PATH_SCHEMA if _related(rp, k)]:
        del _PATH_SCHEMA[k]
    if schema is not None:
        _PATH_SCHEMA[rp] = schema


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Register each parquet table as a temp view; return the frames.

    Binding a table is a fixed number of driver calls to the JVM, which
    wait on round trips, so the tables bind concurrently, one worker
    each.  The workers inherit the caller's job group and tags, so any
    job they submit is the caller's.  A single table binds inline."""
    names = [n for n in tables
             if os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))]

    def bind(name: str) -> DataFrame:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        return df

    if len(names) <= 1:
        return {n: bind(n) for n in names}
    with ThreadPoolExecutor(len(names)) as pool:
        frames = pool.map(inheritable_thread_target(spark)(bind), names)
        return dict(zip(names, frames))
