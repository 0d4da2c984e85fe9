"""SparkSession factory tuned for the engine.

Reference parity notes (apache/tajo):
  - Tajo pins a session timezone for timestamp semantics
    (tajo-docs/src/main/sphinx/time_zone.rst); we pin UTC.
  - Tajo's broadcast-join threshold and hash-join size limits
    (tajo-common/.../SessionVars.java:97-133) map to
    ``spark.sql.autoBroadcastJoinThreshold`` + AQE, which re-plans at
    runtime from *actual* sizes — strictly better than Tajo's
    estimate-based algorithm pick (PhysicalPlannerImpl.java:254-295).

Scale design: these configs are the local[‑] test profile. At cluster
scale the same code runs unchanged; only ``shuffle.partitions`` /
executor sizing move to spark-submit conf. AQE coalescing makes the
shuffle-partition count self-tuning at 100 TB.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_spark(
    app_name: str = "tajo_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the tuned SparkSession.

    Every knob here exists to keep plans scale-ready:
      * AQE on → runtime shuffle-coalescing, skew-join splitting,
        dynamic broadcast decisions (replaces Tajo's static
        BroadcastJoinRule, tajo-core/.../rules/BroadcastJoinRule.java:44).
      * Arrow on → vectorized Python<->JVM transfer for the few
        Pandas-UDF operators (multimodal/minhash paths).
      * CBO + join reordering → matches Tajo's greedy join-order
        optimizer (tajo-plan/.../GreedyHeuristicJoinOrderAlgorithm.java:41).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle_partitions)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The reference predates ANSI-mode SQL: its eval layer returns
        # NULL / lenient coercions where ANSI raises (text→number casts
        # on malformed input, overflow wraparound). Spark 4 defaults
        # ansi=true; pin it off to match reference cast semantics
        # (golden corpus: TestQueryOnSelfDescTable casts inferred-typed
        # JSON fields against text columns).
        .config("spark.sql.ansi.enabled", "false")
        # Native TIME-of-day type (Spark 4.1): TIME literals, casts,
        # extract, parquet round-trip all work behind this flag — the
        # reference's TIME columns map natively instead of the round-1
        # TIME→STRING divergence (TIMETZ remains STRING: Spark's TIME
        # carries no zone offset).
        .config("spark.sql.timeType.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # JDBC entry point (Engine.serve_jdbc / tsql --serve-jdbc):
        # every connection to the embedded Thrift server shares THIS
        # session — the reference's deployment shape (one TajoMaster
        # catalog serves all TajoDriver clients, TajoDriver.java:25).
        # Static conf, so it must be set at build time; costs nothing
        # when no server is started.
        .config("spark.sql.hive.thriftServer.singleSession", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # Systemic broadcast guard (r06+r07 memory rungs both caught the
        # same bug class: Catalyst's STATIC size estimate — compressed
        # file size × column-pruning ratio — slipped under the
        # threshold for a skinny projection / per-key aggregate of a
        # parquet fact, and the broadcast HashedRelation build is the
        # one join path that cannot spill).  Fix at the root,
        # engine-wide, in three layers:
        #   * fileCompressionFactor=8 makes the static estimate HONEST
        #     about what a broadcast build actually costs: these
        #     parquet tables decode at ~4-6x their file size (measured:
        #     lineitem sf0.1 is 10.8 MB on disk, ~60 MB as rows) and
        #     HashedRelation adds ~2x on top — the exact ~8x lie that
        #     let a "35 MB" lineitem leg become a ~400 MB un-spillable
        #     build at 16x data.  (A fully-disabled static planner was
        #     measured 43% slower across the bench — every dim join
        #     paid an extra exchange — so honesty beats prohibition.)
        #   * thresholds stay 64 MB but now compare against INFLATED
        #     estimates — statically that means ~8 MB of raw pruned
        #     parquet (≈ a few-hundred-MB decoded ceiling never
        #     crossed; the r06/r07 offenders land at 115-280 MB
        #     inflated at 16x and are declined).  AQE re-checks every
        #     shuffle join from MEASURED sizes and upgrades or demotes
        #     — the honest analogue of the reference gating on actual
        #     stage input volume (BroadcastJoinRule.java:44-65).
        #   * explicit dim hints stay size-gated AND lineage-checked
        #     (plans/hints.py::broadcast_if_dim).
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.sources.fileCompressionFactor", "8")
        # Runtime row-level filtering: when one join side is selective,
        # inject a bloom filter into the other side's scan — at 100 TB
        # this prunes shuffle input before it is ever materialized (the
        # dynamic analogue of Tajo's static filter pushdown,
        # FilterPushDownRule.java). NOTE: do not also enable
        # runtimeFilter.semiJoinReduction here — it deadlocks session
        # startup on this Spark build.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # The driver's events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type, so read as long and rebuild in catalog.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Generated-class cache (static conf, default 100 entries): a
        # 100+-query session (bench, oracle-parity sweep) evicts early
        # queries' codegen units and re-pays Janino compilation (~3-10 s
        # for wide pipelines) on every re-run. 2000 entries keeps every
        # registry query's generated classes resident; cost is class
        # metadata only.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        # Tajo CHAR/VARCHAR semantics, measured from the reference's
        # own goldens (TestInsertQuery.java:953-965): a char(1) column
        # stores 'abcde' UN-truncated — length is advisory.  Spark's
        # enforced char/varchar would raise EXCEED_LIMIT_LENGTH, so
        # treat both as STRING (the pre-3.1 behavior flag).
        .config("spark.sql.legacy.charVarcharAsString", "true")
        # Tajo INSERT with a target column list fills the unmentioned
        # columns with NULL (InsertNode projection); Spark needs this
        # flag to do the same instead of arity-erroring.
        .config("spark.sql.defaultColumn.useNullsForMissingDefaultValues",
                "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def released_checkpoints(spark: SparkSession):
    """Scope the lifetime of the blocks a piece of work persists: on
    exit, normal or by exception, unpersist every RDD persisted on
    ``spark`` since the scope was entered (the ``localCheckpoint``
    stages of a query or of one micro-batch). An exception still
    propagates.

    Relies on nothing else persisting on this session while the scope
    is open: what another thread persists in that window is released
    too. The bench, the measurement tools and each stream's
    micro-batch handler run one piece of work at a time, so they meet
    it."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        yield
    finally:
        persisted = jsc.getPersistentRDDs()
        for rid in list(persisted.keySet()):
            if rid not in before:
                persisted.get(rid).unpersist()


def cluster_conf(
    target_input_bytes: int,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    partition_target_mb: int = 192,
) -> dict[str, str]:
    """Spark-submit conf block for a real cluster run — the same code,
    sized for the data instead of local[32].

    The three numbers that actually matter at 100 TB, derived instead
    of guessed:

    * ``shuffle.partitions``: post-scan shuffle data / a per-partition
      target that fits executor memory with headroom (AQE coalesces
      DOWN from this, it never splits UP a too-coarse setting — so the
      static value must be the upper bound of useful parallelism).
    * ``files.maxPartitionBytes``: scan-split granularity; bigger
      splits amortize task overhead once the cluster has enough tasks
      to stay busy (3-4 waves over total cores).
    * broadcast thresholds stay at the local profile's values (static
      estimate-based broadcast off, AQE runtime threshold 64 MB):
      broadcast cost scales with executor count, the threshold should
      NOT grow with the cluster.

    Two measured floors from the 2 GiB memory rung (SCALE.md round-9):
    keep ≥ ~256 MB of executor memory PER TASK SLOT (below that,
    concurrent consumers exhaust the unified pool faster than spilling
    frees it — ``UNABLE_TO_ACQUIRE``; the 4-core/16 GB default here is
    4 GB/slot), and on small-heap executors scanning snappy parquet add
    ``-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64``
    to ``spark.executor.extraJavaOptions`` — the JVM's default of two
    GCLocker retries can abort the executor outright when vectorized-
    reader allocations race snappy-java's JNI critical sections.

    Returns a plain dict usable as ``--conf k=v`` lines or
    ``build_spark(extra_conf=...)``; everything else in
    :func:`build_spark` is scale-independent.
    """
    total_cores = executors * cores_per_executor
    # shuffle bytes ~ scan bytes for the worst corpus-wide shuffle;
    # cap partition count at what 4 task-waves per core can drain and
    # floor it at total cores so every core has work
    by_size = target_input_bytes // (partition_target_mb * 1024 * 1024)
    partitions = max(total_cores, min(int(by_size), total_cores * 4))
    return {
        "spark.executor.instances": str(executors),
        "spark.executor.cores": str(cores_per_executor),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.files.maxPartitionBytes": f"{partition_target_mb}m",
        # partial-agg maps + window sorts spill past this fraction
        "spark.memory.fraction": "0.6",
        # one retry wave absorbs spot-node loss without failing the job
        "spark.stage.maxConsecutiveAttempts": "8",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
            f"{partition_target_mb}m"
        ),
    }
