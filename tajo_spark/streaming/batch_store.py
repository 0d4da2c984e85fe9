"""The ``__batch_id`` store layout: one writer, one listing and one fold
for every micro-batch sink that must survive replay — the ANN index
(``centroid_id=…/__batch_id=N``), the LSH signature store
(``band_id=…/__batch_id=N``), the Bloom gate's fingerprint store, the
attrition ledger, the dedup survivors, the sharded export and its
``_state`` ledger (``…/__batch_id=N`` one or two levels deep).

A batch's rows land under its own ``__batch_id=N`` directories through
a dynamic partition overwrite, so a crash-replayed batch rewrites
exactly what it wrote before and never duplicates.  Committed batches
are folded into the base partition ``__batch_id=-1`` (:func:`fold`),
which bounds the directory and file count every reader lists — the
same role Tajo's one column-partitioned sink (``ColPartitionStoreExec``)
plays for its partitioned tables.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from tajo_spark import catalog
from tajo_spark.operators import fsio

BASE = -1  # the folded base partition; never a live batch id


class BatchDir(NamedTuple):
    path: str  # filesystem path of one ``__batch_id=N`` directory
    batch_id: int
    bytes: int  # data bytes of the files under it


def write(
    df: DataFrame,
    path: str,
    batch_id: int,
    by: tuple[str, ...] = (),
    max_partitions: int | None = None,
) -> StructType:
    """Write ``df`` as batch ``batch_id`` of the store at ``path``: tag
    the rows with a BIGINT ``__batch_id``, then ``partitionBy(*by,
    __batch_id)`` with dynamic partition overwrite, so only this
    batch's directories are replaced.  Returns the written schema,
    which the catalog memo re-reads the store with.

    With key columns ``by`` the rows are first rebalanced on them: each
    key's rows hash to one shuffle partition and AQE coalesces the
    small ones, so the write leaves one file per ``(key, batch)``
    directory (a partition past the advisory size is split, bounding
    file size at scale).  Unlike a ``coalesce`` the rebalance is a
    stage boundary, so everything upstream keeps the source's
    parallelism; ``max_partitions`` caps its partition count."""
    df = df.withColumn("__batch_id", F.lit(batch_id).cast("long"))
    if by:
        cap = () if max_partitions is None else (max_partitions,)
        df = df.hint("rebalance", *cap, *by)
    (
        df.write.partitionBy(*by, "__batch_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(path)
    )
    # a memoized plan pins the file listing at first load; the written
    # schema lets the re-load skip schema inference
    catalog.invalidate(path, schema=df.schema)
    return df.schema


def batch_dirs(path: str) -> list[BatchDir]:
    """Every numeric ``__batch_id=N`` directory of the store, directly
    under ``path`` or under one ``key=value`` level — one recursive
    listing through pyarrow.fs (one paginated LIST on an object store),
    no Spark job.

    A missing path is an empty store.  A non-numeric batch directory
    (a null batch id's ``__HIVE_DEFAULT_PARTITION__``, a stray
    directory) is skipped: the fold's numeric filter never selects its
    rows.  Any other listing error (permissions, throttling) raises —
    reporting "empty" would silently disarm the folds that keep
    readers fast."""
    import pyarrow.fs as pafs

    fs, root = fsio.resolve(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(root, recursive=True))
    except FileNotFoundError:
        return []
    prefix = root.rstrip("/") + "/"
    found, sizes = {}, {}
    for info in infos:
        parts = info.path[len(prefix):].split("/")
        if info.type == pafs.FileType.File:
            if parts[-1][:1] not in "._":  # Spark's hidden files
                for depth in (1, 2):
                    rel = "/".join(parts[:depth])
                    sizes[rel] = sizes.get(rel, 0) + info.size
            continue
        name = parts[-1]
        if not (
            info.type == pafs.FileType.Directory
            and len(parts) <= 2
            and name.startswith("__batch_id=")
            and all("=" in p and p[:1] not in "._" for p in parts[:-1])
        ):
            continue
        try:
            found["/".join(parts)] = (info.path, int(name.split("=", 1)[1]))
        except ValueError:
            continue
    return [
        BatchDir(p, bid, sizes.get(rel, 0))
        for rel, (p, bid) in sorted(found.items())
    ]


def fold(
    spark,
    path: str,
    upto_batch_id: int,
    key: tuple[str, ...],
    by: tuple[str, ...] = (),
    verify_counts: bool = True,
    read=catalog.load_parquet,
) -> dict:
    """Fold the committed batches ``<= upto_batch_id`` of the store at
    ``path`` into the base partition ``__batch_id=-1``, one row per
    ``key``, written by :func:`write` with the store's key columns
    ``by``; then delete the folded batch directories.  A store with no
    batch directory (absent, pre-created, zero-row) folds to zeros.
    ``read(spark, path)`` reads the store; the default reads through
    the catalog memo with the writer-declared schema, so no
    schema-inference job runs.  ``verify_counts`` adds two counting
    scans, for maintenance tools and tests; the auto-folds skip them.

    Safety contract: fold only below the stream checkpoint's committed
    horizon.  foreachBatch never replays a committed batch id, so
    folded rows can never be re-appended, and a replay of the one
    in-flight batch (id > ``upto_batch_id``) still overwrites only its
    own directories.  The base is written before the folded
    directories are deleted, so a crash mid-delete leaves duplicates
    readable until the fold is re-run.  The re-run is idempotent
    because the fold deduplicates on ``key`` (unique in the store by
    construction): the folded base plus leftover directories collapse
    back to one row per key instead of baking the leftovers in twice.
    Every folded directory except the base itself is deleted,
    including legacy negative generation ids, whose rows the base now
    holds."""
    if not batch_dirs(path):
        return {"rows_folded": 0, "rows_after": 0, "batch_dirs_removed": 0}
    # the fold deletes what it reads: take the listing fresh, keeping
    # the declared schema.  A corrupt footer raises here or in the read
    catalog.invalidate(path, schema=catalog.load_parquet(spark, path).schema)
    df = (
        read(spark, path)
        .filter(F.col("__batch_id") <= upto_batch_id)
        .dropDuplicates(list(key))
        .drop("__batch_id")
    )
    before = df.count() if verify_counts else -1
    schema = write(df, path, BASE, by=by)
    fs, _ = fsio.resolve(path)
    removed = 0
    for d in batch_dirs(path):
        if d.batch_id != BASE and d.batch_id <= upto_batch_id:
            fs.delete_dir(d.path)
            removed += 1
    # any plan memoized since the write points at deleted files
    catalog.invalidate(path, schema=schema)
    after = (
        read(spark, path).filter(F.col("__batch_id") <= upto_batch_id).count()
        if verify_counts
        else -1
    )
    return {
        "rows_folded": before,
        "rows_after": after,
        "batch_dirs_removed": removed,
    }


def cadence_fires(batch_id: int, compact_every: int | None) -> bool:
    """The cadence predicate of every auto-folding stream: fire at the
    head of batch ``k * compact_every``, folding strictly below the
    in-flight batch id (committed ids never replay)."""
    return (
        compact_every is not None
        and batch_id > 0
        and batch_id % compact_every == 0
    )
