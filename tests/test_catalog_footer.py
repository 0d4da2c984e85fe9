"""Job-free catalog bootstrap: table and index schemas come from one
parquet footer read on the driver (catalog.parquet_schema), equal to
what Spark's schema-inference job returns, and registering the tables
submits no Spark job.  Both cost a fixed number of py4j round trips:
per table, whatever its file count."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from tajo_spark import catalog
from tajo_spark.streaming import batch_store
from tests.conftest import SF_DIR, py4j_round_trips


pytestmark = pytest.mark.usefixtures("clean_catalog_memos")


def _job_count(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _assert_inferred(spark, path):
    assert (
        catalog.parquet_schema(spark, path).json()
        == spark.read.parquet(path).schema.json()
    ), path


@pytest.mark.parametrize("sf", ["0.001", "0.01", "0.1"])
def test_footer_schema_equals_inferred_for_every_table(spark, sf):
    sf_dir = os.path.join(os.path.dirname(SF_DIR), f"sf{sf}")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not generated")
    for name in catalog.TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            _assert_inferred(spark, path)


def test_register_tables_submits_no_job(spark):
    frames, jobs = _job_count(
        spark, "catalog_register",
        lambda: catalog.register_tables(spark, SF_DIR),
    )
    assert sorted(frames) == sorted(catalog.TABLES)
    assert jobs == 0
    # the views bind the footer schemas and read the same rows
    assert spark.table("nation").count() == spark.read.parquet(
        os.path.join(SF_DIR, "nation.parquet")
    ).count()


def test_register_tables_counts_jobs_of_its_workers(spark, monkeypatch):
    # negative control for the test above: the tables bind on worker
    # threads, and a job one of them submits is still the caller's, so
    # a zero there is not a job submitted out of sight
    monkeypatch.setattr(
        catalog, "parquet_schema",
        lambda spark, path: spark.read.parquet(path).schema,
    )
    frames, jobs = _job_count(
        spark, "catalog_register_inferred",
        lambda: catalog.register_tables(spark, SF_DIR),
    )
    assert sorted(frames) == sorted(catalog.TABLES)
    assert jobs > 0


def _write_files(d, n):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d.mkdir()
    for i in range(n):
        pq.write_table(pa.table({"a": pa.array([i], pa.int64())}),
                       str(d / f"part-{i:05d}.parquet"))
    return str(d)


def test_footer_schema_round_trips_do_not_grow_with_file_count(
    spark, tmp_path
):
    one, many = _write_files(tmp_path / "one", 1), \
        _write_files(tmp_path / "many", 400)
    catalog.parquet_schema(spark, one)  # JVM classes resolved once
    trips = []
    for path in (one, many):
        with py4j_round_trips(spark) as t:
            catalog.parquet_schema(spark, path)
        trips.append(t.count)
        _assert_inferred(spark, path)
    assert trips[0] == trips[1]


@pytest.fixture()
def table_copies(spark, tmp_path):
    """Ten tables that are copies of nation: (sf dir, table names)."""
    names = tuple(f"rt_copy_{i}" for i in range(10))
    for name in names:
        shutil.copy(os.path.join(SF_DIR, "nation.parquet"),
                    tmp_path / f"{name}.parquet")
    yield str(tmp_path), names
    for name in names:
        spark.catalog.dropTempView(name)


def test_register_tables_round_trips_are_constant_per_table(
    spark, table_copies
):
    # one table binds inline, several on workers, and each table costs
    # the same round trips however many bind
    sf_dir, names = table_copies

    def trips(n):
        catalog.invalidate(sf_dir)
        with py4j_round_trips(spark, all_threads=True) as t:
            assert len(catalog.register_tables(spark, sf_dir, names[:n])) == n
        return t.count

    trips(2)  # JVM classes resolved once
    one, two, six, ten = trips(1), trips(2), trips(6), trips(10)
    per_worker = (ten - six) // 4
    assert ten - six == six - two == 4 * per_worker
    # a worker pays the inline cost plus six: two to take on the
    # caller's job group, four to make the session active on its thread
    assert per_worker == one + 6


def test_register_tables_workers_share_the_memo_safely(spark, table_copies):
    # every worker prunes the frames of a stopped session and inserts
    # its own into the one plan memo; with a tiny switch interval an
    # unsafe interleaving raises or loses an entry
    import sys

    sf_dir, names = table_copies
    app = spark.sparkContext.applicationId
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(5):
            catalog.invalidate(sf_dir)
            for i in range(500):
                catalog._PATH_MEMO[("stopped-app", f"/stale/{i}")] = None
            frames = catalog.register_tables(spark, sf_dir, names)
            assert sorted(frames) == sorted(names)
            assert sorted(catalog._PATH_MEMO) == sorted(
                (app, os.path.realpath(os.path.join(sf_dir, f"{n}.parquet")))
                for n in names
            )
    finally:
        sys.setswitchinterval(interval)


def test_footer_schema_honours_nanos_as_long(spark, tmp_path):
    # parquet TIMESTAMP(NANOS) infers as bigint under the session's
    # nanosAsLong; the footer reader applies the same session conf,
    # and load_table turns the events column back into a timestamp
    import pyarrow as pa
    import pyarrow.parquet as pq

    ns = 1_700_000_000_123_456_789
    path = str(tmp_path / "events.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array([1], pa.int64()),
            "ts": pa.array([ns], pa.timestamp("ns")),
        }),
        path,
    )
    _assert_inferred(spark, path)
    assert catalog.parquet_schema(spark, path)["ts"].dataType.simpleString() \
        == "bigint"
    ts = catalog.load_table(spark, str(tmp_path), "events").first().ts
    assert ts.timestamp() * 1_000_000 == pytest.approx(ns // 1000, abs=1)


def test_footer_schema_of_a_written_index_directory(spark, tmp_path):
    # a partitionBy(centroid_id, __batch_id) directory: data columns
    # from the first file's footer, partition columns as Spark's own
    # discovery types them (INT, where the writer declared BIGINT)
    path = str(tmp_path / "idx")
    src = spark.range(40).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 4).cast("int").alias("centroid_id"),
        F.array(F.col("id").cast("float")).alias("embedding"),
    )
    batch_store.write(src, path, 0, by=("centroid_id",))
    batch_store.write(src.filter("vec_id < 8"), path, 1, by=("centroid_id",))
    _assert_inferred(spark, path)
    assert catalog.parquet_schema(spark, path).simpleString() == (
        "struct<vec_id:bigint,embedding:array<float>,"
        "centroid_id:int,__batch_id:int>"
    )
    # without a writer-declared schema load_parquet reads with the
    # footer's, in no job
    catalog.invalidate(path)
    df, jobs = _job_count(
        spark, "catalog_index_load", lambda: catalog.load_parquet(spark, path)
    )
    assert jobs == 0
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == 48


def test_footer_schema_prefers_a_summary_file(spark, tmp_path):
    # Spark's non-merging inference reads _common_metadata when one
    # exists, even over data files whose footers disagree with it
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "summ"
    d.mkdir()
    pq.write_table(pa.table({"a": pa.array([1], pa.int64())}),
                   str(d / "part-0.parquet"))
    pq.write_metadata(pa.schema([("a", pa.int64()), ("b", pa.string())]),
                      str(d / "_common_metadata"))
    _assert_inferred(spark, str(d))
    assert catalog.parquet_schema(spark, str(d)).fieldNames() == ["a", "b"]


def test_footer_schema_reads_the_least_path_by_string_order(
    spark, tmp_path
):
    # with no summary file Spark reads the first data file by path
    # string: k=10 sorts before k=2, so its wider footer decides
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "least"
    for k, cols in (("2", {"a": [1]}), ("10", {"a": [2], "b": ["x"]})):
        (d / f"k={k}").mkdir(parents=True)
        pq.write_table(pa.table(cols), str(d / f"k={k}" / "part-0.parquet"))
    _assert_inferred(spark, str(d))
    assert catalog.parquet_schema(spark, str(d)).fieldNames() == ["a", "b", "k"]


def test_unreadable_footer_raises(spark, tmp_path):
    path = tmp_path / "broken.parquet"
    path.write_bytes(b"not a parquet file")
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError, match="broken.parquet"):
        catalog.parquet_schema(spark, str(path))


def test_directory_without_parquet_files_raises(spark, tmp_path):
    # a zero-row partitionBy write leaves only _SUCCESS: no footer to
    # read, so the load fails loudly, as Spark's inference does
    path = str(tmp_path / "empty_idx")
    spark.range(0).selectExpr("id", "id % 2 AS k").write.partitionBy(
        "k"
    ).parquet(path)
    with pytest.raises(FileNotFoundError, match="empty_idx"):
        catalog.load_parquet(spark, path)
