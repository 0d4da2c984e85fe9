"""Job-free catalog bootstrap: table and index schemas come from one
parquet footer read on the driver (catalog.parquet_schema), equal to
what Spark's schema-inference job returns, and registering the tables
submits no Spark job."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tajo_spark import catalog
from tajo_spark.streaming import batch_store
from tests.conftest import SF_DIR


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
