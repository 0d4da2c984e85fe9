"""Pure-Python Avro object-container codec + distributed read/write
(AvroScanner.java:53 / AvroAppender parity — closes the format gap the
classpath-gated spark-avro reader left open)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from tajo_spark.catalog import load_table
from tajo_spark.operators import fsio
from tajo_spark.sources import avro_py
from tests.conftest import SF_DIR


def test_codec_roundtrip_primitives():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "b", "type": "boolean"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "by", "type": "bytes"},
            {"name": "n", "type": ["null", "long"]},
        ],
    }
    rows = [
        (True, -1, 2**40, 1.5, -2.25, "héllo", b"\x00\xff", None),
        (False, 0, -(2**40), 0.0, 1e300, "", b"", 7),
    ]
    for codec in ("null", "deflate"):
        buf = avro_py.encode_container(rows, schema, codec=codec)
        assert buf[:4] == avro_py.MAGIC
        back = list(avro_py.decode_container(buf))
        assert back == rows, codec


def test_codec_roundtrip_complex_types():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "e",
                "type": {"type": "enum", "name": "col",
                         "symbols": ["RED", "GREEN", "BLUE"]},
            },
            {
                "name": "fx",
                "type": {"type": "fixed", "name": "f4", "size": 4},
            },
            {
                "name": "rec",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "int"}],
                },
            },
            {"name": "dt", "type": {"type": "int", "logicalType": "date"}},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
        ],
    }
    rows = [
        (
            [1, 2, 3],
            {"a": "x", "b": "y"},
            "GREEN",
            b"\x01\x02\x03\x04",
            {"x": 9},
            datetime.date(2020, 2, 29),
            datetime.datetime(2021, 6, 1, 12, 34, 56, 789012),
        ),
        ([], {}, "RED", b"\xff\xff\xff\xff", {"x": -1},
         datetime.date(1969, 12, 31), datetime.datetime(1970, 1, 1)),
    ]
    buf = avro_py.encode_container(rows, schema)
    assert list(avro_py.decode_container(buf)) == rows


def test_codec_multi_block_and_sync_check():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": "long"}],
    }
    rows = [(i,) for i in range(10_000)]
    buf = avro_py.encode_container(rows, schema, block_rows=256)
    assert list(avro_py.decode_container(buf)) == rows
    # corrupting a sync marker must be detected, not silently misread
    corrupted = bytearray(buf)
    corrupted[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync"):
        list(avro_py.decode_container(bytes(corrupted)))


def test_spark_avro_roundtrip_lineitem(spark, tmp_path):
    li = (
        load_table(spark, SF_DIR, "lineitem")
        .select(
            "l_orderkey", "l_partkey", "l_quantity",
            "l_extendedprice", "l_returnflag", "l_shipdate",
        )
        .limit(500)
    )
    path = str(tmp_path / "li_avro")
    manifest = avro_py.write_avro(li, path, codec="deflate")
    assert manifest and all(n > 0 for _f, n in manifest)
    assert sum(n for _f, n in manifest) == li.count()

    back = avro_py.read_avro(spark, path)
    assert back.schema == li.schema or [
        (f.name, f.dataType) for f in back.schema.fields
    ] == [(f.name, f.dataType) for f in li.schema.fields]
    a = sorted(map(tuple, li.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b


def test_spark_avro_roundtrip_nulls_and_arrays(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "x", [1.0, 2.0], datetime.date(2024, 1, 2)),
            (2, None, [], None),
            (3, "z", [3.5], datetime.date(1999, 12, 31)),
        ],
        "k INT, s STRING, v ARRAY<DOUBLE>, d DATE",
    )
    path = str(tmp_path / "na_avro")
    avro_py.write_avro(df, path)
    back = avro_py.read_avro(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, df.collect())
    )


def test_read_is_distributed_per_file(spark, tmp_path):
    # one task per container file: writing from N partitions must
    # produce N files and the read plan a Python-map over binaryFile
    df = spark.range(0, 1000).repartition(4).select(
        F.col("id").alias("x")
    )
    path = str(tmp_path / "many_avro")
    manifest = avro_py.write_avro(df, path, codec="null")
    assert len(manifest) == 4
    back = avro_py.read_avro(spark, path)
    assert back.rdd.getNumPartitions() >= 1
    assert back.agg(F.sum("x")).collect()[0][0] == sum(range(1000))


def test_auto_split_engages_past_max_partition_bytes(spark, tmp_path):
    # the DEFAULT read path must fan a file bigger than the session's
    # spark.sql.files.maxPartitionBytes out across sync-marker splits
    # automatically (no split_bytes argument), and leave smaller files
    # on the whole-file binaryFile path
    import glob
    import os

    df = spark.range(0, 20_000).coalesce(1).select(F.col("id").alias("x"))
    path = str(tmp_path / "auto_split_avro")
    avro_py.write_avro(df, path, codec="null")
    fsize = os.path.getsize(glob.glob(path + "/*.avro")[0])
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, str(max(fsize // 5, 1)))
        back = avro_py.read_avro(spark, path)  # auto
        assert back.rdd.getNumPartitions() >= 5
        assert sorted(r.x for r in back.collect()) == list(range(20_000))
        # a limit above the file size keeps whole-file granularity
        spark.conf.set(key, str(fsize * 2))
        whole = avro_py.read_avro(spark, path)
        assert whole.count() == 20_000
    finally:
        spark.conf.set(key, saved)


def test_write_commits_deterministic_parts_no_temps(spark, tmp_path):
    # r11 review: the write now streams into '.tmp' names and renames
    # to partition-id-deterministic finals on task completion — a
    # retried/speculative attempt lands on the SAME target instead of
    # duplicating. Assert the commit protocol's observable surface.
    import os

    df = spark.range(100).select(F.col("id").alias("x")).repartition(4)
    path = str(tmp_path / "commit_avro")
    manifest = avro_py.write_avro(df, path)
    names = sorted(os.listdir(path))
    assert names == sorted(f for f, _ in manifest)
    assert all(n.startswith("part-") and n.endswith(".avro") for n in names)
    assert not any(".tmp" in n for n in names)
    back = avro_py.read_avro(spark, path)
    assert sorted(r.x for r in back.collect()) == list(range(100))


def test_read_non_avro_extension_and_bad_inputs(spark, tmp_path):
    # r11 review: a valid container under a non-.avro name silently
    # returned 0 rows on the binaryFile path (pathGlobFilter) while the
    # split path read it — results depended on file size. Now the
    # explicit listing reads it either way.
    import glob as glob_mod
    import shutil

    df = spark.range(9).select(F.col("id").alias("x")).coalesce(1)
    path = str(tmp_path / "ext_avro")
    avro_py.write_avro(df, path)
    part = glob_mod.glob(path + "/*.avro")[0]
    renamed = str(tmp_path / "events.bin")
    shutil.copy(part, renamed)
    back = avro_py.read_avro(spark, renamed)  # auto → binaryFile path
    assert sorted(r.x for r in back.collect()) == list(range(9))
    # split_bytes <= 0 is a planner error, not an infinite loop
    with pytest.raises(ValueError, match="split_bytes"):
        avro_py.read_avro(spark, renamed, split_bytes=0)
    # Avro maps require string keys: driver-time error, not a
    # mid-write executor AttributeError
    import pyspark.sql.types as T

    with pytest.raises(NotImplementedError, match="string keys"):
        avro_py.spark_to_avro_schema(
            T.StructType(
                [T.StructField("m", T.MapType(T.IntegerType(), T.StringType()))]
            )
        )


def test_read_rejects_cross_file_schema_drift(spark, tmp_path):
    # r11 review: files decoded with their own header schema but zipped
    # positionally against the directory schema silently misaligned
    # columns. Same-set/different-order now realigns by name; disjoint
    # fields raise.
    import glob as glob_mod
    import os
    import shutil

    path = str(tmp_path / "drift")
    os.makedirs(path)
    a = spark.createDataFrame([(1, "x")], "id LONG, name STRING")
    b = spark.createDataFrame([("y", 2)], "name STRING, id LONG")
    avro_py.write_avro(a.coalesce(1), str(tmp_path / "wa"))
    avro_py.write_avro(b.coalesce(1), str(tmp_path / "wb"))
    shutil.copy(glob_mod.glob(str(tmp_path / "wa/*.avro"))[0], path + "/a.avro")
    shutil.copy(glob_mod.glob(str(tmp_path / "wb/*.avro"))[0], path + "/b.avro")
    got = {
        (r.id, r.name) for r in avro_py.read_avro(spark, path).collect()
    }
    assert got == {(1, "x"), (2, "y")}  # realigned by name, not position
    # disjoint fields: loud error instead of silent misalignment
    c = spark.createDataFrame([(3.5,)], "other DOUBLE")
    avro_py.write_avro(c.coalesce(1), str(tmp_path / "wc"))
    shutil.copy(glob_mod.glob(str(tmp_path / "wc/*.avro"))[0], path + "/c.avro")
    with pytest.raises(Exception, match="do not match"):
        avro_py.read_avro(spark, path).collect()


def test_glob_path_reads_under_auto_default(spark, tmp_path):
    import glob as glob_mod
    import os

    # ADVICE r09: the 'auto' default's driver-side listing got
    # FileType.NotFound (size=None) for a glob and raised TypeError;
    # globs must expand driver-side (big files still split) or fall
    # back to the binaryFile path
    df = spark.range(7).select(F.col("id").alias("x"))
    path = str(tmp_path / "glob_avro")
    avro_py.write_avro(df, path)
    for pat in ("/*.avro", "/part-*.avro"):
        back = avro_py.read_avro(spark, path + pat)  # auto
        assert sorted(r.x for r in back.collect()) == list(range(7))
    # a glob matching nothing raises cleanly, not TypeError
    with pytest.raises(FileNotFoundError):
        avro_py.read_avro(spark, path + "/nope-*.avro")
    # expansion is metadata-only and sized (split planning needs sizes)
    fs, p = fsio.resolve(path + "/*.avro")
    files = avro_py._expand_glob(fs, p)
    assert files and all(sz > 0 for _f, sz in files)
    # glob semantics: '*' never crosses '/' — a decoy one level down
    # must not match dir/*.avro
    import shutil

    sub = path + "/deeper"
    os.makedirs(sub, exist_ok=True)
    shutil.copy(glob_mod.glob(path + "/*.avro")[0], sub + "/decoy.avro")
    deeper = {f for f, _ in avro_py._expand_glob(*fsio.resolve(path + "/*.avro"))}
    assert not any("deeper" in f for f in deeper)
    assert avro_py._expand_glob(*fsio.resolve(path + "/*/decoy.avro"))
    # ADVICE r10: a glob in the first path segment has no non-glob
    # parent — must return [] rather than fall back to listing the
    # filesystem root (object-store bucket listing / huge local walk)
    import pyarrow.fs as pafs

    local = pafs.LocalFileSystem()
    assert avro_py._expand_glob(local, "*.avro") == []
    assert avro_py._expand_glob(local, "part-*/x.avro") == []


def test_session_split_bytes_parses_suffixes(spark):
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    try:
        for raw, want in (
            ("134217728b", 134217728),
            ("128m", 128 << 20),
            ("1g", 1 << 30),
            ("64MB", 64 << 20),
            ("4096", 4096),
        ):
            spark.conf.set(key, raw)
            assert avro_py._session_split_bytes(spark) == want, raw
    finally:
        spark.conf.set(key, saved)


def test_split_read_partitions_one_file(spark, tmp_path):
    # sync-marker byte-range splits (the Hadoop input-split shape): a
    # single container file read under a small split size must fan out
    # into many fragments and still yield exactly the file's rows
    import glob

    df = spark.range(0, 20_000).coalesce(1).select(F.col("id").alias("x"))
    path = str(tmp_path / "one_big_avro")
    avro_py.write_avro(df, path, codec="deflate")
    files = glob.glob(path + "/*.avro")
    assert len(files) == 1
    fsize = __import__("os").path.getsize(files[0])
    split = max(fsize // 7, 1)
    back = avro_py.read_avro(spark, path, split_bytes=split)
    assert back.rdd.getNumPartitions() >= 7
    got = sorted(r.x for r in back.collect())
    assert got == list(range(20_000))
    # a split size larger than the file degenerates to one fragment
    whole = avro_py.read_avro(spark, path, split_bytes=fsize * 2)
    assert whole.count() == 20_000


def test_split_read_boundary_sweep(spark, tmp_path):
    # no row lost or duplicated for ANY split size: sweep awkward sizes
    # (prime, tiny, sync-straddling) over a multi-block file
    df = spark.range(0, 5_000).coalesce(1).select(F.col("id").alias("x"))
    path = str(tmp_path / "sweep_avro")
    avro_py.write_avro(df, path, codec="null")
    import glob, os

    fsize = os.path.getsize(glob.glob(path + "/*.avro")[0])
    for split in (977, 4096, fsize // 3 + 1):
        back = avro_py.read_avro(spark, path, split_bytes=split)
        got = sorted(r.x for r in back.collect())
        assert got == list(range(5_000)), split


def test_engine_external_table_using_avro(spark, tmp_path):
    # the catalog surface: CREATE EXTERNAL TABLE ... USING AVRO works
    # without spark-avro on the classpath (self-describing read)
    from tajo_spark.engine import Engine

    df = spark.createDataFrame([(1, "a"), (2, "b")], "k INT, s STRING")
    path = str(tmp_path / "eng_avro")
    avro_py.write_avro(df, path)
    eng = Engine(spark)
    eng.create_external_table("avro_t", path, fmt="AVRO")
    got = eng.execute_sql("SELECT k, s FROM avro_t ORDER BY k").collect()
    assert [(r.k, r.s) for r in got] == [(1, "a"), (2, "b")]
    eng.drop_table("avro_t")


def test_write_avro_overwrite_replaces_contents(spark, tmp_path):
    """mode('overwrite') parity for the pure-Python path (ADVICE r03):
    rewriting an existing directory must NOT accumulate old part files."""
    path = str(tmp_path / "ow_avro")
    df5 = spark.range(5).selectExpr("id", "CAST(id AS STRING) AS s")
    df3 = spark.range(3).selectExpr("id + 100 AS id", "CAST(id AS STRING) AS s")
    avro_py.write_avro(df5, path)
    assert avro_py.read_avro(spark, path).count() == 5
    avro_py.write_avro(df3, path)
    back = avro_py.read_avro(spark, path)
    assert back.count() == 3
    assert {r.id for r in back.collect()} == {100, 101, 102}


def test_write_avro_null_vs_nan_doubles(spark, tmp_path):
    """NaN in a nullable double column round-trips as NaN; NULL as NULL
    (ADVICE r03: the pandas path wrote both as Avro null)."""
    import math

    path = str(tmp_path / "nan_avro")
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, CAST('NaN' AS DOUBLE)), (2, CAST(NULL AS DOUBLE)), (3, 1.5) "
        "AS t(id, x)"
    )
    avro_py.write_avro(df, path)
    rows = {r.id: r.x for r in avro_py.read_avro(spark, path).collect()}
    assert math.isnan(rows[1])
    assert rows[2] is None
    assert rows[3] == 1.5


def test_write_avro_tz_aware_timestamp_instant(spark, tmp_path):
    """A timestamp encodes its UTC instant, not its wall-clock reading
    (ADVICE r03: replace(tzinfo=None) shifted epoch-micros by the
    offset).  Encode a +05:00-aware datetime directly through the codec
    and check the stored epoch-micros."""
    import io as _io

    tz = datetime.timezone(datetime.timedelta(hours=5))
    aware = datetime.datetime(2024, 1, 1, 5, 0, 0, tzinfo=tz)  # == 2024-01-01T00:00Z
    out = _io.BytesIO()
    avro_py._encode_value(
        {"type": "long", "logicalType": "timestamp-micros"}, aware, out
    )
    dec = avro_py._Decoder(out.getvalue())
    micros = dec.read_long()
    expected = int(
        (datetime.datetime(2024, 1, 1) - datetime.datetime(1970, 1, 1)).total_seconds()
    ) * 1_000_000
    assert micros == expected


def test_encode_null_in_non_nullable_field_raises():
    import io as _io

    with pytest.raises(ValueError, match="non-nullable"):
        avro_py._encode_value("double", None, _io.BytesIO())


def test_malformed_container_contract():
    """r08 fuzz sweep (tools/fuzz_avro.py): mutated/truncated container
    bytes raise ValueError/NotImplementedError only — the bounds-checked
    _Decoder primitives, schema validation, and repeat-count guards keep
    raw IndexError/KeyError/struct.error/zlib.error from failing a scan
    task undiagnosably."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    avs = avro_py.spark_to_avro_schema(schema)
    enc = avro_py.encode_container(
        [(i, f"n{i}") for i in range(50)], avs, codec="deflate"
    )

    def run(payload):
        avro_py.parse_header(payload)
        list(avro_py.decode_container(payload))

    # the three classes the sweep caught live (plus truncation):
    cases = [
        enc[:18] + b"\xff\xff\xff\xff" + enc[22:],   # blown varint field
        enc[:18] + b"\x00" + enc[19:],               # schema key corrupted
        enc[:40],                                    # truncated header
        enc[: len(enc) // 2],                        # truncated mid-block
        enc[:100] + b"\x00" * 40 + enc[140:],        # zeroed span
    ]
    for i, payload in enumerate(cases):
        try:
            run(payload)
        except (ValueError, NotImplementedError):
            pass
        # any other exception type propagates and fails the test

    # huge repeat count must be rejected, not looped
    with pytest.raises(ValueError, match="implausible|truncated|exceeds"):
        dec = avro_py._Decoder(b"\x00" * 8)
        avro_py._check_count(1 << 50, dec)
