"""Python UDF directory-loading tests (TestPythonFunctions parity —
tajo-core-tests/.../function/TestPythonFunctions.java; loading mirror of
tajo.function.python.code-dir)."""

from __future__ import annotations

import textwrap

import pytest

from tajo_spark.functions.python_udf import load_python_udfs


@pytest.fixture()
def code_dir(tmp_path):
    (tmp_path / "my_udfs.py").write_text(
        textwrap.dedent(
            '''
            def plus_ten(x: int) -> int:
                return x + 10

            def shout(s: str) -> str:
                return s.upper() + "!"

            def hypot2(a: float, b: float) -> float:
                return a * a + b * b

            def as_text(x: int) -> "text":
                return f"<{x}>"

            AGGREGATES = {
                "p90": ("double", lambda s: float(s.quantile(0.9))),
            }

            class split_words:
                RETURNS = "word string, pos int"
                def eval(self, text):
                    for i, w in enumerate((text or "").split()):
                        yield (w, i)
            '''
        )
    )
    return str(tmp_path)


def test_scalar_udfs_registered_and_vectorized(spark, code_dir):
    names = load_python_udfs(spark, code_dir)
    assert {"plus_ten", "shout", "hypot2", "as_text", "p90"} <= set(names)
    row = spark.sql(
        "SELECT plus_ten(32) AS a, shout('ok') AS b, hypot2(3.0, 4.0) AS c, "
        "as_text(7) AS d"
    ).collect()[0]
    assert (row.a, row.b, row.c, row.d) == (42, "OK!", 25.0, "<7>")


def test_udfs_run_distributed_over_table(spark, code_dir):
    load_python_udfs(spark, code_dir)
    df = spark.range(0, 1000, 1, 8).selectExpr("plus_ten(id) AS v")
    assert df.agg({"v": "sum"}).collect()[0][0] == sum(i + 10 for i in range(1000))


def test_grouped_agg_udaf(spark, code_dir):
    import numpy as np
    from pyspark.sql import functions as F

    load_python_udfs(spark, code_dir)
    df = spark.createDataFrame(
        [(i % 2, float(i)) for i in range(100)], "g INT, v DOUBLE"
    )
    rows = {
        r.g: r.p
        for r in df.groupBy("g").agg(F.expr("p90(v)").alias("p")).collect()
    }
    exp0 = float(np.quantile([float(i) for i in range(0, 100, 2)], 0.9))
    assert abs(rows[0] - exp0) < 1e-6


def test_mixed_udaf_fallback_matches_jvm_results(spark, code_dir):
    """Tajo mixes Python UDAFs with built-in aggregates in one GROUP BY
    (TestGroupByQuery.testPythonUdaf2/3); Spark rejects the placement,
    so the engine retries all-pandas — values must match the JVM run."""
    from tajo_spark.engine import Engine

    load_python_udfs(spark, code_dir)
    eng = Engine(spark)
    spark.createDataFrame(
        [(i % 3, float(i)) for i in range(30)], "g INT, v DOUBLE"
    ).createOrReplaceTempView("fb_t")
    got = {
        r.g: (r.p, r.a, r.c, r.sd)
        for r in eng.execute_sql(
            "SELECT g, p90(v) AS p, avg(v) AS a, count(*) AS c, "
            "sum(DISTINCT CAST(v AS INT) % 4) AS sd "
            "FROM fb_t GROUP BY g"
        ).collect()
    }
    jvm = {
        r.g: (r.a, r.c, r.sd)
        for r in spark.sql(
            "SELECT g, avg(v) AS a, count(*) AS c, "
            "sum(DISTINCT CAST(v AS INT) % 4) AS sd FROM fb_t GROUP BY g"
        ).collect()
    }
    assert set(got) == {0, 1, 2}
    for g, (_, a, c, sd) in got.items():
        ja, jc, jsd = jvm[g]
        assert (a, c, float(sd)) == (ja, jc, float(jsd))


def test_mixed_udaf_fallback_registers_twins_on_first_use(spark, code_dir):
    """Engine construction registers no pandas twins; the fallback
    registers them on a session the first time it fires there."""
    from tajo_spark.engine import Engine
    from tajo_spark.functions import agg_fallback

    fresh = spark.newSession()  # own temp-function registry
    twin = next(iter(agg_fallback._TWINS))
    load_python_udfs(fresh, code_dir)
    eng = Engine(fresh)
    assert not fresh.catalog.functionExists(twin)
    fresh.createDataFrame(
        [(i % 2, float(i)) for i in range(10)], "g INT, v DOUBLE"
    ).createOrReplaceTempView("fb_fresh")
    got = {
        r.g: (r.a, r.c)
        for r in eng.execute_sql(
            "SELECT g, p90(v) AS p, avg(v) AS a, count(*) AS c "
            "FROM fb_fresh GROUP BY g"
        ).collect()
    }
    assert got == {0: (4.0, 5), 1: (5.0, 5)}
    assert all(fresh.catalog.functionExists(n) for n in agg_fallback._TWINS)


def test_zero_arg_udaf_bridge(spark, code_dir):
    """countpy()-style zero-arg UDAF calls (reference controller.py
    feeds whole rows) run via constant injection, mixed or not."""
    import textwrap as tw

    from tajo_spark.engine import Engine

    (spark.createDataFrame([(1,), (1,), (2,)], "k INT")
     .createOrReplaceTempView("fb_z"))
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "zero.py"), "w") as fh:
            fh.write(tw.dedent('''
                AGGREGATES = {
                    "rowspy": ("bigint", lambda s: int(s.size)),
                }
            '''))
        load_python_udfs(spark, d)
    eng = Engine(spark)
    rows = {
        r.k: (r.n, r.c)
        for r in eng.execute_sql(
            "SELECT k, rowspy() AS n, count(*) AS c FROM fb_z GROUP BY k"
        ).collect()
    }
    assert rows == {1: (2, 2), 2: (1, 1)}


def test_python_udtf_table_function(spark, code_dir):
    """Classes with eval + RETURNS register as table functions —
    the UDTF flavor the reference's function system lacks entirely."""
    names = load_python_udfs(spark, code_dir)
    assert "split_words" in names
    rows = spark.sql(
        "SELECT word, pos FROM split_words('alpha beta gamma')"
    ).collect()
    assert [(r.word, r.pos) for r in rows] == [
        ("alpha", 0), ("beta", 1), ("gamma", 2),
    ]
    # LATERAL over table rows: one UDTF call per input row
    spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, None)], "id INT, txt STRING"
    ).createOrReplaceTempView("udtf_src")
    out = spark.sql(
        "SELECT id, word, pos FROM udtf_src, "
        "LATERAL split_words(txt)"
    ).collect()
    assert sorted((r.id, r.word, r.pos) for r in out) == [
        (1, "a", 0), (1, "b", 1),
    ]
