"""Reference function-surface sweep: every scalar/aggregate/window
function name the reference ships (SURVEY.md §2.8 inventory, scanned
from tajo-core/.../engine/function/) must execute through
Engine.execute_sql — one concrete invocation per name, value-asserted
where cheap. This is the same line-by-line check the coverage audit
performs, pinned as a test so the surface can't regress."""

from __future__ import annotations

import pytest

from tajo_spark.engine import Engine
from tajo_spark.functions import registry


@pytest.fixture(scope="module")
def eng(spark):
    e = Engine(spark)
    spark.sql(
        "SELECT 1 AS i, 2.5 AS d, 'Hello World' AS s, "
        "timestamp'2024-03-05 10:20:30' AS ts, "
        "date'2024-03-05' AS dt, "
        "'{\"a\": [1, 2, 3]}' AS js"
    ).createOrReplaceTempView("fn_probe")
    return e


# (sql expression, expected value or None for execute-only)
STRING_FN = [
    ("ascii('A')", 65),
    ("btrim('  x  ')", "x"),
    ("bit_length('ab')", 16),
    ("char_length('abc')", 3),
    ("chr(66)", "B"),
    ("concat('a','b')", "ab"),
    ("concat_ws('-','a','b')", "a-b"),
    ("decode(encode('hi','base64'),'base64')", "hi"),
    ("digest('x','sha1')", None),
    ("encode('hi','base64')", "aGk="),
    ("encode('hi','hex')", "6869"),
    ("decode('6869','hex')", "hi"),
    ("find_in_set('b','a,b,c')", 2),
    ("initcap('hello world')", "Hello World"),
    ("ltrim('  x')", "x"),
    ("left('abcdef',2)", "ab"),
    ("length('abcd')", 4),
    ("locate('c','abc')", 3),
    ("lower('AB')", "ab"),
    ("lpad('7',3,'0')", "007"),
    ("md5('x')", "9dd4e461268c8034f5c8564e155c67a6"),
    ("octet_length('ab')", 2),
    ("quote_ident('weird col')", '"weird col"'),
    ("rtrim('x  ')", "x"),
    ("regexp_replace('aaa','a','b')", "bbb"),
    ("repeat('ab',2)", "abab"),
    ("reverse('abc')", "cba"),
    ("right('abcdef',2)", "ef"),
    ("rpad('7',3,'0')", "700"),
    ("split_part('a,b,c',',',2)", "b"),
    ("strpos('abc','c')", 3),
    ("strposb('abc','c')", 3),
    ("substr('abcdef',2,3)", "bcd"),
    ("to_bin(5)", "101"),
    ("to_char(1234, '9999')", None),
    ("to_hex(255)", "ff"),
    ("upper('ab')", "AB"),
]

MATH_FN = [
    ("abs(-3)", 3),
    ("acos(1.0)", 0.0),
    ("asin(0.0)", 0.0),
    ("atan(0.0)", 0.0),
    ("atan2(0.0, 1.0)", 0.0),
    ("cbrt(27.0)", 3.0),
    ("ceil(2.1)", 3),
    ("cos(0.0)", 1.0),
    ("degrees(0.0)", 0.0),
    ("3 div 2", 1),
    ("exp(0.0)", 1.0),
    ("floor(2.9)", 2),
    ("mod(7,3)", 1),
    ("pi()", None),
    ("pow(2,10)", 1024.0),
    ("radians(0.0)", 0.0),
    ("round(2.5)", 3),
    ("sign(-8)", -1.0),
    ("sin(0.0)", 0.0),
    ("sqrt(16.0)", 4.0),
    ("tan(0.0)", 0.0),
]

DATETIME_FN = [
    ("add_days(dt, 2)", None),
    ("add_months(dt, 1)", None),
    ("current_date()", None),
    ("current_time()", None),  # native TIME type (Spark 4.1)
    ("EXTRACT(HOUR FROM TIME'07:08:09')", 7),
    ("date_part('year', ts)", 2024.0),
    ("utc_usec_to('day', 1709634030000000)", None),
    ("now()", None),
    ("to_char(ts, 'YYYY-MM-DD')", "2024-03-05"),
    ("to_date('2024-03-05')", None),
    ("to_timestamp(0)", None),
    ("extract(month FROM ts)", 3),
]

JSON_FN = [
    ("json_extract_path_text(js, 'a')", None),
    ("json_array_get(get_json_object(js, '$.a'), 0)", None),
    ("json_array_length(get_json_object(js, '$.a'))", 3),
    ("json_array_contains(get_json_object(js, '$.a'), 2)", True),
]

AGG_WINDOW_FN = [
    ("avg(i)", None), ("sum(i)", None), ("min(i)", None), ("max(i)", None),
    ("count(*)", None), ("count(DISTINCT i)", None),
    ("stddev_pop(d)", None), ("stddev_samp(d)", None),
    ("var_pop(d)", None), ("var_samp(d)", None), ("variance(d)", None),
    ("corr(d, d)", None), ("string_agg(s, ',')", None),
    ("coalesce(NULL, min(i))", None),
]

WINDOW_OVER_FN = [
    "rank()", "row_number()", "dense_rank()", "percent_rank()",
    "cume_dist()", "ntile(2)", "first_value(i)", "last_value(i)",
    "lag(i)", "lead(i)",
]

PATTERN_FN = [
    ("'abc' LIKE 'a%'", True),
    ("'ABC' ILIKE 'a%'", True),
    ("'abc' RLIKE '^a'", True),
    ("'abc' SIMILAR TO 'a%'", True),
]


def _run(eng, expr):
    return eng.execute_sql(f"SELECT {expr} AS v FROM fn_probe").collect()[0].v


@pytest.mark.parametrize(
    "expr,want",
    STRING_FN + MATH_FN + DATETIME_FN + JSON_FN + PATTERN_FN,
    ids=lambda p: str(p)[:40] if isinstance(p, str) else "",
)
def test_scalar_reference_function(eng, expr, want):
    got = _run(eng, expr)
    if want is not None:
        if isinstance(want, float):
            assert abs(float(got) - want) < 1e-9, (expr, got)
        else:
            assert got == want, (expr, got)
    else:
        assert got is not None, expr


def test_aggregate_reference_functions(eng):
    exprs = ", ".join(
        f"{e} AS a{i}" for i, (e, _) in enumerate(AGG_WINDOW_FN)
    )
    row = eng.execute_sql(f"SELECT {exprs} FROM fn_probe").collect()[0]
    assert row.a0 is not None  # avg over the 1-row probe


def test_window_reference_functions(eng):
    exprs = ", ".join(
        f"{f} OVER (PARTITION BY i ORDER BY i) AS w{k}"
        for k, f in enumerate(WINDOW_OVER_FN)
    )
    row = eng.execute_sql(f"SELECT {exprs} FROM fn_probe").collect()[0]
    assert row.w0 == 1  # rank over a single row


def test_geoip_stub_surface(eng):
    # deterministic stubs (external database not shippable) — the
    # surface must resolve and return typed results
    for expr in [
        "geoip_country_code('8.8.8.8')",
        "geoip_in_country('8.8.8.8', 'US')",
        "inet_aton('1.2.3.4')",
        "inet_ntoa(16909060)",
    ]:
        assert _run(eng, expr) is not None, expr


def test_register_all_defines_every_function_in_one_statement(
    spark, monkeypatch
):
    for name in registry.SQL_FUNCTIONS:
        spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")
    statements = []
    sql = spark.sql
    monkeypatch.setattr(
        spark, "sql", lambda q, *a, **k: statements.append(q) or sql(q, *a, **k)
    )
    assert registry.register_all(spark) == list(registry.SQL_FUNCTIONS)
    assert len(statements) == 1
    monkeypatch.undo()
    for name in registry.SQL_FUNCTIONS:
        assert spark.catalog.functionExists(name), name
    # geoip_in_country calls geoip_country_code, defined above it
    row = spark.sql(
        "SELECT strposb('héllo', 'l') AS bpos, "
        "geoip_in_country('1.2.3.4', 'ZZ') AS in_cc, "
        "inet_ntoa(inet_aton('10.1.2.3')) AS ip, "
        """json_extract_path_text('{"k": {"j": 7}}', 'k', 'j') AS js"""
    ).first()
    assert (row.bpos, row.in_cc, row.ip, row.js) == (4, True, "10.1.2.3", "7")


@pytest.mark.parametrize("body", ["no_such_function(x)", "lower(hex(x)"])
def test_a_failing_definition_names_its_function(spark, monkeypatch, body):
    # an unknown function (analysis error) or a syntax error in one body
    monkeypatch.setitem(registry.SQL_FUNCTIONS, "to_hex",
                        ("x BIGINT", "STRING", body))
    with pytest.raises(RuntimeError, match="SQL function to_hex "):
        registry.register_all(spark)
    monkeypatch.undo()
    registry.register_all(spark)


def test_geoip_prefix_table_broadcast_join(spark):
    # the documented production deployment shape behind the stubs
    # (functions/geoip.py): CIDR table → /16-bucket broadcast equi-join
    # with a range residual; fact side never shuffles
    from tajo_spark.functions import geoip
    from tajo_spark.plans.inspect import formatted_plan

    lookup = geoip.cidr_lookup_table(
        spark,
        [
            ("10.0.0.0/8", "AA"),       # wider than /16 → many buckets
            ("192.168.1.0/24", "BB"),   # narrower → one bucket
            ("192.168.2.128/25", "CC"),
        ],
    )
    df = spark.createDataFrame(
        [
            (1, "10.1.2.3"),
            (2, "192.168.1.77"),
            (3, "192.168.2.200"),
            (4, "192.168.2.5"),    # outside the /25
            (5, "8.8.8.8"),        # unmatched
            (6, "not-an-ip"),      # malformed → NULL
        ],
        "k INT, ip STRING",
    )
    got = {
        r.k: r.country_code
        for r in geoip.attach_country_code(df, lookup).collect()
    }
    assert got == {1: "AA", 2: "BB", 3: "CC", 4: None, 5: None, 6: None}
    plan = formatted_plan(geoip.attach_country_code(df, lookup))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan

    hits = geoip.in_country(df, lookup, "AA").collect()
    assert [r.k for r in hits] == [1]


def test_geoip_nested_cidr_most_specific_wins(spark):
    """Overlapping blocks (a /8 default with a nested /24 carve-out —
    normal GeoIP shape) must resolve to the NARROWEST block, once per
    row (ADVICE r03: the raw join matched both and duplicated facts)."""
    from tajo_spark.functions import geoip

    lookup = geoip.cidr_lookup_table(
        spark,
        [
            ("10.0.0.0/8", "US"),       # wide default
            ("10.1.2.0/24", "CA"),      # nested carve-out
            ("10.1.2.128/25", "MX"),    # doubly nested
        ],
    )
    df = spark.createDataFrame(
        [("10.9.9.9",), ("10.1.2.5",), ("10.1.2.200",), ("11.0.0.1",)],
        "ip STRING",
    )
    out = geoip.attach_country_code(df, lookup).collect()
    assert len(out) == 4, "overlap must not duplicate fact rows"
    got = {r.ip: r.country_code for r in out}
    assert got == {
        "10.9.9.9": "US",
        "10.1.2.5": "CA",
        "10.1.2.200": "MX",
        "11.0.0.1": None,
    }


def test_geoip_flatten_nested_blocks_unit():
    from tajo_spark.functions.geoip import _flatten_nested_blocks

    flat = _flatten_nested_blocks([(0, 255, "A"), (16, 31, "B")])
    assert flat == [(0, 15, "A"), (16, 31, "B"), (32, 255, "A")]
    # disjoint stay disjoint; duplicates: last wins
    assert _flatten_nested_blocks([(0, 7, "A"), (8, 15, "B")]) == [
        (0, 7, "A"), (8, 15, "B")
    ]
    assert _flatten_nested_blocks([(0, 7, "A"), (0, 7, "B")]) == [(0, 7, "B")]
