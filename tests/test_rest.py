"""REST entry-point tests (tajo_spark/rest.py) — parity with the
reference's HTTP surface (QueryResource.java:49 submit,
DatabasesResource/TablesResource/FunctionsResource listings)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from tajo_spark import rest
from tajo_spark.engine import Engine


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark)


@pytest.fixture(scope="module")
def server(engine):
    srv, thread = rest.serve_background(engine)
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url: str):
    with urllib.request.urlopen(url) as r:
        return r.status, json.loads(r.read())


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_post_query_returns_rows(server, spark):
    spark.range(0, 5).selectExpr("id AS k").createOrReplaceTempView(
        "rest_t"
    )
    code, body = _post(
        f"{server}/api/queries",
        {"query": "select k, k * 2 as d from rest_t order by k"},
    )
    assert code == 200
    assert body["columns"] == ["k", "d"]
    assert body["rows"] == [[i, i * 2] for i in range(5)]
    assert body["row_count"] == 5


def test_post_query_respects_page_limit(server, spark):
    spark.range(0, 50).selectExpr("id AS k").createOrReplaceTempView(
        "rest_big"
    )
    code, body = _post(
        f"{server}/api/queries",
        {"query": "select k from rest_big order by k", "limit": 7},
    )
    assert code == 200 and body["row_count"] == 7


def test_post_query_runs_dialect_shim(server):
    # the REST path goes through the same Engine.execute_sql, so Tajo
    # SQL (INT4 cast, || concat) works over HTTP
    code, body = _post(
        f"{server}/api/queries",
        {"query": "select cast('7' as INT4) as n, 'a' || 'b' as s"},
    )
    assert code == 200
    assert body["rows"] == [[7, "ab"]]


def test_post_bad_sql_is_400_json(server):
    code, body = _post(
        f"{server}/api/queries", {"query": "select from nowhere at all"}
    )
    assert code == 400 and "error" in body
    code2, body2 = _post(f"{server}/api/queries", {})
    assert code2 == 400 and "error" in body2


def test_get_databases_and_tables(server):
    code, body = _get(f"{server}/api/databases")
    assert code == 200 and "default" in body["databases"]
    code, body = _get(f"{server}/api/databases/default/tables")
    assert code == 200 and isinstance(body["tables"], list)


def test_get_functions_lists_parity_registry(server):
    code, body = _get(f"{server}/api/functions")
    assert code == 200
    # a Tajo-gap function registered by functions/registry.py
    assert any("find_in_set" in f or "strposb" in f for f in body["functions"])


def test_unknown_route_404(server):
    try:
        with urllib.request.urlopen(f"{server}/api/nope") as r:
            code = r.status
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 404


def test_timestamp_cells_serialize(server, spark):
    code, body = _post(
        f"{server}/api/queries",
        {"query": "select timestamp'2024-01-02 03:04:05' as ts"},
    )
    assert code == 200
    assert body["rows"][0][0].startswith("2024-01-02 03:04:05")


def test_post_query_page_is_capped_server_side(server, spark, monkeypatch):
    # a client limit past MAX_PAGE_ROWS cannot pull a bigger page to
    # the driver: a result over the cap fails loudly, naming it; a
    # small result still succeeds whatever limit was asked
    spark.range(0, 50).selectExpr("id AS k").createOrReplaceTempView(
        "rest_cap"
    )
    monkeypatch.setattr(rest, "MAX_PAGE_ROWS", 10)
    sql = "select k from rest_cap order by k"
    code, body = _post(f"{server}/api/queries", {"query": sql, "limit": 10_000_000})
    assert code == 400 and "MAX_PAGE_ROWS" in body["error"], body
    assert "10-row bound" in body["error"], body
    for limit in (10, 7):
        code, body = _post(f"{server}/api/queries", {"query": sql, "limit": limit})
        assert code == 200 and body["row_count"] == limit
        assert body["rows"] == [[i] for i in range(limit)]
    code, body = _post(
        f"{server}/api/queries",
        {"query": "select k from rest_cap where k < 3", "limit": 10_000_000},
    )
    assert code == 200 and body["row_count"] == 3
