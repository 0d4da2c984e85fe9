"""REST entry point — parity with the reference's third query surface.

The reference exposes queries/databases/tables/functions over HTTP
(tajo-core/.../ws/rs/resources/QueryResource.java:49,79,202 submit+list,
QueryResultResource.java result paging, DatabasesResource.java,
TablesResource.java, FunctionsResource.java). This engine is
serverless-Spark, so the REST layer is a thin stdlib HTTP façade over
:class:`tajo_spark.engine.Engine` — no query-master state machine to
manage; a submitted query executes synchronously on Spark and the
response carries the result page directly (the reference's async
submit → poll → fetch loop exists because queries cross process
boundaries there; here the session IS the executor).

Endpoints (JSON in/out):

  POST /api/queries               {"query": sql, "limit"?: n}
      → {"columns": [...], "rows": [[...], ...], "row_count": n}
        (DDL / session statements → {"ok": true})
  GET  /api/databases             → {"databases": [...]}
  GET  /api/databases/<db>/tables → {"tables": [...]}
  GET  /api/functions             → {"functions": [...]}

Scale note: the server never buffers unbounded results — ``limit``
(default 1000) caps the collected page exactly like the reference's
result-paging (QueryResultResource cacheIdSeq pages), and the server
caps ``limit`` itself at ``MAX_PAGE_ROWS``: a result past the cap
fails with a 400 naming it instead of reaching the driver.  The heavy
query itself runs distributed on Spark either way.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from tajo_spark.engine import Engine
from tajo_spark.operators.similarity import bounded_collect

DEFAULT_PAGE_LIMIT = 1000
# Server-side page ceiling, whatever ``limit`` a client asks for.
MAX_PAGE_ROWS = 100_000


def _json_cell(v):
    """JSON-encodable cell: native for scalars, str for everything
    Spark-specific (timestamps, decimals, bytearrays, nested rows)."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _json_cell(x) for k, x in v.items()}
    return str(v)


class _Handler(BaseHTTPRequestHandler):
    engine: Engine  # set by make_server

    # -- plumbing ----------------------------------------------------------
    def _reply(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, fmt, *args):  # quiet: no stderr per request
        pass

    # -- routes ------------------------------------------------------------
    def do_GET(self) -> None:  # noqa: N802 (stdlib casing)
        parts = [p for p in self.path.split("?")[0].split("/") if p]
        spark = self.engine.spark
        try:
            if parts == ["api", "databases"]:
                dbs = [d.name for d in spark.catalog.listDatabases()]
                self._reply(200, {"databases": dbs})
            elif (
                len(parts) == 4
                and parts[:2] == ["api", "databases"]
                and parts[3] == "tables"
            ):
                tables = [
                    t.name for t in spark.catalog.listTables(parts[2])
                ]
                self._reply(200, {"tables": tables})
            elif parts == ["api", "functions"]:
                from tajo_spark.functions.registry import SQL_FUNCTIONS

                fns = sorted(
                    set(SQL_FUNCTIONS)
                    | {
                        f.name
                        for f in spark.catalog.listFunctions()
                        if f.isTemporary
                    }
                )
                self._reply(200, {"functions": fns})
            else:
                self._reply(404, {"error": f"no route for {self.path}"})
        except Exception as exc:  # surface engine errors as 400 JSON
            self._reply(400, {"error": str(exc)})

    def do_POST(self) -> None:  # noqa: N802
        parts = [p for p in self.path.split("?")[0].split("/") if p]
        if parts != ["api", "queries"]:
            self._reply(404, {"error": f"no route for {self.path}"})
            return
        try:
            n = int(self.headers.get("Content-Length", "0"))
            req = json.loads(self.rfile.read(n) or b"{}")
            sql = req.get("query")
            if not sql:
                self._reply(400, {"error": "missing 'query'"})
                return
            limit = int(req.get("limit", DEFAULT_PAGE_LIMIT))
            df = self.engine.execute_sql(sql)
            if df is None:  # session directive / DDL without result
                self._reply(200, {"ok": True})
                return
            rows = bounded_collect(
                df.limit(min(limit, MAX_PAGE_ROWS + 1)),
                MAX_PAGE_ROWS,
                "REST result page (MAX_PAGE_ROWS)",
            )
            self._reply(
                200,
                {
                    "columns": list(df.columns),
                    "rows": [[_json_cell(v) for v in r] for r in rows],
                    "row_count": len(rows),
                },
            )
        except Exception as exc:
            self._reply(400, {"error": str(exc)})


def make_server(
    engine: Engine, host: str = "127.0.0.1", port: int = 0
) -> ThreadingHTTPServer:
    """Bind (but don't serve) — call ``serve_forever`` or use
    :func:`serve_background`. ``port=0`` picks a free port
    (``server.server_address[1]``)."""
    handler = type("BoundHandler", (_Handler,), {"engine": engine})
    return ThreadingHTTPServer((host, port), handler)


def serve_background(
    engine: Engine, host: str = "127.0.0.1", port: int = 0
) -> tuple[ThreadingHTTPServer, threading.Thread]:
    server = make_server(engine, host, port)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, t
