"""Minimal HTTP query boundary (reference README.adoc:14 context —
upstream core2 ships an HTTP server module alongside pgwire/Flight;
SURVEY.md §3 client boundary).

One read surface, two encodings:

- ``POST /query`` with JSON body ``{"sql": "..."}`` →
  - ``Accept: application/vnd.apache.arrow.stream`` → Arrow IPC
    stream bytes (the zero-copy path a data client wants),
  - anything else → JSON ``{"columns": [...], "rows": [[...], ...]}``
    (the curl/browser path);
- ``POST /tx`` with ``{"statements": ["...", ...], "tx_time": ...?}``
  → the statements run as ONE engine transaction; response carries
  the committed transaction time;
- ``GET /tables`` → the table catalog;
- ``GET /basis`` → the current log head serialized as a portable
  basis token; ``POST /query`` accepts an optional ``"basis"`` field
  carrying such a token, so a client can pin one snapshot and run
  many queries against it across requests — the reference's
  pass-a-basis contract over HTTP;
- ``GET /changes?table=t&since=...[&until=...]`` → the CDC feed
  (``Snapshot.changes``) for that window, Arrow IPC or JSON by
  ``Accept`` — an HTTP consumer can tail the transaction log with
  nothing but a cursor over its last-seen system time.

This module keeps only the HTTP framing; statement execution, the
result guard and the read-only rule live in ``statements``.  Any
failure is a 400 carrying the error message.
"""

from __future__ import annotations

import json
import threading
from collections.abc import Callable
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyarrow as pa
from pyspark.sql import DataFrame

from core2_spark.statements import Statements

ARROW_MIME = "application/vnd.apache.arrow.stream"


def _table_to_ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().to_pybytes()


def _table_to_json(table: pa.Table) -> bytes:
    cols = table.column_names
    rows = [
        [None if v is None else (v if isinstance(v, (int, float, str, bool)) else str(v)) for v in rec]
        for rec in zip(*[table.column(c).to_pylist() for c in cols])
    ]
    return json.dumps({"columns": cols, "rows": rows}).encode()


class SqlHttpServer:
    """Serve ``executor(sql) -> DataFrame`` over HTTP on a background
    thread.  ``port=0`` picks a free port (exposed as ``.port``)."""

    def __init__(
        self,
        executor: Callable[[str], DataFrame],
        port: int = 0,
        max_result_rows: int = 1_000_000,
        engine=None,
    ):
        stmts = Statements(executor, engine, max_result_rows)

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # quiet test output
                pass

            def _send(self, code: int, body: bytes, ctype: str) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _json(self, code: int, obj) -> None:
                self._send(code, json.dumps(obj).encode(), "application/json")

            def do_GET(self):
                self._respond(
                    {"/tables": self._tables, "/basis": self._basis,
                     "/changes": self._changes}
                )

            def do_POST(self):
                self._respond(
                    {"/query": self._query, "/xtql": self._xtql, "/tx": self._tx}
                )

            def _respond(self, routes: dict) -> None:
                """Run the route; an Arrow result is sent as IPC or JSON
                by ``Accept``, anything else as JSON."""
                route = routes.get(urlparse(self.path).path)
                if route is None:
                    return self._json(404, {"error": f"no route {self.path}"})
                try:
                    out = route()
                except Exception as exc:  # any failure is the client's 400
                    return self._json(400, {"error": str(exc) or repr(exc)})
                if not isinstance(out, pa.Table):
                    self._json(200, out)
                elif ARROW_MIME in self.headers.get("Accept", ""):
                    self._send(200, _table_to_ipc(out), ARROW_MIME)
                else:
                    self._send(200, _table_to_json(out), "application/json")

            def _body(self, field: str, nonempty_list: bool = False) -> dict:
                """The JSON request body; ``field`` is required."""
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    spec = json.loads(self.rfile.read(n).decode())
                    value = spec[field]
                except (ValueError, KeyError, TypeError) as exc:
                    raise ValueError(f"bad request body: {exc!r}") from exc
                if nonempty_list and not (isinstance(value, list) and value):
                    raise ValueError(f"bad request body: {field} must be a non-empty list")
                return spec

            def _tables(self):
                return {"tables": sorted(stmts.engine()._all_tables())}

            def _basis(self):
                from core2_spark.basis import basis_to_json

                return {"basis": basis_to_json(stmts.snapshot().basis)}

            def _changes(self):
                params = parse_qs(urlparse(self.path).query)
                try:
                    table, since = params["table"][0], params["since"][0]
                except (KeyError, IndexError):
                    raise ValueError(
                        "required query params: table, since (until optional)"
                    ) from None
                until = params.get("until", [None])[0]
                feed = stmts.snapshot().changes(table, since=since, until=until)
                return stmts.to_arrow(feed)

            def _query(self):
                spec = self._body("sql")
                return stmts.read(spec["sql"], spec.get("basis"))

            def _xtql(self):
                """``POST /xtql`` with ``{"query": [<pipeline ops>],
                "basis": token?}`` — the reference serves its pipeline
                language over HTTP as JSON; the ops are exactly the
                xtql.py dict representation."""
                spec = self._body("query", nonempty_list=True)
                snap = stmts.snapshot(spec.get("basis"))
                return stmts.to_arrow(snap.xtql(spec["query"]))

            def _tx(self):
                spec = self._body("statements", nonempty_list=True)
                basis = stmts.write(spec["statements"], tx_time=spec.get("tx_time"))
                return {"tx_time": basis.current_time.isoformat()}

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()

    def shutdown(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def http_query(port: int, sql: str, arrow: bool = False):
    """Client helper: POST a query; returns a pyarrow Table (arrow=True)
    or the decoded JSON payload."""
    import urllib.request

    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/query",
        data=json.dumps({"sql": sql}).encode(),
        headers={
            "Content-Type": "application/json",
            "Accept": ARROW_MIME if arrow else "application/json",
        },
    )
    with urllib.request.urlopen(req) as resp:
        body = resp.read()
    if arrow:
        return pa.ipc.open_stream(body).read_all()
    return json.loads(body)
