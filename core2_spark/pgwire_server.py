"""Minimal PostgreSQL wire-protocol (v3) query server (reference
README.adoc:14 context — upstream core2 ships a `pgwire.clj` module;
SURVEY.md §3 client boundary).

The simple-query subset of the public protocol, enough for a psql-/
driver-shaped client to connect and run queries:

- SSLRequest → refused with 'N' (plaintext only, in-container use);
- StartupMessage (protocol 3.0) → AuthenticationOk, ParameterStatus
  (server_version / client_encoding), ReadyForQuery;
- Query ('Q') → RowDescription / DataRow* / CommandComplete /
  ReadyForQuery, all values in text format with proper type OIDs for
  the common Spark types;
- errors → ErrorResponse + ReadyForQuery (the session survives);
- Terminate ('X') → close.

Extended query protocol (round-5): Parse ('P') / Bind ('B') /
Describe ('D') / Execute ('E') / Close ('C') / Flush ('H') / Sync
('S') — the flow real drivers (psycopg, JDBC) send even for plain
SELECTs.  Named and unnamed statements/portals, text-format results,
text-format parameters substituted as SQL literals at Bind time
(``$1``..``$n``), NoData/EmptyQueryResponse where the spec requires.
After an error in extended mode the session skips messages until Sync
(per the spec), so a failed statement never desynchronizes the
stream.  Execute's max-row count is not honored (all rows stream, no
PortalSuspended) — stock drivers send 0 (= no limit).

COPY and auth methods beyond trust are not implemented — the same
"preliminary driver support" tier as the Flight SQL boundary.  This
module keeps only the wire framing; statement execution, write
routing, the result guard and parameter binding live in
``statements``.
"""

from __future__ import annotations

import socketserver
import struct
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame

from core2_spark.sql_dml import write_verb
from core2_spark.statements import Statements, bind_parameters

# PostgreSQL type OIDs for the text-format encoding, keyed by Arrow type
# name (``str(pa.DataType)`` up to its first "(" or "[").
_OID = {
    "bool": 16,
    "int64": 20,
    "int16": 21,
    "int32": 23,
    "double": 701,
    "float": 700,
    "date32": 1082,
    "timestamp": 1114,
    "string": 25,
}
_TEXT_OID = 25


def _type_oid(arrow_type) -> int:
    base = str(arrow_type).split("(")[0].split("[")[0]
    return _OID.get(base, _TEXT_OID)


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + struct.pack("!I", len(payload) + 4) + payload


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _command_tag(verb: str) -> str:
    """CommandComplete tag for a write.  Row counts are unreported (DML
    compiles against the pre-tx snapshot; counting would double-execute
    it), but drivers parse a count field, and INSERT's tag carries an
    oid field before it."""
    return "INSERT 0 0" if verb == "INSERT" else f"{verb} 0"


class PgWireServer:
    """Serve ``executor(sql) -> DataFrame`` over the pg simple-query
    protocol on a background thread; ``port=0`` picks a free port."""

    def __init__(
        self,
        executor: Callable[[str], DataFrame],
        port: int = 0,
        max_result_rows: int = 1_000_000,
        engine=None,
    ):
        stmts = Statements(executor, engine, max_result_rows)

        class Handler(socketserver.BaseRequestHandler):
            def _send(self, data: bytes) -> None:
                self.request.sendall(data)

            def _recv_exact(self, n: int) -> bytes:
                buf = b""
                while len(buf) < n:
                    chunk = self.request.recv(n - len(buf))
                    if not chunk:
                        raise ConnectionError("client closed")
                    buf += chunk
                return buf

            def _ready(self) -> None:
                self._send(_msg(b"Z", b"I"))

            def _error(self, message: str) -> None:
                payload = (
                    b"S" + _cstr("ERROR")
                    + b"C" + _cstr("XX000")
                    + b"M" + _cstr(message)
                    + b"\x00"
                )
                self._send(_msg(b"E", payload))

            def _startup(self) -> bool:
                while True:
                    (length,) = struct.unpack("!I", self._recv_exact(4))
                    body = self._recv_exact(length - 4)
                    (code,) = struct.unpack("!I", body[:4])
                    if code == 80877103:  # SSLRequest
                        self._send(b"N")
                        continue
                    if code == 80877102:  # CancelRequest — ignore
                        return False
                    if code >> 16 == 3:  # protocol 3.x startup
                        self._send(_msg(b"R", struct.pack("!I", 0)))  # AuthOk
                        for k, v in (
                            ("server_version", "16.0 (core2-spark)"),
                            ("client_encoding", "UTF8"),
                            ("DateStyle", "ISO"),
                        ):
                            self._send(_msg(b"S", _cstr(k) + _cstr(v)))
                        self._ready()
                        return True
                    self._error(f"unsupported protocol code {code}")
                    return False

            def _row_description(self, schema) -> bytes:
                fields = b"".join(
                    _cstr(field.name)
                    + struct.pack(
                        "!IhIhih",
                        0,  # table oid
                        0,  # attnum
                        _type_oid(field.type),
                        -1,  # typlen (varlena)
                        -1,  # typmod
                        0,  # text format
                    )
                    for field in schema
                )
                return _msg(b"T", struct.pack("!h", len(schema)) + fields)

            def _send_data_rows(self, table) -> None:
                cols = [table.column(c).to_pylist() for c in table.column_names]
                for rec in zip(*cols) if cols else []:
                    row = struct.pack("!h", len(rec))
                    for v in rec:
                        if v is None:
                            row += struct.pack("!i", -1)
                        else:
                            if isinstance(v, bool):
                                b = b"t" if v else b"f"
                            else:
                                b = str(v).encode()
                            row += struct.pack("!i", len(b)) + b
                    self._send(_msg(b"D", row))

            @staticmethod
            def _is_read(sql: str) -> bool:
                return bool(sql) and write_verb(sql) is None

            def _portal_table(self, portal: dict):
                """Run the portal's read once, lazily: Describe and
                Execute share the result (drivers Describe right before
                Execute; running twice would double-execute)."""
                if "table" not in portal:
                    portal["table"] = stmts.read(portal["sql"])
                return portal["table"]

            def _execute(self, portal: dict, describe: bool) -> None:
                """Run the portal's statement and send its result; a
                simple Query sends the RowDescription too (``describe``),
                Execute leaves it to Describe."""
                sql = portal["sql"]
                if not sql:
                    self._send(_msg(b"I", b""))  # EmptyQueryResponse
                    return
                verb = write_verb(sql)
                if verb is not None:
                    stmts.write([sql])
                    self._send(_msg(b"C", _cstr(_command_tag(verb))))
                    return
                table = self._portal_table(portal)
                if describe:
                    self._send(self._row_description(table.schema))
                self._send_data_rows(table)
                self._send(_msg(b"C", _cstr(f"SELECT {table.num_rows}")))

            # -- extended query protocol --------------------------------
            @staticmethod
            def _read_cstr(body: bytes, i: int) -> tuple[str, int]:
                j = body.index(b"\x00", i)
                return body[i:j].decode(), j + 1

            def _handle_extended(self, tag: bytes, body: bytes) -> None:
                if tag == b"P":  # Parse
                    name, i = self._read_cstr(body, 0)
                    sql, i = self._read_cstr(body, i)
                    # declared parameter-type OIDs are accepted and
                    # ignored (text-format substitution at Bind)
                    self._stmts[name] = sql.strip().rstrip(";")
                    self._send(_msg(b"1", b""))  # ParseComplete
                    return
                if tag == b"B":  # Bind
                    portal, i = self._read_cstr(body, 0)
                    stmt, i = self._read_cstr(body, i)
                    if stmt not in self._stmts:
                        raise ValueError(f"unknown prepared statement {stmt!r}")
                    (nfmt,) = struct.unpack_from("!h", body, i)
                    i += 2 + 2 * nfmt  # param format codes (text assumed)
                    (nparams,) = struct.unpack_from("!h", body, i)
                    i += 2
                    params: list[str | None] = []
                    for _ in range(nparams):
                        (ln,) = struct.unpack_from("!i", body, i)
                        i += 4
                        if ln == -1:
                            params.append(None)
                        else:
                            params.append(body[i : i + ln].decode())
                            i += ln
                    sql = bind_parameters(self._stmts[stmt], params)
                    self._portals[portal] = {"sql": sql}
                    self._send(_msg(b"2", b""))  # BindComplete
                    return
                if tag == b"D":  # Describe
                    kind, body_rest = body[:1], body[1:]
                    name, _ = self._read_cstr(body_rest, 0)
                    if kind == b"S":
                        if name not in self._stmts:
                            raise ValueError(f"unknown prepared statement {name!r}")
                        # parameterless after Bind-time substitution
                        self._send(_msg(b"t", struct.pack("!h", 0)))
                        sql = self._stmts[name]
                        if self._is_read(sql):
                            # analysis only: Describe must not execute
                            self._send(self._row_description(stmts.describe(sql)))
                        else:
                            self._send(_msg(b"n", b""))  # NoData
                        return
                    portal = self._portals.get(name)
                    if portal is None:
                        raise ValueError(f"unknown portal {name!r}")
                    if self._is_read(portal["sql"]):
                        table = self._portal_table(portal)
                        self._send(self._row_description(table.schema))
                    else:  # writes run at Execute time
                        self._send(_msg(b"n", b""))  # NoData
                    return
                if tag == b"E":  # Execute (max-rows count ignored)
                    name, _ = self._read_cstr(body, 0)
                    portal = self._portals.get(name)
                    if portal is None:
                        raise ValueError(f"unknown portal {name!r}")
                    self._execute(portal, describe=False)
                    return
                if tag == b"C":  # Close statement/portal
                    kind, body_rest = body[:1], body[1:]
                    name, _ = self._read_cstr(body_rest, 0)
                    (self._stmts if kind == b"S" else self._portals).pop(name, None)
                    self._send(_msg(b"3", b""))  # CloseComplete
                    return
                raise ValueError(f"unsupported extended message {tag!r}")

            def handle(self):
                self._stmts: dict[str, str] = {}
                self._portals: dict[str, dict] = {}
                # after an extended-protocol error, skip until Sync
                skip_to_sync = False
                try:
                    if not self._startup():
                        return
                    while True:
                        tag = self._recv_exact(1)
                        (length,) = struct.unpack("!I", self._recv_exact(4))
                        body = self._recv_exact(length - 4)
                        if tag == b"X":  # Terminate
                            return
                        if tag == b"S":  # Sync
                            skip_to_sync = False
                            self._ready()
                            continue
                        if skip_to_sync:
                            continue
                        if tag == b"H":  # Flush — sendall is unbuffered
                            continue
                        if tag == b"Q":
                            sql = body.rstrip(b"\x00").decode()
                            try:
                                self._execute(
                                    {"sql": sql.strip().rstrip(";")},
                                    describe=True,
                                )
                            except Exception as exc:
                                # str() carries the analyzer message;
                                # pyspark exception reprs are often empty
                                self._error(str(exc) or repr(exc))
                            self._ready()
                            continue
                        if tag in (b"P", b"B", b"D", b"E", b"C"):
                            try:
                                self._handle_extended(tag, body)
                            except Exception as exc:
                                self._error(str(exc) or repr(exc))
                                skip_to_sync = True
                            continue
                        self._error(f"unsupported message {tag!r}")
                        self._ready()
                except (ConnectionError, OSError):
                    return

        class Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._server = Server(("127.0.0.1", port), Handler)
        self.port = self._server.server_address[1]
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()

    def shutdown(self) -> None:
        self._server.shutdown()
        self._server.server_close()
