"""Arrow Flight result server (reference README.adoc:14 — "preliminary
Arrow Flight SQL driver support"; SURVEY.md §3 client boundary).

Two envelopes over one server:

- the REAL FlightSQL protocol envelope: Any-wrapped protobuf commands
  (``CommandStatementQuery`` → FlightInfo with an Any-wrapped
  ``TicketStatementQuery`` → DoGet; plus the catalog introspection
  commands GetCatalogs/GetDbSchemas/GetTables/GetTableTypes a BI tool
  runs on connect) — wire codec in ``flightsql_proto``, no generated
  protobuf classes needed;
- a legacy raw-SQL envelope (descriptor/ticket = SQL text) kept for
  scripting clients.

Prepared statements (round-5): ``ActionCreatePreparedStatement`` /
``ClosePreparedStatement`` actions plus ``CommandPreparedStatementQuery``
and ``CommandPreparedStatementUpdate`` — the prepare-then-execute flow
a stock ADBC/JDBC client defaults to.  The server stays stateless:
the prepared-statement handle IS the statement text (the statements
are parameterless, so nothing needs server-side state), and the
create result carries the IPC-serialized dataset schema so clients
can bind result metadata before executing.

GetFlightInfo only analyzes a statement: the FlightInfo carries the
analyzed schema and unknown (-1) counts, and the statement runs once,
at DoGet.  This module keeps only the Flight framing; statement
execution, write routing, the result guard and parameter binding live
in ``statements``.
"""

from __future__ import annotations

from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame

from core2_spark.statements import Statements, bind_parameters

try:  # grpc support is optional in pyarrow builds
    import pyarrow.flight as _flight
except ImportError:  # pragma: no cover
    _flight = None


class SqlFlightServer(_flight.FlightServerBase if _flight else object):
    """Serve ``executor(sql) -> DataFrame`` results over Arrow Flight;
    optionally accept Arrow uploads as engine transactions via do_put.

    ``executor`` is typically ``Snapshot.sql`` (basis-pinned, temporal
    dialect enabled) or a closure over ``Engine.db()``; ``engine``
    (optional) enables the write side — each do_put stream commits as
    one ``submit_tx`` Put.
    """

    def __init__(
        self,
        executor: Callable[[str], DataFrame],
        location: str = "grpc://127.0.0.1:0",
        max_result_rows: int = 1_000_000,
        engine=None,
    ):
        if _flight is None:  # pragma: no cover
            raise RuntimeError("pyarrow was built without flight support")
        super().__init__(location)
        self._statements = Statements(executor, engine, max_result_rows)

    # -- FlightSQL catalog metadata -----------------------------------
    CATALOG = "core2"
    DB_SCHEMA = "default"

    def _table_names(self) -> list[str]:
        if self._statements.read_only:
            return []
        return sorted(self._statements.engine()._all_tables())

    def _metadata_table(self, name: str, payload: bytes) -> pa.Table:
        """Result sets for the FlightSQL catalog commands, with the
        column names/nullability the public spec fixes."""
        from core2_spark import flightsql_proto as fsql

        if name == "CommandGetCatalogs":
            return pa.table(
                {"catalog_name": pa.array([self.CATALOG], pa.utf8())}
            )
        if name == "CommandGetDbSchemas":
            return pa.table(
                {
                    "catalog_name": pa.array([self.CATALOG], pa.utf8()),
                    "db_schema_name": pa.array([self.DB_SCHEMA], pa.utf8()),
                }
            )
        if name == "CommandGetTableTypes":
            return pa.table({"table_type": pa.array(["TABLE"], pa.utf8())})
        if name == "CommandGetTables":
            spec = fsql.parse_get_tables(payload)
            names = self._table_names()
            pat = spec["table_name_pattern"]
            if pat:  # SQL LIKE pattern (%/_) per the spec
                import re

                rx = re.compile(
                    "^" + re.escape(pat).replace("%", ".*").replace("_", ".") + "$"
                )
                names = [n for n in names if rx.match(n)]
            return pa.table(
                {
                    "catalog_name": pa.array([self.CATALOG] * len(names), pa.utf8()),
                    "db_schema_name": pa.array(
                        [self.DB_SCHEMA] * len(names), pa.utf8()
                    ),
                    "table_name": pa.array(names, pa.utf8()),
                    "table_type": pa.array(["TABLE"] * len(names), pa.utf8()),
                }
            )
        raise _flight.FlightServerError(f"unsupported FlightSQL command {name}")

    # -- Flight protocol ----------------------------------------------
    @staticmethod
    def _decode(command: bytes) -> tuple[str | None, str | None, bytes]:
        """A descriptor command or ticket → ``(FlightSQL message name,
        statement text, payload)``.  The name is None for the legacy
        raw-SQL envelope; the text is None for a catalog command."""
        from core2_spark import flightsql_proto as fsql

        parsed = fsql.unpack_any(command)
        if parsed is None:
            return None, command.decode(), b""
        name, payload = parsed
        if name == "CommandStatementQuery":
            return name, fsql.parse_statement_query(payload), payload
        if name == "TicketStatementQuery":
            return name, fsql.parse_statement_ticket(payload).decode(), payload
        if name == "CommandPreparedStatementQuery":
            # stateless prepared statements: the handle is the SQL
            sql = fsql.parse_prepared_statement_handle(payload).decode()
            return name, sql, payload
        return name, None, payload

    def get_flight_info(self, context, descriptor):
        """GetFlightInfo: FlightSQL Any-wrapped commands get the
        protocol-correct envelope (statement queries answer with an
        Any-wrapped TicketStatementQuery whose handle is the query
        text — the server is stateless; catalog commands answer with
        the command itself as the ticket, as the spec prescribes).
        Anything else is the legacy envelope: raw SQL bytes.  Counts
        are -1 (unknown), which the spec allows."""
        from core2_spark import flightsql_proto as fsql

        cmd = descriptor.command
        name, sql, payload = self._decode(cmd)
        if sql is None:
            schema = self._metadata_table(name, payload).schema
        else:
            schema = self._statements.describe(sql)
        ticket = (
            fsql.ticket_statement_query(sql.encode())
            if name == "CommandStatementQuery"
            else cmd
        )
        return _flight.FlightInfo(
            schema,
            descriptor,
            [_flight.FlightEndpoint(_flight.Ticket(ticket), [])],
            -1,
            -1,
        )

    def do_get(self, context, ticket):
        name, sql, payload = self._decode(ticket.ticket)
        if sql is None:
            return _flight.RecordBatchStream(self._metadata_table(name, payload))
        return _flight.RecordBatchStream(self._statements.read(sql))

    # -- FlightSQL prepared statements (actions) ------------------------
    def list_actions(self, context):
        return [
            ("CreatePreparedStatement", "Prepare a SQL statement"),
            ("ClosePreparedStatement", "Release a prepared statement"),
        ]

    def do_action(self, context, action):
        """CreatePreparedStatement: handle = the statement text (the
        server is stateless; statements are parameterless), dataset
        schema resolved by analyzing the query — no execution.  The
        result is Any-wrapped, as the arrow implementations emit it.
        ClosePreparedStatement: nothing to release."""
        from core2_spark import flightsql_proto as fsql

        body = bytes(action.body.to_pybytes()) if action.body else b""
        if action.type == "CreatePreparedStatement":
            parsed = fsql.unpack_any(body)
            if parsed is None or parsed[0] != "ActionCreatePreparedStatementRequest":
                raise _flight.FlightServerError(
                    "CreatePreparedStatement expects an Any-wrapped "
                    "ActionCreatePreparedStatementRequest"
                )
            sql = fsql.parse_action_create_prepared_statement_request(parsed[1])
            try:
                # analysis only, serialized as an IPC-encapsulated
                # message per the spec
                schema_bytes = self._statements.describe(sql).serialize().to_pybytes()
            except Exception:
                schema_bytes = b""  # schema optional; execute still works
            yield _flight.Result(
                pa.py_buffer(
                    fsql.action_create_prepared_statement_result(
                        sql.encode(), schema_bytes
                    )
                )
            )
        elif action.type == "ClosePreparedStatement":
            return
        else:
            raise _flight.FlightServerError(
                f"unsupported action {action.type!r}"
            )

    def do_put(self, context, descriptor, reader, writer):
        """Write path and parameter binding:

        - FlightSQL ``CommandStatementUpdate`` and
          ``CommandPreparedStatementUpdate``: the statement, bound to
          the stream's parameter row, runs as one engine transaction;
          the app-metadata response is a ``DoPutUpdateResult`` (-1 =
          count unknown — DML compiles against the pre-tx snapshot,
          counting would double-execute it);
        - ``CommandPreparedStatementQuery``: binds the parameter row
          and answers with the bound handle;
        - legacy JSON ``{"table": ..., "tx_time": ...?}``: the Arrow
          stream commits atomically as one submit_tx Put."""
        from core2_spark import flightsql_proto as fsql

        parsed = fsql.unpack_any(descriptor.command)
        if parsed is None:
            import json

            from core2_spark.engine import Put

            engine = self._statements.engine()
            spec = json.loads(descriptor.command.decode())
            rows = engine.spark.createDataFrame(reader.read_all().to_pandas())
            engine.submit_tx([Put(spec["table"], rows)], tx_time=spec.get("tx_time"))
            return
        name, payload = parsed
        params = reader.read_all()  # bound parameters; empty for an update
        if name == "CommandStatementUpdate":
            self._statements.write([fsql.parse_statement_update(payload)])
        elif name in ("CommandPreparedStatementQuery", "CommandPreparedStatementUpdate"):
            handle = fsql.parse_prepared_statement_handle(payload).decode()
            sql = _bind_parameters(handle, params)
            if name == "CommandPreparedStatementQuery":
                # parameter binding (the ADBC flow for `... WHERE x = ?`):
                # the server is stateless, so the reply's app metadata
                # returns an UPDATED handle — the bound statement text
                writer.write(
                    pa.py_buffer(fsql.do_put_prepared_statement_result(sql.encode()))
                )
                return
            self._statements.write([sql])
        else:
            raise _flight.FlightServerError(
                f"unsupported FlightSQL DoPut command {name}"
            )
        writer.write(pa.py_buffer(fsql.do_put_update_result(-1)))


def _bind_parameters(sql: str, params: pa.Table) -> str:
    """Bind the first row of ``params`` to the ``?`` placeholders:
    FlightSQL sends parameter values as an Arrow record batch."""
    values = [col[0].as_py() for col in params.columns] if params.num_rows else []
    return bind_parameters(sql, values)


def fetch_sql(location: str, sql: str) -> pa.Table:
    """Client helper: run SQL against a SqlFlightServer and return the
    Arrow result (what a Flight-speaking BI tool does under the hood)."""
    client = _flight.connect(location)
    try:
        info = client.get_flight_info(
            _flight.FlightDescriptor.for_command(sql.encode())
        )
        return client.do_get(info.endpoints[0].ticket).read_all()
    finally:
        client.close()


def fetch_flightsql(location: str, command: bytes) -> pa.Table:
    """Client helper speaking the REAL FlightSQL envelope: ``command``
    is an Any-wrapped FlightSQL message (see ``flightsql_proto``), the
    GetFlightInfo → endpoint ticket → DoGet handshake is exactly what
    a stock ADBC/JDBC FlightSQL driver performs."""
    client = _flight.connect(location)
    try:
        info = client.get_flight_info(
            _flight.FlightDescriptor.for_command(command)
        )
        return client.do_get(info.endpoints[0].ticket).read_all()
    finally:
        client.close()


def prepare_and_fetch(location: str, sql: str) -> tuple[pa.Table, pa.Schema | None]:
    """Client helper for the prepare-then-execute flow a stock ADBC
    driver performs: CreatePreparedStatement action → read the
    Any-wrapped result (handle + dataset schema) →
    CommandPreparedStatementQuery with the handle → GetFlightInfo →
    DoGet → ClosePreparedStatement.  Returns (result table, dataset
    schema advertised at prepare time — None if the server omitted it)."""
    from core2_spark import flightsql_proto as fsql

    client = _flight.connect(location)
    try:
        results = list(
            client.do_action(
                _flight.Action(
                    "CreatePreparedStatement",
                    fsql.action_create_prepared_statement_request(sql),
                )
            )
        )
        parsed = fsql.unpack_any(bytes(results[0].body.to_pybytes()))
        assert parsed is not None and parsed[0] == "ActionCreatePreparedStatementResult"
        res = fsql.parse_action_create_prepared_statement_result(parsed[1])
        schema = (
            pa.ipc.read_schema(pa.py_buffer(res["dataset_schema"]))
            if res["dataset_schema"]
            else None
        )
        info = client.get_flight_info(
            _flight.FlightDescriptor.for_command(
                fsql.command_prepared_statement_query(res["handle"])
            )
        )
        table = client.do_get(info.endpoints[0].ticket).read_all()
        list(
            client.do_action(
                _flight.Action(
                    "ClosePreparedStatement",
                    fsql.action_close_prepared_statement_request(res["handle"]),
                )
            )
        )
        return table, schema
    finally:
        client.close()


def prepare_bind_fetch(location: str, sql: str, params: list) -> pa.Table:
    """Client helper for the PARAMETERIZED prepare flow: prepare a
    statement with ``?`` placeholders, DoPut one record batch of
    parameter values against the handle, read the updated handle from
    the app metadata, then execute it — byte-for-byte the stock ADBC
    sequence for ``SELECT ... WHERE x = ?``."""
    from core2_spark import flightsql_proto as fsql

    client = _flight.connect(location)
    try:
        results = list(
            client.do_action(
                _flight.Action(
                    "CreatePreparedStatement",
                    fsql.action_create_prepared_statement_request(sql),
                )
            )
        )
        parsed = fsql.unpack_any(bytes(results[0].body.to_pybytes()))
        res = fsql.parse_action_create_prepared_statement_result(parsed[1])

        batch = pa.table({f"p{i}": [v] for i, v in enumerate(params)})
        desc = _flight.FlightDescriptor.for_command(
            fsql.command_prepared_statement_query(res["handle"])
        )
        writer, meta_reader = client.do_put(desc, batch.schema)
        writer.write_table(batch)
        writer.done_writing()
        ack = meta_reader.read()
        bound_handle = fsql.parse_do_put_prepared_statement_result(
            bytes(ack.to_pybytes())
        )
        writer.close()

        info = client.get_flight_info(
            _flight.FlightDescriptor.for_command(
                fsql.command_prepared_statement_query(bound_handle)
            )
        )
        table = client.do_get(info.endpoints[0].ticket).read_all()
        list(
            client.do_action(
                _flight.Action(
                    "ClosePreparedStatement",
                    fsql.action_close_prepared_statement_request(bound_handle),
                )
            )
        )
        return table
    finally:
        client.close()


def put_table(
    location: str, table_name: str, table: pa.Table, tx_time: str | None = None
) -> None:
    """Client helper: upload an Arrow table as one engine transaction."""
    import json

    client = _flight.connect(location)
    try:
        desc = _flight.FlightDescriptor.for_command(
            json.dumps({"table": table_name, "tx_time": tx_time}).encode()
        )
        writer, _ = client.do_put(desc, table.schema)
        writer.write_table(table)
        writer.close()
    finally:
        client.close()
