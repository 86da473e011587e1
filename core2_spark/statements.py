"""The statement executor behind the HTTP, pgwire and Flight SQL servers.

A wire server decodes a request into statement text, hands it here,
and encodes what comes back; everything in between lives in this
module, once:

- writes (what ``sql_dml.write_verb`` classifies as one) run through
  ``Engine.sql_dml_many``; with no engine attached they fail with the
  one ``READ_ONLY`` error;
- reads run through the server's ``executor(sql) -> DataFrame``
  (typically ``Snapshot.sql``, so the temporal dialect flows through),
  or through ``Engine.db(basis)`` when the request carries a basis
  token (``basis.basis_to_json``);
- the ``max_result_rows`` guard: every wire server is a RESULT
  boundary, not a data-movement path, so an oversized result is
  refused before the driver materializes it;
- schema description from Spark's analysis alone (no job runs);
- one parameter binder for pgwire ``$n`` and Flight SQL ``?``.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pyarrow as pa
from pyspark.sql import DataFrame

READ_ONLY = (
    "this server is read-only: writes and basis tokens need an attached "
    "engine (engine=...)"
)


def df_to_arrow(df: DataFrame, max_result_rows: int | None = None) -> pa.Table:
    """Spark DataFrame → Arrow table (Spark 4's native toArrow), with a
    driver-materialization guard."""
    if max_result_rows is not None:
        n = df.limit(max_result_rows + 1).count()
        if n > max_result_rows:
            raise ValueError(
                f"result exceeds max_result_rows={max_result_rows}; the "
                "server is a result boundary — aggregate or LIMIT before "
                "fetching, or raise the cap deliberately"
            )
    return df.toArrow()


class Statements:
    """Runs one server's statements: reads through ``executor``, writes
    and basis-pinned reads through ``engine`` (None = read-only)."""

    def __init__(
        self,
        executor: Callable[[str], DataFrame],
        engine,
        max_result_rows: int,
    ):
        self._executor = executor
        self._engine = engine
        self._max_result_rows = max_result_rows

    @property
    def read_only(self) -> bool:
        return self._engine is None

    def engine(self):
        """The attached engine; ``READ_ONLY`` when there is none."""
        if self._engine is None:
            raise ValueError(READ_ONLY)
        return self._engine

    def snapshot(self, basis: str | None = None):
        """``Engine.db`` at a basis token, or at the log head for None."""
        from core2_spark.basis import basis_from_json

        return self.engine().db(None if basis is None else basis_from_json(basis))

    def write(self, statements: list[str], tx_time=None):
        """Run ``statements`` as one transaction; returns its basis."""
        return self.engine().sql_dml_many(statements, tx_time=tx_time)

    def _frame(self, sql: str, basis: str | None = None) -> DataFrame:
        """The read's DataFrame, analyzed but not run."""
        if basis is None:
            return self._executor(sql)
        return self.snapshot(basis).sql(sql)

    def describe(self, sql: str) -> pa.Schema:
        """The schema ``read`` returns, from Spark's analysis alone: no
        job runs.  The arguments are the ones ``DataFrame.toArrow``
        passes."""
        from pyspark.sql.pandas.types import to_arrow_schema

        df = self._frame(sql)
        return to_arrow_schema(
            df.schema,
            error_on_duplicated_field_names_in_struct=True,
            prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes(),
        )

    def read(self, sql: str, basis: str | None = None) -> pa.Table:
        """Run a read, at ``basis`` when given; the result is guarded."""
        return self.to_arrow(self._frame(sql, basis))

    def to_arrow(self, df: DataFrame) -> pa.Table:
        """``df`` as Arrow under this server's ``max_result_rows`` guard."""
        return df_to_arrow(df, self._max_result_rows)


def _sql_literal(value) -> str:
    """``value`` as a Spark SQL literal.  Strings escape both the quote
    and the backslash, so no value can end its literal early."""
    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "TRUE" if value else "FALSE"
    if isinstance(value, (int, float)):
        return repr(value)
    if isinstance(value, (bytes, bytearray)):
        return "X'" + bytes(value).hex() + "'"
    return "'" + str(value).replace("\\", "\\\\").replace("'", "''") + "'"


# Quoted text (strings with '' or backslash escapes, `identifiers`)
# matches whole, so a placeholder inside it is copied unchanged.
_PLACEHOLDER = re.compile(
    r"'(?:[^'\\]|\\.|'')*'"
    r'|"(?:[^"\\]|\\.|"")*"'
    r"|`(?:[^`]|``)*`"
    r"|\$(\d+)|(\?)",
    re.DOTALL,
)


def bind_parameters(sql: str, values: list) -> str:
    """Substitute placeholders with ``values`` rendered as SQL literals:
    ``$n`` takes the n-th value (pgwire), each ``?`` the next one
    (Flight SQL).  One left-to-right scan, so neither a literal in the
    statement nor a bound value is ever substituted into.  Placeholders
    without a value are left as they are."""
    positional = iter(range(len(values)))

    def bind(m: re.Match) -> str:
        if m[1]:
            k = int(m[1]) - 1
        elif m[2]:
            k = next(positional, -1)
        else:
            return m[0]  # quoted text
        return _sql_literal(values[k]) if 0 <= k < len(values) else m[0]

    return _PLACEHOLDER.sub(bind, sql)
