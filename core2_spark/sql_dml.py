"""SQL DML → transaction ops (SURVEY.md §2.1 DML sinks, §3.3).

core2 executes SQL DML deterministically at index time: INSERT appends
version rows, UPDATE closes the old version's application period and
appends the new one, DELETE closes it, ERASE physically removes
[upstream: core2 `sql/plan.clj` DML section, `core2/indexer.clj`].

This frontend keeps the same split the engine already has: statements
are parsed here (a small regex skeleton over the research dialect —
the statement *shapes*, not a full SQL grammar), while every value,
predicate, and SET expression is delegated verbatim to Spark SQL
against the pre-transaction snapshot.  The result is a list of
`engine.Put/Delete/Erase` ops executed through `Engine.submit_tx`, so
SQL DML and programmatic ops share one log, one clock, and one
visibility rule.

Supported statements::

    INSERT INTO t (c1, c2, ...) VALUES (...), (...)
    INSERT INTO t RECORDS {c1: v1, c2: v2}, {...}  -- XTDB v2 spelling
    INSERT INTO t SELECT ...                      -- over snapshot views
    PATCH INTO t RECORDS {id: 1, c1: v1}, {...}   -- merge partial docs
    UPDATE t [FOR PORTION OF APPLICATION_TIME FROM 'a' TO 'b']
        SET c = expr, ... [WHERE pred]       -- VALID_TIME = synonym
    DELETE FROM t [FOR PORTION OF APPLICATION_TIME FROM 'a' TO 'b']
        [WHERE pred]
    ERASE FROM t [WHERE pred]
    ASSERT <boolean expr> [, 'message']  -- abort tx when false/NULL
    MERGE INTO t [AS] a USING (src_table | (SELECT ...)) [AS] s
        ON a.id = s.id
        [WHEN MATCHED [AND cond] THEN UPDATE SET c = expr, ...]
        [WHEN MATCHED [AND cond] THEN DELETE]
        [WHEN NOT MATCHED [AND cond] THEN INSERT (c1, ...) VALUES (e1, ...)]

Maintenance statements (NOT log ops — they execute immediately, like
their Engine-method counterparts)::

    CREATE MATERIALIZED VIEW v AS
        SELECT k1, k2, COUNT(*) AS n, SUM(c) AS s FROM t GROUP BY k1, k2
    REFRESH MATERIALIZED VIEW v
    DROP MATERIALIZED VIEW v
    VACUUM t OLDER THAN TIMESTAMP '2024-03-01'
    OPTIMIZE t [ZORDER BY (c1, c2)]

The CREATE shape is exactly the incrementally-maintainable form
mviews.py supports: bare key columns (repeated in GROUP BY) plus
COUNT(*)/COUNT(DISTINCT c)/SUM/MIN/MAX/AVG aggregates, one table, no
WHERE — a deliberate subset, rejected loudly otherwise.

UPDATE appends new versions of the matched current rows (the old
versions stay visible to historical queries — core2's semantics);
DELETE appends tombstones; ERASE rewrites the table without the ids
(the only destructive op, as upstream).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

_ASSERT_STMT = re.compile(
    r"^\s*ASSERT\s+(?P<body>.+)$", re.IGNORECASE | re.DOTALL
)
_RECORDS_STMT = re.compile(
    r"^\s*(?P<verb>INSERT|PATCH)\s+INTO\s+(?P<table>\w+)"
    # valid-time-bounded patch: both the reference's FOR VALID_TIME
    # spelling and our SQL:2011 FOR PORTION OF spelling
    r"(?:\s+FOR\s+(?:PORTION\s+OF\s+)?(?:APPLICATION_TIME|VALID_TIME)"
    r"\s+FROM\s+'(?P<app_from>[^']+)'\s+TO\s+'(?P<app_to>[^']+)')?"
    r"\s+RECORDS\s+(?P<records>\{.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_VALUES = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s*\((?P<cols>[^)]*)\)\s*"
    r"VALUES\s*(?P<values>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_SELECT = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s+(?P<select>SELECT\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)"
    r"(?:\s+FOR\s+PORTION\s+OF\s+(?:APPLICATION_TIME|VALID_TIME)\s+FROM\s+"
    r"'(?P<app_from>[^']+)'\s+TO\s+'(?P<app_to>[^']+)')?"
    r"\s+SET\s+(?P<sets>.+?)(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE = re.compile(
    r"^\s*(?P<verb>DELETE|ERASE)\s+FROM\s+(?P<table>\w+)"
    r"(?:\s+FOR\s+PORTION\s+OF\s+(?:APPLICATION_TIME|VALID_TIME)\s+FROM\s+"
    r"'(?P<app_from>[^']+)'\s+TO\s+'(?P<app_to>[^']+)')?"
    r"(?:\s+WHERE\s+(?P<where>.+))?$",
    re.IGNORECASE | re.DOTALL,
)
# The leading keyword of every statement pattern in this module: the
# log DML above, MERGE, and the maintenance statements further down.
# CREATE/REFRESH/DROP exist here only for MATERIALIZED VIEW; any other
# shape starting with one of these words is a write that parse_dml
# rejects loudly, never a read.
_WRITE_HEAD = re.compile(
    r"^\s*(INSERT|PATCH|UPDATE|DELETE|ERASE|MERGE|ASSERT"
    r"|CREATE|REFRESH|DROP|VACUUM|OPTIMIZE)\b",
    re.IGNORECASE,
)


def write_verb(statement: str) -> str | None:
    """The upper-cased leading keyword when ``statement`` is a write
    this module compiles (``Engine.sql_dml_many`` runs it), else None."""
    m = _WRITE_HEAD.match(statement)
    return m[1].upper() if m else None


# -- RECORDS literals (XTDB v2 `INSERT INTO t RECORDS {...}` /
# `PATCH INTO t RECORDS {...}` document spelling) ----------------------


def parse_records(text: str) -> list[dict]:
    """Parse a comma-separated list of ``{key: value, ...}`` record
    literals into Python dicts.  Values: numbers, ``'strings'`` (with
    ``''`` escaping), TRUE/FALSE/NULL, DATE/TIMESTAMP 'iso',
    ``[...]`` arrays, and ``{...}`` nested records (stored as struct
    columns — SURVEY §1.2 dynamic/nested types; PATCH replaces a
    nested value wholesale, top-level shallow merge as upstream)."""
    import datetime as _dt

    i, n = 0, len(text)

    def err(msg: str) -> ValueError:
        return ValueError(f"RECORDS literal: {msg} at offset {i}: "
                          f"...{text[max(0, i - 20):i + 20]!r}...")

    def skip_ws() -> None:
        nonlocal i
        while i < n and text[i].isspace():
            i += 1

    def parse_string() -> str:
        nonlocal i
        assert text[i] == "'"
        i += 1
        out = []
        while i < n:
            if text[i] == "'":
                if i + 1 < n and text[i + 1] == "'":  # '' escape
                    out.append("'")
                    i += 2
                    continue
                i += 1
                return "".join(out)
            out.append(text[i])
            i += 1
        raise err("unterminated string")

    def parse_value():
        nonlocal i
        skip_ws()
        if i >= n:
            raise err("expected a value")
        ch = text[i]
        if ch == "'":
            return parse_string()
        if ch == "[":
            i += 1
            arr = []
            skip_ws()
            if i < n and text[i] == "]":
                i += 1
                return arr
            while True:
                arr.append(parse_value())
                skip_ws()
                if i < n and text[i] == ",":
                    i += 1
                    continue
                if i < n and text[i] == "]":
                    i += 1
                    return arr
                raise err("expected ',' or ']' in array")
        if ch == "{":
            # nested document value → struct-typed column (the
            # reference's nested records); PATCH replaces the whole
            # nested value (top-level shallow merge, as upstream)
            i += 1
            obj: dict = {}
            skip_ws()
            if i < n and text[i] == "}":
                i += 1
                return obj
            while True:
                skip_ws()
                km = re.match(r"\w+", text[i:])
                if not km:
                    raise err("expected a key in nested record")
                k = km.group(0)
                i += km.end()
                skip_ws()
                if i >= n or text[i] != ":":
                    raise err("expected ':' in nested record")
                i += 1
                if k in obj:
                    raise err(f"duplicate key {k!r} in nested record")
                obj[k] = parse_value()
                skip_ws()
                if i < n and text[i] == ",":
                    i += 1
                    continue
                if i < n and text[i] == "}":
                    i += 1
                    return obj
                raise err("expected ',' or '}' in nested record")
        m = re.match(r"-?\d+\.\d+([eE][+-]?\d+)?|-?\d+[eE][+-]?\d+",
                     text[i:])
        if m:
            i += m.end()
            return float(m.group(0))
        m = re.match(r"-?\d+", text[i:])
        if m:
            i += m.end()
            return int(m.group(0))
        m = re.match(r"(TRUE|FALSE|NULL)\b", text[i:], re.IGNORECASE)
        if m:
            i += m.end()
            word = m.group(1).upper()
            return {"TRUE": True, "FALSE": False, "NULL": None}[word]
        m = re.match(r"(DATE|TIMESTAMP)\s*'([^']+)'", text[i:],
                     re.IGNORECASE)
        if m:
            i += m.end()
            raw = m.group(2)
            if m.group(1).upper() == "DATE":
                return _dt.date.fromisoformat(raw)
            return _dt.datetime.fromisoformat(raw)
        raise err("unrecognized value")

    records: list[dict] = []
    while True:
        skip_ws()
        if i >= n:
            break
        if text[i] != "{":
            raise err("expected '{'")
        i += 1
        rec: dict = {}
        skip_ws()
        if i < n and text[i] == "}":
            i += 1
        else:
            while True:
                skip_ws()
                m = re.match(r"\w+", text[i:])
                if not m:
                    raise err("expected a key")
                key = m.group(0)
                i += m.end()
                skip_ws()
                if i >= n or text[i] != ":":
                    raise err("expected ':' after key")
                i += 1
                if key in rec:
                    raise err(f"duplicate key {key!r} in one record")
                rec[key] = parse_value()
                skip_ws()
                if i < n and text[i] == ",":
                    i += 1
                    continue
                if i < n and text[i] == "}":
                    i += 1
                    break
                raise err("expected ',' or '}' in record")
        records.append(rec)
        skip_ws()
        if i < n:
            if text[i] != ",":
                raise err("expected ',' between records")
            i += 1
    if not records:
        raise ValueError("RECORDS literal: no records")
    return records


def _infer_type(values: list):
    """Spark type for a column from its non-null Python values (bool
    before int: bool is an int subclass)."""
    from pyspark.sql import types as T

    vals = [v for v in values if v is not None]
    if not vals:
        return T.StringType()
    if all(isinstance(v, bool) for v in vals):
        return T.BooleanType()
    if all(isinstance(v, int) and not isinstance(v, bool) for v in vals):
        return T.LongType()
    if all(isinstance(v, (int, float)) and not isinstance(v, bool)
           for v in vals):
        return T.DoubleType()
    if all(isinstance(v, str) for v in vals):
        return T.StringType()
    import datetime as _dt

    if all(type(v) is _dt.date for v in vals):
        return T.DateType()
    if all(isinstance(v, _dt.datetime) for v in vals):
        return T.TimestampType()
    if all(isinstance(v, list) for v in vals):
        return T.ArrayType(_infer_type([e for v in vals for e in v]))
    if all(isinstance(v, dict) for v in vals):
        keys: list[str] = []
        for v in vals:
            for k in v:
                if k not in keys:
                    keys.append(k)
        if not keys:
            raise ValueError(
                "RECORDS literal: an empty nested record {} has no "
                "storable type — give it at least one key"
            )
        return T.StructType(
            [
                T.StructField(k, _infer_type([v.get(k) for v in vals]), True)
                for k in keys
            ]
        )
    raise ValueError(
        "RECORDS literal: a key mixes incompatible value types "
        f"across records: {sorted({type(v).__name__ for v in vals})}"
    )


def _drop_allnull_new_keys(records: list[dict],
                           existing: set[str]) -> list[dict]:
    """Remove keys whose value is None in EVERY record and which the
    table does not already have: a null value is not stored (the
    reference's document semantics — reading the key gives NULL either
    way), and keeping it would force a type on a column no value ever
    witnessed (the first all-NULL sighting would otherwise lock the
    merged parquet schema to STRING and corrupt later typed writes)."""
    keys = {k for r in records for k in r}
    dead = {
        k for k in keys
        if k not in existing and all(r.get(k) is None for r in records)
    }
    if not dead:
        return records
    return [{k: v for k, v in r.items() if k not in dead} for r in records]


def _coerce_value(v, dtype):
    """Align a raw Python value with the column's inferred Spark type.
    ``_infer_type`` promotes a key mixing int and float across records
    to DoubleType, but createDataFrame rejects the remaining raw ints
    against an explicit DoubleType schema — the reference's dynamic
    typing accepts `RECORDS {x: 1}, {x: 2.5}`, so coerce (recursively
    through arrays/structs) instead of aborting the transaction."""
    from pyspark.sql import types as T

    if v is None:
        return None
    # A value whose Python shape doesn't match the inferred column type
    # (e.g. {nest: {v: 1}} in one record, {nest: [1]} in another) falls
    # through untouched so createDataFrame reports the schema mismatch
    # as a clean transaction abort instead of an AttributeError here.
    if isinstance(dtype, T.DoubleType):
        return float(v) if isinstance(v, (int, float)) else v
    if isinstance(dtype, T.ArrayType):
        if not isinstance(v, (list, tuple)):
            return v
        return [_coerce_value(e, dtype.elementType) for e in v]
    if isinstance(dtype, T.StructType):
        if not isinstance(v, dict):
            return v
        return {
            f.name: _coerce_value(v.get(f.name), f.dataType)
            for f in dtype.fields
        }
    return v


def records_to_df(spark, records: list[dict], mask_col: str | None = None):
    """Records → DataFrame over the union of keys (first-seen order).
    With ``mask_col``, each row carries the sorted list of keys its
    record actually mentioned — PATCH needs to distinguish 'absent'
    (retain current) from explicit NULL (set null)."""
    from pyspark.sql import types as T

    keys: list[str] = []
    for r in records:
        for k in r:
            if k not in keys:
                keys.append(k)
    fields = [
        T.StructField(k, _infer_type([r.get(k) for r in records]), True)
        for k in keys
    ]
    if mask_col is not None:
        fields.append(
            T.StructField(mask_col, T.ArrayType(T.StringType()), False)
        )
    types = {f.name: f.dataType for f in fields}
    rows = []
    for r in records:
        row = [_coerce_value(r.get(k), types[k]) for k in keys]
        if mask_col is not None:
            row.append(sorted(r.keys()))
        rows.append(tuple(row))
    return spark.createDataFrame(rows, T.StructType(fields))


def _split_set_clauses(sets: str) -> list[tuple[str, str]]:
    """Split `a = expr, b = expr` on top-level commas (not inside
    parentheses or quotes)."""
    parts, depth, in_str, cur = [], 0, False, []
    for ch in sets:
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(cur))
                cur = []
                continue
        cur.append(ch)
    parts.append("".join(cur))
    out = []
    for p in parts:
        col, expr = p.split("=", 1)
        out.append((col.strip(), expr.strip()))
    return out


_MERGE_HEAD = re.compile(
    r"^\s*MERGE\s+INTO\s+(?P<table>\w+)(?:\s+AS)?(?:\s+(?P<talias>(?!USING\b)\w+))?"
    r"\s+USING\s+(?P<source>\w+|\((?:[^()]|\([^()]*\))*\))(?:\s+AS)?"
    r"\s+(?P<salias>\w+)\s+ON\s+(?P<on>.+?)"
    r"(?P<whens>\s+WHEN\s+.+)$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_WHEN = re.compile(
    r"^\s*(?P<notm>NOT\s+)?MATCHED(?:\s+AND\s+(?P<cond>.+?))?\s+THEN\s+"
    r"(?P<action>UPDATE\s+SET\s+.+|DELETE|INSERT\s*\([^)]*\)\s*VALUES\s*\(.+\))\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _split_whens(whens: str) -> list[str]:
    """Split the WHEN-clause tail at top-level ``WHEN`` keywords
    (quote- and paren-aware: a string literal or subquery containing
    the word WHEN must not split — and CASE..WHEN..END inside a THEN
    expression stays intact because CASE raises a depth-like guard)."""
    upper = whens.upper()
    parts: list[str] = []
    depth = 0
    in_str = False
    case_depth = 0
    starts: list[int] = []
    i = 0
    while i < len(whens):
        ch = whens[i]
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif upper[i : i + 4] == "CASE" and _is_word(upper, i, 4):
                case_depth += 1
            elif upper[i : i + 3] == "END" and _is_word(upper, i, 3):
                case_depth = max(0, case_depth - 1)
            elif (
                depth == 0
                and case_depth == 0
                and upper[i : i + 4] == "WHEN"
                and _is_word(upper, i, 4)
            ):
                starts.append(i)
        i += 1
    for j, s in enumerate(starts):
        e = starts[j + 1] if j + 1 < len(starts) else len(whens)
        parts.append(whens[s + 4 : e])  # drop the WHEN keyword itself
    return parts


def _is_word(upper: str, i: int, ln: int) -> bool:
    before_ok = i == 0 or not (upper[i - 1].isalnum() or upper[i - 1] == "_")
    j = i + ln
    after_ok = j >= len(upper) or not (upper[j].isalnum() or upper[j] == "_")
    return before_ok and after_ok


def parse_merge(statement: str) -> "_ParsedDml | None":
    m = _MERGE_HEAD.match(statement)
    if not m:
        return None
    clauses = []
    for w in _split_whens(m["whens"]):
        cm = _MERGE_WHEN.match(w)
        if not cm:
            raise ValueError(f"unsupported MERGE WHEN clause: WHEN {w[:80]}")
        action = cm["action"].strip()
        au = action.upper()
        if au.startswith("UPDATE"):
            kind, detail = "update", {
                "sets": _split_set_clauses(re.sub(r"^UPDATE\s+SET\s+", "", action, flags=re.IGNORECASE))
            }
        elif au == "DELETE":
            kind, detail = "delete", {}
        else:
            im = re.match(
                r"^INSERT\s*\((?P<cols>[^)]*)\)\s*VALUES\s*\((?P<vals>.+)\)\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if not im:
                raise ValueError(f"unsupported MERGE INSERT action: {action[:80]}")
            kind = "insert"
            detail = {
                "cols": [c.strip() for c in im["cols"].split(",")],
                "vals": _split_top_level(im["vals"]),
            }
            if len(detail["cols"]) != len(detail["vals"]):
                raise ValueError(
                    "MERGE INSERT column/value count mismatch: "
                    f"{len(detail['cols'])} columns, {len(detail['vals'])} values"
                )
        matched = cm["notm"] is None
        if not matched and kind != "insert":
            raise ValueError("WHEN NOT MATCHED supports only INSERT")
        if matched and kind == "insert":
            raise ValueError("WHEN MATCHED supports UPDATE or DELETE, not INSERT")
        clauses.append(
            {"matched": matched, "cond": cm["cond"], "kind": kind, **detail}
        )
    if not clauses:
        raise ValueError("MERGE requires at least one WHEN clause")
    return _ParsedDml(
        "merge",
        m["table"],
        {
            "talias": m["talias"] or m["table"],
            "source": m["source"],
            "salias": m["salias"],
            "on": m["on"].strip(),
            "clauses": clauses,
        },
    )


@dataclass(frozen=True)
class _ParsedDml:
    verb: str
    table: str
    detail: dict


def parse_dml(statement: str) -> _ParsedDml:
    merged = parse_merge(statement)
    if merged is not None:
        return merged
    m = _RECORDS_STMT.match(statement)
    if m:
        if m["verb"].upper() == "INSERT" and m["app_from"]:
            raise ValueError(
                "FOR VALID_TIME bounds apply to PATCH only; INSERT "
                "RECORDS appends from the transaction time onward"
            )
        return _ParsedDml(
            "insert_records" if m["verb"].upper() == "INSERT" else "patch",
            m["table"],
            {
                "records": parse_records(m["records"]),
                "app_from": m["app_from"],
                "app_to": m["app_to"],
            },
        )
    m = _ASSERT_STMT.match(statement)
    if m:
        # ASSERT <predicate>[, 'message'] — the message splits at a
        # TOP-LEVEL comma (the predicate may contain commas inside
        # parens or strings)
        parts = _split_top_level(m["body"])
        msg = None
        if len(parts) == 2 and re.fullmatch(
            r"'(?:[^']|'')*'", parts[1].strip()
        ):
            msg = parts[1].strip()[1:-1].replace("''", "'")
            pred = parts[0].strip()
        elif len(parts) == 1:
            pred = parts[0].strip()
        else:
            raise ValueError(
                "ASSERT takes one predicate and an optional trailing "
                "'message' string"
            )
        return _ParsedDml("assert", "", {"pred": pred, "msg": msg})
    m = _INSERT_VALUES.match(statement)
    if m:
        return _ParsedDml(
            "insert_values",
            m["table"],
            {"cols": [c.strip() for c in m["cols"].split(",")], "values": m["values"]},
        )
    m = _INSERT_SELECT.match(statement)
    if m:
        return _ParsedDml("insert_select", m["table"], {"select": m["select"]})
    m = _UPDATE.match(statement)
    if m:
        return _ParsedDml(
            "update",
            m["table"],
            {
                "sets": _split_set_clauses(m["sets"]),
                "where": m["where"],
                "app_from": m["app_from"],
                "app_to": m["app_to"],
            },
        )
    m = _DELETE.match(statement)
    if m:
        if m["verb"].upper() == "ERASE" and m["app_from"]:
            raise ValueError(
                "ERASE removes whole ids (the only destructive op); "
                "FOR PORTION OF applies to DELETE only"
            )
        return _ParsedDml(
            m["verb"].lower(),
            m["table"],
            {
                "where": m["where"],
                "app_from": m["app_from"],
                "app_to": m["app_to"],
            },
        )
    raise ValueError(f"unsupported DML statement: {statement[:120]}")


def dml_to_ops(engine, statement: str, id_col: str = "id") -> list:
    """Compile one DML statement to engine ops against the CURRENT
    pre-transaction snapshot (core2: DML runs deterministically at
    index time against the database value as of the tx)."""
    from core2_spark.engine import Delete, Erase, Put

    spark = engine.spark
    p = parse_dml(statement)
    snap = engine.db()

    if p.verb == "merge":
        return _merge_to_ops(engine, snap, p, id_col)

    if p.verb == "assert":
        from core2_spark.engine import Assert

        return [Assert(p.detail["pred"], p.detail["msg"])]

    if p.verb == "insert_records":
        existing = (
            set(snap.table(p.table).columns)
            if p.table in snap.basis.manifests
            else set()
        )
        rows = records_to_df(
            spark, _drop_allnull_new_keys(p.detail["records"], existing)
        )
        if id_col not in rows.columns:
            raise ValueError(
                f"INSERT RECORDS into {p.table!r}: every record needs "
                f"the id key {id_col!r}"
            )
        if p.table in snap.basis.manifests:
            types = {
                f.name: f.dataType.simpleString()
                for f in snap.table(p.table).schema.fields
            }
            rows = rows.select(
                *[
                    rows[c].cast(types[c]).alias(c) if c in types else rows[c]
                    for c in rows.columns
                ]
            )
        return [Put(p.table, rows)]

    if p.verb == "patch":
        return patch_to_ops(
            engine, snap, p.table, p.detail["records"], id_col,
            app_start=p.detail.get("app_from"),
            app_end=p.detail.get("app_to"),
        )

    if p.verb == "insert_values":
        cols = ", ".join(p.detail["cols"])
        rows = spark.sql(
            f"SELECT * FROM (VALUES {p.detail['values']}) AS _ins({cols})"
        )
        # align literal types with the existing table schema: a bare
        # `4` is INT and `4.0` DECIMAL(2,1), which would fork the
        # parquet schema of a BIGINT/DOUBLE version table (merge error
        # on the next read) — cast by column name like UPDATE does
        if p.table in snap.basis.manifests:
            types = {
                f.name: f.dataType.simpleString()
                for f in snap.table(p.table).schema.fields
            }
            rows = rows.select(
                *[
                    rows[c].cast(types[c]).alias(c) if c in types else rows[c]
                    for c in rows.columns
                ]
            )
        return [Put(p.table, rows)]

    if p.verb == "insert_select":
        # materialize before the write: the SELECT may read the very
        # table the Put appends to
        return [Put(p.table, snap.sql(p.detail["select"]).localCheckpoint(eager=True))]

    # uid-suffixed working views, dropped on exit: fixed names would
    # let two concurrent DML statements in one SparkSession clobber
    # each other's target between registration and execution (the same
    # race class the MERGE path guards against)
    import uuid as _uuid

    uid = _uuid.uuid4().hex[:8]
    tgt_view, matched_view = f"_dml_target_{uid}", f"_dml_matched_{uid}"
    cur = snap.table(p.table)
    try:
        cur.createOrReplaceTempView(tgt_view)
        where = p.detail.get("where")
        matched = spark.sql(
            f"SELECT * FROM {tgt_view}" + (f" WHERE {where}" if where else "")
        )

        if p.verb == "update":
            projections = []
            set_map = dict(p.detail["sets"])
            types = {
                f.name: f.dataType.simpleString() for f in matched.schema.fields
            }
            for name in matched.columns:
                if name in set_map:
                    # cast to the column's existing type: a bare literal
                    # (0.0 → DECIMAL(1,1)) would otherwise fork the
                    # parquet schema of the version table
                    projections.append(
                        f"CAST(({set_map[name]}) AS {types[name]}) AS {name}"
                    )
                else:
                    projections.append(name)
            matched.createOrReplaceTempView(matched_view)
            updated = spark.sql(
                f"SELECT {', '.join(projections)} FROM {matched_view}"
            ).localCheckpoint(eager=True)  # reads the table the Put appends to
            return [
                Put(
                    p.table,
                    updated,
                    app_start=p.detail["app_from"],
                    app_end=p.detail["app_to"],
                )
            ]

        ids = matched.select(id_col).localCheckpoint(eager=True)
    finally:
        for v in (tgt_view, matched_view):
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass
    if p.verb == "delete":
        return [
            Delete(
                p.table,
                ids,
                id_col,
                app_start=p.detail.get("app_from"),
                app_end=p.detail.get("app_to"),
            )
        ]
    return [Erase(p.table, ids, id_col)]


def _merge_to_ops(engine, snap, p: _ParsedDml, id_col: str) -> list:
    """Compile MERGE INTO to engine ops against the pre-tx snapshot.

    Semantics follow SQL:2003 MERGE (core2 exposes the same
    upsert-shaped writes through put-with-valid-time; the SQL spelling
    is the ergonomic upgrade): source rows join the CURRENT target
    state on the ON condition; matched targets flow to the first
    WHEN MATCHED clause whose AND-condition holds (3VL: NULL = no),
    unmatched source rows to the first WHEN NOT MATCHED clause.  A
    target row matched by MORE THAN ONE source row is a cardinality
    violation and raises — the standard's rule, and the only way the
    result stays deterministic.  Duplicate ids WITHIN the inserted set
    are refused for the same reason: a single Put freezes an arbitrary
    within-partition winner, which a deterministic engine must not do.

    Temp views are uid-suffixed and dropped on exit so concurrent
    MERGEs in one SparkSession (a supported configuration — see
    engine_concurrent_writers) can never read each other's
    registrations.

    Scale: one equi-shaped join source⋈target for the matched set, one
    anti-join for the not-matched set, one count-per-id aggregation per
    violation check — all shuffle on the ON keys; nothing is collected
    to the driver."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from core2_spark.engine import Delete, Put

    spark = engine.spark
    d = p.detail
    tal, sal, on = d["talias"], d["salias"], d["on"]
    uid = _uuid.uuid4().hex[:8]
    tv, sv = f"_merge_t_{uid}", f"_merge_s_{uid}"
    cur = snap.table(p.table)
    src = d["source"]
    try:
        cur.createOrReplaceTempView(tv)
        if src.startswith("("):
            src_df = snap.sql(src[1:-1])
        else:
            src_df = snap.table(src)
        src_df.localCheckpoint(eager=True).createOrReplaceTempView(sv)

        # cardinality violation: >1 source rows matching one target row
        dup = spark.sql(
            f"SELECT {tal}.{id_col} FROM {tv} {tal} JOIN {sv} {sal} "
            f"ON {on} GROUP BY {tal}.{id_col} HAVING COUNT(*) > 1 LIMIT 1"
        ).take(1)
        if dup:
            raise ValueError(
                f"MERGE cardinality violation: target id {dup[0][0]!r} is "
                "matched by more than one source row"
            )

        types = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
        ops: list = []
        matched_clauses = [c for c in d["clauses"] if c["matched"]]
        unmatched_clauses = [c for c in d["clauses"] if not c["matched"]]

        def _clause_filter(clauses, idx) -> str:
            """First-match-wins: this clause's condition AND NOT any
            earlier clause's (NULL condition values count as false)."""
            conds = [
                f"COALESCE(({c['cond']}), FALSE)" if c["cond"] else "TRUE"
                for c in clauses
            ]
            parts = [conds[idx]] + [f"NOT {c}" for c in conds[:idx]]
            return " AND ".join(parts)

        for i, c in enumerate(matched_clauses):
            flt = _clause_filter(matched_clauses, i)
            if c["kind"] == "update":
                set_map = dict(c["sets"])
                proj = []
                for name in cur.columns:
                    if name in set_map:
                        proj.append(
                            f"CAST(({set_map[name]}) AS {types[name]}) AS {name}"
                        )
                    else:
                        proj.append(f"{tal}.{name}")
                updated = spark.sql(
                    f"SELECT {', '.join(proj)} FROM {tv} {tal} "
                    f"JOIN {sv} {sal} ON {on} WHERE {flt}"
                ).localCheckpoint(eager=True)
                ops.append(Put(p.table, updated))
            else:  # delete
                ids = spark.sql(
                    f"SELECT {tal}.{id_col} AS {id_col} FROM {tv} {tal} "
                    f"JOIN {sv} {sal} ON {on} WHERE {flt}"
                ).localCheckpoint(eager=True)
                ops.append(Delete(p.table, ids, id_col))

        for i, c in enumerate(unmatched_clauses):
            flt = _clause_filter(unmatched_clauses, i)
            proj = []
            for col, val in zip(c["cols"], c["vals"]):
                cast = f" AS {types[col]}" if col in types else ""
                proj.append(
                    f"CAST(({val}){cast}) AS {col}" if cast else f"({val}) AS {col}"
                )
            inserted = spark.sql(
                f"SELECT {', '.join(proj)} FROM {sv} {sal} "
                f"WHERE NOT EXISTS (SELECT 1 FROM {tv} {tal} WHERE {on}) "
                f"AND ({flt})"
            ).localCheckpoint(eager=True)
            if id_col in inserted.columns:
                # duplicate source ids flowing to one INSERT would
                # freeze an arbitrary within-Put winner — refuse, like
                # the matched-side cardinality rule
                idup = (
                    inserted.groupBy(id_col)
                    .count()
                    .filter(F.col("count") > 1)
                    .take(1)
                )
                if idup:
                    raise ValueError(
                        "MERGE cardinality violation: source inserts id "
                        f"{idup[0][0]!r} more than once"
                    )
            ops.append(Put(p.table, inserted))
        return ops
    finally:
        for v in (tv, sv):
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass


def patch_to_ops(engine, snap, table: str, records: list[dict],
                 id_col: str = "id", app_start: str | None = None,
                 app_end: str | None = None) -> list:
    """Compile PATCH (XTDB v2 ``patchDocs`` / ``PATCH INTO t RECORDS``)
    to engine ops against the pre-tx snapshot: each record's keys merge
    into the CURRENT visible version of its id (insert when the id is
    absent); keys a record does not mention retain their current value,
    while an explicit NULL sets null — the mask column carries that
    distinction.  Keys new to the table extend the merged schema
    (dynamic columns, SURVEY §1.2), exactly like a widening Put.

    Duplicate ids within one PATCH are refused: a single Put freezes an
    arbitrary within-partition winner, which a deterministic engine
    must not do (same rule as MERGE's insert-set check).

    Scale: the record list is the transaction payload (driver-side by
    definition, like INSERT VALUES); the current-state read is an
    IN-list lookup bounded by the record count, then one broadcast-size
    join — never a scan-shaped op."""
    from pyspark.sql import functions as F

    from core2_spark.engine import Put

    spark = engine.spark
    if not records:
        raise ValueError("PATCH: no records")
    ids = []
    for r in records:
        if id_col not in r or r[id_col] is None:
            raise ValueError(
                f"PATCH into {table!r}: every record needs a non-null "
                f"id key {id_col!r}"
            )
        ids.append(r[id_col])
    if len(set(ids)) != len(ids):
        from collections import Counter

        dup = sorted(i for i, n in Counter(ids).items() if n > 1)[0]
        raise ValueError(
            f"PATCH cardinality violation: id {dup!r} appears in more "
            "than one record"
        )

    mask = "_patched_keys"
    if table not in snap.basis.manifests:
        # patching a table that does not exist yet = plain insert
        records = _drop_allnull_new_keys(records, {id_col})
        pdf = records_to_df(spark, records, mask_col=mask)
        return [Put(table, pdf.drop(mask),
                    app_start=app_start, app_end=app_end)]

    cur = snap.table(table)
    # explicit NULL on a key the table does not have is a no-op (the
    # row reads NULL either way); never let it force a column type
    records = _drop_allnull_new_keys(records, set(cur.columns))
    pdf = records_to_df(spark, records, mask_col=mask)
    types = {f.name: f.dataType.simpleString() for f in cur.schema.fields}
    pdf = pdf.select(
        *[
            pdf[c].cast(types[c]).alias(c) if c in types and c != mask
            else pdf[c]
            for c in pdf.columns
        ]
    )
    patch_cols = [c for c in pdf.columns if c != mask]
    if len(ids) <= 256:
        # small lists push down into the parquet scan (row-group
        # pruning on the id stats)
        cur_hit = cur.filter(F.col(id_col).isin(ids))
    else:
        # a 100k-id IN-list is a 100k-node Catalyst expression tree;
        # a broadcast semi-join against the (driver-side, bounded)
        # patch payload keeps the plan O(1) in record count
        cur_hit = cur.join(
            F.broadcast(pdf.select(id_col)), on=id_col, how="left_semi"
        )
    p, c = pdf.alias("_p"), cur_hit.alias("_c")
    joined = p.join(c, F.col(f"_p.{id_col}") == F.col(f"_c.{id_col}"), "left")

    out_cols = list(cur.columns) + [
        k for k in patch_cols if k not in cur.columns
    ]
    proj = []
    for name in out_cols:
        if name == id_col:
            proj.append(F.col(f"_p.{id_col}").alias(name))
        elif name in patch_cols:
            mentioned = F.array_contains(F.col(f"_p.{mask}"), F.lit(name))
            current = (
                F.col(f"_c.{name}") if name in cur.columns
                else F.lit(None).cast(pdf.schema[name].dataType)
            )
            proj.append(
                F.when(mentioned, F.col(f"_p.{name}"))
                .otherwise(current)
                .alias(name)
            )
        else:
            proj.append(F.col(f"_c.{name}").alias(name))
    # materialize before the write: the merge reads the very table the
    # Put appends to
    merged = joined.select(*proj).localCheckpoint(eager=True)
    return [Put(table, merged, app_start=app_start, app_end=app_end)]


# -- materialized-view maintenance statements -------------------------

_CREATE_MVIEW = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s+AS\s+"
    r"(?P<select>SELECT\b.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MVIEW = re.compile(
    r"^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s*$", re.IGNORECASE
)
_DROP_MVIEW = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<name>\w+)\s*$", re.IGNORECASE
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+(?P<table>\w+)\s+OLDER\s+THAN\s+"
    r"(?:TIMESTAMP\s+)?'(?P<horizon>[^']+)'\s*$",
    re.IGNORECASE,
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+(?P<table>\w+)"
    r"(?:\s+ZORDER\s+BY\s+\(?(?P<cols>[\w\s,]+?)\)?)?\s*$",
    re.IGNORECASE,
)
_MVIEW_SELECT = re.compile(
    r"^\s*SELECT\s+(?P<items>.+?)\s+FROM\s+(?P<table>\w+)\s+"
    r"GROUP\s+BY\s+(?P<keys>[\w\s,]+?)\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MVIEW_AGG = re.compile(
    r"^(?P<fn>COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(?P<distinct>DISTINCT\s+)?"
    r"(?P<col>\*|\w+)\s*\)\s+AS\s+(?P<alias>\w+)$",
    re.IGNORECASE,
)


def _split_top_level(text: str) -> list[str]:
    """Split on top-level commas (not inside parens or strings)."""
    parts, depth, in_str, cur = [], 0, False, []
    for ch in text:
        if ch == "'":
            in_str = not in_str
        elif not in_str:
            if ch in "([":
                depth += 1
            elif ch in ")]":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append("".join(cur).strip())
                cur = []
                continue
        cur.append(ch)
    parts.append("".join(cur).strip())
    return parts


def parse_mview_select(select: str) -> tuple[str, list[str], dict]:
    """`SELECT keys..., aggs... FROM t GROUP BY keys` → the
    (table, keys, aggs) triple mviews.create takes.  Restricted by
    design to the incrementally-maintainable shape; anything else
    (expressions over keys, WHERE, joins, HAVING) errors loudly."""
    m = _MVIEW_SELECT.match(select)
    if not m:
        raise ValueError(
            "CREATE MATERIALIZED VIEW supports exactly "
            "'SELECT <keys and aggregates> FROM <table> GROUP BY <keys>': "
            f"{select[:120]}"
        )
    keys = [k.strip() for k in m["keys"].split(",")]
    aggs: dict[str, tuple[str, str]] = {}
    seen_keys: list[str] = []
    for item in _split_top_level(m["items"]):
        a = _MVIEW_AGG.match(item)
        if a:
            fn = a["fn"].lower()
            if a["distinct"]:
                if fn != "count":
                    raise ValueError(
                        f"DISTINCT only supported with COUNT: {item!r}"
                    )
                fn = "count_distinct"
            aggs[a["alias"]] = (fn, a["col"])
        elif re.match(r"^\w+$", item):
            seen_keys.append(item)
        else:
            raise ValueError(
                f"unsupported select item {item!r} (bare key column or "
                "COUNT/SUM/MIN/MAX/AVG(col) AS alias)"
            )
    if seen_keys != keys:
        raise ValueError(
            f"select-list keys {seen_keys} must equal GROUP BY keys {keys} "
            "(same order)"
        )
    return m["table"], keys, aggs


def maintenance_result(engine, statement: str) -> dict | None:
    """Execute ``statement`` if it is a materialized-view maintenance
    statement; return a result dict, or None when it is ordinary DML."""
    import shutil

    from core2_spark import mviews

    m = _CREATE_MVIEW.match(statement)
    if m:
        table, keys, aggs = parse_mview_select(m["select"])
        mviews.create(engine, m["name"], table, keys, aggs)
        return {"statement": "create_materialized_view", "name": m["name"]}
    m = _REFRESH_MVIEW.match(statement)
    if m:
        stats = mviews.refresh(engine, m["name"])
        return {"statement": "refresh_materialized_view", "name": m["name"], **stats}
    m = _DROP_MVIEW.match(statement)
    if m:
        base = mviews._base(engine, m["name"])
        mviews._load_meta(engine, m["name"])  # clear error if absent
        shutil.rmtree(base)
        return {"statement": "drop_materialized_view", "name": m["name"]}
    m = _VACUUM.match(statement)
    if m:
        # round 6: retention as a statement (VACUUM t OLDER THAN
        # TIMESTAMP '...') — partition-wise on day layouts
        engine.vacuum(m["table"], older_than=m["horizon"])
        return {"statement": "vacuum", "table": m["table"],
                "older_than": m["horizon"]}
    m = _OPTIMIZE.match(statement)
    if m:
        cols = tuple(
            c.strip() for c in (m["cols"] or "").split(",") if c.strip()
        )
        n = engine.optimize(m["table"], zorder_by=cols or None)
        return {"statement": "optimize", "table": m["table"],
                "target_files": n, "zorder_by": list(cols)}
    return None
