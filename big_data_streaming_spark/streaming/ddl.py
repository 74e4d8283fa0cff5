"""External DDL provisioning (reference A21) — injection-safe.

The reference provisions its serving database inline before per-key
writes (``spark/streaming-longtime.py:69-106``: ``CREATE DATABASE`` /
``CREATE TABLE IF NOT EXISTS`` built with f-strings around the coin
symbol). That f-string DDL is the anti-pattern this module exists to
replace: a key value like ``BTC"; DROP TABLE --`` would execute. Here
every identifier must pass a strict allow-list (letters, digits,
underscore, leading letter/underscore) and every type is emitted from a
fixed Spark-type → SQL-type table — no caller-supplied SQL fragment is
ever interpolated.

``ensure_table`` is the natural companion to
``streaming.sinks.write_jdbc_idempotent``: provision once (idempotently,
racing writers tolerated), then let the idempotent writer own the data
path. Runs driver-side over JVM JDBC (one connection, a couple of
statements) — provisioning is O(tables), never O(rows), so there is no
scale concern.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")

# SQLStates that mean "already exists" — safe to ignore for idempotent
# provisioning (Derby: X0Y32 table/X0Y68 schema; ANSI 42P06/42P07 are the
# Postgres equivalents for deployments without IF NOT EXISTS support).
_EXISTS_STATES = {"X0Y32", "X0Y68", "42P06", "42P07"}


def _check_ident(name: str, what: str) -> str:
    if not _IDENT.match(name or ""):
        raise ValueError(
            f"{what} {name!r} fails the identifier allow-list "
            "[A-Za-z_][A-Za-z0-9_]* — refusing to build DDL from it"
        )
    return name


def _sql_type(dt: DataType, string_length: int) -> str:
    if isinstance(dt, DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    mapping: list[tuple[type, str]] = [
        (LongType, "BIGINT"),
        (IntegerType, "INTEGER"),
        (ShortType, "SMALLINT"),
        (ByteType, "SMALLINT"),
        (DoubleType, "DOUBLE"),
        (FloatType, "REAL"),
        (BooleanType, "BOOLEAN"),
        (TimestampType, "TIMESTAMP"),
        (TimestampNTZType, "TIMESTAMP"),
        (DateType, "DATE"),
        (StringType, f"VARCHAR({string_length})"),
        (BinaryType, "BLOB"),
    ]
    for cls, sql in mapping:
        if isinstance(dt, cls):
            return sql
    raise ValueError(
        f"no JDBC DDL mapping for Spark type {dt.simpleString()!r}; "
        "flatten array/map/struct columns before provisioning"
    )


def build_create_table(
    table: str, schema: StructType, *, string_length: int = 4000
) -> str:
    """The CREATE TABLE statement ``ensure_table`` would run — split out
    so tests (and reviewers) can audit the generated DDL directly."""
    parts = table.split(".")
    if len(parts) > 2:
        raise ValueError(f"table {table!r} must be [schema.]name")
    for p in parts:
        _check_ident(p, "table identifier")
    cols = []
    for f in schema.fields:
        _check_ident(f.name, "column")
        null_sql = "" if f.nullable else " NOT NULL"
        cols.append(f'"{f.name}" {_sql_type(f.dataType, string_length)}{null_sql}')
    qualified = ".".join(f'"{p}"' for p in parts)
    return f"CREATE TABLE {qualified} ({', '.join(cols)})"


def jdbc_connection(
    spark: SparkSession, url: str, driver: str | None, options: dict[str, str]
):
    """A driver-side JVM JDBC connection (no extra Python deps) carrying
    the caller's driver class, credentials and other options."""
    jvm = spark._jvm
    props = jvm.java.util.Properties()
    if driver:
        props.setProperty("driver", driver)
        jvm.java.lang.Class.forName(driver)
    for k, v in options.items():
        props.setProperty(k, v)
    return jvm.java.sql.DriverManager.getConnection(url, props)


def table_exists(conn, table: str) -> bool:
    """Whether ``table`` (optionally ``schema.table``) exists, by an exact
    name match in the connection's catalog metadata.

    Metadata patterns are case-sensitive, so the common catalog casings
    are probed (Derby/Oracle upper, Postgres lower, MySQL as-is), each
    schema-qualified when the name is: an unqualified probe would match
    a same-named table in ANOTHER schema. ``getTables`` treats its
    arguments as LIKE patterns: '_' matches any single character, so a
    probe for 'prov_t' would also match an existing 'provXt' (ADVICE
    r3). '_'/'%' are escaped with the driver's escape string where one
    exists (Derby reports an EMPTY escape string, so escaping alone is
    not sufficient) and every candidate is verified by exact TABLE_NAME /
    TABLE_SCHEM equality — wildcard matches are then only extra
    candidates, never false positives."""
    parts = table.split(".")
    schema_name = parts[-2] if len(parts) > 1 else None
    table_name = parts[-1]
    meta = conn.getMetaData()
    esc = meta.getSearchStringEscape() or ""

    def _like_quote(name: str) -> str:
        if not esc:
            return name
        return name.replace(esc, esc + esc).replace("_", esc + "_").replace(
            "%", esc + "%"
        )

    for pat in {table_name.upper(), table_name.lower(), table_name}:
        sp = None
        if schema_name is not None:
            sp = (
                schema_name.upper()
                if pat == table_name.upper()
                else schema_name.lower()
                if pat == table_name.lower()
                else schema_name
            )
        rs = meta.getTables(
            None, _like_quote(sp) if sp is not None else None, _like_quote(pat), None
        )
        try:
            while rs.next():
                if rs.getString("TABLE_NAME") != pat:
                    continue
                if sp is not None and rs.getString("TABLE_SCHEM") != sp:
                    continue
                return True
        finally:
            rs.close()
    return False


def ensure_table(
    spark: SparkSession,
    url: str,
    table: str,
    schema: StructType,
    *,
    driver: str | None = None,
    **options: str,
) -> bool:
    """Idempotently provision ``table`` (optionally ``schema.table``) with
    columns derived from a Spark ``StructType``. Returns True if the table
    was created, False if it already existed.

    Unlike the reference's f-string DDL, identifiers are allow-listed and
    types come from a fixed mapping; ``IF NOT EXISTS`` (absent in Derby)
    is emulated by a schema-qualified metadata probe plus tolerance of
    the dialect's "already exists" SQLStates, so concurrent provisioners
    race safely.
    """
    ddl = build_create_table(table, schema)
    schema_name = table.split(".")[-2] if "." in table else None
    conn = jdbc_connection(spark, url, driver, options)
    try:
        if table_exists(conn, table):
            return False
        stmt = conn.createStatement()
        try:
            if schema_name is not None:
                try:
                    stmt.executeUpdate(f'CREATE SCHEMA "{schema_name}"')
                except Exception as e:  # already exists → fine
                    if not _is_exists_error(e):
                        raise
            try:
                stmt.executeUpdate(ddl)
            except Exception as e:  # lost the creation race → fine
                if not _is_exists_error(e):
                    raise
                return False
            return True
        finally:
            stmt.close()
    finally:
        conn.close()


def _is_exists_error(e: Exception) -> bool:
    """True when a py4j-wrapped SQLException carries an 'object already
    exists' SQLState (or says so in its message, for wrappers that hide
    the state)."""
    je = getattr(e, "java_exception", None)
    while je is not None:
        try:
            state = je.getSQLState()
        except Exception:
            state = None
        if state in _EXISTS_STATES:
            return True
        try:
            je = je.getCause()
        except Exception:
            break
    return "already exists" in str(e).lower()
