"""Oracle check for the registry mixes: a query's Spark output against its
``ORACLES`` DuckDB SQL over the same parquet tables.

The rule is the one registry.py states for ORACLES: equal row count,
equal column names, equal column types (mapped into one namespace), and
an equal hash of the rows taken order-insensitively (columns sorted by
name, each cell rendered canonically, rows sorted).
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb

_DUCK_TYPES = {
    "TINYINT": "int8",
    "SMALLINT": "int16",
    "INTEGER": "int32",
    "BIGINT": "int64",
    "HUGEINT": "int128",
    "FLOAT": "float32",
    "DOUBLE": "float64",
    "VARCHAR": "string",
    "BOOLEAN": "bool",
    "BLOB": "binary",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
}

_SPARK_TYPES = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "boolean": "bool",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp",
}


def duck_type(t: str) -> str:
    return _DUCK_TYPES.get(t.strip(), t.strip().lower())


def spark_type(simple: str) -> str:
    """Spark ``DataType.simpleString()`` → the same namespace."""
    return _SPARK_TYPES.get(simple, simple)


def _cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def result_digest(cols: list[str], types: list[str], rows: list[tuple]) -> tuple:
    """(row count, sorted (column, type) pairs, order-insensitive hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted("\x1f".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon).encode()).hexdigest()
    return len(rows), tuple(sorted(zip(cols, types))), h


def duckdb_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    rel = con.sql(sql)
    types = [duck_type(str(t)) for t in rel.types]
    return result_digest(list(rel.columns), types, rel.fetchall())


def spark_digest(df) -> tuple:
    types = [spark_type(f.dataType.simpleString()) for f in df.schema.fields]
    return result_digest(list(df.columns), types, [tuple(r) for r in df.collect()])


def duckdb_con(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with one view per fixture table."""
    con = duckdb.connect()
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatch(spark_d: tuple, duck_d: tuple) -> str | None:
    """Why two digests differ, or None when they match."""
    if spark_d[0] != duck_d[0]:
        return f"row count spark={spark_d[0]} duckdb={duck_d[0]}"
    if spark_d[1] != duck_d[1]:
        return f"schema spark={spark_d[1]} duckdb={duck_d[1]}"
    if spark_d[2] != duck_d[2]:
        return "value hash differs"
    return None
