"""The DuckDB oracle comparison, defined once.

A registered query is correct when its Spark result equals its oracle
SQL's result on the same parquet tables. The parity test and the sweep
and timing scripts all decide that here:

* the same column names, in any order;
* the same coarse type class per column: int32 vs int64 and float32 vs
  float64 are real differences, and unmapped types (DECIMAL(p,s))
  compare case-insensitively;
* the same row count and the same rows, in any order, compared exactly
  by ``repr``: NaN equals NaN, NULL differs from every value, and floats
  must match bit for bit, which the queries guarantee by construction
  (exact decimal aggregation, identical double expression trees).

Outputs above ``COLLECT_LIMIT`` rows are compared through
``aggregate_form`` instead: COUNT(*) plus an exact BIGINT sum per
integer column, on both engines. That stays exact evidence (an extra,
missing or altered row moves the count or a key sum) without collecting
the rows.

duckdb is a test extra, so it is imported inside the functions.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, ShortType

from ..sources.tables import TABLE_NAMES, oracle_view_source

COLLECT_LIMIT = 2_000_000

_SPARK_CLASS = {
    "int": "i32", "bigint": "i64", "double": "f64", "float": "f32",
    "string": "str", "date": "date", "timestamp": "ts", "timestamp_ntz": "ts",
    "boolean": "bool", "binary": "bin",
}
_DUCK_CLASS = {
    "INTEGER": "i32", "BIGINT": "i64", "HUGEINT": "i128", "SMALLINT": "i16",
    "TINYINT": "i8", "DOUBLE": "f64", "FLOAT": "f32", "VARCHAR": "str",
    "DATE": "date", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts", "BOOLEAN": "bool",
    "BLOB": "bin", "NUMBER": "num",
}


@dataclass(frozen=True)
class Result:
    """One engine's output: column names, type class per column, rows."""

    columns: list[str]
    types: dict[str, str]
    rows: list[tuple]


def sf_dir_for(spec, sf_dir: str) -> str:
    """Where a query runs: its pinned dir when its oracle embeds a
    literal path (and is therefore valid at that sf only), else sf_dir."""
    return spec.pinned_sf_dir or sf_dir


def connect(sf_dir: str, threads: int | None = None):
    """A DuckDB connection with one view per table of sf_dir."""
    import duckdb

    con = duckdb.connect()
    if threads:
        con.execute(f"SET threads TO {threads}")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {oracle_view_source(sf_dir, t)}")
    return con


def spark_result(sdf: DataFrame) -> Result:
    types = {
        f.name: _SPARK_CLASS.get(f.dataType.simpleString(), f.dataType.simpleString().lower())
        for f in sdf.schema.fields
    }
    return Result(sdf.columns, types, [tuple(r) for r in sdf.collect()])


def duckdb_result(rel) -> Result:
    types = {c: _DUCK_CLASS.get(str(t), str(t).lower()) for c, t in zip(rel.columns, rel.types)}
    return Result(list(rel.columns), types, rel.fetchall())


def aggregate_form(sdf: DataFrame, sql: str) -> tuple[DataFrame, str]:
    """The one-row COUNT-plus-integer-sums form of a query on both
    engines, with identical column names and types."""
    ints = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (IntegerType, LongType, ShortType))
    ]
    agg = sdf.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(c).cast("long").alias(f"s_{c}") for c in ints],
    )
    sums = "".join(f', CAST(SUM("{c}") AS BIGINT) AS "s_{c}"' for c in ints)
    return agg, f"SELECT COUNT(*) AS n{sums} FROM ({sql}) _q"


def _normalize(rows: list[tuple], columns: list[str]) -> list[tuple]:
    """Sort columns by name, then rows; exact values (no float fuzz)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def key(row):
        out = []
        for i in order:
            v = row[i]
            if isinstance(v, float) and math.isnan(v):
                v = "NaN"
            out.append((v is None, repr(v)))
        return tuple(out)

    return sorted(key(r) for r in rows)


def diff(name: str, spark: Result, oracle: Result) -> str | None:
    """The first way the two results differ, or None when they match."""
    if sorted(spark.columns) != sorted(oracle.columns):
        return f"{name}: column names differ: spark={spark.columns} oracle={oracle.columns}"
    types = {
        c: (t, oracle.types.get(c)) for c, t in spark.types.items() if t != oracle.types.get(c)
    }
    if types:
        return f"{name}: column type classes differ: {types}"
    if len(spark.rows) != len(oracle.rows):
        return f"{name}: row count spark={len(spark.rows)} oracle={len(oracle.rows)}"
    pairs = zip(_normalize(spark.rows, spark.columns), _normalize(oracle.rows, oracle.columns))
    mismatches = [(a, b) for a, b in pairs if a != b]
    if mismatches:
        return f"{name}: {len(mismatches)} mismatched rows; first: {mismatches[0]}"
    return None
