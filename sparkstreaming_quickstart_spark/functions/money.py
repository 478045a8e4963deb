"""Deterministic (oracle-exact) aggregation over money-like doubles.

Problem: `SUM(double)` depends on partition order, so a distributed Spark sum
and a sequential DuckDB sum can differ in the low bits and fail the driver's
value-hash comparison.  The testdata money columns are exact 2-decimal values,
so summing them as DECIMAL is (a) exact, (b) order-insensitive, (c) identical
in Spark and DuckDB.  We cast the final result back to double so both engines
expose the same column type.

This is also the right call at 100 TB: decimal aggregation is Tungsten-native
(stays inside whole-stage codegen, partial aggregation works) and removes any
dependence on reduce order across 1000 executors.

Each helper has a `sql_*` twin that emits the equivalent DuckDB/ANSI SQL so
Spark query and oracle stay in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

PRECISION = 18
SCALE = 2


def dec(col: Column | str) -> Column:
    """Cast a money-like double to exact decimal."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({PRECISION},{SCALE})")


def dsum(col: Column | str) -> Column:
    """Order-insensitive exact sum, exposed as double."""
    return F.sum(dec(col)).cast("double")


def davg(col: Column | str) -> Column:
    """Deterministic average: exact decimal sum, one double division."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c)).cast("double") / F.count(c)


def sql_dec(expr: str) -> str:
    return f"CAST({expr} AS DECIMAL({PRECISION},{SCALE}))"


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM({sql_dec(expr)}) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"(CAST(SUM({sql_dec(expr)}) AS DOUBLE) / COUNT({expr}))"
