"""Spark SQL text quoting, shared by every module that builds
expressions as SQL strings.

A projection written as one SQL string costs one parse on the JVM;
the same projection built from ``pyspark.sql.functions`` calls costs
several py4j round trips per call (PySpark records a query context for
each one). Names and values spliced into such text go through these
two rules, so a hostile column or table name cannot change the
expression's meaning.
"""

from __future__ import annotations


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """``name`` as one backtick-quoted Spark SQL identifier part."""
    return "`" + name.replace("`", "``") + "`"
