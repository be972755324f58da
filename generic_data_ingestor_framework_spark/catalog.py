"""Catalog introspection (SURVEY §2 A14, A18).

``sqlite_master`` / ``PRAGMA table_info`` equivalents
(`src/connectors/sqlite_connector.py:117-129`, `app.py:243-251`)."""

from __future__ import annotations

from pyspark.sql import SparkSession


def table_exists(spark: SparkSession, table: str) -> bool:
    """A14: catalog probe (≡ SELECT name FROM sqlite_master ...)."""
    return spark.catalog.tableExists(table)


def describe_table(spark: SparkSession, table: str) -> list[dict]:
    """A18: column descriptors (≡ PRAGMA table_info)."""
    return [
        {"name": c.name, "type": c.dataType, "nullable": c.nullable}
        for c in spark.catalog.listColumns(table)
    ]


def list_tables(spark: SparkSession) -> list[str]:
    return [t.name for t in spark.catalog.listTables()]
