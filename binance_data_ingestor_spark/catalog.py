"""Ad-hoc SQL surface: register the lake tables as views and query
them with plain ``spark.sql``.

The reference documents an ad-hoc query path (pipe a query string into
the process — SURVEY §3.3); the engine-side equivalent is a catalog:
every fixture table registered under its canonical name, normalized by
``queries/util.load`` (the events nanos→µs timestamp rebuild), so a
user can run any ANSI query — including every oracle string in the
registry — without touching the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .queries.util import load

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def register_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every lake table as a temp view under its own name;
    returns the registered names."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return list(TABLES)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """One-call ad-hoc query against the lake: register + run."""
    register_tables(spark, sf_dir)
    return spark.sql(query)
