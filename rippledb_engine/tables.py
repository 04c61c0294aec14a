"""Testdata table access for the engine tier.

The RDF store reads only the relational tables its derived graphs need
(:mod:`rippledb_spark.tables`); the engine-tier operators and queries
also read ``part``, the ``events`` click stream, the ``documents`` corpus
and the ``embeddings`` vectors (TESTDATA.md). Reads are plain
``spark.read.parquet`` so Catalyst gets full pushdown/pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables small enough to broadcast at any realistic scale factor
# (region: 5 rows, nation: 25 rows — fixed-size in TPC-H-style generators).
BROADCAST_TABLES = {"region", "nation"}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    if name == "events":
        # The driver may hand us a session built WITHOUT this flag; it is
        # runtime-settable, and without it the NANOS timestamp column makes
        # the read throw PARQUET_TYPE_ILLEGAL.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # events.ts is TIMESTAMP(NANOS) in parquet; with
        # spark.sql.legacy.parquet.nanosAsLong it arrives as long ns since
        # epoch. Truncate to micros (what DuckDB does too) and restore the
        # timestamp type.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # Rebuild as TIMESTAMP_NTZ by pure arithmetic: integer DIV (a
            # double intermediate loses precision at 1e18 ns) added onto an
            # NTZ epoch literal — timezone-independent, so the result
            # matches DuckDB's naive timestamps even if the driver's session
            # timezone is not UTC, and the column type lines up with the
            # other tables' NTZ timestamps.
            df = df.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts DIV 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {n: load(spark, sf_dir, n) for n in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql(...) queries."""
    for n in TABLE_NAMES:
        load(spark, sf_dir, n).createOrReplaceTempView(n)
