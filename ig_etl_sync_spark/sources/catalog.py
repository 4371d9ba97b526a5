"""Parquet table catalog for the driver's synthetic star schema.

At 100 TB these would be partitioned/ bucketed managed tables; reading
them as plain parquet keeps the same declarative plan — Catalyst still
gets predicate pushdown, column pruning, and partition-splitting from
the parquet scan (``PushedFilters`` / ``ReadSchema`` in ``.explain``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
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
)

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    # Runtime-set the confs correctness depends on, so the engine works
    # under ANY caller-provided session (the driver's verify builds its
    # own SparkSession without our defaults): UTC rendering keeps
    # timestamp stringification aligned with DuckDB's naive reads.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) in some data
        # generations, which Spark rejects unless nanosAsLong is on
        # (also a runtime-settable SQL conf).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # nanosAsLong: raw nanoseconds — convert to a microsecond
            # timestamp (integer div, no float round-trip).
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            # parquet timestamp[us] with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ, which unix_micros() rejects. With the UTC
            # session timezone set above, this cast is value-identical
            # to DuckDB's naive read.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
