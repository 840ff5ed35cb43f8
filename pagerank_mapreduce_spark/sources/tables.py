"""Parquet fixture tables (TESTDATA.md).

One parquet per table at /root/testdata/sf{0.001,0.01,0.1}/. Parquet
scans come with vectorized reads, predicate pushdown and column
pruning from Spark — the reference's closest analogue is its mmap'd
byte-chunk text scan (include/detail/datasource.hpp:93-168), which has
none of those.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TABLE_NAMES = (
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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        # events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
        # Spark's reader surfaces as int64: session.get_spark) and plain
        # TIMESTAMP(MICROS). Branch on the dtype actually read: only
        # apply the nanos→micros truncation when ts arrives as int64
        # (DuckDB's TIMESTAMP_NS→TIMESTAMP scan truncates identically);
        # a real timestamp column passes through untouched.
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        else:
            # timestamp[us] arrives as TIMESTAMP_NTZ; normalize to
            # session-tz TIMESTAMP (session tz is UTC — session.py:67)
            # so downstream epoch arithmetic and watermarks behave
            # identically to the nanos path.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql()."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
