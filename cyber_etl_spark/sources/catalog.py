"""Table catalog over the driver's synthetic parquet layout.

The engine's canonical columnar format is Parquet (the reference's feather
checkpoints → parquet; SURVEY.md §2.1 S7/S12).  Reads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column pruning
and partition pruning for free — no schema inference cost is paid because
parquet carries its schema.

At 100 TB the same call reads a partitioned directory tree
(``.../lineitem/ship_year=1995/...``); nothing in the query layer changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import nanos_as_long

TABLES = (
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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table. Accepts either ``<dir>/<name>.parquet``
    (driver layout) or a ``<dir>/<name>/`` partitioned directory.

    The events table's ``ts`` physical type has varied across driver data
    generations — TIMESTAMP(NANOS) (vectorized reader rejects it; read nanos
    as long via the legacy conf and floor to µs like DuckDB does) and naive
    TIMESTAMP(MICROS) (Spark infers TIMESTAMP_NTZ).  Both are normalized to
    the session-local TIMESTAMP type here so every downstream plan sees one
    timestamp semantics; the session timezone is pinned to UTC
    (session.get_spark), so the NTZ→LTZ cast is value-preserving and matches
    DuckDB's naive-timestamp reading of the same file.
    """
    flat = os.path.join(sf_dir, f"{name}.parquet")
    nested = os.path.join(sf_dir, name)
    path = flat if os.path.exists(flat) else nested
    nanos_as_long(spark)
    df = spark.read.parquet(path)
    for f in df.schema.fields:
        if f.name == "ts" and f.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif f.name == "ts" and f.dataType.simpleString() == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every catalog table and register each as a temp view so the
    same workload can be written in either DataFrame or SQL form."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = read_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
