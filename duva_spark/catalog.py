"""Dataset catalog: name → parquet path for the driver's testdata layout.

Mirrors the control-plane role of duva's HyperFile/Configuration models
(app/models/hyperfile.py:41-62) minus auth: the engine resolves logical
table names to storage locations. Here the storage is the deterministic
TPC-H-ish parquet under /root/testdata/sf*/ (see TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

# Dimension tables that are always small enough to broadcast (region has 5
# rows, nation 25 at any TPC-H scale factor) — at 100 TB these stay
# broadcast-able; customer/supplier/part grow with SF so they are left to
# AQE's dynamic broadcast decision instead of a hard hint.
ALWAYS_BROADCAST = {"region", "nation"}

# Reads parquet TIMESTAMP(NANOS) as a long instead of failing the read.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def events_on_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table with ``ts`` as stored: a long of nanos or a
    timestamp (see ``events_ts``)."""
    # get_spark sets this conf when it builds the session; a session built
    # elsewhere (e.g. one handed to __spark_entry__) gets it on its first
    # events read.
    if spark.conf.get(NANOS_AS_LONG, "false") != "true":
        spark.conf.set(NANOS_AS_LONG, "true")
    return spark.read.parquet(table_path(sf_dir, "events"))


def events_ts(df: DataFrame) -> DataFrame:
    """Normalize a batch or stream events frame's ``ts`` to a session-UTC
    TimestampType column, so every window / watermark / oracle comparison
    sees identical instants. The events table has been generated with ts
    as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS, ntz):
      - nanos: the vectorized reader rejects it, so it is read as a long
        (``NANOS_AS_LONG``) and converted to micros;
      - micros-ntz: plain cast (session tz is pinned to UTC, so the
        wall-clock value IS the instant)."""
    if isinstance(df.schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return events_ts(events_on_disk(spark, sf_dir))
    return spark.read.parquet(table_path(sf_dir, name))
