"""Dataset catalog: name → parquet path for the driver's testdata layout.

Mirrors the control-plane role of duva's HyperFile/Configuration models
(app/models/hyperfile.py:41-62) minus auth: the engine resolves logical
table names to storage locations. Here the storage is the deterministic
TPC-H-ish parquet under /root/testdata/sf*/ (see TESTDATA.md).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The generator has shipped events.ts as TIMESTAMP(NANOS) in some
        # rounds and TIMESTAMP(MICROS, ntz) in others. Normalize both to a
        # session-UTC TimestampType column so every downstream window /
        # watermark / oracle comparison sees identical instants:
        #   - nanos: vectorized reader rejects it; read as long (legacy
        #     conf) and convert to micros.
        #   - micros-ntz: plain cast (session tz is pinned to UTC, so the
        #     wall-clock value IS the instant).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return spark.read.parquet(table_path(sf_dir, name))
