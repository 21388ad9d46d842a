"""Sources: CSV (duva null/type semantics), Parquet, JSON, remote HTTP."""

from duva_spark.sources.csv_source import infer_csv_schema, read_csv_duva, read_csv_sampled
from duva_spark.sources.http import fetch_to_local

__all__ = ["read_csv_duva", "read_csv_sampled", "infer_csv_schema", "fetch_to_local"]
