"""Sources & sinks: CSV / JSONL / Parquet / JDBC, and zone-based data
movement."""

from cyrela_etl_spark.sources.bucketed import read_bucketed, write_bucketed
from cyrela_etl_spark.sources.csv import read_csv, read_wallet_csv, write_csv
from cyrela_etl_spark.sources.jdbc import write_jdbc
from cyrela_etl_spark.sources.jsonl import read_jsonl, write_jsonl
from cyrela_etl_spark.sources.parquet import (
    load_tables,
    read_table,
    write_parquet,
)
from cyrela_etl_spark.sources.zones import ZoneStore

__all__ = [
    "read_csv",
    "read_wallet_csv",
    "write_csv",
    "read_jsonl",
    "write_jsonl",
    "read_table",
    "write_parquet",
    "load_tables",
    "write_jdbc",
    "write_bucketed",
    "read_bucketed",
    "ZoneStore",
]
