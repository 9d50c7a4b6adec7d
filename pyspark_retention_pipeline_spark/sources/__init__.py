"""Sources & sinks (SURVEY.md §2.1 S1-S6) + physical layout tooling."""

from .bucketing import bucket_fact_tables, colocated_order_lines
from .io import (
    read_csv_transactions,
    read_csv_transactions_permissive,
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
    write_parquet,
    write_partitioned_parquet,
)
from .layout import write_zordered, zorder_key
from .nanoparquet import NanoParquetDataSource

__all__ = [
    "bucket_fact_tables",
    "colocated_order_lines",
    "read_csv_transactions",
    "read_csv_transactions_permissive",
    "read_csv",
    "read_jsonl",
    "read_orc",
    "write_csv",
    "write_jsonl",
    "write_orc",
    "write_parquet",
    "write_partitioned_parquet",
    "write_zordered",
    "zorder_key",
    "NanoParquetDataSource",
]
