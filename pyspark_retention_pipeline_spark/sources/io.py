"""CSV/Parquet sources and sinks with 100 TB posture.

Reference parity: ``pipeline/etl.py:13-30`` reads globbed CSV with header
inference then renames/casts; at scale, inference is a full extra pass, so
:func:`read_csv_transactions` takes an explicit schema and applies the same
header normalization declaratively. Sinks add what the reference lacks:
partitioned layout (partition pruning for downstream readers) and an explicit
no-infer contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Online-Retail-II-shaped transaction lines (FIXTURES.md §1.1). Both Kaggle
# header spellings are normalized, mirroring reference etl.py:18-20.
TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("Invoice", T.StringType()),
        T.StructField("StockCode", T.StringType()),
        T.StructField("Description", T.StringType()),
        T.StructField("Quantity", T.IntegerType()),
        T.StructField("InvoiceDate", T.StringType()),
        T.StructField("UnitPrice", T.DoubleType()),
        T.StructField("CustomerID", T.StringType()),
        T.StructField("Country", T.StringType()),
    ]
)

_HEADER_ALIASES = {
    "InvoiceNo": "Invoice",
    "Customer ID": "CustomerID",
    "Price": "UnitPrice",
}


def read_csv_transactions(spark: SparkSession, path: str) -> DataFrame:
    """Globbed CSV scan with explicit types (reference S1, ``etl.py:15``).

    Headers are read (one cheap metadata row) but *types* are never inferred;
    alternate header spellings are renamed and the timestamp parsed
    explicitly, exactly the casts of reference ``etl.py:23-29``.
    """
    raw = spark.read.option("header", True).csv(path)
    for old, new in _HEADER_ALIASES.items():
        if old in raw.columns:
            raw = raw.withColumnRenamed(old, new)
    return raw.select(
        F.col("Invoice").cast("string").alias("Invoice"),
        F.col("StockCode").cast("string").alias("StockCode"),
        F.col("Description").cast("string").alias("Description"),
        F.col("Quantity").cast("int").alias("Quantity"),
        F.to_timestamp("InvoiceDate").alias("InvoiceDate"),
        F.col("UnitPrice").cast("double").alias("UnitPrice"),
        F.col("CustomerID").cast("string").alias("CustomerID"),
        F.col("Country").cast("string").alias("Country"),
    )


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Plain parquet sink (S3, reference ``etl.py:147-151``)."""
    df.write.mode(mode).parquet(path)


def write_partitioned_parquet(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned parquet layout — downstream scans prune partitions on the
    partition columns for free; the write itself shuffles nothing (files are
    split per in-memory partition)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_csv_transactions_permissive(
    spark: SparkSession, path: str
) -> tuple[DataFrame, DataFrame]:
    """Corrupt-tolerant CSV ingest: malformed rows are quarantined into a
    ``_corrupt_record`` column instead of failing the job (at corpus scale a
    handful of bad rows must never kill a 100 TB read). Returns
    (clean_rows, quarantined_rows)."""
    schema = T.StructType(
        TRANSACTIONS_SCHEMA.fields + [T.StructField("_corrupt_record", T.StringType())]
    )
    from pyspark import StorageLevel

    # The pin is required (corrupt-record queries must not re-parse per
    # action — Spark drops _corrupt_record on a second scan unless the first
    # materialized it), but DISK_ONLY, not MEMORY: this frame is the RAW
    # corpus, and at 100 TB a memory cache is pure eviction churn that
    # steals executor memory from the shuffles downstream. One disk
    # materialization is the same bytes a write-then-read quarantine would
    # pay, without the extra job.
    raw = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(path)
    ).persist(StorageLevel.DISK_ONLY)
    clean = raw.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    quarantined = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        "_corrupt_record"
    )
    return clean, quarantined


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Header CSV sink — the interchange leg of the S1 CSV surface (scan
    was covered from round 1; the write side closes the loop). Spark
    serializes doubles via Java's shortest-unique representation, so
    numeric values round-trip exactly; schemas must still be EXPLICIT on
    re-read (CSV carries no types)."""
    df.write.mode(mode).option("header", True).csv(path)


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema-pinned CSV scan (generic leg; the reference-shaped
    transaction reader with header aliases is read_csv_transactions)."""
    return spark.read.option("header", True).schema(schema).csv(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink — the interchange format of LLM training-data
    pipelines (one document object per line; splittable when uncompressed,
    so 100 TB reads parallelize per line block)."""
    df.write.mode(mode).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Schema-pinned JSON-lines scan. The schema is REQUIRED: inference on
    JSON is a full extra pass over the data and silently widens types on
    dirty corpora — at scale the contract must be explicit."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (built into Spark) — the second columnar format the engine
    speaks; same predicate-pushdown/column-pruning behavior as parquet for
    warehouses standardized on ORC."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — schema travels in the ORC footer (no inference pass)."""
    return spark.read.orc(path)
