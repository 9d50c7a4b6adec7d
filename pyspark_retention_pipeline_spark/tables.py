"""Testdata table loaders with explicit schemas.

The reference reads CSV with header inference and then force-casts columns
(reference ``pipeline/etl.py:13-30``); at 100 TB schema inference is a full
extra pass over the data, so this engine *always* reads with an explicit
:class:`~pyspark.sql.types.StructType` and verifies the file schema against it
instead of inferring.

Table layout comes from TESTDATA.md / FIXTURES.md §3 (TPC-H-ish star schema
plus ``events`` / ``documents`` / ``embeddings``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Explicit schemas — the single source of truth for what each table looks like.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
    # events is special-cased below (load_events): the on-disk ``ts``
    # precision has drifted across testdata generations (ns → µs), so the
    # loader probes the parquet footer and derives ``ts_us`` from whatever
    # precision it actually finds instead of assuming one. This is the
    # canonical schema for the common case (µs/ms timestamp, read as NTZ).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
}

# Nanosecond-precision parquet has no Spark timestamp type; under the
# ``nanosAsLong`` legacy flag the physical INT64 surfaces as an epoch-nanos
# long — this schema variant covers that branch of load_events.
_EVENTS_NS_SCHEMA = T.StructType(
    [T.StructField("ts", T.LongType()) if f.name == "ts" else f for f in SCHEMAS["events"]]
)

# Epoch-microsecond sanity band for the testdata era: 2001-09 .. 2096. A
# unit mix-up (ns read as µs, µs read as ms, …) lands 1000× outside this
# band, so the loader can fail loudly instead of silently collapsing hour
# buckets (round-5 regression: testdata moved ns→µs and ``ts DIV 1000``
# quietly produced epoch-millis).
_EPOCH_US_SANE_MIN = 1_000_000_000_000_000
_EPOCH_US_SANE_MAX = 4_000_000_000_000_000

TABLES = tuple(SCHEMAS)

# Scan fan-out window (round-15 optimization; guide §2.5 "unsplittable
# input"). A parquet file with a single row group cannot be split by byte
# range — Spark assigns every row to the one task whose split contains the
# row-group midpoint — so the whole MAP side of a query (filters,
# projections, per-row compute like a hash fold or 10⁵-element dot
# products, partial aggregation) runs on ONE core no matter how many the
# session has. All testdata tables are exactly that shape (one file, one
# row group; measured at sf0.1: every table scans as non_empty=1
# partition). For scans that feed heavy per-row compute the loader
# round-robins a single-file table to the session's default parallelism
# right after the read — the guide's own prescription for unsplittable
# inputs ("repartition immediately after the read").
#
# OPT-IN per call site, not blanket: a round-15 interleaved A/B over the
# registry showed the exchange pays for itself only where the per-row
# compute above the scan is heavy (measured wins at sf0.1/32 cores:
# bootstrap_revenue_ci 8.50→1.18 s, ann_recall_report 3.26→1.03 s,
# winnowing_fingerprints 0.78→0.25 s), while for cheap map work it is a
# pure regression — the extra 32-task stage, the serial shuffle write of
# the table, and one more AQE stage re-optimization cost ~0.3–0.9 s
# (dedup_exact 0.40→1.31 s, customer_rfm 0.38→1.06 s), and for queries
# whose wall is driver-side plan processing of huge expression trees
# (crossdoc_span_rewrite_maximal) parallelism cannot help at all. simhash64
# was in that class too (sig fold over a pre-materialized 32-partition
# input: 1.09→0.82 s — the rest of that wall was Catalyst, not compute)
# until the round-15 HOF tree shrink removed the driver wall; the re-run
# A/B then flipped decisively (0.90→0.33 s) and its scan is fanned out —
# the measure-first discipline applies per call site AND per round.
#
# The window is additionally bounded on BOTH sides so the opt-in is
# scale-adaptive, never a local[32] constant:
#   * below _FANOUT_MIN_BYTES (256 KiB) the table processes in
#     milliseconds on one core and the exchange would cost more than it
#     frees (dimension tables; everything at sf0.001, which also keeps the
#     shuffle census and the plan-invariant suite — both defined at
#     sf0.001 — byte-identical);
#   * above _FANOUT_MAX_BYTES (256 MiB), and for directory layouts
#     (the only way 100 TB arrives), the input already yields >= one task
#     per row group / file and the loader leaves it alone.
_FANOUT_MIN_BYTES = 256 * 1024
_FANOUT_MAX_BYTES = 256 * 1024 * 1024

# Round-16 refinement (verdict item 7): the fan-out TARGET is sized by
# input bytes, not pinned to defaultParallelism. PERF_r15's scaling block
# showed the fanned queries whose map work is moderate run FASTER on 8
# cores than 32 (crossdoc_span_rewrite ratio 0.47, semdedup_keep 0.57,
# minhash_signatures 0.68): a keyless repartition's map side runs as ONE
# task that sorts and writes `target` shuffle blocks, and every extra
# reduce task adds scheduling overhead, so past the point where the
# per-task compute amortizes those fixed costs more fan-out is pure loss.
# A 32-core interleaved target sweep (32/16/8, best-of-3) confirmed it on
# every fanned query — e.g. crossdoc_span_rewrite 1.13/0.75/0.40,
# minhash_signatures 0.76/0.41/0.31, dsir 0.79/0.43/0.40, and even the
# round-15 winners prefer 16 to 32 (winnowing 0.22/0.18/0.20,
# embedding_quantize 0.34/0.18/0.17). The exception is a truly CPU-DENSE
# map (simhash64's 60-lane md5 fold: 0.18/0.16/0.23 — parallelism still
# pays at this data size), so call sites declare ``fan_out="dense"`` to
# keep the full defaultParallelism target; everything else gets
# ceil(bytes / split) capped at defaultParallelism. Both knobs stay
# scale-adaptive: the byte rule grows with the input, the cap follows the
# session's cores (the driver's lower-core bench scales down with it).
_FANOUT_SPLIT_BYTES = 64 * 1024


def _scan_fan_out(
    spark: SparkSession, df: DataFrame, path: str, dense: bool = False
) -> DataFrame:
    """Round-robin a single-file, fan-out-window-sized scan (see the window
    comment above): to ``ceil(bytes / _FANOUT_SPLIT_BYTES)`` partitions
    capped at the session's default parallelism, or to the full default
    parallelism when the call site declares its per-row map compute dense
    enough to amortize one task per core (``dense=True``). Filters and
    column pruning still reach the parquet scan — Catalyst pushes
    deterministic predicates and pruning projections through a
    Repartition."""
    try:
        if not os.path.isfile(path):
            return df
        nbytes = os.path.getsize(path)
    except OSError:
        return df
    if not (_FANOUT_MIN_BYTES <= nbytes <= _FANOUT_MAX_BYTES):
        return df
    cap = spark.sparkContext.defaultParallelism
    if dense:
        target = cap
    else:
        # Non-dense maps top out at HALF the cores: the keyless repartition's
        # map side is one serial task whose write cost grows with the target,
        # and the 32-core sweeps found every non-dense site's optimum at or
        # below cap/2 (relational tier best at 16 of 32: churn_features
        # 1.58→1.14, top_parts_per_segment 1.74→1.22, large_volume_customers
        # 1.55→1.32; text/embedding sites best at their byte targets 8–13).
        half_cap = max(2, cap // 2)
        target = min(half_cap, max(2, -(-nbytes // _FANOUT_SPLIT_BYTES)))
    if target <= 1:
        return df
    return df.repartition(target)


def load_table(
    spark: SparkSession, sf_dir: str, name: str, fan_out: bool | str = False
) -> DataFrame:
    """Read one testdata table as a DataFrame.

    ``events`` comes back with ``ts_us`` (epoch microseconds, long) alongside
    the raw ``ts`` — event-time logic in this engine is done on integer
    epoch values, which are time-zone-free and compare exactly across engines
    (external oracles store timestamps at microsecond precision).

    ``fan_out=True`` opts the scan into the single-row-group fan-out (see
    :func:`_scan_fan_out`) — for call sites whose per-row compute above the
    scan is heavy enough that serializing it on one task dominates the
    query (measured per site; see the fan-out window comment).
    ``fan_out="dense"`` additionally declares the per-row map compute dense
    enough to amortize one task per core (full ``defaultParallelism``
    instead of the byte-sized target)."""
    if name == "events":
        return load_events(spark, sf_dir, fan_out=fan_out)
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(SCHEMAS[name]).parquet(path)
    return _scan_fan_out(spark, df, path, dense=(fan_out == "dense")) if fan_out else df


def _events_footer_probe(path: str):
    """(arrow ts type, min epoch-µs from footer stats) for an events parquet
    file or directory — footer-only, no Spark job, no data pages beyond at
    most one batch when the writer omitted column statistics."""
    import datetime
    import glob
    import os

    import pyarrow.parquet as pq

    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            raise FileNotFoundError(f"no parquet files under {path}")
        path = parts[0]
    pf = pq.ParquetFile(path)
    ts_type = pf.schema_arrow.field("ts").type

    def to_us(v):
        if isinstance(v, datetime.datetime):
            delta = v.replace(tzinfo=None) - datetime.datetime(1970, 1, 1)
            return (delta.days * 86_400 + delta.seconds) * 1_000_000 + delta.microseconds
        # Raw int64 column stats: interpret by the declared unit (ns for the
        # legacy nano files, else assume the value already is what it claims).
        unit = getattr(ts_type, "unit", None)
        scale = {"s": 1_000_000, "ms": 1_000, "us": 1, "ns": None}.get(unit, 1)
        return int(v) // 1000 if scale is None else int(v) * scale

    md = pf.metadata
    col_idx = next(
        i for i in range(md.num_columns) if md.schema.column(i).name == "ts"
    )
    stats = md.row_group(0).column(col_idx).statistics
    if stats is not None and stats.has_min_max:
        return ts_type, to_us(stats.min)
    first = next(pf.iter_batches(batch_size=1, columns=["ts"]))
    return ts_type, to_us(first.column(0)[0].as_py())


def _assert_sane_epoch_us(value: int, path: str) -> None:
    if not (_EPOCH_US_SANE_MIN <= value <= _EPOCH_US_SANE_MAX):
        raise ValueError(
            f"events timestamp sanity check failed for {path}: derived epoch-µs "
            f"{value} is outside [{_EPOCH_US_SANE_MIN}, {_EPOCH_US_SANE_MAX}] "
            "(2001..2096) — the on-disk timestamp precision has likely drifted "
            "again (ns/µs/ms mix-up); fix load_events' unit branch rather than "
            "papering over it downstream."
        )


def load_events(spark: SparkSession, sf_dir: str, fan_out: bool | str = False) -> DataFrame:
    """Events table read precision-proof: ``ts_us`` (epoch microseconds, long)
    is derived from the timestamp precision the parquet footer *actually*
    declares, never from an assumed unit.

      * µs/ms/s timestamps (the current testdata writes ``timestamp[us]``):
        read as ``TIMESTAMP_NTZ`` and diff against the NTZ epoch —
        ``timestampdiff(MICROSECOND, ...)`` is pure integer arithmetic on the
        stored value, independent of the session time zone (a cast through
        ``TIMESTAMP`` would shift by the session offset).
      * ns timestamps (older testdata generations): Spark's vectorized reader
        has no nanosecond type; the supported path is the
        ``spark.sql.legacy.parquet.nanosAsLong`` flag + integer DIV 1000
        (double division at epoch-nanos magnitude ~1.7e18 loses low bits).

    Either branch ends with a footer-stat magnitude assert so a future
    precision drift fails loudly at load time instead of silently collapsing
    hour buckets (the round-5 failure mode).
    """
    path = f"{sf_dir}/events.parquet"
    ts_type, min_us = _events_footer_probe(path)
    if getattr(ts_type, "unit", None) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(_EVENTS_NS_SCHEMA).parquet(path)
        df = df.withColumn("ts_us", F.expr("ts DIV 1000"))
    elif getattr(ts_type, "tz", None):
        # Instant-semantics (isAdjustedToUTC) timestamps: unix_micros is exact.
        schema = T.StructType(
            [
                T.StructField("ts", T.TimestampType()) if f.name == "ts" else f
                for f in SCHEMAS["events"]
            ]
        )
        df = spark.read.schema(schema).parquet(path)
        df = df.withColumn("ts_us", F.unix_micros("ts"))
    else:
        df = spark.read.schema(SCHEMAS["events"]).parquet(path)
        df = df.withColumn(
            "ts_us",
            F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
        )
    _assert_sane_epoch_us(min_us, path)
    return _scan_fan_out(spark, df, path, dense=(fan_out == "dense")) if fan_out else df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; all of them when ``names`` is empty."""
    picked = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in picked}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view so raw SQL text runs
    against the engine (``spark.sql`` is a first-class API surface beside
    the DataFrame builders — reference users who write SQL keep writing
    SQL). Events register with the integer ``ts_us`` column added."""
    for name in TABLES:
        df = load_events(spark, sf_dir) if name == "events" else load_table(
            spark, sf_dir, name
        )
        df.createOrReplaceTempView(name)
