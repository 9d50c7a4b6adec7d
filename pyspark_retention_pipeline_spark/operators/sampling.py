"""Sampling operators — a first-class need for training-data pipelines
(held-out splits, corpus down-sampling, per-class balancing) that the
reference only touches via ``randomSplit`` (etl.py:148).

`hash_sample` is the deterministic, engine- and run-stable form: membership
is a pure function of the key, so re-runs, retries, and different
partitionings select the identical sample — the property that matters when a
100 TB job restarts. ``stratified_sample`` wraps Spark's seeded Bernoulli
``sampleBy`` for per-stratum rates (seed-stable within Spark, but
implementation-defined — rows-only check, SURVEY §7 randomSplit note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..exprs import md5_u32
from ..registry import query
from ..tables import load_table


def hash_sample_frame(df: DataFrame, key, rate_pct: int) -> DataFrame:
    """Keep rows whose md5(key) bucket (mod 100) < rate_pct — deterministic
    across engines, runs, and partitionings."""
    bucket = md5_u32(F.col(key).cast("string")) % 100
    return df.filter(bucket < rate_pct)


@query(
    "hash_sample",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE CAST(('0x' || substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
    """,
    tags=("sampling", "deterministic"),
)
def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% key-hash sample of orders."""
    o = load_table(spark, sf_dir, "orders")
    return hash_sample_frame(o, "o_orderkey", 10).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query("stratified_sample", tags=("sampling", "stratified"))
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded per-stratum Bernoulli sample: 50% of F-status orders, 10% of the
    rest (class rebalancing shape). Sampling is implementation-defined →
    rows-only check."""
    o = load_table(spark, sf_dir, "orders")
    return o.sampleBy(
        "o_orderstatus", fractions={"F": 0.5, "O": 0.1, "P": 0.1}, seed=42
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


# Per-language target sampling rates (percent) for the corpus-mixing demo:
# downweight the dominant language, keep the rest — the "data mixture" knob
# from public LLM dataset recipes (e.g. The Pile / MassiveText weightings).
MIX_RATES_PCT = {"en": 50, "de": 100, "es": 100, "fr": 100, "zh": 100}

MIX_CASE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(MIX_RATES_PCT.items())
) + " ELSE 0 END"


@query(
    "lang_mix_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % 100 < {MIX_CASE_SQL}
    """,
    tags=("sampling", "data-mixture"),
)
def lang_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group down-sampling to a target corpus mixture:
    each language keeps an md5-bucket fraction of its documents
    (en 50%, others 100%) — the mixture-weighting step of a training-data
    pipeline, expressed as one stateless filter. Membership is a pure
    function of doc_id, so re-runs, retries, and any partitioning produce
    the identical mix; rates live in one literal CASE that codegen folds
    into the scan filter. No shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    bucket = md5_u32(F.col("doc_id").cast("string")) % 100
    rate = F.expr(MIX_CASE_SQL)
    return d.filter(bucket < rate).select("doc_id", "lang", "source")


@query(
    "train_val_test_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    tags=("sampling", "split"),
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test assignment from the md5 key
    bucket — the leakage-safe split: assignment is a pure function of
    doc_id, so a document can never migrate between splits across re-runs,
    incremental loads, or engine versions (``randomSplit`` guarantees none
    of these — SURVEY §7). Map-side only; composes with group-aware keys
    (hash a cluster/domain id instead of doc_id to keep near-duplicates on
    one side of the split)."""
    d = load_table(spark, sf_dir, "documents")
    return split_assignment_frame(d, "doc_id").select("doc_id", "lang", "split")


# Epochs materialized by the epoch-shuffle demo; production passes any count.
N_EPOCHS = 3
# Shuffle buckets per epoch — the write-partition grain of the shuffled copy.
SHUFFLE_BUCKETS = 1024


@query(
    "epoch_shuffle",
    oracle=f"""
    SELECT d.doc_id, CAST(e.i AS BIGINT) AS epoch,
           CAST(('0x' || substring(md5(CAST(e.i AS VARCHAR) || ':' ||
                                       CAST(d.doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % {SHUFFLE_BUCKETS} AS shuffle_bucket
    FROM documents d, UNNEST(range(0, {N_EPOCHS})) AS e(i)
    """,
    tags=("sampling", "shuffle", "training-data"),
)
def epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch shuffle assignment: each (epoch, doc) pair
    gets an md5 bucket in [0, {SHUFFLE_BUCKETS}) — a different pseudo-random
    data order per epoch WITHOUT a global sort. The training writer
    partitions each epoch's copy by ``shuffle_bucket`` (and sorts within
    partitions if byte-exact order matters); readers stream buckets in
    order. Because the bucket is a pure function of (epoch, doc_id), a
    restarted job reproduces the identical order mid-epoch — the property
    ``orderBy(rand())`` cannot give — and epochs are independent
    permutations. Map-side only: the explode is the only fan-out, there is
    no shuffle at all in the assignment itself."""
    d = load_table(spark, sf_dir, "documents")
    epochs = F.explode(
        F.sequence(F.lit(0).cast("long"), F.lit(N_EPOCHS - 1).cast("long"))
    )
    keyed = d.select("doc_id", epochs.alias("epoch"))
    key = F.concat_ws(
        ":", F.col("epoch").cast("string"), F.col("doc_id").cast("string")
    )
    bucket = md5_u32(key) % SHUFFLE_BUCKETS
    return keyed.select("doc_id", "epoch", bucket.alias("shuffle_bucket"))


def split_assignment_frame(
    df: DataFrame, key_col: str, train_pct: int = 90, val_pct: int = 5
) -> DataFrame:
    """Append a deterministic ``split`` column from the md5 bucket of
    ``key_col``. The key IS the leakage contract: hash ``doc_id`` for an
    i.i.d. split, or a GROUP id (dedup cluster canonical id, domain, author)
    so every member of a group lands in the same split — the group-aware
    split that keeps near-duplicates from straddling train/test
    (tests/test_curation.py::test_group_aware_split_keeps_groups_together).
    Map-side only; no shuffle."""
    bucket = md5_u32(F.col(key_col).cast("string")) % 100
    return df.withColumn(
        "split",
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test"),
    )


# Weighted-sample size and the 2^52 divisor that turns 13 md5 hex digits
# (52 bits — exactly representable in a double) into a uniform in (0, 1].
WSAMPLE_K = 200
TWO_52 = 4_503_599_627_370_496


@query(
    "weighted_doc_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             ln((CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                      AS BIGINT) + 1) / {TWO_52}.0) / n_chars AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, ROUND(priority * 1000000, 6) AS priority_ppm
    FROM keyed
    ORDER BY priority DESC, doc_id
    LIMIT {WSAMPLE_K}
    """,
    tags=("sampling", "weighted", "deterministic"),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES, public algorithm): each document draws u ∈ (0,1] and the
    top-k by u^(1/w) — equivalently ln(u)/w — form the sample, so selection
    probability tracks the weight (n_chars here: longer documents are
    likelier, the "sample by token mass" knob a corpus mixer needs when
    uniform doc sampling would under-represent long documents).

    Replaces RNG with arithmetic: u comes from 13 md5 hex digits of the key
    (52 bits — a double holds it EXACTLY, so both engines divide identical
    dyadic rationals; the +1 keeps ln away from zero). One linear pass, no
    shuffle before the TakeOrderedAndProject top-k (per-partition heaps of
    k, driver merge) — the distributed weighted reservoir. Restart- and
    partitioning-stable like :func:`hash_sample`, which is what a 100 TB
    job needs from its sampler. ln agrees across engines far below the
    1e-6 output rounding (the tfidf_top_terms precedent); the sort itself
    runs on doubles whose cross-engine ulp gap (~1e-21 at these magnitudes)
    cannot reorder distinct keys."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(float(TWO_52))
    keyed = d.select(
        "doc_id", "n_chars", (F.log(u) / F.col("n_chars")).alias("priority")
    )
    return (
        keyed.orderBy(F.desc("priority"), "doc_id")
        .limit(WSAMPLE_K)
        .select(
            "doc_id",
            "n_chars",
            F.round(F.col("priority") * 1_000_000, 6).alias("priority_ppm"),
        )
    )


# Fixed per-group sample size for the inspection sample.
GROUP_SAMPLE_K = 3


@query(
    "per_source_sample",
    oracle=f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= {GROUP_SAMPLE_K}
    """,
    tags=("sampling", "per-group", "deterministic"),
)
def per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k sample per group ({GROUP_SAMPLE_K} docs per
    source) — the "show me a few examples from every source" query behind
    data-review UIs and eval-set seeding. The md5 of the key plays the
    random order, so the sample is stable across runs, engines, and
    incremental loads (``ORDER BY rand()`` is none of these), and the
    ``doc_id`` tie-break makes it total. The window partitions on
    ``source`` — per-group state, never a global sort — and row_number
    short-circuits to a per-group top-k; at corpus scale this is the
    rank-based sibling of :func:`lang_mix_sample`'s fraction-based
    bucketing."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).cast("long").alias("rn"))
        .where(F.col("rn") <= GROUP_SAMPLE_K)
    )
