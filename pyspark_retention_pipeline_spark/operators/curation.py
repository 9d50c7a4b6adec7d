"""Corpus-curation operators — the selection steps between a cleaned corpus
and a training mix: benchmark-contamination detection and token-budget
selection. (Round-3 extension-tier additions alongside dedup / quality /
chunking; public-recipe material — n-gram decontamination and quality-ranked
token budgets are standard LLM-corpus practice described in public dataset
reports such as GPT-3's 13-gram dedup appendix and the Gopher/MassiveText
filtering sections.)

Both operators are built for the 100 TB posture:

  * contamination joins the corpus against the eval side on raw n-grams with
    NO forced broadcast — the eval set is benchmark-sized in production and
    AQE will broadcast it when it is; expressed declaratively the plan stays
    a pair of map-side explodes and one equi-join;
  * token-budget selection deliberately avoids the "order the whole corpus
    and take a running sum" formulation (a single-partition window — the
    exact scale hazard round 2 flagged on pack_documents). Instead it
    aggregates per score-BIN token totals (a tiny frame, one row per bin),
    finds the budget-crossing bin, and semi-joins the corpus against the
    selected bins — two small shuffles, no global sort, no unbounded state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..exprs import md5_u32
from ..pins import pin
from ..registry import query
from ..tables import load_table
from .sampling import MIX_CASE_SQL, split_assignment_frame
from .text import (
    SIMHASH_SIGS_CTE,
    gram_hash_array,
    simhash_candidate_frame,
    token_hash_frame,
)

NGRAM = 5
# Every 97th doc plays the held-out benchmark: a deterministic stand-in for
# the (externally supplied, benchmark-sized) eval corpus.
EVAL_MOD = 97
# Token budget for the curriculum selection and the score-bin width (chars).
TOKEN_BUDGET = 20_000
SCORE_BIN_CHARS = 50
# Contamination keep-rule denominator: a document survives curation when
# n_contaminated * CONTAM_KEEP_DEN <= n_grams, i.e. at most 1/5 of its
# distinct n-grams overlap the eval suite. Integer comparison — no float
# threshold, so both engines agree bit-for-bit.
CONTAM_KEEP_DEN = 5


def _gram_hash_frame(
    docs: DataFrame,
    distinct: bool = True,
    k: int = NGRAM,
    with_pos: bool = False,
) -> DataFrame:
    """(doc_id, gram) rows where ``gram`` is the 64-bit hash of a distinct
    word ``k``-gram (default {NGRAM}) — n-gram identity WITHOUT materializing n-gram
    strings: tokens hash once each, staged as an array column (referenced
    {NGRAM} times by the gram lambda, so CollapseProject keeps it
    materialized instead of re-evaluating the token transform per index),
    and each gram hashes its consecutive token hashes. Same staging trick as
    ``text.minhash_signature_frame`` — measured 3.3× faster than per-gram
    ``concat_ws`` string building at sf0.1, and the downstream join carries
    8-byte longs instead of gram strings. A 64-bit collision falsely merges
    two grams — negligible at verification scale (P ≈ n²/2⁶⁴) and an
    accepted deviation for a filtering heuristic at corpus scale, the
    standard trade in public n-gram-decontamination recipes. Short docs
    (< {NGRAM} tokens) hash their available tokens (``get`` past the end is
    NULL; xxhash64 skips NULLs) — one gram, same convention as the string
    form. ``with_pos=True`` keeps every occurrence with its 0-based token
    start position — ``(doc_id, pos, gram)`` via posexplode, ``distinct``
    ignored (positions imply occurrences) — the mode the span REWRITE
    needs (:func:`crossdoc_span_rewrite`); single definition so the span
    identity convention (NULL-skip truncation, hash-of-token-hashes,
    staging) cannot drift between the diagnostic and the rewrite
    (round-12 review finding)."""
    staged = token_hash_frame(docs)
    gram_h = gram_hash_array(k)
    if with_pos:
        return staged.select(
            "doc_id", F.posexplode(gram_h).alias("pos", "gram")
        )
    if distinct:
        gram_h = F.array_distinct(gram_h)
    return staged.select("doc_id", F.explode(gram_h).alias("gram"))


@query(
    "ngram_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, s.i + 1, s.i + {NGRAM}), ' ') AS gram
      FROM toks,
           UNNEST(range(0, greatest(len(t) - {NGRAM}, 0) + 1)) AS s(i)
    ), eval_grams AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id % {EVAL_MOD} = 0
    ), joined AS (
      SELECT g.doc_id,
             COUNT(*) AS n_grams,
             CAST(COALESCE(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_contaminated
      FROM grams g LEFT JOIN eval_grams e ON g.gram = e.gram
      WHERE g.doc_id % {EVAL_MOD} <> 0
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_contaminated,
           ROUND(n_contaminated / CAST(n_grams AS DOUBLE), 6)
             AS contaminated_frac
    FROM joined
    """,
    tags=("curation", "decontamination"),
)
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: for every training document, the count
    and fraction of its distinct word {NGRAM}-grams that also occur in the
    held-out eval slice (``doc_id % {EVAL_MOD} == 0`` stands in for the
    benchmark suite). The join is on 64-bit gram hashes (see
    :func:`_gram_hash_frame`) with no broadcast hint — the eval side is
    benchmark-sized in production and AQE picks the broadcast when it fits;
    at corpus scale both sides are map-side explodes into one equi-join,
    and the per-doc rollup shuffles 16-byte keys."""
    d = load_table(spark, sf_dir, "documents")
    grams = _gram_hash_frame(d)
    eval_grams = (
        grams.filter(F.col("doc_id") % EVAL_MOD == 0).select("gram").distinct()
    )
    train = grams.filter(F.col("doc_id") % EVAL_MOD != 0)
    hits = train.join(
        eval_grams.withColumn("_hit", F.lit(1)), "gram", "left"
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.round(
                F.col("n_contaminated") / F.col("n_grams").cast("double"), 6
            ).alias("contaminated_frac"),
        )
    )


@query(
    "token_budget_select",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             n_chars // {SCORE_BIN_CHARS} AS bin,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), bins AS (
      SELECT bin, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      FROM sized GROUP BY bin
    ), cum AS (
      SELECT bin,
             COALESCE(SUM(bin_tokens) OVER (
               ORDER BY bin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS tokens_above
      FROM bins
    )
    SELECT s.doc_id, CAST(s.bin AS BIGINT) AS bin, s.n_tokens
    FROM sized s JOIN cum c ON s.bin = c.bin
    WHERE c.tokens_above < {TOKEN_BUDGET}
    """,
    tags=("curation", "token-budget"),
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection ("take the best documents until
    the budget is spent") WITHOUT a global sort: documents are bucketed into
    quality bins (length proxy, ``n_chars DIV {SCORE_BIN_CHARS}``), per-bin
    token totals are aggregated (one tiny row per bin), the running total
    over bins — descending quality — finds every bin whose preceding bins
    haven't exhausted the {TOKEN_BUDGET}-token budget, and the corpus is
    joined back against those bins. The only window runs over the bin frame
    (hundreds of rows, explicitly bounded — NOT the corpus), so the pattern
    that made the naive formulation a single-partition corpus window never
    appears. Whole bins are selected; overshoot is bounded by the boundary
    bin's total — the deterministic, engine-identical contract."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.expr(f"n_chars DIV {SCORE_BIN_CHARS}").alias("bin"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    bins = sized.groupBy("bin").agg(F.sum("n_tokens").alias("bin_tokens"))
    # Window over the BIN aggregate only: one row per bin, explicitly tiny.
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = bins.select(
        "bin",
        F.coalesce(F.sum("bin_tokens").over(w), F.lit(0)).alias("tokens_above"),
    )
    selected = cum.filter(F.col("tokens_above") < TOKEN_BUDGET).select("bin")
    return sized.join(F.broadcast(selected), "bin").select(
        "doc_id", "bin", "n_tokens"
    )


@query(
    "quality_budget_select",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct,
             CAST(len(replace(text, ' ', '')) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len
      FROM documents
    ), kept AS (
      SELECT doc_id, n_tokens,
             (20 * n_distinct) // n_tokens AS band
      FROM stats
      WHERE n_tokens BETWEEN 10 AND 1000
        AND mean_tok_len BETWEEN 2.0 AND 12.0
        AND 5 * n_distinct >= n_tokens
    ), bands AS (
      SELECT band, CAST(SUM(n_tokens) AS BIGINT) AS band_tokens
      FROM kept GROUP BY band
    ), cum AS (
      SELECT band,
             COALESCE(SUM(band_tokens) OVER (
               ORDER BY band DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS tokens_above
      FROM bands
    )
    SELECT k.doc_id, CAST(k.band AS BIGINT) AS band, k.n_tokens
    FROM kept k JOIN cum c ON k.band = c.band
    WHERE c.tokens_above < {TOKEN_BUDGET}
    """,
    tags=("curation", "token-budget", "text-quality"),
)
def quality_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection ranked by ACTUAL quality, not the length proxy:
    documents first pass the C4-style keep rule (token band, mean-token-len
    band, distinct-token ratio — same public heuristics as
    ``c4_quality_filter``, with the ratio threshold in integer form
    ``5 * n_distinct >= n_tokens``), then spend the {TOKEN_BUDGET}-token
    budget from the highest distinct-token band downward — the band is
    ``(20 * n_distinct) DIV n_tokens``, pure integer math, so both engines
    bin identically. Physically identical posture to
    :func:`token_budget_select`: per-band totals, a window over the tiny
    BAND frame only, broadcast semi-join back — no global sort at any
    scale. The composition a curation pipeline actually runs: filter by
    quality floor, then rank the survivors by quality for the budget."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    stats = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        (
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks).cast("double")
        ).alias("mean_tok_len"),
    )
    kept = stats.filter(
        F.col("n_tokens").between(10, 1000)
        & (F.col("mean_tok_len") >= 2.0)
        & (F.col("mean_tok_len") <= 12.0)
        & (5 * F.col("n_distinct") >= F.col("n_tokens"))
    ).select(
        "doc_id", "n_tokens", F.expr("(20 * n_distinct) DIV n_tokens").alias("band")
    )
    bands = kept.groupBy("band").agg(F.sum("n_tokens").alias("band_tokens"))
    # Window over the BAND aggregate only: band = (20*n_distinct) DIV
    # n_tokens ∈ [0, 20], so this frame is ≤ 21 rows at ANY corpus size —
    # bounded by construction, not by data (round-10 verdict item 4 note).
    w = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = bands.select(
        "band",
        F.coalesce(F.sum("band_tokens").over(w), F.lit(0)).alias("tokens_above"),
    )
    selected = cum.filter(F.col("tokens_above") < TOKEN_BUDGET).select("band")
    return kept.join(F.broadcast(selected), "band").select(
        "doc_id", "band", "n_tokens"
    )


_GRAM_SQL = f"""
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, s.i + 1, s.i + {NGRAM}), ' ') AS gram
      FROM {{src}},
           UNNEST(range(0, greatest(len(t) - {NGRAM}, 0) + 1)) AS s(i)
"""


@query(
    "curate_corpus",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, lang, text FROM (
        SELECT doc_id, lang, text,
               ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
      ) WHERE rn = 1 AND doc_id % {EVAL_MOD} <> 0
    ), ktoks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM kept
    ), kgrams AS ({_GRAM_SQL.format(src="ktoks")}
    ), etoks AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents WHERE doc_id % {EVAL_MOD} = 0
    ), eval_grams AS (
      SELECT DISTINCT gram FROM ({_GRAM_SQL.format(src="etoks")})
    ), contam AS (
      SELECT g.doc_id, COUNT(*) AS n_grams,
             CAST(COALESCE(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_contaminated
      FROM kgrams g LEFT JOIN eval_grams e ON g.gram = e.gram
      GROUP BY g.doc_id
    ), clean AS (
      SELECT k.doc_id, k.lang, c.n_grams, c.n_contaminated
      FROM kept k JOIN contam c ON k.doc_id = c.doc_id
      WHERE c.n_contaminated * {CONTAM_KEEP_DEN} <= c.n_grams
    ), mixed AS (
      SELECT doc_id, lang, n_grams, n_contaminated,
             CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 100 AS bucket
      FROM clean
      WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 100 < {MIX_CASE_SQL}
    )
    SELECT doc_id, lang, n_grams, n_contaminated,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM mixed
    """,
    tags=("curation", "pipeline"),
)
def curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus curation — the composition the training-data brief
    actually describes, as ONE declarative plan (round-3 verdict item 2):

      1. **exact dedup** — keep-first per md5 fingerprint (16-byte
         pre-shuffle keys, same form as ``dedup_keep_first``);
      2. **eval holdout + contamination filter** — the held-out slice
         (``doc_id % {EVAL_MOD} == 0``) leaves the corpus entirely, and any
         surviving document whose distinct {NGRAM}-gram overlap with the
         eval suite exceeds 1/{CONTAM_KEEP_DEN} is dropped (integer
         keep-rule ``n_contaminated * {CONTAM_KEEP_DEN} <= n_grams`` — no
         float threshold, exact cross-engine parity);
      3. **mixture sampling** — deterministic per-language md5-bucket rates
         (same knob as ``lang_mix_sample``);
      4. **leakage-safe split** — pure-function-of-key 90/5/5 train/val/test
         assignment (``split_assignment_frame``).

    Every stage is a pure function of document content/key, so the whole
    pipeline is restart- and engine-stable end to end. Cluster keys here are
    EXACT-duplicate fingerprints (SQL-expressible → hash-verified against
    the DuckDB oracle); the near-dup-cluster form of the same composition is
    :func:`curate_corpus_neardup` (iterative connected components →
    rows-only by contract). Scale posture: one fingerprint window shuffle,
    two gram-explode joins (eval side benchmark-sized, AQE broadcasts it),
    and map-side-only sampling/split — no global sort, no unbounded state."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    # ``kept`` feeds TWO branches (the gram-explode contamination count and
    # the final metadata join), so it is pinned — unpinned, the corpus scan
    # AND the fingerprint window re-ran per branch (3 documents scans in the
    # round-8 registry audit; budget is ≤ 2).
    kept = pin(
        d.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("doc_id") % EVAL_MOD != 0))
        .select("doc_id", "lang", "text")
    )
    eval_grams = (
        _gram_hash_frame(d.filter(F.col("doc_id") % EVAL_MOD == 0))
        .select("gram")
        .distinct()
    )
    contam = (
        _gram_hash_frame(kept)
        .join(eval_grams.withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("long").alias("n_contaminated"),
        )
    )
    clean = (
        kept.select("doc_id", "lang")
        .join(contam, "doc_id")
        .filter(F.col("n_contaminated") * CONTAM_KEEP_DEN <= F.col("n_grams"))
    )
    bucket = md5_u32(F.col("doc_id").cast("string")) % 100
    mixed = clean.filter(bucket < F.expr(MIX_CASE_SQL))
    return split_assignment_frame(mixed, "doc_id").select(
        "doc_id", "lang", "n_grams", "n_contaminated", "split"
    )


# Every 10th-mod-7 doc plays the "new crawl batch" for incremental dedup —
# the rest is the historical corpus it must not duplicate.
BATCH_MOD, BATCH_REM = 10, 7
# Token-count histogram bin width (tokens).
TOKEN_BIN = 32


@query(
    "incremental_dedup",
    oracle=f"""
    SELECT b.doc_id, md5(b.text) AS fingerprint
    FROM documents b
    WHERE b.doc_id % {BATCH_MOD} = {BATCH_REM}
      AND NOT EXISTS (
        SELECT 1 FROM documents h
        WHERE h.doc_id % {BATCH_MOD} <> {BATCH_REM}
          AND md5(h.text) = md5(b.text)
      )
    """,
    tags=("curation", "dedup-exact", "incremental"),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batch-vs-corpus) exact dedup — the recurring production
    shape: a new crawl batch (``doc_id % {BATCH_MOD} == {BATCH_REM}`` stands
    in) survives only if its content fingerprint does not already exist in
    the historical corpus. ANTI join on 16-byte md5 fingerprints: the
    history side is reduced to DISTINCT fingerprints before the join (in
    production this is the persisted fingerprint index of the corpus — a
    fraction of corpus bytes), the batch side is typically days, not years,
    of data, and no document body ever crosses the shuffle. Contrast with
    ``dedup_exact``, which re-clusters the WHOLE corpus per run — at 100 TB
    you run that once, then this per batch."""
    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % BATCH_MOD == BATCH_REM).select(
        "doc_id", F.md5("text").alias("fingerprint")
    )
    history = (
        d.filter(F.col("doc_id") % BATCH_MOD != BATCH_REM)
        .select(F.md5("text").alias("fingerprint"))
        .distinct()
    )
    return batch.join(history, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


@query(
    "source_mix_report",
    oracle="""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source, lang
    """,
    tags=("curation", "mixture", "profiling"),
)
def source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report — the per-(source, language) doc/token/char
    totals a mixture design starts from (what `lang_mix_sample`'s rates are
    tuned against). One map-side-combinable aggregate over tiny group keys;
    exact integer sums only, so parity is unconditional. At 100 TB this is
    the cheapest full-corpus statement there is: one pass, grouped on a
    handful of keys."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "token_len_histogram",
    oracle=f"""
    SELECT CAST(len(string_split(text, ' ')) // {TOKEN_BIN} AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS bin_tokens
    FROM documents
    GROUP BY 1
    """,
    tags=("curation", "histogram", "profiling"),
)
def token_len_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in {TOKEN_BIN}-token bins — the length
    distribution behind chunking/packing/budget decisions (where does the
    corpus mass sit, how heavy is the tail). Same fixed-width-bin form as
    ``acctbal_histogram``, applied to the token counts; one aggregate,
    integer math end-to-end."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return (
        d.select(
            F.expr(f"size(split(text, ' ')) DIV {TOKEN_BIN}").alias("bin"),
            n_tokens.alias("_nt"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_nt").cast("long").alias("bin_tokens"),
        )
    )


@query("curate_corpus_neardup", tags=("curation", "pipeline", "dedup-neardup"))
def curate_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-duplicate-aware form of :func:`curate_corpus`'s split stage:
    minhash-LSH candidate pairs → connected components → cluster canonical
    id → GROUP-AWARE 90/5/5 split keyed on the CLUSTER id, so every member
    of a near-dup cluster lands on the same side of train/val/test and
    near-duplicates can never leak across the split boundary
    (tests/test_curation.py asserts no cluster — and no candidate pair —
    straddles splits). Documents outside any cluster are their own
    canonical. Rows-only by contract (iterative clustering, SURVEY §7);
    the SQL-expressible stages of the composition are hash-verified via
    :func:`curate_corpus`."""
    from .components import group_assignment_frame
    from .text import minhash_candidate_pairs

    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs(d).select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    )
    return group_assignment_frame(d, pairs, extra_cols=("lang",)).select(
        "doc_id", "canonical_id", "lang", "split"
    )


# Per-source document cap: quality bins of the unique-token ratio (20 bins
# over [0,1]); whole bins are kept per source until the cap is reached.
SOURCE_CAP_DOCS = 15
QUALITY_BINS = 20


@query(
    "source_cap_select",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             CAST(FLOOR(CAST(length(list_distinct(string_split(text, ' '))) AS DOUBLE)
                        / length(string_split(text, ' ')) * {QUALITY_BINS}) AS BIGINT)
               AS qbin
      FROM documents
    ), bins AS (
      SELECT source, qbin, COUNT(*) AS n_docs FROM scored GROUP BY 1, 2
    ), cum AS (
      SELECT source, qbin,
             COALESCE(SUM(n_docs) OVER (
               PARTITION BY source ORDER BY qbin DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS n_above
      FROM bins
    )
    SELECT s.doc_id, s.source, s.qbin
    FROM scored s JOIN cum c ON s.source = c.source AND s.qbin = c.qbin
    WHERE c.n_above < {SOURCE_CAP_DOCS}
    """,
    tags=("curation", "source-cap"),
)
def source_cap_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-domination curation: cap every source at its ~{SOURCE_CAP_DOCS}
    highest-quality documents, so no single domain swamps the training mix
    (the per-source twin of the C4/Gopher corpus-balance step).

    Scale shape: NO per-source row_number over the corpus — a top-K window
    partitioned by source funnels each source's entire document set through
    one task, and real web corpora have sources with billions of pages. As
    in ``token_budget_select``, documents land in coarse quality bins
    (unique-token ratio × {QUALITY_BINS}, integer floor — identical IEEE on
    both engines); the per-(source, bin) counts aggregate to a tiny frame
    (≤ #sources × {QUALITY_BINS} rows) where a partitioned running count
    finds each source's selection threshold, and the corpus joins back
    against the broadcast bin whitelist. Whole bins are kept, so overshoot
    is bounded by the boundary bin's occupancy — deterministic across
    engines, no order-dependent tiebreak inside a bin."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    ratio = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    scored = d.select(
        "doc_id", "source", F.floor(ratio * QUALITY_BINS).alias("qbin")
    )
    bins = scored.groupBy("source", "qbin").agg(F.count("*").alias("n_docs"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("qbin").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = bins.select(
        "source",
        "qbin",
        F.coalesce(F.sum("n_docs").over(w), F.lit(0)).alias("n_above"),
    )
    sel = cum.filter(F.col("n_above") < SOURCE_CAP_DOCS).select("source", "qbin")
    return scored.join(F.broadcast(sel), ["source", "qbin"]).select(
        "doc_id", "source", "qbin"
    )


# Epoch sample budget (docs) for the temperature-mixture expectation column.
TEMP_BUDGET = 1_000_000


@query(
    "source_temperature_weights",
    oracle=f"""
    WITH c AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ), w AS (
      SELECT source, n_docs, n_tokens, sqrt(n_tokens) AS wgt FROM c
    )
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens / SUM(n_tokens) OVER (), 6) AS raw_share,
           ROUND(wgt / SUM(wgt) OVER (), 6) AS temp_share,
           CAST(ROUND(ROUND(wgt / SUM(wgt) OVER (), 6) * {TEMP_BUDGET}) AS BIGINT)
             AS expected_docs
    FROM w
    """,
    tags=("curation", "mixture", "temperature-sampling"),
)
def source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source-mixture weights — the standard remedy for
    head-source domination in a multi-source training mix (public recipe:
    the alpha-smoothed sampling of mC4/UniMax and the Pile's per-set epoch
    weights): sample source s with probability proportional to
    ``tokens_s ** alpha`` instead of ``tokens_s``, here alpha = 0.5 via
    ``sqrt`` — deliberately, because IEEE 754 guarantees sqrt is correctly
    rounded (identical on JVM and C engines) while ``pow`` is not, so parity
    is bit-exact where a generic alpha would wobble in the last ulp.

    One map-side-combinable aggregate collapses the corpus to the source
    grain; the normalizing sums run as windows over that tiny frame (the
    Aggregate-bounded kind — at 100 TB this frame is ``#sources`` rows no
    matter how many documents exist). ``expected_docs`` (per-source draw
    count for a {TEMP_BUDGET}-doc epoch) derives from the already-rounded
    share so both engines compute it from identical inputs."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split(F.col("text"), " "))).cast("long").alias("n_tokens"),
    )
    w = c.withColumn("wgt", F.sqrt(F.col("n_tokens")))
    # Unpartitioned windows over the ≤ #sources aggregate — the safe kind.
    tot = Window.partitionBy()
    temp_share = F.round(F.col("wgt") / F.sum("wgt").over(tot), 6)
    return w.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.sum("n_tokens").over(tot), 6).alias("raw_share"),
        temp_share.alias("temp_share"),
        F.round(temp_share * TEMP_BUDGET)
        .cast("long")
        .alias("expected_docs"),
    )


@query(
    "ngram_dup_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT array_to_string(list_slice(t, s.i + 1, s.i + {NGRAM}), ' ') AS gram
      FROM toks,
           UNNEST(range(0, greatest(len(t) - {NGRAM}, 0) + 1)) AS s(i)
    ), c AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY gram
    )
    SELECT CAST(SUM(n) AS BIGINT) AS total_grams,
           CAST(COUNT(*) AS BIGINT) AS distinct_grams,
           CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT)
             AS dup_occurrences,
           ROUND(SUM(CASE WHEN n > 1 THEN n ELSE 0 END)
                 / CAST(SUM(n) AS DOUBLE), 6) AS dup_rate
    FROM c
    """,
    tags=("curation", "dedup-neardup", "memorization"),
)
def ngram_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus self-duplication rate at the {NGRAM}-gram grain — the share of
    gram OCCURRENCES whose gram appears more than once corpus-wide, the
    memorization-risk number dedup papers report before/after cleaning
    (public recipe: the duplicated-substring statistics in deduplication
    writeups). Reuses the staged token-hash gram derivation (grams travel
    as 8-byte longs, never strings — the oracle's string grams group into
    the same equivalence classes modulo the accepted 2⁻⁶⁴ collision); one
    explode, one vocabulary-of-grams aggregation, one single-row rollup.
    Unlike :func:`ngram_contamination` the gram stream here is
    NON-distinct: occurrences are the unit (``_gram_hash_frame`` with
    ``distinct=False`` — one staging implementation for both call sites,
    round-8 review finding)."""
    docs = load_table(spark, sf_dir, "documents")
    c = (
        _gram_hash_frame(docs, distinct=False)
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
    )
    dup = F.sum(F.when(F.col("n") > 1, F.col("n")).otherwise(0))
    return c.agg(
        F.sum("n").cast("long").alias("total_grams"),
        F.count("*").alias("distinct_grams"),
        dup.cast("long").alias("dup_occurrences"),
        F.round(dup / F.sum("n").cast("double"), 6).alias("dup_rate"),
    )


_SPLIT_LEAKAGE_ORACLE = f"""
    WITH {SIMHASH_SIGS_CTE}, sp AS (
      SELECT doc_id,
             CASE WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT p.doc_id_a, p.doc_id_b, p.hamming,
           sa.split AS split_a, sb.split AS split_b
    FROM simhash_pairs p
    JOIN sp sa ON p.doc_id_a = sa.doc_id
    JOIN sp sb ON p.doc_id_b = sb.doc_id
    WHERE sa.split <> sb.split
"""


@query(
    "split_leakage_check",
    oracle=_SPLIT_LEAKAGE_ORACLE,
    tags=("curation", "split", "leakage", "dedup-neardup"),
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: NEAR-duplicate document pairs whose
    members straddle a split boundary — the memorization/eval-inflation
    hazard a key-hashed split cannot see.

    :func:`~.sampling.train_val_test_split` is leakage-safe only w.r.t. its
    OWN key: near-identical *content* under different ``doc_id``\\ s still
    lands on both sides. This audit composes the SimHash banded-LSH pair set
    (:func:`~.text.simhash_candidate_frame`, hamming ≤ 3 — exact duplicates
    are its hamming-0 subset) with the split assignment and reports every
    cross-split pair. Non-empty output = dedup, or a group-aware split keyed
    on the dedup-cluster canonical id
    (:func:`~.sampling.split_assignment_frame`'s documented remedy), must run
    BEFORE splitting. Scale shape: the pair set comes from the banded LSH
    join (never all-pairs), the split column is a map-side expression, and
    the two doc_id equi-joins attach 5-byte split labels to an
    already-reduced pair frame.
    """
    d = load_table(spark, sf_dir, "documents")
    splits = split_assignment_frame(d, "doc_id").select("doc_id", "split")
    pairs = simhash_candidate_frame(d)
    return (
        pairs.join(
            splits.select(
                F.col("doc_id").alias("doc_id_a"), F.col("split").alias("split_a")
            ),
            "doc_id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("doc_id_b"), F.col("split").alias("split_b")
            ),
            "doc_id_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .select("doc_id_a", "doc_id_b", "hamming", "split_a", "split_b")
    )


# Oracle twin of the group-aware split + its leakage audit. The canonical id
# (min doc_id of each near-dup component) is SQL-expressible as a
# connected-components fixpoint over the hamming-<=3 pair set — DuckDB
# re-derives the exact component minima the iterated-min components
# converge to, then applies the identical md5 90/5/5 bucket to the
# canonical id.
#
# The fixpoint is an UNROLLED hook+jump min-label propagation, NOT a
# recursive transitive closure: `reach`-style closures materialize
# sum(k^2) rows per component and iterate to graph DIAMETER (the sf0.1
# corpus has a 2,629-doc component with 271k edges — measured 460 s in
# DuckDB 1.0, 92% of the whole sweep). Hook (label <- min over closed
# neighborhood's labels) + jump (label <- label's label, pointer doubling)
# converges in ~log2(n) rounds — measured 13 rounds for a 10,000-node
# path graph, the worst case — so {_CC_ROUNDS} unrolled rounds cover any
# component up to 2^{_CC_ROUNDS} docs. Every stage is AS MATERIALIZED:
# DuckDB 1.0 inlines CTEs per reference, and each round references the
# previous one twice — unmaterialized, the expansion is exponential.
# Validated against union-find on the real sf0.1 edge set: identical
# labels, 4.4 s.
_CC_ROUNDS = 24


def _cc_fixpoint_sql(rounds: int = _CC_ROUNDS) -> str:
    """CTE chain computing canon(doc_id, canonical_id) = component-min
    labels for every doc in the (materialized) ``pairs_m`` edge set."""
    parts = [
        """sym AS MATERIALIZED (
      SELECT doc_id_a AS src, doc_id_b AS dst FROM pairs_m
      UNION ALL
      SELECT doc_id_b AS src, doc_id_a AS dst FROM pairs_m
    )""",
        """l0 AS MATERIALIZED (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS lbl FROM sym GROUP BY src
    )""",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""h{i} AS MATERIALIZED (
      SELECT s.src AS doc_id, LEAST(lx.lbl, MIN(ly.lbl)) AS lbl
      FROM sym s
      JOIN l{i - 1} lx ON s.src = lx.doc_id
      JOIN l{i - 1} ly ON s.dst = ly.doc_id
      GROUP BY s.src, lx.lbl
    )"""
        )
        parts.append(
            f"""l{i} AS MATERIALIZED (
      SELECT h.doc_id, COALESCE(h2.lbl, h.lbl) AS lbl
      FROM h{i} h LEFT JOIN h{i} h2 ON h.lbl = h2.doc_id
    )"""
        )
    parts.append(
        f"canon AS (SELECT doc_id, lbl AS canonical_id FROM l{rounds})"
    )
    return ", ".join(parts)


# Shared CTE chain: simhash pairs → CC fixpoint → canonical assignment →
# md5 90/5/5 split on the canonical id. ONE definition (round-10: the
# group_aware_split oracle upgrade would otherwise have duplicated it)
# ending at ``sp(doc_id, canonical_id, split)`` — exactly
# components.group_assignment_frame's output contract.
_GROUP_ASSIGN_CTES = f"""{SIMHASH_SIGS_CTE},
    pairs_m AS MATERIALIZED (
      SELECT doc_id_a, doc_id_b FROM simhash_pairs
    ), {_cc_fixpoint_sql()}, assign AS (
      SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS canonical_id
      FROM documents d LEFT JOIN canon c ON d.doc_id = c.doc_id
    ), sp AS MATERIALIZED (
      SELECT doc_id, canonical_id,
             CASE WHEN CAST(('0x' || substring(md5(CAST(canonical_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 100 < 90 THEN 'train'
                  WHEN CAST(('0x' || substring(md5(CAST(canonical_id AS VARCHAR)), 1, 8))
                           AS BIGINT) % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM assign
    )"""

# Per-row oracle for components.group_aware_split (round-10 check upgrade
# rows-only → oracle; plan unchanged): the iterated Spark components and
# the unrolled SQL fixpoint agree on every (doc_id, canonical_id, split)
# row, not just the audit's aggregates.
GROUP_AWARE_SPLIT_ORACLE = f"""
    WITH {_GROUP_ASSIGN_CTES}
    SELECT doc_id, canonical_id, split FROM sp
"""

_GROUP_SPLIT_AUDIT_ORACLE = f"""
    WITH {_GROUP_ASSIGN_CTES}, per_split AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_clusters
      FROM sp GROUP BY split
    ), paired AS MATERIALIZED (
      SELECT sa.split AS split_a, sb.split AS split_b
      FROM pairs_m p
      JOIN sp sa ON p.doc_id_a = sa.doc_id
      JOIN sp sb ON p.doc_id_b = sb.doc_id
    ), within AS (
      SELECT split_a AS split, CAST(COUNT(*) AS BIGINT) AS n_within_pairs
      FROM paired WHERE split_a = split_b GROUP BY 1
    ), cross_sides AS (
      SELECT split_a AS split FROM paired WHERE split_a <> split_b
      UNION ALL
      SELECT split_b AS split FROM paired WHERE split_a <> split_b
    ), crossed AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_cross_pairs
      FROM cross_sides GROUP BY split
    )
    SELECT ps.split, ps.n_docs, ps.n_clusters,
           CAST(COALESCE(w.n_within_pairs, 0) AS BIGINT) AS n_within_pairs,
           CAST(COALESCE(c.n_cross_pairs, 0) AS BIGINT) AS n_cross_pairs
    FROM per_split ps
    LEFT JOIN within w ON ps.split = w.split
    LEFT JOIN crossed c ON ps.split = c.split
"""


@query(
    "group_split_leakage_audit",
    oracle=_GROUP_SPLIT_AUDIT_ORACLE,
    tags=("curation", "split", "leakage", "dedup-neardup"),
)
def group_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage PROOF frame for :func:`~.components.group_aware_split`
    (itself per-row oracle-checked since round 10 via the same shared CTE
    chain; this audit states the INVARIANT the rows imply): one row per
    split with its doc count, cluster count, the number of near-dup pairs
    fully inside the split (non-zero, so the pair join is provably not
    vacuously empty), and the number of near-dup pairs straddling the
    split boundary — which the group-aware assignment makes 0 BY
    CONSTRUCTION (both members of every hamming-<=3 pair share a
    component, hence a canonical id, hence a split bucket).

    The DuckDB oracle independently re-derives the components over the
    same pair set via the unrolled hook+jump min-label fixpoint
    (:func:`_cc_fixpoint_sql` — NOT a recursive transitive closure, which
    was 460 s at sf0.1; see the module comment above), so the driver row
    checks the full chain — signatures, banding-complete candidate
    recovery, component minima, md5 bucket — not just the zero.

    Scale shape: the candidate pair frame is computed ONCE and pinned —
    it is both the component edge input AND the split-label join input
    (previously each consumer materialized its own copy, doubling the
    dominant LSH stage — round-8 review finding); the assignment frame is
    pinned because it feeds the per-split aggregate and both label joins.
    All downstream aggregates are split-cardinality (3 rows).
    """
    from .components import group_assignment_frame

    d = load_table(spark, sf_dir, "documents")
    pairs = pin(
        simhash_candidate_frame(d)
        .select("doc_id_a", "doc_id_b")
    )
    assign = pin(
        group_assignment_frame(
            d,
            pairs.select(
                F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
            ),
        )
    )
    paired = pin(
        pairs
        .join(
            assign.select(
                F.col("doc_id").alias("doc_id_a"), F.col("split").alias("split_a")
            ),
            "doc_id_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("doc_id_b"), F.col("split").alias("split_b")
            ),
            "doc_id_b",
        )
        .select("split_a", "split_b")
    )
    # paired stays pinned too: it feeds the within-split and cross-split
    # aggregation branches below.
    per_split = assign.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("canonical_id").alias("n_clusters"),
    )
    within = (
        paired.filter(F.col("split_a") == F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count("*").alias("n_within_pairs"))
    )
    leaks = paired.filter(F.col("split_a") != F.col("split_b"))
    cross = (
        leaks.select(F.col("split_a").alias("split"))
        .unionAll(leaks.select(F.col("split_b").alias("split")))
        .groupBy("split")
        .agg(F.count("*").alias("n_cross_pairs"))
    )
    return (
        per_split.join(within, "split", "left")
        .join(cross, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce("n_within_pairs", F.lit(0)).cast("long").alias("n_within_pairs"),
            F.coalesce("n_cross_pairs", F.lit(0)).cast("long").alias("n_cross_pairs"),
        )
    )


_SOURCE_OVERLAP_ORACLE = f"""
    WITH {SIMHASH_SIGS_CTE}
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN p.hamming = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_identical,
           CAST(MIN(p.hamming) AS BIGINT) AS min_hamming
    FROM simhash_pairs p
    JOIN documents da ON p.doc_id_a = da.doc_id
    JOIN documents db ON p.doc_id_b = db.doc_id
    GROUP BY 1, 2
"""


@query(
    "source_overlap_matrix",
    oracle=_SOURCE_OVERLAP_ORACLE,
    tags=("curation", "dedup-neardup", "mirror-detection"),
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mirror detection: which source pairs share near-duplicate content —
    the triage matrix that finds scraped mirrors / syndicated feeds before
    mixture weighting double-counts them (off-diagonal mass = cross-source
    duplication; the diagonal is within-source boilerplate).

    Composes the SimHash banded-LSH pair set with each member's source label
    (unordered pair normalized via least/greatest so every mirror pair lands
    in one cell) and rolls up to ≤ |sources|² cells. Scale shape: the pair
    frame is already LSH-reduced, the two label joins attach short dimension
    strings, and the final aggregation is tiny — nothing here grows faster
    than the candidate-pair volume."""
    d = load_table(spark, sf_dir, "documents")
    labels = d.select("doc_id", "source")
    pairs = simhash_candidate_frame(d)
    joined = pairs.join(
        labels.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")),
        "doc_id_a",
    ).join(
        labels.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")),
        "doc_id_b",
    )
    return joined.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("hamming") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_identical"),
        F.min("hamming").alias("min_hamming"),
    )


# Oracle twin of the end-to-end near-dup clustering: the PORTABLE banded
# minhash pair set (text.PORT_BANDS_CTE — the same single band-value
# definition minhash_banded_candidates checks) chained into the unrolled
# hook+jump CC fixpoint (_cc_fixpoint_sql, the group-split audit's
# machinery). Both engines derive identical edges, so the component minima
# and cluster sizes hash-match — upgrading the clustering TIER itself from
# rows-only to oracle-checked (dedup_clusters stays the xxhash64 scale
# path; this is its portable semantic twin, the simhash/minhash precedent).
def _dedup_clusters_oracle() -> str:
    from .text import PORT_BANDS_CTE, PORT_MINS_CTE

    return f"""
    WITH {PORT_MINS_CTE}, {PORT_BANDS_CTE},
    pairs_m AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
    ), {_cc_fixpoint_sql()}, sizes AS (
      SELECT canonical_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
      FROM canon GROUP BY canonical_id
    )
    SELECT c.doc_id, c.canonical_id, s.cluster_size
    FROM canon c JOIN sizes s USING (canonical_id)
"""


@query(
    "dedup_clusters_portable",
    oracle=_dedup_clusters_oracle(),
    tags=("dedup-neardup", "connected-components", "portable-hash"),
)
def dedup_clusters_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering with the whole pipeline cross-engine-checked:
    portable banded-minhash candidate pairs → connected components →
    (doc_id, canonical_id, cluster_size), hash-compared against DuckDB's
    independent derivation (portable band values + the unrolled hook+jump
    min-label fixpoint validated for the leakage audit).

    The iterated Spark components and the unrolled SQL fixpoint are
    different ALGORITHMS for the same exact answer — component minima are
    unique — so the check proves the clustering semantics, not a shared
    implementation. Scale shape is dedup_clusters' (that form keeps the
    cheaper xxhash64 signatures): bounded band buckets, O(log diameter)
    label rounds, one lazy pin on the symmetric edge frame."""
    from .components import cluster_assignment_frame
    from .text import minhash_banded_candidates

    pairs = minhash_banded_candidates(spark, sf_dir).select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    )
    return cluster_assignment_frame(pairs)


# --- DSIR-style importance selection (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling", arXiv:2302.03169) -------
# Hashed-feature space size. The paper hashes character n-grams into 10^4
# buckets; this corpus's unit is the whitespace token, hashed portably
# (md5 prefix, the repo's cross-engine bucket rule) into DSIR_BUCKETS.
DSIR_BUCKETS = 1024
# Deterministic target-distribution proxy: English documents (the "formal
# text" slice of this corpus). A real deployment points this at a curated
# target corpus; the estimator below is unchanged.
DSIR_TARGET_LANG = "en"
# Selected sample size (top-k by importance weight; the paper resamples
# with Gumbel noise — the deterministic top-k twin keeps the driver gate
# hash-stable).
DSIR_TOP_K = 200
# Fixed-point scale for the per-bucket log-ratio (the unigram_logprob_score
# LP_SCALE rule: quantize each ln to BIGINT once, sum integers).
_DSIR_SCALE = 1_000_000


@query(
    "dsir_importance_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT)
               % {DSIR_BUCKETS} AS b
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
    ), stats AS MATERIALIZED (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
             CAST(SUM(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS ct
      FROM tok GROUP BY b
    ), tot AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
      FROM stats
    ), lr AS (
      SELECT b, CAST(ROUND((ln((ct + 1) / (tt + {DSIR_BUCKETS}.0))
                            - ln((cr + 1) / (tr + {DSIR_BUCKETS}.0)))
                           * {_DSIR_SCALE}) AS BIGINT) AS qlr
      FROM stats CROSS JOIN tot
    ), doc AS (
      SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(qlr) AS BIGINT) AS s
      FROM tok t JOIN lr USING (b) GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(s / {_DSIR_SCALE}.0, 6) AS dsir_logratio
    FROM doc ORDER BY s DESC, doc_id LIMIT {DSIR_TOP_K}
    """,
    tags=("curation", "data-selection", "dsir", "portable-hash"),
)
def dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: score every document by its importance
    weight under two hashed-unigram bag-of-words models — a TARGET
    distribution (here the deterministic ``lang = '{DSIR_TARGET_LANG}'``
    slice) vs the RAW corpus — and keep the top-{DSIR_TOP_K}. The weight is
    ``Σ_tokens log(p_target(bucket) / p_raw(bucket))`` with add-1 smoothing
    over the {DSIR_BUCKETS}-bucket hashed feature space (Xie et al. 2023;
    the public recipe behind targeted pre-training corpus selection).

    Shape at 100 TB: ONE token explode feeds both sides. The bucket-stats
    aggregate is {DSIR_BUCKETS} rows no matter the corpus (map-side
    combine; both the raw count and the target count come out of the SAME
    pass as conditional aggregates — no second scan for the target model),
    pinned once (lazy localCheckpoint) for the totals row and the
    log-ratio frame. The probe side joins the token stream to the
    {DSIR_BUCKETS}-row ratio frame (AQE broadcasts it) and reduces
    per-document — map-side combinable since a document's tokens are
    co-located. Selection is orderBy+LIMIT = TakeOrdered: no global sort
    materializes. Exactness follows the
    :func:`.text_quality.unigram_logprob_score` LP_SCALE precedent:
    md5-prefix bucketing is engine-portable, documents sum INTEGERS, and
    the top-k cut breaks ties on doc_id — GIVEN identical per-bucket
    quantized log-ratios. That premise carries the accepted
    round-before-compare residual: Spark and DuckDB evaluate ln() in
    their own libm, and a 1-ULP divergence landing within ~1e-10 of a
    ROUND half-integer boundary would flip one qlr by 1 and could move
    the k-th selection boundary (ADVICE r11; never observed across the
    three gated SFs)."""
    # fan_out: per-token hashed-bigram importance weights are map-side over
    # this scan (measured 0.75 → 0.44 s at sf0.1/32, tables.py).
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).select(
        "doc_id",
        "lang",
        (md5_u32("w") % DSIR_BUCKETS).alias("b"),
    )
    stats = pin(
        tok.groupBy("b")
        .agg(
            F.count("*").cast("long").alias("cr"),
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            )
            .cast("long")
            .alias("ct"),
        )
    )  # one 1024-row pin: totals + ratios
    tot = stats.agg(
        F.sum("cr").cast("long").alias("tr"), F.sum("ct").cast("long").alias("tt")
    )
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.round(
            (
                F.log((F.col("ct") + 1) / (F.col("tt") + float(DSIR_BUCKETS)))
                - F.log((F.col("cr") + 1) / (F.col("tr") + float(DSIR_BUCKETS)))
            )
            * _DSIR_SCALE
        )
        .cast("long")
        .alias("qlr"),
    )
    doc = (
        tok.join(lr, "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("qlr").cast("long").alias("s"),
        )
    )
    return (
        doc.orderBy(F.desc("s"), F.asc("doc_id"))
        .limit(DSIR_TOP_K)
        .select(
            "doc_id",
            "n_tokens",
            F.round(F.col("s") / _DSIR_SCALE, 6).alias("dsir_logratio"),
        )
    )


# --- Cross-document repeated-span diagnostics (the ExactSubstr precursor:
# Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499 — their unit is a 50-token span over a suffix
# array; this corpus's documents are ~30 tokens, so the span is 8) -------
SPAN = 8


@query(
    "crossdoc_span_stats",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, s.i + 1, s.i + {SPAN}), ' ') AS g
      FROM toks,
           UNNEST(range(0, greatest(len(t) - {SPAN}, 0) + 1)) AS s(i)
    ), freq AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_docs FROM spans GROUP BY g
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           ROUND(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_span_frac
    FROM spans s JOIN freq f ON s.g = f.g
    GROUP BY s.doc_id
    """,
    tags=("dedup-crossdoc", "exact-substr", "curation"),
)
def crossdoc_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span scorecard: for every document, how many
    of its distinct {SPAN}-token spans also occur in at least one OTHER
    document — the statistic that decides whether an ExactSubstr-style
    span-rewrite pass is worth running and at what span length (the
    cross-doc twin of :func:`ngram_contamination`, which scans against a
    held-out eval slice; here the corpus is scanned against itself).

    Shape at 100 TB: spans never materialize as strings — tokens hash
    once, spans hash their {SPAN} consecutive token hashes
    (:func:`_gram_hash_frame`, 8-byte longs end to end); the span
    frequency table is a map-side-combinable aggregate over the span
    grain; the join back is span-grain equi (AQE free to pick the
    strategy); the per-doc rollup shuffles 16-byte keys. Two
    corpus-token-grain shuffles total — the honest cost of the real
    operator, with no all-pairs term anywhere (the suffix-array
    formulation's role is to find spans LONGER than a fixed k; the fixed-k
    hashed form is the standard distributed approximation). A document
    whose spans each appear once scores 0; exact duplicates score 1.0;
    the oracle compares the same counts derived from span STRINGS, so the
    hash gate also validates the 64-bit span-hash identity (the
    ngram_contamination precedent — a cross-engine count mismatch would
    surface any collision)."""
    d = load_table(spark, sf_dir, "documents")
    spans = pin(
        _gram_hash_frame(d, distinct=True, k=SPAN)
    )  # one pin: frequency side + per-doc side
    freq = spans.groupBy("gram").agg(F.count("*").alias("n_docs"))
    joined = spans.join(freq, "gram")
    dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(dup).cast("long").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6
            ).alias("dup_span_frac"),
        )
    )


@query(
    "crossdoc_span_rewrite",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS MATERIALIZED (
      SELECT doc_id, s.i AS pos,
             array_to_string(list_slice(t, s.i + 1, s.i + {SPAN}), ' ') AS g
      FROM toks,
           UNNEST(range(0, greatest(len(t) - {SPAN}, 0) + 1)) AS s(i)
    ), freq AS (
      SELECT g, COUNT(DISTINCT doc_id) AS n_docs,
             MIN(doc_id) AS min_doc
      FROM spans GROUP BY g
    ), rm_pos AS (
      SELECT DISTINCT s.doc_id, s.pos + j.o AS rp
      FROM spans s
           JOIN freq f ON s.g = f.g,
           UNNEST(range(0, {SPAN})) AS j(o)
      WHERE f.n_docs >= 2 AND s.doc_id > f.min_doc
    ), rm_agg AS (
      SELECT doc_id, list(rp) AS rms FROM rm_pos GROUP BY doc_id
    ), rewritten AS (
      SELECT t.doc_id, t.t,
             list_filter(
               t.t,
               (x, i) -> NOT list_contains(
                 COALESCE(r.rms, CAST([] AS BIGINT[])),
                 CAST(i - 1 AS BIGINT))
             ) AS kept
      FROM toks t LEFT JOIN rm_agg r USING (doc_id)
    )
    SELECT doc_id,
           -- DuckDB's array_to_string is NULL on an empty list; a fully
           -- rewritten doc must read '' like Spark's array_join does
           COALESCE(array_to_string(kept, ' '), '') AS text_rewritten,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed
    FROM rewritten
    """,
    tags=("dedup-crossdoc", "exact-substr", "rewrite", "curation"),
)
def crossdoc_span_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style cross-document span rewrite (Lee et al. 2022,
    arXiv:2107.06499 — the operator :func:`crossdoc_span_stats` is the
    diagnostic for): every token covered by a {SPAN}-token span that also
    occurs in at least one other document is DROPPED, except in the span's
    canonical document (the lowest doc_id containing it), which keeps its
    text untouched for that span. The cross-doc twin of
    :func:`.tokenizer.intradoc_dedup_rewrite`: one canonical occurrence of
    each repeated span survives the corpus; every other document is
    rewritten around it.

    Shape at 100 TB: spans never materialize as strings — tokens hash
    once, spans hash their {SPAN} consecutive token hashes (the
    :func:`_gram_hash_frame` convention, positions kept via posexplode so
    the rewrite knows WHERE each span sits). Span frequency + canonical
    owner is one map-side-combinable aggregate at span grain; the join
    back is span-grain equi; victim spans expand to covered token
    positions ({SPAN}× the victim rows, collapsed by DISTINCT to at most
    the victim docs' token count); the per-doc position set rides a
    doc-grain rollup and a doc-grain left join back to the corpus. The
    rewrite itself is narrow AND linear: keep-positions come from one
    hash-based ``array_except`` over the position sequence followed by an
    in-order gather — O(L + |removed|) per document, worst case included
    (the first-cut per-token ``array_contains`` filter was O(L·|removed|),
    a single-task CPU cliff on a heavily-duplicated 10⁶-token document —
    the same per-row quadratic class the round-9 intradoc fix removed;
    the oracle keeps the simple positional-filter form, exact and cheap
    at oracle SFs). No all-pairs term, no global sort, no window.
    Idempotent: a second pass sees every surviving span occur in at most
    one document (the canonical copies are untouched, the victims no
    longer contain the span), so it rewrites nothing — pinned by
    tests/test_curation.py along with a planted shared-span corpus. A doc
    shorter than {SPAN} tokens hashes its available tokens (one truncated
    span, the :func:`_gram_hash_frame` NULL-skip convention mirroring the
    oracle's truncated list_slice), so verbatim short-doc copies are
    deduplicated too — their non-canonical copies rewrite to ''. The
    oracle derives the same rewrite from span STRINGS, so the hash gate
    also validates the 64-bit span-hash identity; a 64-bit collision
    falsely removes a span — the accepted filtering-heuristic trade at
    P ≈ n_spans²/2⁶⁴, same as every hashed-gram operator here."""
    # fan_out: token + span hashing and the posexplode all sit map-side on
    # this scan (measured 1.18 → 0.96 s at sf0.1/32, tables.py; the
    # _maximal cascade is NOT fanned out — its wall is Catalyst planning
    # over the multi-k expression tree and fan-out regressed it +1.2 s).
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    spans = pin(
        _gram_hash_frame(d, k=SPAN, with_pos=True)
    )  # one pin: frequency side + victim side
    # Round-15: the duplication test needs no COUNT(DISTINCT) — a span is
    # cross-doc iff max(doc_id) > min(doc_id), plain map-side-combinable
    # MIN/MAX (one span-grain exchange instead of the distinct aggregate's
    # two). The max>min filter stays on the freq side so the join's build
    # side holds only duplicated spans (the victim predicate doc_id >
    # min_doc alone already implies n_docs >= 2 — the filter is for size,
    # not semantics).
    freq = spans.groupBy("gram").agg(
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    ).filter(F.col("max_doc") > F.col("min_doc"))
    victims = spans.join(freq, "gram").filter(F.col("doc_id") > F.col("min_doc"))
    rm_agg = (
        victims.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (SPAN - 1))
            ).alias("rp"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("rp").alias("rms"))
    )
    # Keep-positions via hash-based array_except (O(L + |removed|); the
    # first-cut per-token array_contains filter was O(L·|removed|) —
    # quadratic on a heavily-duplicated long document, the intradoc
    # round-9 per-row CPU-cliff class; round-12 review pass 2), then an
    # in-order positional gather. array_except preserves the order of its
    # first argument and the position sequence is duplicate-free.
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size("t") - 1),
        F.coalesce(F.col("rms"), F.array().cast("array<int>")),
    )
    rewritten = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .join(rm_agg, "doc_id", "left")
        .select(
            "doc_id",
            "t",
            F.transform(kept_pos, lambda p: F.get("t", p)).alias("kept"),
        )
    )
    return rewritten.select(
        "doc_id",
        F.array_join("kept", " ").alias("text_rewritten"),
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size("kept")).cast("long").alias("n_removed"),
    )


# Span lengths for the ExactSubstr threshold-selection profile: around the
# rewrite's operating point (SPAN = 8), one octave down and one up.
SPAN_PROFILE_KS = (4, 8, 16)


def _span_profile_oracle(ks=SPAN_PROFILE_KS) -> str:
    """Per-k unrolled twin of :func:`crossdoc_span_profile`: one shared
    MATERIALIZED token split, then per span length a distinct-span CTE,
    its frequency table, and a 1-row corpus aggregate."""
    parts = [
        """toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )"""
    ]
    outs = []
    for k in ks:
        parts.append(
            f"""s{k} AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, s.i + 1, s.i + {k}), ' ') AS g
      FROM toks,
           UNNEST(range(0, greatest(len(t) - {k}, 0) + 1)) AS s(i)
    ), f{k} AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n_docs FROM s{k} GROUP BY g
    )"""
        )
        outs.append(
            f"""SELECT {k} AS span_k,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           ROUND(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_span_frac,
           CAST(COUNT(DISTINCT CASE WHEN f.n_docs >= 2 THEN s.doc_id END)
                AS BIGINT) AS n_docs_affected
    FROM s{k} s JOIN f{k} f ON s.g = f.g"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL\n    ".join(outs)
    )


@query(
    "crossdoc_span_profile",
    oracle=_span_profile_oracle(),
    tags=("dedup-crossdoc", "exact-substr", "scorecard", "curation"),
)
def crossdoc_span_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-length S-curve for ExactSubstr threshold selection: for each
    span length k in {SPAN_PROFILE_KS}, the corpus-level duplicated-span
    statistics — distinct spans, spans occurring in ≥2 docs, the
    duplicated fraction, and how many documents carry at least one such
    span. :func:`crossdoc_span_stats` answers "how contaminated is each
    DOCUMENT at the operating k"; this answers "which k should the
    operating point BE" (Lee et al. 2022 fix a 50-token threshold for
    web text; a corpus with different doc lengths wants this measured) —
    the index-quality-scorecard convention of ``minhash_calibration``
    and ``ann_grid_report`` applied to the span tier.

    Shape at 100 TB: ONE corpus scan — tokens hash once into a pinned
    ``(doc_id, th)`` frame (:func:`.text.token_hash_frame`; the naive per-k
    composition would re-read documents {len(SPAN_PROFILE_KS)}×) — then
    per k an in-row gram transform, a span-grain frequency aggregate, a
    span-grain equi-join back, and a 1-ROW corpus rollup; the union
    output is {len(SPAN_PROFILE_KS)} rows total. Per-k cost is the same
    two corpus-token-grain shuffles as the stats operator; k only
    changes the in-row hash width. n_docs_affected counts distinct
    doc_ids among duplicated-span rows (conditional count_distinct —
    NULL-skipping on both engines)."""
    d = load_table(spark, sf_dir, "documents")
    staged = pin(token_hash_frame(d))  # one token pass feeds every k
    rows = []
    for k in SPAN_PROFILE_KS:
        spans = pin(
            staged.select(
                "doc_id", F.explode(F.array_distinct(gram_hash_array(k))).alias("gram")
            )
        )  # frequency side + rollup side
        freq = spans.groupBy("gram").agg(F.count("*").alias("n_docs"))
        joined = spans.join(freq, "gram")
        dup = F.when(F.col("n_docs") >= 2, 1).otherwise(0)
        rows.append(
            joined.agg(
                F.count("*").cast("long").alias("n_spans"),
                F.sum(dup).cast("long").alias("n_dup_spans"),
                F.count_distinct(
                    F.when(F.col("n_docs") >= 2, F.col("doc_id"))
                ).alias("n_docs_affected"),
            ).select(
                F.lit(k).alias("span_k"),
                "n_spans",
                "n_dup_spans",
                F.round(
                    F.col("n_dup_spans") / F.col("n_spans").cast("double"), 6
                ).alias("dup_span_frac"),
                "n_docs_affected",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# Cascade levels for the variable-length span rewrite: the profile grid,
# longest first — the decision order is part of the semantics.
CASCADE_KS = tuple(sorted(SPAN_PROFILE_KS, reverse=True))


def _span_cascade_oracle(ks=CASCADE_KS) -> str:
    """String-span twin of :func:`crossdoc_span_rewrite_maximal`: per
    cascade level a span CTE, its frequency/owner table, and a covered-
    position CTE carrying the same ``2k + is_victim`` code; MAX(code)
    per (doc_id, position) is the longest-level decision, odd = remove."""
    parts = [
        """toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    )"""
    ]
    unions = []
    for k in ks:
        parts.append(
            f"""s{k} AS MATERIALIZED (
      SELECT doc_id, s.i AS pos,
             array_to_string(list_slice(t, s.i + 1, s.i + {k}), ' ') AS g
      FROM toks,
           UNNEST(range(0, greatest(len(t) - {k}, 0) + 1)) AS s(i)
    ), f{k} AS (
      SELECT g, COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS min_doc
      FROM s{k} GROUP BY g
    ), c{k} AS (
      SELECT s.doc_id, s.pos + j.o AS rp,
             {2 * k} + CASE WHEN s.doc_id > f.min_doc THEN 1 ELSE 0 END
               AS code
      FROM s{k} s JOIN f{k} f ON s.g = f.g,
           UNNEST(range(0, {k})) AS j(o)
      WHERE f.n_docs >= 2
    )"""
        )
        unions.append(f"SELECT * FROM c{k}")
    return (
        "\n    WITH "
        + ",\n    ".join(parts)
        + f""", cov AS (
      SELECT doc_id, rp, MAX(code) AS win
      FROM ({' UNION ALL '.join(unions)}) GROUP BY doc_id, rp
    ), rm_agg AS (
      SELECT doc_id, list(rp) AS rms FROM cov WHERE win % 2 = 1
      GROUP BY doc_id
    ), rewritten AS (
      SELECT t.doc_id, t.t,
             list_filter(
               t.t,
               (x, i) -> NOT list_contains(
                 COALESCE(r.rms, CAST([] AS BIGINT[])),
                 CAST(i - 1 AS BIGINT))
             ) AS kept
      FROM toks t LEFT JOIN rm_agg r USING (doc_id)
    )
    SELECT doc_id,
           COALESCE(array_to_string(kept, ' '), '') AS text_rewritten,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed
    FROM rewritten
    """
    )


@query(
    "crossdoc_span_rewrite_maximal",
    oracle=_span_cascade_oracle(),
    tags=("dedup-crossdoc", "exact-substr", "rewrite", "curation"),
)
def crossdoc_span_rewrite_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length ExactSubstr rewrite — the multi-k cascade
    approximation of Lee et al.'s MAXIMAL repeated-substring removal
    (arXiv:2107.06499 use a suffix array to find maximal repeats;
    distributed recipes approximate with fixed-k hashed spans). The
    fixed-k form (:func:`crossdoc_span_rewrite`) decides ownership at the
    {SPAN}-token window grain, which over-removes long shared regions: when
    a 16-token region is shared by docs A < B and one of its 8-token
    sub-spans also occurs in an even lower doc_id, that sub-window's owner
    differs from the region's, and NO document keeps the region intact.
    Here each token position is decided at the LONGEST cascade level
    {CASCADE_KS} that covers it with a duplicated span: victim at that
    level → dropped, canonical at that level → kept, and shorter levels
    are consulted only where every longer level found nothing — so the
    lowest-doc_id copy of a long repeated region survives UNTOUCHED at
    the region grain while isolated short repeats still dedup at theirs.

    Shape at 100 TB: ONE corpus scan — tokens hash once into the pinned
    ``(doc_id, th)`` frame (:func:`.text.token_hash_frame`, the
    ``crossdoc_span_profile`` staging), then ALL cascade levels ride ONE
    level-tagged span frame (round-15 optimization, guide §2.3/§2.4): the
    per-level in-row gram transforms union into a single pinned
    ``(doc_id, k, pos, gram)`` checkpoint, so the frequency+owner
    aggregate, the equi-join back, and the bounded ×k position expand
    each happen ONCE at (k, gram) grain instead of once per level — the
    three per-level materializations also become one three-task stage
    instead of three sequential single-task stages off the unsplittable
    testdata scan. The owner aggregate keeps plain MIN/MAX of doc_id
    (map-side combinable) and tests duplication as ``max_doc > min_doc``
    — value-identical to the old ``COUNT(DISTINCT doc_id) >= 2`` without
    the distinct aggregate's extra span-grain exchange. Measured at
    sf0.1/32 (interleaved A/B, best-of-3 × 4 alternations): 1.98 →
    1.64 s best, v4 ahead in every alternation; plan 8 → 3 shuffle
    Exchanges (+4 → +2 broadcast). The cascade decision itself is ONE integer aggregate at
    (doc, position) grain: each covered position carries code
    ``2k + is_victim``; MAX(code) picks the longest covering level and,
    within it, victim-over-canonical — no per-level anti-joins, no
    window, no all-pairs term anywhere. The rewrite tail is the
    fixed-k operator's: hash-based ``array_except`` keep-positions plus
    an in-order gather, O(L + |removed|) per document. Position codes
    for truncated spans may exceed the doc length (the short-doc
    NULL-skip convention); ``array_except`` over the real position range
    ignores them, same as the oracle's positional ``list_filter``. Unlike
    the fixed-k form this pass is NOT idempotent by construction: a
    region kept at a long level can lose its duplicate partner to a
    shorter-level removal elsewhere and re-dedup at the shorter grain on
    a second pass — the documented trade of grain-local ownership (the
    planted test pins the first-pass semantics; real pipelines run one
    pass). The oracle derives the identical decision from span STRINGS,
    so the hash gate also validates the per-level 64-bit span-hash
    identity."""
    d = load_table(spark, sf_dir, "documents")
    staged = pin(token_hash_frame(d))  # one token pass feeds every cascade level
    per_level = [
        staged.select(
            "doc_id",
            F.lit(k).alias("k"),
            F.posexplode(gram_hash_array(k)).alias("pos", "gram"),
        )
        for k in CASCADE_KS
    ]
    spans = per_level[0]
    for lvl in per_level[1:]:
        spans = spans.unionByName(lvl)
    # One pin feeds the frequency side AND the victim side for every level.
    spans = pin(spans)
    freq = spans.groupBy("k", "gram").agg(
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    ).filter(F.col("max_doc") > F.col("min_doc"))  # ≡ COUNT(DISTINCT) >= 2
    dupes = spans.join(freq, ["k", "gram"])
    covered = dupes.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.col("k") - 1)
        ).alias("rp"),
        (
            2 * F.col("k")
            + F.when(F.col("doc_id") > F.col("min_doc"), 1).otherwise(0)
        ).alias("code"),
    )
    rm_agg = (
        covered.groupBy("doc_id", "rp")
        .agg(F.max("code").alias("win"))
        .filter(F.col("win") % 2 == 1)
        .groupBy("doc_id")
        .agg(F.collect_set("rp").alias("rms"))
    )
    kept_pos = F.array_except(
        F.sequence(F.lit(0), F.size("t") - 1),
        F.coalesce(F.col("rms"), F.array().cast("array<int>")),
    )
    rewritten = (
        d.select("doc_id", F.split("text", " ").alias("t"))
        .join(rm_agg, "doc_id", "left")
        .select(
            "doc_id",
            "t",
            F.transform(kept_pos, lambda p: F.get("t", p)).alias("kept"),
        )
    )
    return rewritten.select(
        "doc_id",
        F.array_join("kept", " ").alias("text_rewritten"),
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size("kept")).cast("long").alias("n_removed"),
    )


@query(
    "doc_novelty_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(list_slice(t, s.i + 1, s.i + {NGRAM}), ' ') AS gram
      FROM toks,
           UNNEST(range(0, greatest(len(t) - {NGRAM}, 0) + 1)) AS s(i)
    ), own AS (
      SELECT gram, MIN(doc_id) AS owner FROM grams GROUP BY gram
    )
    SELECT doc_id, n_grams, n_novel,
           n_novel / n_grams AS novelty
    FROM (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN g.doc_id = o.owner THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM grams g JOIN own o USING (gram)
      GROUP BY g.doc_id)
    """,
    tags=("curation", "dedup", "novelty"),
)
def doc_novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-novelty score: the fraction of a document's
    distinct word {NGRAM}-grams that FIRST appear in it (owner = lowest
    doc_id over the whole corpus) — the contribution-ranking signal
    public dataset reports derive from their dedup passes (a doc whose
    grams are all owned elsewhere is pure repetition and a deletion
    candidate; a high-novelty doc carries unique content). Sits between
    :func:`ngram_contamination` (overlap vs a FIXED eval slice) and
    :func:`~.text.dup_rate_by_source` (exact whole-doc duplicates): this
    is gram-grain overlap against the ENTIRE corpus, keep-first
    attribution — the same lowest-id canonical convention every dedup
    operator here uses.

    Scale shape: tokens hash once (:func:`_gram_hash_frame` — 8-byte
    gram hashes, never gram strings), ONE gram-grain aggregate finds
    each gram's owner (map-side combinable MIN), one equi-join back on
    the 8-byte hash, one doc-grain rollup. No all-pairs term, no window,
    no global sort — two corpus-token-grain shuffles, the
    :func:`crossdoc_span_stats` budget. The oracle re-derives ownership
    from gram STRINGS, so the driver's hash gate also re-validates the
    64-bit gram-hash identity (the span-tier convention); counts are
    BIGINTs, novelty divides the identical integers."""
    d = load_table(spark, sf_dir, "documents")
    grams = _gram_hash_frame(d)
    own = grams.groupBy("gram").agg(F.min("doc_id").alias("owner"))
    per_doc = (
        grams.join(own, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("doc_id") == F.col("owner")).cast("int"))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (F.col("n_novel") / F.col("n_grams")).alias("novelty"),
    )


# Heaps'-law bins: the corpus id-range splits into this many prefix bins.
HEAPS_BINS = 10


@query(
    "heaps_vocab_growth",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), nm AS (
      SELECT MAX(doc_id) + 1 AS m FROM d
    ), pd AS (
      SELECT (doc_id * {HEAPS_BINS}) // m AS b,
             CAST(len(t) AS BIGINT) AS n_toks
      FROM d, nm
    ), own AS (
      SELECT tok, MIN(doc_id) AS owner
      FROM (SELECT doc_id, unnest(t) AS tok FROM d)
      GROUP BY tok
    ), tb AS (
      SELECT b, CAST(SUM(n_toks) AS BIGINT) AS toks FROM pd GROUP BY b
    ), yb AS (
      SELECT (owner * {HEAPS_BINS}) // m AS b,
             CAST(COUNT(*) AS BIGINT) AS new_types
      FROM own, nm GROUP BY 1
    )
    SELECT b AS bin,
           CAST(SUM(toks) OVER w AS BIGINT) AS cum_tokens,
           CAST(SUM(new_types) OVER w AS BIGINT) AS cum_types
    FROM (SELECT tb.b, tb.toks, COALESCE(yb.new_types, 0) AS new_types
          FROM tb LEFT JOIN yb USING (b))
    WINDOW w AS (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    """,
    tags=("text", "vocabulary", "heaps-law"),
)
def heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: cumulative distinct token
    TYPES vs cumulative TOKENS over {HEAPS_BINS} doc-id prefix bins of
    the corpus — the third corner of the vocabulary triptych
    (:func:`~.tokenizer.vocab_coverage_curve` covers frequency-rank
    coverage, :func:`doc_novelty_score` per-document novelty; this is
    corpus-GROWTH, the V(n) ≈ K·n^β diagnostic that sizes vocabulary
    and dedup expectations as a crawl grows — public corpus-statistics
    practice). A type's bin is its FIRST-occurrence bin (MIN doc_id —
    the same keep-first ownership convention as the novelty score), so
    each bin's new-type count sums exactly once and the cumulative curve
    is the true prefix vocabulary size.

    Shape: one token explode feeds both the per-doc token counts (an
    in-row ``size(split)``, no explode needed for that side) and the
    type-ownership aggregate (gram-hash MIN, map-side combinable);
    everything after is ≤ {HEAPS_BINS} rows, where the running window
    is Aggregate-bounded. Bins derive from the doc-id RANGE
    (``(doc_id·{HEAPS_BINS}) div (max+1)`` — exact integer arithmetic on
    both engines), so the binning needs no sort and no rank. The oracle
    re-derives ownership from token STRINGS against the engine's 64-bit
    token hashes (the novelty-score convention). Counts are BIGINTs end
    to end — nothing to round. The tokenized doc frame and the 1-row
    max-id frame are pinned: unpinned, every consumer (token counts,
    ownership, BOTH bin expressions through the max-id scalar)
    re-scanned documents — 4 parquet reads where one suffices, the
    multi-branch recompute trap `test_registry_scan_budget` exists to
    catch (and did, in this operator's first cut)."""
    d = load_table(spark, sf_dir, "documents")
    staged = pin(
        d.select(
            "doc_id", F.split(F.col("text"), " ").alias("t")
        )
    )  # counts + ownership + max-id reads
    # nm stays UNpinned: both bin expressions re-run this 1-row MAX over
    # the pinned staged RDD (trivial), and the visible Aggregate is what
    # lets the cross-join invariant prove the broadcast side bounded — a
    # pin here erases it from the lineage (the theilsen lesson).
    nm = staged.agg((F.max("doc_id") + 1).alias("m"))
    pd_frame = staged.crossJoin(F.broadcast(nm)).select(
        F.expr(f"(doc_id * {HEAPS_BINS}) div m").alias("b"),
        F.size(F.col("t")).cast("long").alias("n_toks"),
    )
    own = (
        staged.select("doc_id", F.explode(F.col("t")).alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("th"))
        .groupBy("th")
        .agg(F.min("doc_id").alias("owner"))
    )
    tb = pd_frame.groupBy("b").agg(F.sum("n_toks").alias("toks"))
    yb = (
        own.crossJoin(F.broadcast(nm))
        .select(F.expr(f"(owner * {HEAPS_BINS}) div m").alias("b"))
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("new_types"))
    )
    w = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        tb.join(yb, "b", "left")
        .select(
            "b",
            "toks",
            F.coalesce(F.col("new_types"), F.lit(0)).alias("new_types"),
        )
        .select(
            F.col("b").alias("bin"),
            F.sum("toks").over(w).cast("long").alias("cum_tokens"),
            F.sum("new_types").over(w).cast("long").alias("cum_types"),
        )
    )
