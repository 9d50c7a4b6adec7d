"""Training-data text-quality operators: repetition metrics, PII scrubbing,
regex tokenization, and composite quality filtering (the Gopher/C4-style
signal family from the public LLM-data-pipeline literature).

All hot-path logic is built-in JVM expressions (split / transform / explode /
regexp_*) — no Python UDFs; per-doc aggregations shuffle once on doc_id with
partial aggregation. Ratio columns divide exact integer counts (identical
IEEE division on both engines), so every query hash-matches its DuckDB twin.

Regex patterns stay inside the RE2 ∩ Java common dialect (character classes,
quantifiers, \\b anchors — no lookaround), so Spark and DuckDB agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pins import pin
from ..registry import query
from ..tables import load_table

_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_LONG_NUM_RE = r"\b\d{6,}\b"


def _toks(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


@query(
    "repetition_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS a FROM documents
    ), words AS (
      SELECT doc_id, unnest(a) AS tok FROM t
    ), wc AS (
      SELECT doc_id, tok, COUNT(*) AS c FROM words GROUP BY 1, 2
    ), word_stats AS (
      SELECT doc_id,
             ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6) AS top_word_frac
      FROM wc GROUP BY doc_id
    ), bigrams AS (
      SELECT doc_id, a[i] || ' ' || a[i + 1] AS bigram
      FROM t, UNNEST(range(1, len(a))) AS r(i)
    ), bigram_stats AS (
      SELECT doc_id,
             ROUND(1.0 - CAST(COUNT(DISTINCT bigram) AS DOUBLE)
                         / CAST(COUNT(*) AS DOUBLE), 6) AS dup_bigram_frac
      FROM bigrams GROUP BY doc_id
    )
    SELECT w.doc_id, w.top_word_frac, b.dup_bigram_frac
    FROM word_stats w JOIN bigram_stats b ON w.doc_id = b.doc_id
    """,
    tags=("text-quality", "gopher-repetition"),
)
def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (public Rae et al. heuristics): the
    fraction of tokens taken by the single most frequent word, and the
    duplicate-bigram fraction. Repetitive (low-quality / templated) documents
    score high on both. Two per-doc aggregations joined on doc_id; the
    bigram list is built positionally with ``transform(sequence(...))`` —
    no UDF. The token array is staged as its own projection before the
    bigram transform: referenced inline, the ``split`` expression is
    re-evaluated per bigram INDEX (O(tokens²) splitting — the round-3
    re-evaluation trap, see ``text.minhash_signature_frame``)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.explode(_toks()).alias("tok"))
    wc = words.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    word_stats = wc.groupBy("doc_id").agg(
        F.round(
            F.max("c").cast("double") / F.sum("c").cast("double"), 6
        ).alias("top_word_frac")
    )
    staged = d.select("doc_id", _toks().alias("a"))
    a = F.col("a")
    bigram_arr = F.transform(
        F.sequence(F.lit(1), F.size(a) - 1),
        lambda i: F.concat_ws(" ", F.element_at(a, i), F.element_at(a, i + 1)),
    )
    bigrams = staged.select("doc_id", F.explode(bigram_arr).alias("bigram"))
    bigram_stats = bigrams.groupBy("doc_id").agg(
        F.round(
            F.lit(1.0)
            - F.count_distinct(F.col("bigram")).cast("double")
            / F.count("*").cast("double"),
            6,
        ).alias("dup_bigram_frac")
    )
    return word_stats.join(bigram_stats, "doc_id")


@query(
    "pii_scrub",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_LONG_NUM_RE}')) AS BIGINT) AS n_long_numbers,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_LONG_NUM_RE}', '<NUM>', 'g')) AS scrubbed_md5
    FROM documents
    """,
    tags=("text-quality", "pii"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, long digit runs) — pure
    ``regexp_count`` / ``regexp_replace`` projection, fully pushed into
    whole-stage codegen. The synthetic corpus contains no PII (counts are 0
    and the hash equals the original text's), so redaction behavior is
    additionally unit-tested on planted PII (tests/test_text_quality.py);
    the scrubbed text is surfaced as an md5 so the oracle compares content
    without shipping full strings through the gate."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.col("text"), F.lit(_EMAIL_RE), F.lit("<EMAIL>")),
        F.lit(_LONG_NUM_RE),
        F.lit("<NUM>"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_LONG_NUM_RE))
        .cast("long")
        .alias("n_long_numbers"),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_md5"),
    )


@query(
    "regex_token_count",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT)
             AS n_regex_tokens,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
    tags=("text-quality", "tokenizer"),
)
def regex_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (the budget-estimation primitive of a training
    pipeline): whitespace tokens vs a BPE-ish pre-tokenizer regex (letter
    runs | digit runs | single punctuation — the GPT-2 pattern family minus
    lookarounds, which RE2 lacks)."""
    d = load_table(spark, sf_dir, "documents")
    pattern = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0)))
        .cast("long")
        .alias("n_regex_tokens"),
        F.size(_toks()).cast("long").alias("n_ws_tokens"),
    )


@query(
    "c4_quality_filter",
    oracle="""
    WITH stats AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(replace(text, ' ', '')) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_tok_len,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio
      FROM documents
    )
    SELECT doc_id, lang, n_tokens,
           ROUND(mean_tok_len, 6) AS mean_tok_len,
           ROUND(distinct_ratio, 6) AS distinct_ratio,
           (n_tokens BETWEEN 10 AND 1000
            AND mean_tok_len BETWEEN 2.0 AND 12.0
            AND distinct_ratio >= 0.2) AS keep
    FROM stats
    """,
    tags=("text-quality", "c4-filter"),
)
def c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite C4-style keep/drop decision (public Raffel et al. heuristics
    adapted to the corpus): token-count band, mean token length band, and a
    minimum distinct-token ratio. Emits the signals alongside the boolean so
    downstream filters stay explainable. All ratios divide exact integer
    counts — engine-identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = _toks()
    n_tokens = F.size(toks).cast("long")
    mean_tok_len = (
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
        / n_tokens.cast("double")
    )
    distinct_ratio = (
        F.size(F.array_distinct(toks)).cast("double") / n_tokens.cast("double")
    )
    keep = (
        n_tokens.between(10, 1000)
        & (mean_tok_len >= 2.0)
        & (mean_tok_len <= 12.0)
        & (distinct_ratio >= 0.2)
    )
    return d.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_tok_len"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        keep.alias("keep"),
    )


# Fixed-point scale for per-token log-probabilities: summing doubles is
# order-dependent across partitions, so each token's ln(p) is quantized to an
# exact BIGINT once (identically on both engines — ln agrees to well below
# 1e-6 per the tfidf_top_terms precedent) and documents aggregate integers.
LP_SCALE = 1_000_000


@query(
    "unigram_logprob_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), cnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt
    ), tl AS (
      SELECT token, CAST(ROUND(ln(c / t) * {LP_SCALE}) AS BIGINT) AS lp
      FROM cnt CROSS JOIN tot
    ), doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(lp) AS BIGINT) AS s
      FROM tok JOIN tl USING (token) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(s / {LP_SCALE}.0 / n_tokens, 6) AS avg_logprob
    FROM doc
    """,
    tags=("text-quality", "language-model", "perplexity"),
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model score per document — mean token
    log-probability, the SQL-expressible degenerate of the KenLM perplexity
    filter in public web-corpus pipelines (CCNet / Gopher quality stage):
    documents of improbable tokens (boilerplate, code spew, lorem) score
    low, fluent text scores high. Self-trained on the corpus in the same
    plan, so there is no external model artifact.

    Shape at 100 TB: the token stream is exploded once and reused for both
    the LM counts and the per-doc fold; the vocabulary aggregate is
    vocabulary-sized (Zipf-bounded, ≪ corpus), and the token-stream ⋈ vocab
    join is declared unhinted — AQE broadcasts the vocab when it fits and
    falls back to a shuffle join when a 100 TB vocabulary doesn't, exactly
    the call a planner should make, not the query author. Per-token ln(p)
    quantizes to an exact BIGINT *before* the per-document SUM so the fold
    is order-independent; the mean divides two already-identical integers."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    # The vocab aggregate feeds BOTH the per-token weights and the total
    # token mass; the lazy localCheckpoint pins one materialization (the
    # with_global_row_number pattern) so the corpus is scanned exactly twice
    # — LM side + probe side — instead of once per consumer.
    cnt = pin(
        tok.groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    tl = cnt.crossJoin(F.broadcast(tot)).select(
        "token",
        F.round(F.log(F.col("c") / F.col("t")) * LP_SCALE)
        .cast("long")
        .alias("lp"),
    )
    doc = (
        tok.join(tl, "token")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("lp").cast("long").alias("s"))
    )
    return doc.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("s") / LP_SCALE / F.col("n_tokens"), 6).alias("avg_logprob"),
    )


# A token is "rare" when the self-trained corpus vocabulary saw it fewer than
# this many times — the tokenizer-health / misspelling-noise threshold.
RARE_MIN_COUNT = 5


@query(
    "rare_token_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ), cnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN c < {RARE_MIN_COUNT} THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rare
      FROM tok JOIN cnt USING (token) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_rare,
           ROUND(n_rare / CAST(n_tokens AS DOUBLE), 6) AS rare_rate
    FROM doc
    """,
    tags=("text-quality", "vocab", "tokenizer"),
)
def rare_token_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-token rate — the share of a document's tokens whose
    corpus frequency is below {RARE_MIN_COUNT} (the out-of-vocabulary proxy
    when the vocabulary is self-trained). High rate flags OCR noise,
    misspelling storms, and code/markup spew that a BPE tokenizer would
    shatter into long byte sequences; it is the cheap pre-filter before
    spending real tokenizer fertility measurements.

    Same 100 TB shape as :func:`unigram_logprob_score`: one token explode
    reused for the vocabulary aggregate and the per-doc probe, an unhinted
    token ⋈ vocab join (AQE broadcasts a vocabulary that fits), and a rate
    dividing two exact BIGINTs."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("token"))
    cnt = (
        tok.groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    doc = (
        tok.join(cnt, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("c") < RARE_MIN_COUNT, 1).otherwise(0))
            .cast("long")
            .alias("n_rare"),
        )
    )
    return doc.select(
        "doc_id",
        "n_tokens",
        "n_rare",
        F.round(F.col("n_rare") / F.col("n_tokens").cast("double"), 6).alias(
            "rare_rate"
        ),
    )


def _bigram_frame(docs) -> DataFrame:
    """(doc_id, w1, w2) adjacent-token pairs — shared by the bigram LM and
    the PMI collocation miner so the pair-extraction expression exists in
    exactly one place. Documents with < 2 tokens contribute nothing."""
    t = F.split(F.col("text"), " ")
    staged = docs.select("doc_id", t.alias("t")).where(F.size("t") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(0), F.size("t") - 2),
        lambda i: F.struct(
            F.get("t", i).alias("w1"), F.get("t", i + 1).alias("w2")
        ),
    )
    return staged.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", "p.w1", "p.w2"
    )


@query(
    "bigram_logprob_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[s.i + 1] AS w1, t[s.i + 2] AS w2
      FROM tok, UNNEST(range(0, len(t) - 1)) AS s(i)
      WHERE len(t) >= 2
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
    ), c1 AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1
    ), lp AS (
      SELECT w1, w2, CAST(ROUND(ln(c2 / c1) * {LP_SCALE}) AS BIGINT) AS lp
      FROM c2 JOIN c1 USING (w1)
    ), doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(lp) AS BIGINT) AS s
      FROM bg JOIN lp USING (w1, w2) GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           ROUND(s / {LP_SCALE}.0 / n_bigrams, 6) AS avg_bigram_logprob
    FROM doc
    """,
    tags=("text-quality", "language-model", "perplexity"),
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BIGRAM language-model score per document — mean
    conditional log-probability ln(c(w₁w₂)/c(w₁·)) over the document's
    bigrams, one Markov order up from :func:`unigram_logprob_score` and the
    closest SQL-expressible shape to the KenLM perplexity filter: unigram
    scoring can't see scrambled word salads built from common tokens, the
    bigram model penalizes them hard.

    Self-trained in the same plan (every document bigram exists in the
    corpus counts, so no smoothing branch is needed); per-bigram ln(p)
    quantizes to an exact BIGINT before the per-document sum (the LP_SCALE
    rule). Shape at 100 TB: the bigram stream explodes once and is reused
    for the LM counts and the per-doc probe; context totals c(w₁·) derive
    from the already-aggregated bigram table (vocabulary², Zipf-bounded),
    not a second corpus scan; both LM joins are unhinted for AQE. The join
    keys here are token strings for oracle parity — the production form
    hashes pairs to 8-byte longs exactly like ``_gram_hash_frame``.
    Documents with fewer than two tokens have no bigrams and are excluded.
    """
    # fan_out: per-document bigram explode + hash runs map-side over this
    # scan (measured 0.80 → 0.63 s at sf0.1/32, tables.py).
    d = load_table(spark, sf_dir, "documents", fan_out=True)
    bg = _bigram_frame(d)
    # c2 feeds both the context totals and the lp join — pin ONE
    # materialization (the unigram vocab-count precedent) so the bigram
    # explode+aggregate doesn't re-run per consumer.
    c2 = pin(
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"))
    lp = c2.join(c1, "w1").select(
        "w1",
        "w2",
        F.round(F.log(F.col("c2") / F.col("c1")) * LP_SCALE)
        .cast("long")
        .alias("lp"),
    )
    doc = (
        bg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp").cast("long").alias("s"),
        )
    )
    return doc.select(
        "doc_id",
        "n_bigrams",
        F.round(F.col("s") / LP_SCALE / F.col("n_bigrams"), 6).alias(
            "avg_bigram_logprob"
        ),
    )


# Collocation extraction: minimum pair frequency and report size.
PMI_MIN_COUNT = 5
PMI_TOP = 50


@query(
    "token_pmi_collocations",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), uni AS (
      SELECT u.token, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(t) AS token FROM tok) u GROUP BY u.token
    ), un AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n_tok FROM uni
    ), bg AS (
      SELECT t[s.i + 1] AS w1, t[s.i + 2] AS w2
      FROM tok, UNNEST(range(0, len(t) - 1)) AS s(i)
      WHERE len(t) >= 2
    ), c2 AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
    ), bn AS (
      SELECT CAST(SUM(c2) AS BIGINT) AS n_big FROM c2
    ), scored AS (
      SELECT c2.w1, c2.w2, c2.c2,
             ln((c2.c2 / CAST(bn.n_big AS DOUBLE))
                / ((u1.c1 / CAST(un.n_tok AS DOUBLE))
                   * (u2.c1 / CAST(un.n_tok AS DOUBLE)))) AS pmi
      FROM c2
      JOIN uni u1 ON c2.w1 = u1.token
      JOIN uni u2 ON c2.w2 = u2.token
      CROSS JOIN bn CROSS JOIN un
      WHERE c2.c2 >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c2, ROUND(pmi, 6) AS pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOP}
    """,
    tags=("text", "collocations", "pmi"),
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP} adjacent-token collocations by pointwise mutual
    information — the classic multi-word-expression miner ("new york"
    scores high, "of the" scores low), and the tokenizer-merge-candidate
    signal a BPE practitioner inspects before vocabulary training.

    PMI = ln(p(w₁w₂) / (p(w₁)·p(w₂))) with every probability derived
    per-ROW from exact BIGINT counts (unigram and bigram totals are single
    exact aggregates), so no float ever reduces across rows and the scores
    are engine-identical; the deterministic (pmi DESC, w₁, w₂) order makes
    the top-{PMI_TOP} unique. Shape: two explode→count aggregations (both
    combine map-side), two vocabulary joins against the ALREADY-aggregated
    bigram table, and a TakeOrdered top-k — the corpus is scanned twice and
    nothing wider than (w₁, w₂, count) ever shuffles."""
    d = load_table(spark, sf_dir, "documents")
    # uni feeds the token total + two join branches, c2 the bigram total +
    # the scoring join — pin one materialization of each aggregate so the
    # corpus really is scanned only twice (the unigram LM precedent).
    uni = pin(
        d.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("c1"))
    )
    un = uni.agg(F.sum("c1").cast("long").alias("n_tok"))
    c2 = pin(
        _bigram_frame(d)
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c2"))
    )
    bn = c2.agg(F.sum("c2").cast("long").alias("n_big"))
    scored = (
        c2.where(F.col("c2") >= PMI_MIN_COUNT)
        .join(uni.select(F.col("token").alias("w1"), F.col("c1").alias("cw1")), "w1")
        .join(uni.select(F.col("token").alias("w2"), F.col("c1").alias("cw2")), "w2")
        .crossJoin(F.broadcast(bn))
        .crossJoin(F.broadcast(un))
        .select(
            "w1",
            "w2",
            "c2",
            F.log(
                (F.col("c2") / F.col("n_big").cast("double"))
                / (
                    (F.col("cw1") / F.col("n_tok").cast("double"))
                    * (F.col("cw2") / F.col("n_tok").cast("double"))
                )
            ).alias("pmi"),
        )
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP)
        .select("w1", "w2", "c2", F.round("pmi", 6).alias("pmi"))
    )


# Absolute-discount constant for interpolated Kneser-Ney (the standard
# fixed D; a production KenLM estimates D from count-of-count statistics —
# same plan shape, different constant).
KN_D = 0.75


@query(
    "kneser_ney_bigram_score",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bg AS (
      SELECT doc_id, t[s.i + 1] AS w1, t[s.i + 2] AS w2
      FROM tok, UNNEST(range(0, len(t) - 1)) AS s(i)
      WHERE len(t) >= 2
    ), c2 AS MATERIALIZED (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2
    ), ctx AS (
      SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS nf
      FROM c2 GROUP BY 1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM c2 GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nbb FROM c2
    ), lp AS (
      SELECT c2.w1, c2.w2,
             CAST(ROUND(ln((c2 - {KN_D}) / c1
                           + ({KN_D} * nf / c1) * (nb / nbb))
                        * {LP_SCALE}) AS BIGINT) AS lp
      FROM c2 JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN tot
    ), doc AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(lp) AS BIGINT) AS s
      FROM bg JOIN lp USING (w1, w2) GROUP BY doc_id
    )
    SELECT doc_id, n_bigrams,
           CAST(ROUND(s / CAST(n_bigrams AS DOUBLE)) AS BIGINT)
             / {LP_SCALE}.0 AS avg_kn_logprob
    FROM doc
    """,
    tags=("text-quality", "language-model", "perplexity", "kneser-ney"),
)
def kneser_ney_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per document — the smoothing
    real KenLM-class quality filters use, one rung past
    :func:`bigram_logprob_score`'s raw MLE:
    ``P(w₂|w₁) = (c(w₁w₂) − D)/c(w₁·) + D·N₁₊(w₁,·)/c(w₁·) · P_cont(w₂)``
    with ``P_cont(w₂) = N₁₊(·,w₂)/N₁₊(··)`` and fixed ``D = {KN_D}``
    (Kneser & Ney 1995). The continuation term is the part MLE cannot
    see: a token that follows MANY distinct contexts keeps probability in
    novel contexts, while a token welded to one collocation partner
    (the "Francisco" effect) is discounted — so word salads assembled
    from common-but-unrelated tokens score lower than under MLE even when
    every bigram is corpus-attested.

    Shape at 100 TB (the ``bigram_logprob_score`` discipline): one bigram
    explode reused for LM counts and the per-doc probe; the pinned
    (w₁, w₂, c) table derives ALL four statistics — context totals AND
    distinct-continuation counts per w₁ in one aggregate, continuation
    counts per w₂, and the 1-row bigram-type total — no second corpus
    pass; every LM join is vocab²-sized (Zipf-bounded) and left to AQE.
    Per-bigram ln(p) quantizes to BIGINT before the per-doc sum (LP_SCALE
    rule); the inner arithmetic is one expression evaluated with
    identical association on both engines. Self-scored corpus ⇒ every
    probed bigram has c ≥ 1 > D, so the discounted term is never
    clamped and no unseen-bigram branch is needed."""
    d = load_table(spark, sf_dir, "documents")
    bg = _bigram_frame(d)
    c2 = pin(
        bg.groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c2"))
    )  # ctx + cont + tot + lp join
    ctx = c2.groupBy("w1").agg(
        F.sum("c2").cast("long").alias("c1"),
        F.count("*").cast("long").alias("nf"),
    )
    cont = c2.groupBy("w2").agg(F.count("*").cast("long").alias("nb"))
    tot = c2.agg(F.count("*").cast("long").alias("nbb"))
    p = (F.col("c2") - KN_D) / F.col("c1") + (
        KN_D * F.col("nf") / F.col("c1")
    ) * (F.col("nb") / F.col("nbb"))
    lp = (
        c2.join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.round(F.log(p) * LP_SCALE).cast("long").alias("lp"),
        )
    )
    doc = (
        bg.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp").cast("long").alias("s"),
        )
    )
    # Final average rounds in INTEGER µunit space — ROUND(s/n) on a
    # bit-identical double, then an exact division — not the decimal
    # ROUND(s/10⁶/n, 6): the µunit sum for one sf0.1 document landed the
    # 6th decimal exactly on .5 and the two engines' decimal rounding of
    # that non-dyadic boundary disagreed by one ulp (round-13 diagnosis:
    # all 931 per-bigram lp values identical, only the final round split).
    return doc.select(
        "doc_id",
        "n_bigrams",
        (
            F.round(F.col("s") / F.col("n_bigrams").cast("double")).cast("long")
            / float(LP_SCALE)
        ).alias("avg_kn_logprob"),
    )
