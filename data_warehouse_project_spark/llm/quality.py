"""Corpus quality operators over `documents` — Gopher-style
repetition/composition heuristics, PII scrubbing, vocabulary
statistics, TF-IDF term weighting, and source-mixture planning
(training-data-pipeline surface; the reference has no analog — these
extend SURVEY.md §2's LLM-pipeline family).

Scale design: every operator is per-document expression work or an
explode → partial-aggregate pipeline (map-side combinable token
counts), so cost is linear in corpus size with one shuffle keyed by
token or source — no all-pairs steps, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..operators.windows import disc_quantiles
from ..registry import register
from ..sources.catalog import Catalog

# --------------------------------------------------------------------------
# Gopher-style quality flags
# --------------------------------------------------------------------------

#: keep-thresholds (tuned so the driver corpus splits both ways:
#: n_tokens 10-99, TTR 0.28-1.0, top-token 0.05-0.30, dup-bigram
#: 0-0.13 at sf0.01)
MIN_TOKENS = 20
MIN_TTR = 0.35
MAX_TOP_TOKEN_FRAC = 0.15
MAX_DUP_BIGRAM_FRAC = 0.10


def _token_sig(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(toks, sig): ``docs`` with its whitespace ``tokens`` array, and
    per doc_id the token count, distinct-token count and the most
    common token's count (n_tokens, n_distinct, top_c) — one explode
    → two-level aggregate, map-side combinable."""
    toks = docs.withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
    sig = (
        toks.select("doc_id", F.explode("tokens").alias("tok"))
        .groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("top_c"))
    )
    return toks, sig


def _raw_dup() -> Column:
    """The duplicate-bigram fraction of the ``tokens`` array."""
    return F.expr(
        "CASE WHEN size(tokens) < 2 THEN CAST(0.0 AS DOUBLE) ELSE "
        "1.0 - size(array_distinct(transform(sequence(0, size(tokens)-2),"
        " i -> concat(tokens[i], ' ', tokens[i+1]))))"
        " / CAST(size(tokens) - 1 AS DOUBLE) END"
    ).alias("raw_dup")


def _gopher_keep() -> Column:
    """The Gopher keep rule over the rounded signals."""
    return ((F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("ttr") >= MIN_TTR)
            & (F.col("top_token_frac") <= MAX_TOP_TOKEN_FRAC)
            & (F.col("dup_bigram_frac") <= MAX_DUP_BIGRAM_FRAC))


def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition/composition signals with a keep flag —
    the Gopher-rules shape (Rae et al. 2021, public): token count
    bounds, type-token ratio, most-common-token dominance, duplicate
    bigram fraction.

    Token stats run as explode → two-level aggregate (map-side
    combinable); bigram stats are per-row array expressions. One
    shuffle on doc_id-sized keys.
    """
    toks, sig = _token_sig(Catalog(spark, sf_dir).documents)
    return (
        sig.join(toks.select("doc_id", _raw_dup()), "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            fround(F.col("n_distinct") / F.col("n_tokens"), 6).alias("ttr"),
            fround(F.col("top_c") / F.col("n_tokens"), 6)
            .alias("top_token_frac"),
            fround(F.col("raw_dup"), 6).alias("dup_bigram_frac"),
        )
        .withColumn("keep", _gopher_keep())
    )


GOPHER_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
per_tok AS (
    SELECT doc_id, UNNEST(tokens) AS tok FROM toks
),
cnt AS (
    SELECT doc_id, tok, COUNT(*) AS c FROM per_tok GROUP BY 1, 2
),
sig AS (
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(MAX(c) AS BIGINT) AS top_c
    FROM cnt GROUP BY 1
),
bigr AS (
    SELECT doc_id,
           CASE WHEN len(tokens) < 2 THEN 0.0 ELSE
             1.0 - len(list_distinct(list_transform(range(1, len(tokens)),
                       i -> tokens[i] || ' ' || tokens[i+1])))
                   / CAST(len(tokens) - 1 AS DOUBLE) END AS raw_dup
    FROM toks
),
j AS (
    SELECT s.doc_id, s.n_tokens,
           {sql_fround('s.n_distinct / CAST(s.n_tokens AS DOUBLE)', 6)} AS ttr,
           {sql_fround('s.top_c / CAST(s.n_tokens AS DOUBLE)', 6)} AS top_token_frac,
           {sql_fround('b.raw_dup', 6)} AS dup_bigram_frac
    FROM sig s JOIN bigr b ON s.doc_id = b.doc_id
)
SELECT doc_id, n_tokens, ttr, top_token_frac, dup_bigram_frac,
       (n_tokens >= {MIN_TOKENS} AND ttr >= {MIN_TTR}
        AND top_token_frac <= {MAX_TOP_TOKEN_FRAC}
        AND dup_bigram_frac <= {MAX_DUP_BIGRAM_FRAC}) AS keep
FROM j
"""


# --------------------------------------------------------------------------
# PII scrubbing
# --------------------------------------------------------------------------

#: patterns restricted to the regex intersection of Java (Spark) and
#: RE2 (DuckDB): no lookaround, no backrefs
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails / IPv4s / phone-shaped numbers and count the
    redactions per document — the pre-training privacy scrub pass.
    Replacement order (email → ip → phone) is fixed so both engines
    transform identically. Pure regexp expressions: per-row, no
    shuffle, codegen'd."""
    cat = Catalog(spark, sf_dir)
    return cat.documents.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(EMAIL_RE), F.lit(0)))
        .cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(IP_RE), F.lit(0)))
        .cast("long").alias("n_ips"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(PHONE_RE), F.lit(0)))
        .cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), EMAIL_RE, "<EMAIL>"),
                IP_RE, "<IP>"),
            PHONE_RE, "<PHONE>").alias("redacted"),
    )


_P_EMAIL = EMAIL_RE.replace("'", "''")
_P_IP = IP_RE
_P_PHONE = PHONE_RE

PII_SCRUB_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_P_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_P_IP}')) AS BIGINT) AS n_ips,
       CAST(len(regexp_extract_all(text, '{_P_PHONE}')) AS BIGINT) AS n_phones,
       regexp_replace(
           regexp_replace(
               regexp_replace(text, '{_P_EMAIL}', '<EMAIL>', 'g'),
               '{_P_IP}', '<IP>', 'g'),
           '{_P_PHONE}', '<PHONE>', 'g') AS redacted
FROM documents
"""


# --------------------------------------------------------------------------
# Vocabulary + TF-IDF
# --------------------------------------------------------------------------

VOCAB_TOP_K = 100
TFIDF_TOP_K = 3


def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-K tokens by occurrence count with their
    document frequency — the tokenizer-training / vocab-pruning
    aggregate. explode → map-side-combined counts → TakeOrdered top-K
    (rank assigned on the K survivors, not a global sort)."""
    cat = Catalog(spark, sf_dir)
    per = (
        cat.documents
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        .select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occurrences"),
             F.countDistinct("doc_id").cast("long").alias("n_docs"))
        .orderBy(F.col("n_occurrences").desc(), F.col("term"))
        .limit(VOCAB_TOP_K)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("term"))
    return per.withColumn("rank", F.row_number().over(w).cast("long")) \
              .select("rank", "term", "n_occurrences", "n_docs")


VOCAB_SQL = f"""
WITH ex AS (
    SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS term
    FROM documents
),
agg AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM ex GROUP BY 1
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, term) AS BIGINT)
           AS rank,
       term, n_occurrences, n_docs
FROM agg
ORDER BY n_occurrences DESC, term
LIMIT {VOCAB_TOP_K}
"""


def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: tf = in-doc frequency, idf =
    ln(N/df). The df table is doc-count-sized and the corpus total is
    a 1-row broadcast; ranking is a per-document window. Ties rank by
    the ROUNDED score then term, so cross-engine float noise below
    1e-6 cannot flip the ordering."""
    cat = Catalog(spark, sf_dir)
    # per_tok feeds four consumers (tf scoring, per-doc totals,
    # document frequency, corpus count), so the plan scans + explodes
    # the corpus four times — deliberately NOT persisted: each consumer
    # is a map-side-combined partial aggregate, so what shuffles is
    # four SMALL aggregate outputs, while caching would materialize a
    # per-(doc,term) table LARGER than the corpus (measured at sf0.1:
    # pinned 2.78 s vs recompute 1.92 s steady-state). Re-scan costs
    # CPU; caching costs corpus-scale memory/serialization — the
    # partial-agg shuffle profile is the one that survives 100 TB.
    per_tok = (
        cat.documents
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        .select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term").agg(F.count("*").alias("c"))
    )
    doc_n = per_tok.groupBy("doc_id").agg(F.sum("c").alias("n_tokens"))
    df_tbl = per_tok.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = doc_n.agg(F.count("*").alias("n_corpus"))
    scored = (
        per_tok.join(doc_n, "doc_id")
        .join(df_tbl, "term")
        .join(n_docs)
        .withColumn(
            "tfidf",
            fround((F.col("c") / F.col("n_tokens"))
                   * F.log(F.col("n_corpus") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TFIDF_TOP_K)
        .select("doc_id", "rank", "term", "tfidf")
    )


TFIDF_SQL = f"""
WITH ex AS (
    SELECT doc_id, UNNEST(string_split_regex(trim(text), '\\s+')) AS term
    FROM documents
),
per_tok AS (
    SELECT doc_id, term, COUNT(*) AS c FROM ex GROUP BY 1, 2
),
doc_n AS (
    SELECT doc_id, SUM(c) AS n_tokens FROM per_tok GROUP BY 1
),
df_tbl AS (
    SELECT term, COUNT(*) AS df FROM per_tok GROUP BY 1
),
scored AS (
    SELECT p.doc_id, p.term,
           {sql_fround('(p.c / CAST(d.n_tokens AS DOUBLE)) * '
                       'ln((SELECT COUNT(*) FROM doc_n) '
                       '/ CAST(f.df AS DOUBLE))', 6)} AS tfidf
    FROM per_tok p
    JOIN doc_n d ON p.doc_id = d.doc_id
    JOIN df_tbl f ON p.term = f.term
),
ranked AS (
    SELECT doc_id, term, tfidf,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS BIGINT) AS rank
    FROM scored
)
SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# Source-mixture planning
# --------------------------------------------------------------------------

#: target token budget for the mixture plan (a literal so both
#: engines agree; the real pipeline would parameterize it)
MIXTURE_TOKEN_BUDGET = 50_000


def source_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling plan for a token-budget mixture: each
    source's raw weight is 1 + (source_index mod 3) (a deterministic
    stand-in for hand-tuned mixture weights); allocation is the
    weight-proportional share of the budget; sample_frac = allocation
    / available tokens, capped at 1. One groupBy(source) — the
    corpus-assembly planning aggregate."""
    cat = Catalog(spark, sf_dir)
    per_src = (
        cat.documents
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum(F.size("tokens")).cast("long").alias("n_tokens"))
        .withColumn(
            "weight",
            # digitless sources default to 0 (→ weight 1) on BOTH
            # engines: Spark's '' casts to NULL (which would silently
            # drop the row from w_total) while DuckDB's CAST('') would
            # raise — coalesce/TRY_CAST give them one defined answer
            (F.lit(1)
             + F.coalesce(F.regexp_extract("source", r"([0-9]+)", 1)
                          .cast("long"), F.lit(0)) % 3).cast("long"))
    )
    tot = per_src.agg(F.sum("weight").alias("w_total"))
    return (
        per_src.join(tot)
        .withColumn(
            "alloc_tokens",
            F.floor(F.lit(MIXTURE_TOKEN_BUDGET) * F.col("weight")
                    / F.col("w_total")).cast("long"))
        .withColumn(
            "sample_frac",
            fround(F.least(F.lit(1.0),
                           F.col("alloc_tokens") / F.col("n_tokens")), 6))
        .select("source", "n_docs", "n_tokens", "weight",
                "alloc_tokens", "sample_frac")
    )


MIXTURE_SQL = f"""
WITH per_src AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS n_tokens,
           CAST(1 + COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1)
                             AS BIGINT), 0) % 3
                AS BIGINT) AS weight
    FROM documents GROUP BY source
)
SELECT source, n_docs, n_tokens, weight,
       CAST(FLOOR({MIXTURE_TOKEN_BUDGET} * weight
            / CAST((SELECT SUM(weight) FROM per_src) AS DOUBLE)) AS BIGINT)
           AS alloc_tokens,
       {sql_fround('least(1.0, FLOOR(' + str(MIXTURE_TOKEN_BUDGET)
                   + ' * weight / CAST((SELECT SUM(weight) FROM per_src)'
                   ' AS DOUBLE)) / CAST(n_tokens AS DOUBLE))', 6)}
           AS sample_frac
FROM per_src
"""


register("gopher_quality_flags", gopher_quality_flags, GOPHER_SQL)
register("pii_scrub", pii_scrub, PII_SCRUB_SQL)
register("vocab_top_terms", vocab_top_terms, VOCAB_SQL)
register("tfidf_top_terms", tfidf_top_terms, TFIDF_SQL)
register("source_mixture_plan", source_mixture_plan, MIXTURE_SQL)


# --------------------------------------------------------------------------
# Linear quality-classifier scoring
# --------------------------------------------------------------------------

#: fixed public-shape logistic weights (fasttext-style linear scorer
#: over cheap text features — the "quality model inference" stage of a
#: corpus pipeline, with a deterministic stand-in model so the oracle
#: can reproduce scores exactly). Chosen so the driver corpus splits
#: both ways at the 0.5 keep threshold.
QSCORE_W0 = -3.8
QSCORE_W_LOG_TOKENS = 0.6
QSCORE_W_TTR = 2.0
QSCORE_W_AVG_LEN = 0.1
QSCORE_KEEP = 0.5


def _n_letter_chars() -> Column:
    """A document's non-whitespace character count."""
    return (F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
            .cast("long").alias("n_letter_chars"))


def _score() -> Column:
    """The 6dp-rounded logistic score over n_tokens, n_distinct and
    n_letter_chars."""
    z = (F.lit(QSCORE_W0)
         + F.lit(QSCORE_W_LOG_TOKENS) * F.log(F.col("n_tokens"))
         + F.lit(QSCORE_W_TTR) * (F.col("n_distinct") / F.col("n_tokens"))
         + F.lit(QSCORE_W_AVG_LEN)
         * (F.col("n_letter_chars") / F.col("n_tokens")))
    return fround(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


def quality_score_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document logistic quality score over three features
    (log token count, type-token ratio, average token length) with a
    keep flag at 0.5 — model scoring as pure column arithmetic.

    At 100 TB this is the shape a real classifier pass wants: features
    from one explode → partial aggregate plus per-row expressions, the
    dot product and sigmoid JVM-side in whole-stage codegen, no Python
    and no model service in the hot path (a learned linear model drops
    in by replacing the weight literals; an embedding-based scorer
    would swap the feature block for a vector column)."""
    cat = Catalog(spark, sf_dir)
    _, sig = _token_sig(cat.documents)
    return (
        sig.join(cat.documents.select("doc_id", _n_letter_chars()), "doc_id")
        .select("doc_id", "n_tokens", _score().alias("score"))
        .withColumn("keep", F.col("score") >= QSCORE_KEEP)
    )


QSCORE_Z = (f"{QSCORE_W0} + {QSCORE_W_LOG_TOKENS} * ln(n_tokens) "
            f"+ {QSCORE_W_TTR} * (n_distinct / CAST(n_tokens AS DOUBLE)) "
            f"+ {QSCORE_W_AVG_LEN} * (n_letter_chars / CAST(n_tokens AS DOUBLE))")

QUALITY_SCORE_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
cnt AS (
    SELECT doc_id, tok, COUNT(*) AS c
    FROM (SELECT doc_id, UNNEST(tokens) AS tok FROM toks) GROUP BY 1, 2
),
sig AS (
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM cnt GROUP BY 1
),
lens AS (
    SELECT doc_id,
           CAST(length(regexp_replace(trim(text), '\\s+', '', 'g')) AS BIGINT)
               AS n_letter_chars
    FROM documents
)
SELECT s.doc_id, s.n_tokens,
       {sql_fround(f'1.0 / (1.0 + exp(-({QSCORE_Z})))', 6)} AS score,
       {sql_fround(f'1.0 / (1.0 + exp(-({QSCORE_Z})))', 6)} >= {QSCORE_KEEP}
           AS keep
FROM sig s JOIN lens USING (doc_id)
"""

register("quality_score_linear", quality_score_linear, QUALITY_SCORE_SQL)


# --------------------------------------------------------------------------
# Exact-percentile length band filter
# --------------------------------------------------------------------------

#: length-band tail: drop the shortest and the longest 1/BAND_TAIL (5%)
#: of documents (length_band_filter and refinery)
BAND_TAIL = 20
BAND_LO, BAND_HI = (1, BAND_TAIL), (BAND_TAIL - 1, BAND_TAIL)
#: the same bounds as the decimals the oracle SQL spells (0.05, 0.95)
BAND_LO_PCT, BAND_HI_PCT = 1 / BAND_TAIL, (BAND_TAIL - 1) / BAND_TAIL


def length_band_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep documents whose n_chars lies within the exact
    [p05, p95] length band — the standard outlier-length filter every
    corpus pipeline applies before quality scoring.

    Exact discrete percentiles (`operators.windows.disc_quantiles`):
    the pXX threshold is the smallest length L whose cumulative doc
    count reaches ceil(pct * n_docs) — the oracle spells the same
    rank as CEIL over the decimal fraction.

    Scale design (100 TB): the naive plan globally sorts every doc by
    length; this one aggregates to a length HISTOGRAM first (distinct
    n_chars values — a few thousand rows no matter how many docs), so
    the only single-partition window runs over the tiny histogram and
    the thresholds broadcast back to the corpus scan. One shuffle
    (histogram groupBy); the filter itself is scan-local.
    """
    docs = Catalog(spark, sf_dir).documents
    bounds = disc_quantiles(docs, [], "n_chars",
                            {"lo": BAND_LO, "hi": BAND_HI})
    return (
        docs.join(bounds)
        .filter(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars", "source")
    )


LENGTH_BAND_SQL = f"""
WITH hist AS (
    SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY n_chars
),
cum AS (
    SELECT n_chars,
           SUM(c) OVER (ORDER BY n_chars) AS cum,
           SUM(c) OVER () AS n_docs
    FROM hist
),
bounds AS (
    SELECT
        MIN(CASE WHEN cum >= CEIL({BAND_LO_PCT} * n_docs)
                 THEN n_chars END) AS lo,
        MIN(CASE WHEN cum >= CEIL({BAND_HI_PCT} * n_docs)
                 THEN n_chars END) AS hi
    FROM cum
)
SELECT d.doc_id, d.n_chars, d.source
FROM documents d, bounds b
WHERE d.n_chars BETWEEN b.lo AND b.hi
"""

register("length_band_filter", length_band_filter, LENGTH_BAND_SQL)


# --------------------------------------------------------------------------
# Sketch-based heavy hitters
# --------------------------------------------------------------------------

#: max items each partial sketch tracks — bounds executor memory
#: regardless of vocabulary size (the scale knob)
SKETCH_MAX_ITEMS = 100_000


def vocab_top_terms_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter vocabulary via Spark's `approx_top_k` frequency
    sketch — the sublinear-state twin of the exact `vocab_top_terms`.

    Scale design (100 TB): the exact path shuffles one (term, count)
    pair per distinct term — fine until the vocabulary itself is huge
    (web-scale corpora: 1e9+ distinct tokens). The sketch path keeps a
    bounded `SKETCH_MAX_ITEMS`-entry summary per partial aggregate and
    merges summaries, so shuffle volume is O(partitions × sketch),
    independent of vocabulary size. Estimated counts are exact
    whenever a partial's distinct-token count fits the sketch (true
    for the driver fixtures — pinned by a unit test against the exact
    vocabulary); at true web scale they are the documented
    approximation every frequency-sketch pipeline accepts.

    Rows-only by design: sketch internals (merge order, tie handling)
    are engine-defined, and DuckDB has no approx_top_k analog.
    """
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    sk = toks.agg(F.expr(
        f"approx_top_k(term, {VOCAB_TOP_K}, {SKETCH_MAX_ITEMS})"
    ).alias("top"))
    return (
        sk.select(F.explode("top").alias("e"))
        .select(F.col("e.item").alias("term"),
                F.col("e.count").cast("long").alias("est_occurrences"))
        .orderBy(F.col("est_occurrences").desc(), F.col("term"))
    )


register("vocab_top_terms_sketch", vocab_top_terms_sketch, None)


# --------------------------------------------------------------------------
# Score-decile calibration against the Gopher rule flags
# --------------------------------------------------------------------------

def quality_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-calibration report: documents ranked into score deciles
    by the linear quality scorer, each decile scored against the
    INDEPENDENT Gopher rule-based keep flags — the lift/agreement
    table a pipeline owner reads before trusting a cheap learned
    scorer to replace hand rules (a well-calibrated scorer shows
    keep_frac rising monotonically with the decile).

    Scale: decile boundaries come from the QUANTIZED-score histogram
    (scores are 6dp-rounded; floor(score·1000) gives ≤ 1001 distinct
    buckets), so the ranking windows see the bounded histogram, never
    per-document rows — the same aggregate-first percentile
    discipline as length_band_filter, with the bucket→decile map
    broadcast back. (10·cum + n − 1) div n is the integer form of
    ceil(10·cum/n); mean/frac outputs are single IEEE divides of
    exact integer sums.

    The two feature pipelines run over one shared token-count
    aggregate (the scorer needs n_tokens/n_distinct/letter-chars,
    Gopher adds top_c + the bigram fraction): composing the two
    registered queries re-exploded the corpus twice (measured 1.14 s
    → one explode pass + one per-row projection). Both queries'
    feature helpers are reused, so results are value-identical to the
    composition — the DuckDB oracle still composes the two original
    SQL blocks independently, which is exactly the cross-check."""
    toks, sig = _token_sig(Catalog(spark, sf_dir).documents)
    perrow = toks.select("doc_id", _n_letter_chars(), _raw_dup())
    docs = (
        sig.join(perrow, "doc_id")
        .withColumn("score", _score())
        .withColumn("ttr", fround(F.col("n_distinct") / F.col("n_tokens"), 6))
        .withColumn("top_token_frac",
                    fround(F.col("top_c") / F.col("n_tokens"), 6))
        .withColumn("dup_bigram_frac", fround(F.col("raw_dup"), 6))
        .withColumn("keep", _gopher_keep())
        .select("doc_id", "score", "keep")
        .withColumn("sb", F.floor(F.col("score") * 1000).cast("long"))
    )
    hist = docs.groupBy("sb").agg(F.count("*").alias("c"))
    w = Window.orderBy("sb").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    decile_map = (
        hist.select("sb", F.sum("c").over(w).alias("cum"),
                    F.sum("c").over(wt).alias("n"))
        .select("sb", F.expr("(10 * cum + n - 1) div n").alias("decile"))
    )
    return (
        docs.join(F.broadcast(decile_map), "sb")
        .groupBy("decile")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("score").alias("score_lo"),
            F.max("score").alias("score_hi"),
            F.sum(F.floor(F.col("score") * 1e6 + F.lit(0.5)).cast("long"))
            .alias("_ssum"),
            F.sum(F.col("keep").cast("long")).cast("long").alias("n_keep"),
        )
        .select(
            F.col("decile").cast("long").alias("decile"), "n_docs",
            "score_lo", "score_hi",
            fround(F.col("_ssum") / (F.col("n_docs") * F.lit(1e6)), 6)
            .alias("mean_score"),
            fround(F.col("n_keep") / F.col("n_docs"), 6)
            .alias("gopher_keep_frac"),
        )
        .orderBy("decile")
    )


QUALITY_CALIBRATION_SQL = f"""
WITH docs AS (
    SELECT qs.doc_id, qs.score, gf.keep,
           CAST(FLOOR(qs.score * 1000) AS BIGINT) AS sb
    FROM ({QUALITY_SCORE_SQL}) qs
    JOIN ({GOPHER_SQL}) gf USING (doc_id)
),
hist AS (SELECT sb, COUNT(*) AS c FROM docs GROUP BY sb),
dmap AS (
    SELECT sb, (10 * cum + n - 1) // n AS decile
    FROM (SELECT sb,
                 SUM(c) OVER (ORDER BY sb ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER () AS n
          FROM hist)
)
SELECT CAST(d.decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(docs.score) AS score_lo,
       MAX(docs.score) AS score_hi,
       {sql_fround('SUM(CAST(FLOOR(docs.score * 1000000.0 + 0.5) AS BIGINT))'
                   ' / (COUNT(*) * 1000000.0)', 6)} AS mean_score,
       {sql_fround('SUM(CASE WHEN docs.keep THEN 1 ELSE 0 END)'
                   ' / CAST(COUNT(*) AS DOUBLE)', 6)} AS gopher_keep_frac
FROM docs JOIN dmap d USING (sb)
GROUP BY d.decile
ORDER BY decile
"""

register("quality_calibration_report", quality_calibration_report,
         QUALITY_CALIBRATION_SQL)


# --------------------------------------------------------------------------
# Compression-ratio quality signal (zlib proxy)
# --------------------------------------------------------------------------

#: deflate level — fixed so the signal is deterministic for a given
#: zlib build (the stdlib bundles one per Python release).
_ZLIB_LEVEL = 6

#: ratio below which a document is flagged as near-pure boilerplate
#: (highly compressible ⇒ repetitive / templated content).
COMPRESS_FLAG_RATIO = 0.35

#: Arrow batch iterator schema
_COMPRESS_SCHEMA = ("doc_id long, raw_len long, comp_len long, "
                    "ratio double, is_boilerplate boolean")


def compression_signal(docs: DataFrame) -> DataFrame:
    """Per-document zlib compression ratio — the model-free
    redundancy detector real corpus pipelines run next to the n-gram
    repetition stats (public Dolma/RefinedWeb practice: templated or
    machine-generated text compresses far better than natural prose,
    so a LOW compressed/raw ratio flags boilerplate the token-level
    fractions can miss, e.g. long-range repeated paragraphs).

    Engine shape: a justified Arrow stage — deflate is a bit-level
    algorithm no SQL engine expresses, so this is mapInPandas (the
    multimodal featurizer discipline): map-only over the source
    partitioning, ZERO shuffle, batches arrive as Arrow columns and
    only four small scalars per doc flow out. Rows-only registry
    entry (DuckDB has no zlib); unit tests pin exact stdlib-zlib
    values and the repetitive<diverse ordering.
    """
    import pandas as pd

    def _score(batches):
        import zlib
        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            raw_len = raw.str.len()
            comp_len = raw.map(
                lambda b: len(zlib.compress(b, _ZLIB_LEVEL)))
            ratio = (comp_len / raw_len.clip(lower=1)).round(6)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "raw_len": raw_len,
                "comp_len": comp_len,
                "ratio": ratio,
                "is_boilerplate": ratio < COMPRESS_FLAG_RATIO,
            })

    return (docs.select("doc_id", "text")
            .mapInPandas(_score, schema=_COMPRESS_SCHEMA)
            .orderBy("doc_id"))


def doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio boilerplate signal over the corpus."""
    cat = Catalog(spark, sf_dir)
    return compression_signal(cat.documents)


register("doc_compression_ratio", doc_compression_ratio, None)


# --------------------------------------------------------------------------
# Per-source quality matrix ("which scrape source is dirtiest")
# --------------------------------------------------------------------------

def source_quality_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source roll-up of the Gopher rule outcomes — the triage
    dashboard that decides which SOURCE gets re-crawled, filtered
    harder, or dropped, instead of judging documents one at a time:
    doc count, keep rate, and the mean of each quality signal.

    Composition: runs gopher_quality_flags (one explode pass) and
    joins source on doc_id, then collapses to a sources-sized frame.
    Means are quantized-term integer sums (compat.py policy: the
    per-doc signals are already 6-dp-rounded, so floor(x·1e6+0.5)
    recovers each term exactly and the sum is order-independent)."""
    cat = Catalog(spark, sf_dir)
    flags = gopher_quality_flags(spark, sf_dir)
    q = lambda c: F.floor(F.col(c) * 1e6 + F.lit(0.5)).cast("long")  # noqa: E731
    per = (flags.join(cat.documents.select("doc_id", "source"), "doc_id")
           .groupBy("source")
           .agg(F.count("*").cast("long").alias("n_docs"),
                F.sum(F.col("keep").cast("long")).cast("long")
                .alias("n_keep"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                F.sum(q("ttr")).alias("qttr"),
                F.sum(q("top_token_frac")).alias("qtop"),
                F.sum(q("dup_bigram_frac")).alias("qdup")))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (per.select(
        "source", "n_docs",
        fround(d("n_keep") / d("n_docs"), 6).alias("keep_rate"),
        "n_tokens",
        fround(d("qttr") / d("n_docs") / F.lit(1e6), 6).alias("mean_ttr"),
        fround(d("qtop") / d("n_docs") / F.lit(1e6), 6)
        .alias("mean_top_token_frac"),
        fround(d("qdup") / d("n_docs") / F.lit(1e6), 6)
        .alias("mean_dup_bigram_frac"))
        .orderBy("source"))


SOURCE_QUALITY_SQL = f"""
WITH flags AS ({GOPHER_SQL}),
per AS (
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN f.keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           CAST(SUM(f.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST(FLOOR(f.ttr * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS qttr,
           CAST(SUM(CAST(FLOOR(f.top_token_frac * 1000000.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS qtop,
           CAST(SUM(CAST(FLOOR(f.dup_bigram_frac * 1000000.0 + 0.5)
                         AS BIGINT)) AS BIGINT) AS qdup
    FROM flags f JOIN documents d ON f.doc_id = d.doc_id
    GROUP BY 1
)
SELECT source, n_docs,
       {sql_fround('CAST(n_keep AS DOUBLE) / n_docs', 6)} AS keep_rate,
       n_tokens,
       {sql_fround('CAST(qttr AS DOUBLE) / n_docs / 1000000.0', 6)}
           AS mean_ttr,
       {sql_fround('CAST(qtop AS DOUBLE) / n_docs / 1000000.0', 6)}
           AS mean_top_token_frac,
       {sql_fround('CAST(qdup AS DOUBLE) / n_docs / 1000000.0', 6)}
           AS mean_dup_bigram_frac
FROM per
ORDER BY source
"""

register("source_quality_matrix", source_quality_matrix,
         SOURCE_QUALITY_SQL)
