"""Language-composition analytics over `documents` — temperature-
reweighted sampling plans, cross-lingual vocabulary overlap, and
Zipf-head concentration (the corpus-composition questions a
multilingual pretraining run answers before fixing its data mixture;
training-data-pipeline surface extending SURVEY.md §2's LLM family).

Scale design: every operator aggregates FIRST (per-lang token counts,
per-(lang, term) counts), then works on the aggregate — vocabulary-
sized frames, never the raw corpus. Shuffles key on lang or term;
no all-pairs over documents.

Determinism note: temperature sampling canonically uses p^(1/T). We
fix T=2 → sqrt(p), because IEEE-754 REQUIRES correctly-rounded sqrt —
unlike pow/log/exp (see functions/compat.py's transcendental note),
sqrt(p) is bit-identical on JVM and DuckDB, so the oracle hash-match
carries no libm risk. The normalizing sum quantizes each sqrt to an
integer first (exact, order-independent addition), per the repo's
standard FP-sum policy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: token budget the temperature plan allocates (literal so both
#: engines agree)
TEMP_TOKEN_BUDGET = 100_000

#: quantization scale for sqrt(p) before the normalizing integer sum
_WQ = 1_000_000_000


def _lang_tokens(cat: Catalog) -> DataFrame:
    return (
        cat.documents
        .withColumn("toks", F.split(F.trim(F.col("text")), r"\s+"))
        .groupBy("lang")
        .agg(F.count("*").cast("long").alias("n_docs"),
             F.sum(F.size("toks")).cast("long").alias("n_tokens"))
    )


def source_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-reweighted (T=2, w ∝ sqrt(p)) per-language token
    allocation — the standard low-resource up-sampling rule in
    multilingual LM training (flattens the language distribution
    toward uniform without inverting it). Reports, per language:
    the raw token share, the temperature share, the token allocation
    under TEMP_TOKEN_BUDGET, and the up/down-sampling boost.

    One groupBy(lang) over the corpus; everything after runs on the
    #langs-row aggregate with a broadcast one-row total."""
    cat = Catalog(spark, sf_dir)
    per_lang = _lang_tokens(cat)
    tot = per_lang.agg(F.sum("n_tokens").alias("t_tokens"))
    with_p = (
        per_lang.join(tot)
        .withColumn("p_raw", F.col("n_tokens") / F.col("t_tokens"))
        # sqrt is IEEE-correctly-rounded → bit-identical operand on
        # both engines; quantize before summing so the normalizer is
        # an exact integer sum
        .withColumn("wq", F.floor(F.sqrt(F.col("p_raw")) * _WQ + F.lit(0.5))
                    .cast("long"))
    )
    wtot = with_p.agg(F.sum("wq").alias("w_total"))
    return (
        with_p.join(wtot)
        .select(
            "lang", "n_docs", "n_tokens",
            fround(F.col("p_raw"), 6).alias("p_raw"),
            fround(F.col("wq") / F.col("w_total"), 6).alias("temp_share"),
            F.floor(F.lit(TEMP_TOKEN_BUDGET) * F.col("wq")
                    / F.col("w_total")).cast("long").alias("alloc_tokens"),
            # boost of already-quantized shares: identical operands →
            # the one divide is deterministic
            fround((F.col("wq") / F.col("w_total")) / F.col("p_raw"), 4)
            .alias("boost"),
        )
        .orderBy("lang")
    )


MIXTURE_TEMP_SQL = f"""
WITH per_lang AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
               AS n_tokens
    FROM documents GROUP BY lang
),
with_p AS (
    SELECT *,
           n_tokens / CAST((SELECT SUM(n_tokens) FROM per_lang) AS DOUBLE)
               AS p_raw
    FROM per_lang
),
with_w AS (
    SELECT *, CAST(FLOOR(SQRT(p_raw) * {_WQ} + 0.5) AS BIGINT) AS wq
    FROM with_p
)
SELECT lang, n_docs, n_tokens,
       {sql_fround('p_raw', 6)} AS p_raw,
       {sql_fround('wq / CAST((SELECT SUM(wq) FROM with_w) AS DOUBLE)', 6)}
           AS temp_share,
       CAST(FLOOR({TEMP_TOKEN_BUDGET} * wq
            / CAST((SELECT SUM(wq) FROM with_w) AS DOUBLE)) AS BIGINT)
           AS alloc_tokens,
       {sql_fround('(wq / CAST((SELECT SUM(wq) FROM with_w) AS DOUBLE))'
                   ' / p_raw', 4)} AS boost
FROM with_w
ORDER BY lang
"""

register("source_mixture_temperature", source_mixture_temperature,
         MIXTURE_TEMP_SQL)


def _lang_vocab(cat: Catalog) -> DataFrame:
    """Distinct lowercase whitespace tokens per language."""
    return (
        cat.documents
        .select("lang", F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )


def lang_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between languages — the shared-
    token (loanword / code-switch / contamination) signal a corpus
    audit reads before trusting per-language splits. Explode →
    distinct keys one shuffle on (lang, term); the pair join runs on
    the VOCABULARY (term-keyed, each term carrying its ≤ #langs
    rows), never on documents. The vocab aggregate's three consumers
    (sizes + both join sides) read one (lang, term) exchange, which
    the executed plan reuses, so the corpus is tokenized once."""
    cat = Catalog(spark, sf_dir)
    vocab = _lang_vocab(cat)
    sizes = vocab.groupBy("lang").agg(F.count("*").cast("long").alias("v"))
    a = vocab.select(F.col("lang").alias("lang_a"), "term")
    b = vocab.select(F.col("lang").alias("lang_b"), "term")
    shared = (
        a.join(b, "term")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        shared
        .join(F.broadcast(sizes.withColumnRenamed("lang", "lang_a")
                          .withColumnRenamed("v", "vocab_a")), "lang_a")
        .join(F.broadcast(sizes.withColumnRenamed("lang", "lang_b")
                          .withColumnRenamed("v", "vocab_b")), "lang_b")
        .select(
            "lang_a", "lang_b", "vocab_a", "vocab_b", "n_shared",
            fround(F.col("n_shared")
                   / (F.col("vocab_a") + F.col("vocab_b")
                      - F.col("n_shared")).cast("double"), 6)
            .alias("jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )


LANG_OVERLAP_SQL = """
WITH vocab AS (
    SELECT DISTINCT lang, term
    FROM (SELECT lang,
                 unnest(string_split_regex(trim(lower(text)), '\\s+'))
                     AS term
          FROM documents)
    WHERE term <> ''
),
sizes AS (
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS v FROM vocab GROUP BY lang
),
shared AS (
    SELECT a.lang AS lang_a, b.lang AS lang_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM vocab a JOIN vocab b ON a.term = b.term AND a.lang < b.lang
    GROUP BY 1, 2
)
SELECT s.lang_a, s.lang_b, sa.v AS vocab_a, sb.v AS vocab_b, s.n_shared,
       {jac} AS jaccard
FROM shared s
JOIN sizes sa ON sa.lang = s.lang_a
JOIN sizes sb ON sb.lang = s.lang_b
ORDER BY s.lang_a, s.lang_b
""".format(jac=sql_fround(
    "s.n_shared / CAST(sa.v + sb.v - s.n_shared AS DOUBLE)", 6))

register("lang_vocab_overlap", lang_vocab_overlap, LANG_OVERLAP_SQL)


#: head size for the concentration report
HEAD_K = 25


def lang_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-head concentration per language: the share of all tokens
    covered by the HEAD_K most frequent terms — high coverage means a
    repetitive/templated sub-corpus, low means diverse text (the
    same concentration lens part_pareto_concentration applies to
    revenue). Aggregate-first: one (lang, term) count shuffle, then
    ranking windows over the per-lang VOCABULARY rows only."""
    cat = Catalog(spark, sf_dir)
    counts = (
        cat.documents
        .select("lang", F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("lang", "term")
        .agg(F.count("*").cast("long").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "term")
    return (
        counts
        .withColumn("rank", F.row_number().over(w))
        .groupBy("lang")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab_size"),
            F.sum(F.when(F.col("rank") <= HEAD_K, F.col("n"))
                  .otherwise(F.lit(0))).cast("long").alias("head_tokens"),
        )
        .select("lang", "n_tokens", "vocab_size", "head_tokens",
                fround(F.col("head_tokens") / F.col("n_tokens"), 6)
                .alias("head_share"))
        .orderBy("lang")
    )


LANG_HEAD_SQL = f"""
WITH counts AS (
    SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT lang,
                 unnest(string_split_regex(trim(lower(text)), '\\s+'))
                     AS term
          FROM documents)
    WHERE term <> ''
    GROUP BY lang, term
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY n DESC, term) AS rank
    FROM counts
)
SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(SUM(CASE WHEN rank <= {HEAD_K} THEN n ELSE 0 END) AS BIGINT)
           AS head_tokens,
       {sql_fround('SUM(CASE WHEN rank <= ' + str(HEAD_K)
                   + ' THEN n ELSE 0 END) / CAST(SUM(n) AS DOUBLE)', 6)}
           AS head_share
FROM ranked
GROUP BY lang
ORDER BY lang
"""

register("lang_head_coverage", lang_head_coverage, LANG_HEAD_SQL)


# --------------------------------------------------------------------------
# Per-source length-distribution drift (KL divergence vs corpus)
# --------------------------------------------------------------------------

#: documents are bucketed by token count into fixed-width bands —
#: bounded by the length domain, independent of corpus size
LENGTH_KL_BAND = 10

#: quantization scale for the per-band KL terms
_KL_Q = 1_000_000_000.0


def source_length_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence of the token-count distribution
    against the whole-corpus distribution — the mixture-drift monitor
    that flags a source whose documents suddenly shorten/lengthen
    (scraper truncation, boilerplate floods) even when its volume
    share is unchanged.

    Scale: one corpus pass computes per-doc token counts JVM-side and
    collapses map-side to the (source × band) matrix — bounded by
    source count × length bands, independent of corpus size.
    Everything downstream (marginals, the KL sum) runs on that
    matrix; the corpus band distribution attaches by broadcast.
    Determinism: p and q are exact integer-count ratios; each band's
    p·ln(p/q) term is quantized to 1e9 ints and integer-summed
    (order-independent); ln carries the documented residual
    transcendental ulp risk (compat.py policy note).
    """
    cat = Catalog(spark, sf_dir)
    from ..cache import pin
    # pin the bounded (source × band) matrix: per_source, per_band,
    # and the total each consume it — unpinned, each recomputation
    # re-tokenized the corpus (review finding: 4 scans)
    banded = pin(
        cat.documents
        .select("source",
                (F.floor(F.size(F.split(F.trim(F.col("text")), r"\s+"))
                         / F.lit(LENGTH_KL_BAND))).cast("long").alias("band"))
        .groupBy("source", "band")
        .agg(F.count("*").cast("long").alias("n_sb"))
    )

    per_source = banded.groupBy("source").agg(
        F.sum("n_sb").cast("long").alias("n_s"))
    per_band = banded.groupBy("band").agg(
        F.sum("n_sb").cast("long").alias("n_b"))
    total = banded.agg(F.sum("n_sb").cast("long").alias("n_total"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    p = d("n_sb") / d("n_s")
    q = d("n_b") / d("n_total")
    term_q = F.floor(p * F.log(p / q) * F.lit(_KL_Q) + F.lit(0.5)) \
        .cast("long")
    return (
        banded
        .join(per_source, "source")
        .join(F.broadcast(per_band), "band")
        .crossJoin(total)
        .groupBy("source")
        .agg(F.max("n_s").alias("n_docs"),
             F.sum(term_q).alias("kl_q"))
        .select("source", F.col("n_docs").cast("long").alias("n_docs"),
                fround(F.col("kl_q").cast("double") / F.lit(_KL_Q), 6)
                .alias("kl_vs_corpus"))
        .orderBy("source")
    )


SOURCE_LENGTH_KL_SQL = f"""
WITH banded AS (
    SELECT source,
           CAST(FLOOR(len(string_split_regex(trim(text), '\\s+'))
                / {LENGTH_KL_BAND}) AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_sb
    FROM documents GROUP BY 1, 2
),
per_source AS (
    SELECT source, CAST(SUM(n_sb) AS BIGINT) AS n_s FROM banded GROUP BY 1
),
per_band AS (
    SELECT band, CAST(SUM(n_sb) AS BIGINT) AS n_b FROM banded GROUP BY 1
),
total AS (
    SELECT CAST(SUM(n_sb) AS BIGINT) AS n_total FROM banded
),
terms AS (
    SELECT b.source, s.n_s,
           CAST(FLOOR((CAST(b.n_sb AS DOUBLE) / CAST(s.n_s AS DOUBLE))
                * LN((CAST(b.n_sb AS DOUBLE) / CAST(s.n_s AS DOUBLE))
                     / (CAST(g.n_b AS DOUBLE) / CAST(t.n_total AS DOUBLE)))
                * 1000000000.0 + 0.5) AS BIGINT) AS term_q
    FROM banded b
    JOIN per_source s ON b.source = s.source
    JOIN per_band g ON b.band = g.band
    CROSS JOIN total t
)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_docs,
       {{kl}} AS kl_vs_corpus
FROM terms
GROUP BY source
ORDER BY source
""".format(kl=sql_fround(
    'CAST(SUM(term_q) AS DOUBLE) / 1000000000.0', 6))

register("source_length_kl", source_length_kl, SOURCE_LENGTH_KL_SQL)
