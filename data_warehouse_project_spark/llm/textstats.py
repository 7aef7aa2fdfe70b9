"""Text-analysis operators over the `documents` table — the
training-data-pipeline surface the reference lacks (BASELINE.json
north star): quality scoring, language-ID heuristic, token counting,
document fingerprinting.

Everything is built-in Spark SQL functions (split / regexp /
higher-order array functions) — no Python UDFs, so the whole stage
stays in whole-stage codegen and scales linearly with input splits:
per-document work, no shuffle at all until a final aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: tiny fixed stopword list for quality scoring (ratio of function
#: words — a standard cheap quality signal)
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")

#: language marker words for the n-gram/stopword language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "es": ("el", "la", "los", "y"),
    "fr": ("le", "la", "les", "et"),
}


def _sql_list(words: tuple[str, ...]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics: token count, mean token length,
    stopword ratio, and a composite quality score. All arithmetic on
    arrays via higher-order functions — zero Python."""
    cat = Catalog(spark, sf_dir)
    stop_list = _sql_list(STOPWORDS)
    return (
        cat.documents
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        .withColumn("n_tokens", F.size("tokens").cast("long"))
        .withColumn(
            "n_stopwords",
            F.expr(f"size(filter(tokens, t -> t IN ({stop_list})))").cast("long"),
        )
        .select(
            "doc_id",
            "n_tokens",
            fround(
                (F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
                 / F.col("n_tokens")), 6
            ).alias("mean_token_len"),
            fround(F.col("n_stopwords") / F.col("n_tokens"), 6)
            .alias("stopword_ratio"),
            fround(
                F.log(F.lit(1.0) + F.col("n_tokens"))
                * (F.lit(1.0) - F.col("n_stopwords") / F.col("n_tokens")), 6
            ).alias("quality_score"),
        )
    )


_MTL = sql_fround(
    "length(regexp_replace(text, '\\s+', '', 'g')) / CAST(n_tokens AS DOUBLE)", 6)
_SWR = sql_fround("n_stopwords / CAST(n_tokens AS DOUBLE)", 6)
_QSC = sql_fround(
    "ln(1.0 + n_tokens) * (1.0 - n_stopwords / CAST(n_tokens AS DOUBLE))", 6)

TEXT_QUALITY_SQL = f"""
WITH toks AS (
    SELECT doc_id, text,
           string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
counted AS (
    SELECT doc_id, text,
           CAST(len(tokens) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tokens,
                t -> t IN ({_sql_list(STOPWORDS)}))) AS BIGINT) AS n_stopwords
    FROM toks
)
SELECT doc_id, n_tokens,
       {_MTL} AS mean_token_len,
       {_SWR} AS stopword_ratio,
       {_QSC} AS quality_score
FROM counted
"""


def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID: score each candidate language by its
    function-word hits, pick the argmax (ties → lexicographically
    first language; no hits → 'unknown'). A deliberately cheap,
    deterministic heuristic — the scale path for 100 TB corpora where
    model-based LID would be a later, GPU-side pass."""
    cat = Catalog(spark, sf_dir)
    df = cat.documents.withColumn(
        "tokens", F.split(F.trim(F.col("text")), r"\s+"))
    score_cols = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        col = f"score_{lang}"
        df = df.withColumn(
            col,
            F.expr(
                f"size(filter(tokens, t -> t IN ({_sql_list(markers)})))"
            ).cast("long"),
        )
        score_cols.append(col)
    best = F.greatest(*[F.col(c) for c in score_cols])
    pred = F.lit("unknown")
    # reversed so the first language in sorted order wins ties
    for lang in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0),
                      F.lit(lang)).otherwise(pred)
    return df.select("doc_id", F.col("lang").alias("labeled_lang"),
                     *score_cols, pred.alias("predicted_lang"))


_lang_score_sql = ",\n       ".join(
    f"CAST(len(list_filter(tokens, t -> t IN ({_sql_list(m)}))) AS BIGINT)"
    f" AS score_{lang}"
    for lang, m in sorted(LANG_MARKERS.items())
)
_lang_case_sql = "CASE\n"
for _lang in sorted(LANG_MARKERS):
    _lang_case_sql += (
        f"  WHEN score_{_lang} = best AND best > 0 THEN '{_lang}'\n"
    )
_lang_case_sql += "  ELSE 'unknown' END"

LANG_ID_SQL = f"""
WITH toks AS (
    SELECT doc_id, lang AS labeled_lang,
           string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
scored AS (
    SELECT doc_id, labeled_lang,
       {_lang_score_sql}
    FROM toks
),
with_best AS (
    SELECT *, greatest(score_de, score_en, score_es, score_fr) AS best
    FROM scored
)
SELECT doc_id, labeled_lang, score_de, score_en, score_es, score_fr,
       {_lang_case_sql} AS predicted_lang
FROM with_best
"""


def token_count_bpe_ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (letter runs,
    digit runs, single punctuation) — the cheap proxy for LLM token
    budgeting across a corpus."""
    cat = Catalog(spark, sf_dir)
    pattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    return (
        cat.documents
        .select(
            "doc_id",
            "source",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(pattern), F.lit(0)))
            .cast("long").alias("n_bpe_tokens"),
            F.col("n_chars"),
        )
        .withColumn(
            "chars_per_token",
            fround(F.col("n_chars") / F.col("n_bpe_tokens"), 6),
        )
    )


_CPT = sql_fround(
    "n_chars / CAST(len(regexp_extract_all(text,"
    " '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS DOUBLE)", 6)

TOKEN_COUNT_SQL = f"""
SELECT doc_id, source,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
            AS BIGINT) AS n_bpe_tokens,
       n_chars,
       {_CPT}
           AS chars_per_token
FROM documents
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprinting: md5 of the whitespace-normalized,
    lowercased text — the join key for exact dedup across shards
    (a 100 TB corpus dedups on the 16-byte digest, never shuffling
    full document bodies)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents
        .select(
            "doc_id",
            F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
            .alias("fingerprint"),
        )
    )


DOC_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


register("text_quality", text_quality, TEXT_QUALITY_SQL)
register("lang_id_heuristic", lang_id_heuristic, LANG_ID_SQL)
register("token_count_bpe_ish", token_count_bpe_ish, TOKEN_COUNT_SQL)
register("doc_fingerprint", doc_fingerprint, DOC_FINGERPRINT_SQL)


BIGRAM_TOP_K = 50


def bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model table: top-50 bigrams with counts
    and the conditional probability p(w2 | w1) = c(w1 w2) / c(w1 ·) —
    the n-gram-LM statistic behind perplexity-style quality filters
    and classic LM smoothing inputs.

    Two map-side-combinable aggregations (bigram counts, left-context
    totals) joined on w1 — both keyed by vocabulary-sized keys, never
    by document. Ranking ties break on the rounded probability then
    the bigram text, so cross-engine float noise cannot reorder.
    """
    cat = Catalog(spark, sf_dir)
    pairs = (
        cat.documents
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        .filter(F.size("tokens") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(0, size(tokens) - 2), "
            "i -> struct(tokens[i] AS w1, tokens[i + 1] AS w2))"
        )).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2").agg(F.count("*").alias("c_bigram"))
    )
    left_totals = pairs.groupBy("w1").agg(
        F.sum("c_bigram").alias("c_left"))
    return (
        pairs.join(left_totals, "w1")
        .select(
            "w1", "w2",
            F.col("c_bigram").cast("long").alias("c_bigram"),
            F.col("c_left").cast("long").alias("c_left"),
            fround(F.col("c_bigram") / F.col("c_left"), 6).alias("p_cond"),
        )
        .orderBy(F.col("c_bigram").desc(), "w1", "w2")
        .limit(BIGRAM_TOP_K)
    )


BIGRAM_LM_SQL = f"""
WITH toks AS (
    SELECT string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 2
),
pairs AS (
    SELECT u.b.w1 AS w1, u.b.w2 AS w2, COUNT(*) AS c_bigram
    FROM toks, LATERAL (
        SELECT UNNEST(list_transform(range(1, len(tokens)),
               i -> struct_pack(w1 := tokens[i], w2 := tokens[i+1]))) AS b
    ) u
    GROUP BY 1, 2
),
left_totals AS (
    SELECT w1, SUM(c_bigram) AS c_left FROM pairs GROUP BY 1
)
SELECT p.w1, p.w2,
       CAST(p.c_bigram AS BIGINT) AS c_bigram,
       CAST(l.c_left AS BIGINT) AS c_left,
       {sql_fround('p.c_bigram / CAST(l.c_left AS DOUBLE)', 6)} AS p_cond
FROM pairs p JOIN left_totals l ON p.w1 = l.w1
ORDER BY c_bigram DESC, p.w1, p.w2
LIMIT {BIGRAM_TOP_K}
"""

register("bigram_lm_counts", bigram_lm_counts, BIGRAM_LM_SQL)


# --------------------------------------------------------------------------
# Bigram-LM cross-entropy scoring (perplexity-style quality filter)
# --------------------------------------------------------------------------

#: add-K smoothing constant for the bigram LM
LM_SMOOTH_K = 1.0


def doc_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy (bits/bigram) under the corpus's own
    add-K-smoothed bigram LM — the CCNet-style perplexity filter
    (public recipe: score documents under an n-gram LM; outliers are
    boilerplate or gibberish). Self-scoring over the driver corpus
    keeps the operator deterministic; production would swap in a
    reference LM table.

    Cross-engine determinism: FP SUM of log terms is order-dependent
    (compat.py hazard #1), so each bigram type's -log2(p) term is
    quantized to a 6-decimal integer ONCE, weighted by the exact
    occurrence count, and summed as integers — order-independent;
    one IEEE divide at the end. P(w2|w1) = (c(w1w2)+K)/(c(w1·)+K·V).

    Scale: two vocabulary-keyed aggregations (the LM), one
    (doc_id, w1, w2) aggregation, one vocabulary-keyed join — no
    per-document state beyond its own bigram types; V attaches as a
    broadcast one-row scalar. Docs with < 2 tokens report n_bigrams=0
    and NULL entropy.
    """
    cat = Catalog(spark, sf_dir)
    # r13 (guide §1.2 per-task work): profiled at sf0.1, the
    # tokenize+explode ran THREE times (doc_pairs → lm_pairs, the
    # scored join, and the vocab count) on the raw 2-split documents
    # scan — three ~0.6 s 2-task jobs. The explicit repartition
    # spreads the CPU-bound split/explode across the cores (the
    # _with_shingles discipline: rows are few but per-row work is
    # heavy, and AQE/scan splitting are byte-based). A tracked pin on
    # doc_pairs was ALSO tried and measured a net loss (min-of-3
    # 2.01 s pinned vs 1.78 s unpinned at sf0.1): the broadcast
    # builds of lm_pairs/left_totals overlap in the scheduler, so the
    # duplicate aggregate compute is already hidden, while the pin
    # pays serialization up front on every run.
    n_parts = spark.sparkContext.defaultParallelism
    toks = (cat.documents
            .repartition(n_parts, "doc_id")
            .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+")))
    doc_pairs = (
        toks.filter(F.size("tokens") >= 2)
        .select("doc_id", F.explode(F.expr(
            "transform(sequence(0, size(tokens) - 2), "
            "i -> struct(tokens[i] AS w1, tokens[i + 1] AS w2))")).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
        .groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("m"))
    )
    lm_pairs = (doc_pairs.groupBy("w1", "w2")
                .agg(F.sum("m").alias("c_bigram")))
    left_totals = lm_pairs.groupBy("w1").agg(
        F.sum("c_bigram").alias("c_left"))
    vocab = (toks.select(F.explode("tokens").alias("w"))
             .agg(F.countDistinct("w").alias("v")))
    scored = (
        doc_pairs
        .join(lm_pairs, ["w1", "w2"])
        .join(left_totals, "w1")
        .join(vocab)
        .withColumn("p", (F.col("c_bigram") + F.lit(LM_SMOOTH_K))
                    / (F.col("c_left") + F.lit(LM_SMOOTH_K) * F.col("v")))
        .withColumn("term",
                    F.floor(-F.log2("p") * F.lit(1e6) + F.lit(0.5))
                    .cast("long"))
        .groupBy("doc_id")
        .agg(F.sum("m").cast("long").alias("n_bigrams"),
             F.sum(F.col("m") * F.col("term")).alias("tsum"))
    )
    return (
        cat.documents.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            fround(F.col("tsum")
                   / (F.col("n_bigrams").cast("double") * F.lit(1e6)), 6)
            .alias("cross_entropy_bits"),
        )
    )


DOC_LM_ENTROPY_SQL = f"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
doc_pairs AS (
    SELECT doc_id, u.b.w1 AS w1, u.b.w2 AS w2, COUNT(*) AS m
    FROM toks, LATERAL (
        SELECT UNNEST(list_transform(range(1, len(tokens)),
               i -> struct_pack(w1 := tokens[i], w2 := tokens[i+1]))) AS b
    ) u
    WHERE len(tokens) >= 2
    GROUP BY 1, 2, 3
),
lm_pairs AS (
    SELECT w1, w2, SUM(m) AS c_bigram FROM doc_pairs GROUP BY 1, 2
),
left_totals AS (
    SELECT w1, SUM(c_bigram) AS c_left FROM lm_pairs GROUP BY 1
),
vocab AS (
    SELECT COUNT(DISTINCT u.w) AS v
    FROM toks, LATERAL (SELECT UNNEST(tokens) AS w) u
),
scored AS (
    SELECT dp.doc_id,
           CAST(SUM(dp.m) AS BIGINT) AS n_bigrams,
           SUM(dp.m * CAST(FLOOR(
               -log2((lp.c_bigram + {LM_SMOOTH_K})
                     / (lt.c_left + {LM_SMOOTH_K} * vocab.v)) * 1000000.0
               + 0.5) AS BIGINT)) AS tsum
    FROM doc_pairs dp
    JOIN lm_pairs lp ON dp.w1 = lp.w1 AND dp.w2 = lp.w2
    JOIN left_totals lt ON dp.w1 = lt.w1
    CROSS JOIN vocab
    GROUP BY dp.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       {sql_fround('s.tsum / (CAST(s.n_bigrams AS DOUBLE) * 1000000.0)', 6)}
           AS cross_entropy_bits
FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
"""

register("doc_lm_cross_entropy", doc_lm_cross_entropy, DOC_LM_ENTROPY_SQL)


def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language-ID against the
    labeled lang column, with per-cell corpus share — the evaluation
    table that decides whether the cheap heuristic is good enough to
    gate the expensive model-based LID pass (completing the
    model-evaluation family: ann_recall_floor and
    minhash_accuracy_floor gate indexes, quality_calibration_report
    gates the scorer, this gates the classifier).

    On the driver corpus the matrix correctly exposes a data truth:
    the text is English-like word soup under synthetic lang labels,
    so predictions concentrate in {en, unknown} and off-diagonal
    mass dominates — the honest "don't trust these labels for
    per-language training splits" signal (unit-pinned in
    tests/test_audits.py).

    Scale: one pass of per-row marker scoring (the lang_id plan), a
    (labeled, predicted) aggregate of ≤ (langs+1)² cells, corpus
    total attached as a broadcast scalar."""
    preds = lang_id_heuristic(spark, sf_dir).select(
        "labeled_lang", "predicted_lang")
    cells = (preds.groupBy("labeled_lang", "predicted_lang")
             .agg(F.count("*").cast("long").alias("n_docs")))
    total = cells.agg(F.sum("n_docs").alias("total"))
    return (
        cells.join(total)
        .select(
            "labeled_lang", "predicted_lang", "n_docs",
            fround(F.col("n_docs") / F.col("total"), 6).alias("share"),
            (F.col("labeled_lang") == F.col("predicted_lang"))
            .alias("correct"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )


LANG_CONFUSION_SQL = f"""
WITH preds AS ({LANG_ID_SQL}),
cells AS (
    SELECT labeled_lang, predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM preds GROUP BY 1, 2
)
SELECT labeled_lang, predicted_lang, n_docs,
       {sql_fround('n_docs / CAST((SELECT SUM(n_docs) FROM cells)'
                   ' AS DOUBLE)', 6)} AS share,
       labeled_lang = predicted_lang AS correct
FROM cells
ORDER BY labeled_lang, predicted_lang
"""

register("lang_id_confusion", lang_id_confusion, LANG_CONFUSION_SQL)


# --------------------------------------------------------------------------
# Collocation mining: pointwise mutual information over corpus bigrams
# --------------------------------------------------------------------------

#: report size and the noise floor (PMI of rare pairs is unstable)
PMI_TOP_K = 50
PMI_MIN_COUNT = 5


def token_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information:
    PMI(w1,w2) = ln(c12·N² / (B·c1·c2)) — the statistic behind
    tokenizer-merge candidates and multiword-expression mining
    (complements bigram_lm_counts' conditional probability with the
    symmetric association strength).

    Scale: two corpus explode passes (unigram and bigram counts, both
    map-side-combined to vocabulary-sized keys; the bigram counts are
    pinned), then
    vocabulary-keyed joins and a broadcast one-row totals attach —
    nothing downstream of the counts touches the corpus. Ranking
    orders by the ROUNDED pmi then the bigram text, so cross-engine
    float noise cannot reorder; ln carries the documented residual
    transcendental ulp risk (compat.py policy note).
    """
    from ..cache import pin
    cat = Catalog(spark, sf_dir)
    toks = cat.documents.withColumn(
        "tokens", F.split(F.trim(F.col("text")), r"\s+"))
    uni = (
        toks.select(F.explode("tokens").alias("w"))
        .groupBy("w").agg(F.count("*").cast("long").alias("c_uni")))
    pairs = pin(
        toks.filter(F.size("tokens") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(0, size(tokens) - 2), "
            "i -> struct(tokens[i] AS w1, tokens[i + 1] AS w2))"
        )).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("c_bigram")))
    totals = (
        uni.agg(F.sum("c_uni").cast("long").alias("n_tokens"))
        .crossJoin(pairs.agg(F.sum("c_bigram").cast("long")
                             .alias("n_bigrams")))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return (
        pairs.filter(F.col("c_bigram") >= PMI_MIN_COUNT)
        .join(uni.select(F.col("w").alias("w1"),
                         F.col("c_uni").alias("c_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"),
                         F.col("c_uni").alias("c_w2")), "w2")
        .crossJoin(totals)
        .select(
            "w1", "w2", "c_bigram", "c_w1", "c_w2",
            fround(F.log((d("c_bigram") * d("n_tokens") * d("n_tokens"))
                         / (d("n_bigrams") * d("c_w1") * d("c_w2"))), 6)
            .alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(PMI_TOP_K)
    )


PMI_SQL = f"""
WITH toks AS (
    SELECT string_split_regex(trim(text), '\\s+') AS tokens FROM documents
),
uni AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS c_uni
    FROM (SELECT UNNEST(tokens) AS w FROM toks) GROUP BY 1
),
pairs AS (
    SELECT u.b.w1 AS w1, u.b.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c_bigram
    FROM toks, LATERAL (
        SELECT UNNEST(list_transform(range(1, len(tokens)),
               i -> struct_pack(w1 := tokens[i], w2 := tokens[i+1]))) AS b
    ) u
    WHERE len(tokens) >= 2
    GROUP BY 1, 2
),
totals AS (
    SELECT (SELECT CAST(SUM(c_uni) AS BIGINT) FROM uni) AS n_tokens,
           (SELECT CAST(SUM(c_bigram) AS BIGINT) FROM pairs) AS n_bigrams
)
SELECT p.w1, p.w2, p.c_bigram, u1.c_uni AS c_w1, u2.c_uni AS c_w2,
       {{pmi}} AS pmi
FROM pairs p
JOIN uni u1 ON u1.w = p.w1
JOIN uni u2 ON u2.w = p.w2
CROSS JOIN totals
WHERE p.c_bigram >= {PMI_MIN_COUNT}
ORDER BY pmi DESC, p.w1, p.w2
LIMIT {PMI_TOP_K}
""".format(pmi=sql_fround(
    'LN((CAST(p.c_bigram AS DOUBLE) * CAST(n_tokens AS DOUBLE)'
    ' * CAST(n_tokens AS DOUBLE))'
    ' / (CAST(n_bigrams AS DOUBLE) * CAST(u1.c_uni AS DOUBLE)'
    ' * CAST(u2.c_uni AS DOUBLE)))', 6))

register("token_bigram_pmi", token_bigram_pmi, PMI_SQL)
