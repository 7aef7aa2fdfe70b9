"""End-to-end corpus refinery funnel — the round-5 signals composed
into one oracle-checked pipeline (SURVEY.md §2.11 capability mandate;
the reference has no corpus tooling, ref app.py is a CRUD portal).

`corpus_refinery_report` chains, per source:
  documents → exact [p05,p95] length band (quality.length_band_filter)
            → duplicate-bigram repetition filter
              (repetition.dup_ngram_char_fracs ≤ MAX_DUP_2GRAM)
            → exact content dedup (normalized-text md5, keep min doc_id)
            → per-source funnel counts + retention rate.

Like `corpus_manifest` (dedup ∘ quality ∘ split), the value is the
END-TO-END oracle: every stage is deterministic, so the whole funnel
hash-matches a DuckDB twin — evidence the composed plan, not just each
stage, is correct.

Scale design (100 TB): the band bounds broadcast (histogram-sized
single-partition window, see quality.length_band_filter); the
repetition chain keys on (doc_id, gram) so skew is bounded by the
longest document; the dedup shuffle carries 16-byte md5 fingerprints,
never text; the final report aggregates on `source` (small domain).
No Python anywhere.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog
from .quality import BAND_HI_PCT, BAND_LO_PCT, length_band_filter
from .repetition import _tokens, dup_char_frac_chain
from .sampling import _bucket, _sql_bucket

#: keep-threshold on the duplicate-bigram character fraction
#: (sf0.01 fixture: splits 395/500 — both ways)
MAX_DUP_2GRAM = 0.10


def _funnel_frames(spark: SparkSession, sf_dir: str):
    """(docs, band, clean, survivors) — the funnel's stage frames,
    shared by the report and the materializing build."""
    cat = Catalog(spark, sf_dir)
    docs = cat.documents

    band = length_band_filter(spark, sf_dir)          # doc_id, n_chars, source
    # only the n=2 chain — paying for the 5-gram chain here would
    # double the repetition cost for a signal the filter never reads
    dupf2 = dup_char_frac_chain(_tokens(cat), 2, "f2")
    clean = (
        band.join(dupf2, "doc_id", "left")
        .filter(F.coalesce("f2", F.lit(0.0)) <= MAX_DUP_2GRAM)
        .select("doc_id", "source")
    )
    # hash only the docs that reached the dedup stage — band +
    # repetition filtering drops the rest, so normalizing/md5'ing the
    # full corpus would be wasted work on the heaviest string column
    fp = docs.join(clean.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")),
                                       r"\s+", " "))).alias("fp"))
    survivors = (
        clean.join(fp, "doc_id")
        .groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        .join(docs.select("doc_id", "source"), "doc_id")
    )
    return docs, band, clean, survivors


def corpus_refinery_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source funnel: docs_in → docs_band → docs_clean →
    docs_unique, with the end-to-end retention rate."""
    docs, band, clean, survivors = _funnel_frames(spark, sf_dir)

    def counts(df: DataFrame, out: str) -> DataFrame:
        return df.groupBy("source").agg(F.count("*").cast("long").alias(out))

    return (
        counts(docs, "docs_in")
        .join(counts(band, "docs_band"), "source", "left")
        .join(counts(clean, "docs_clean"), "source", "left")
        .join(counts(survivors, "docs_unique"), "source", "left")
        .select(
            "source",
            "docs_in",
            F.coalesce("docs_band", F.lit(0)).alias("docs_band"),
            F.coalesce("docs_clean", F.lit(0)).alias("docs_clean"),
            F.coalesce("docs_unique", F.lit(0)).alias("docs_unique"),
            fround(F.coalesce("docs_unique", F.lit(0))
                   / F.col("docs_in"), 6).alias("retention"),
        )
        .orderBy("source")
    )


REFINERY_CTES = f"""
WITH hist AS (
    SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY n_chars
),
cum AS (
    SELECT n_chars, SUM(c) OVER (ORDER BY n_chars) AS cum,
           SUM(c) OVER () AS n_docs
    FROM hist
),
bounds AS (
    SELECT MIN(CASE WHEN cum >= CEIL({BAND_LO_PCT} * n_docs)
                    THEN n_chars END) AS lo,
           MIN(CASE WHEN cum >= CEIL({BAND_HI_PCT} * n_docs)
                    THEN n_chars END) AS hi
    FROM cum
),
band AS (
    SELECT d.doc_id, d.source FROM documents d, bounds b
    WHERE d.n_chars BETWEEN b.lo AND b.hi
),
toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tokens
    FROM documents
),
dup2 AS (
    SELECT doc_id,
           {sql_fround('SUM(CASE WHEN c >= 2 THEN c * length(g) ELSE 0 END)'
                       ' / CAST(SUM(c * length(g)) AS DOUBLE)', 6)} AS f2
    FROM (
        SELECT doc_id, u.g AS g, COUNT(*) AS c
        FROM toks, LATERAL (
            SELECT UNNEST(list_transform(range(0, len(tokens) - 1),
                   i -> array_to_string(tokens[i + 1 : i + 2], ' '))) AS g
        ) u
        WHERE len(tokens) >= 2
        GROUP BY doc_id, u.g
    ) GROUP BY doc_id
),
clean AS (
    SELECT band.doc_id, band.source
    FROM band LEFT JOIN dup2 ON band.doc_id = dup2.doc_id
    WHERE COALESCE(f2, 0.0) <= {MAX_DUP_2GRAM}
),
fp AS (
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    WHERE doc_id IN (SELECT doc_id FROM clean)
),
survivors AS (
    SELECT s.doc_id, d.source
    FROM (SELECT MIN(clean.doc_id) AS doc_id
          FROM clean JOIN fp ON clean.doc_id = fp.doc_id
          GROUP BY fp.fp) s
    JOIN documents d ON s.doc_id = d.doc_id
)"""

REFINERY_SQL = REFINERY_CTES + f""",
per AS (
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS docs_in
    FROM documents d GROUP BY d.source
)
SELECT per.source, per.docs_in,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS docs_band,
       CAST(COALESCE(c.n, 0) AS BIGINT) AS docs_clean,
       CAST(COALESCE(u.n, 0) AS BIGINT) AS docs_unique,
       {sql_fround('COALESCE(u.n, 0) / CAST(per.docs_in AS DOUBLE)', 6)}
           AS retention
FROM per
LEFT JOIN (SELECT source, COUNT(*) AS n FROM band GROUP BY source) b
       ON per.source = b.source
LEFT JOIN (SELECT source, COUNT(*) AS n FROM clean GROUP BY source) c
       ON per.source = c.source
LEFT JOIN (SELECT source, COUNT(*) AS n FROM survivors GROUP BY source) u
       ON per.source = u.source
ORDER BY per.source
"""

register("corpus_refinery_report", corpus_refinery_report, REFINERY_SQL)


# --------------------------------------------------------------------------
# Materializing build (the funnel's write path)
# --------------------------------------------------------------------------

def corpus_build_post_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus build that actually SHIPS: run the refinery funnel,
    assign the deterministic 90/10 train/eval split (the
    train_test_split bucket rule on surviving doc_ids), WRITE the
    refined corpus split-partitioned through the staged-swap
    overwrite, read the persisted files back, and report the
    manifest per (split, source) — docs and character mass. The LLM
    pipeline's analog of the warehouse post-state queries: evidence
    the write path produces the corpus the query path promised.

    Scale: the funnel is corpus_refinery_report's plan; the write
    adds one partitioned write of the surviving rows (split
    partition pruning serves train-only readers); the manifest
    aggregates the persisted files, so a write-path bug (dropped
    partition, truncated file) hash-mismatches the oracle."""
    docs, _, _, survivors = _funnel_frames(spark, sf_dir)
    refined = (survivors.select("doc_id")
               .join(docs, "doc_id")
               .withColumn("split",
                           F.when(_bucket("doc_id") < 90, F.lit("train"))
                           .otherwise(F.lit("eval"))))
    # FIXED per-process path, replaced per run — a fresh mkdtemp per
    # invocation would leak one refined-corpus copy per sweep/bench
    # iteration. partitionBy(split) is staged by hand then renamed
    # (writes.overwrite_table writes unpartitioned).
    base = os.path.join(tempfile.gettempdir(), "dwps-corpus-build")
    os.makedirs(base, exist_ok=True)
    path = os.path.join(base, "refined")
    staging = path + f".staging-{os.getpid()}"
    refined.write.mode("overwrite").partitionBy("split").parquet(staging)
    old_dir = path + f".old-{os.getpid()}"
    if os.path.exists(path):
        os.rename(path, old_dir)
    os.rename(staging, path)
    shutil.rmtree(old_dir, ignore_errors=True)
    # explicit schema: a zero-row write leaves no parquet footers to
    # infer from, and schema'd reads are the robust pattern anyway
    # (round-9 empty-input sweep — UNABLE_TO_INFER_SCHEMA)
    persisted = spark.read.schema(refined.schema).parquet(path)
    return (persisted.groupBy("split", "source")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"))
            .orderBy("split", "source"))


CORPUS_BUILD_SQL = REFINERY_CTES + f"""
SELECT CASE WHEN {_sql_bucket('s.doc_id')} < 90
            THEN 'train' ELSE 'eval' END AS split,
       d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS total_chars
FROM survivors s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY 1, 2
ORDER BY split, d.source
"""

register("corpus_build_post_state", corpus_build_post_state,
         CORPUS_BUILD_SQL)
