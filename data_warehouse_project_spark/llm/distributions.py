"""Distributional statistics of the corpus: token-frequency law fit
and embedding coordinate moments.

Two standing sanity gates a training-data pipeline runs on every new
corpus drop: (1) does the token frequency distribution still follow a
Zipf power law (a broken slope flags boilerplate floods or tokenizer
regressions), and (2) are the embedding coordinates centered/scaled
as expected (a drifting dimension flags an encoder change or a
corrupt shard).

Scale notes:
- ``doc_zipf_fit``: the corpus-sized work is the one explode →
  map-side-combined term count shuffle (same shape as
  quality.vocab_top_terms); the OLS fit runs over the top-K cut
  (ZIPF_TOP_K rows), so its single-partition ranking window is
  bounded-cardinality by construction.
- ``embedding_dim_stats``: posexplode fans each vector out ×dim, but
  partial aggregation collapses to ``dim`` groups map-side — the
  shuffle carries O(partitions × dim) rows regardless of corpus size.

Determinism (SURVEY.md §7.4.4 policy): per-term/-component values are
quantized to integers (floor(x·1e6+0.5)) and summed as int64 — exact
and order-independent; the final slope/mean/std are single IEEE ops
over identical integer operands on both engines. ln() carries the
documented residual transcendental ulp risk (compat.py policy note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog

#: terms the Zipf OLS fit runs over (bounded window cardinality)
ZIPF_TOP_K = 200

#: quantization scale for log-terms and embedding components
_Q = 1_000_000.0


def doc_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares fit of ln(frequency) on ln(rank) over the top-K
    corpus terms — the Zipf's-law slope (~ -1 for natural text).
    One corpus-scale term-count shuffle; the fit itself is a 1-row
    aggregate of integer-quantized log terms over K rows."""
    cat = Catalog(spark, sf_dir)
    vocab = (
        cat.documents
        .withColumn("tokens", F.split(F.trim(F.col("text")), r"\s+"))
        .select(F.explode("tokens").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("term"))
        .limit(ZIPF_TOP_K)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("term"))
    ranked = vocab.withColumn("rank", F.row_number().over(w).cast("long"))
    q = ranked.select(
        F.floor(F.log(F.col("rank").cast("double")) * F.lit(_Q)
                + F.lit(0.5)).cast("long").alias("qx"),
        F.floor(F.log(F.col("n_occurrences").cast("double")) * F.lit(_Q)
                + F.lit(0.5)).cast("long").alias("qy"))
    sums = q.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.sum("qx").alias("sx"), F.sum("qy").alias("sy"),
        F.sum(F.col("qx") * F.col("qy")).alias("sxy"),
        F.sum(F.col("qx") * F.col("qx")).alias("sxx"))
    n_d = F.col("n_terms").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    # a degenerate vocabulary (0 or 1 distinct terms) has zero
    # log-rank variance: the fit is undefined (NULL), and under
    # Spark-4 ANSI semantics the unguarded divide would be a runtime
    # DIVIDE_BY_ZERO crash, not NaN — var_q itself is division-free
    # so it is safe inside the condition
    var_q = n_d * F.col("sxx").cast("double") - sx_d * sx_d
    slope = F.when(
        var_q > 0,
        (n_d * F.col("sxy").cast("double") - sx_d * sy_d) / var_q)
    fitted = sums.withColumn("slope_raw", slope)
    return fitted.select(
        "n_terms",
        fround(F.col("slope_raw"), 6).alias("zipf_slope"),
        fround(F.when(
            var_q > 0,
            (sy_d / n_d - F.col("slope_raw") * (sx_d / n_d))
            / F.lit(_Q)), 6).alias("zipf_intercept"))


ZIPF_SQL = f"""
WITH vocab AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM (SELECT UNNEST(string_split_regex(trim(text), '\\s+')) AS term
          FROM documents)
    GROUP BY 1
    ORDER BY n_occurrences DESC, term
    LIMIT {ZIPF_TOP_K}
),
ranked AS (
    SELECT CAST(ROW_NUMBER()
                OVER (ORDER BY n_occurrences DESC, term) AS BIGINT) AS rank,
           n_occurrences
    FROM vocab
),
q AS (
    SELECT CAST(FLOOR(LN(CAST(rank AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS qx,
           CAST(FLOOR(LN(CAST(n_occurrences AS DOUBLE)) * 1000000.0 + 0.5)
                AS BIGINT) AS qy
    FROM ranked
),
sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           SUM(qx) AS sx, SUM(qy) AS sy,
           SUM(qx * qy) AS sxy, SUM(qx * qx) AS sxx
    FROM q
),
fitted AS (
    SELECT n_terms, sx, sy,
           CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS var_q,
           CASE WHEN CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0 THEN
               (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           END AS slope_raw
    FROM sums
)
SELECT n_terms,
       {sql_fround('slope_raw', 6)} AS zipf_slope,
       {sql_fround('CASE WHEN var_q > 0 THEN'
                   ' (CAST(sy AS DOUBLE) / CAST(n_terms AS DOUBLE)'
                   ' - slope_raw * (CAST(sx AS DOUBLE)'
                   ' / CAST(n_terms AS DOUBLE))) / 1000000.0 END', 6)}
           AS zipf_intercept
FROM fitted
"""


def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean and population standard deviation of the
    embedding coordinates. posexplode ×dim, collapsed map-side to
    ``dim`` groups — shuffle volume independent of corpus size."""
    cat = Catalog(spark, sf_dir)
    ex = (
        cat.embeddings
        .select(F.posexplode("embedding").alias("dim", "x"))
        .select(F.col("dim").cast("long").alias("dim"),
                F.floor(F.col("x").cast("double") * F.lit(_Q)
                        + F.lit(0.5)).cast("long").alias("q"))
    )
    agg = ex.groupBy("dim").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"))
    n_d = F.col("n_vecs").cast("double")
    mean_q = F.col("sq").cast("double") / n_d
    var_q = F.col("sqq").cast("double") / n_d - mean_q * mean_q
    return (
        agg.select(
            "dim", "n_vecs",
            fround(mean_q / F.lit(_Q), 6).alias("mean_val"),
            fround(F.sqrt(var_q) / F.lit(_Q), 6).alias("std_val"))
        .orderBy("dim")
    )


EMB_DIM_SQL = """
WITH ex AS (
    SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
           CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS q
    FROM embeddings
),
agg AS (
    SELECT dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           SUM(q) AS sq, SUM(q * q) AS sqq
    FROM ex GROUP BY 1
)
SELECT dim, n_vecs,
       {mean_expr} AS mean_val,
       {std_expr} AS std_val
FROM agg
ORDER BY dim
""".format(
    mean_expr=sql_fround(
        '(CAST(sq AS DOUBLE) / CAST(n_vecs AS DOUBLE)) / 1000000.0', 6),
    std_expr=sql_fround(
        'SQRT(CAST(sqq AS DOUBLE) / CAST(n_vecs AS DOUBLE)'
        ' - (CAST(sq AS DOUBLE) / CAST(n_vecs AS DOUBLE))'
        ' * (CAST(sq AS DOUBLE) / CAST(n_vecs AS DOUBLE))) / 1000000.0', 6))


register("doc_zipf_fit", doc_zipf_fit, ZIPF_SQL)
register("embedding_dim_stats", embedding_dim_stats, EMB_DIM_SQL)


def label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-label centroid cosine matrix — the class-separation
    summary of the embedding space (low off-diagonal cosine = well
    separated labels; a drift toward 1.0 flags encoder collapse).

    One corpus-scale posexplode collapsed map-side to (label, dim)
    groups; centroids, self-norms, and all pairwise dots are
    aggregates over that labels×dims frame — label-pair count is
    bounded, nothing downstream touches the corpus. Per-dim product
    terms are quantized to integers before summing (order-independent,
    SURVEY.md §7.4.4), and sqrt is IEEE-correctly-rounded, so the
    cosine is exact-deterministic cross-engine — no libm risk.
    """
    cat = Catalog(spark, sf_dir)
    ex = (
        cat.embeddings
        .select("label", F.posexplode("embedding").alias("dim", "x"))
        .select(F.col("label").cast("long").alias("label"),
                F.col("dim").cast("long").alias("dim"),
                F.floor(F.col("x").cast("double") * F.lit(_Q)
                        + F.lit(0.5)).cast("long").alias("q"))
    )
    cent = (
        ex.groupBy("label", "dim")
        .agg(F.count("*").cast("long").alias("n"), F.sum("q").alias("sq"))
        .select("label", "dim",
                (F.col("sq").cast("double")
                 / F.col("n").cast("double")).alias("coord")))
    norms = cent.groupBy("label").agg(
        F.sum(F.floor(F.col("coord") * F.col("coord") * F.lit(_Q)
                      + F.lit(0.5)).cast("long")).alias("qn2"))
    a = cent.select(F.col("label").alias("label_a"), "dim",
                    F.col("coord").alias("coord_a"))
    b = cent.select(F.col("label").alias("label_b"), "dim",
                    F.col("coord").alias("coord_b"))
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.floor(F.col("coord_a") * F.col("coord_b") * F.lit(_Q)
                           + F.lit(0.5)).cast("long")).alias("qdot"))
    )
    return (
        dots
        .join(norms.select(F.col("label").alias("label_a"),
                           F.col("qn2").alias("qn2_a")), "label_a")
        .join(norms.select(F.col("label").alias("label_b"),
                           F.col("qn2").alias("qn2_b")), "label_b")
        .select(
            "label_a", "label_b",
            fround(F.col("qdot").cast("double")
                   / F.sqrt(F.col("qn2_a").cast("double")
                            * F.col("qn2_b").cast("double")), 6)
            .alias("centroid_cosine"))
        .orderBy("label_a", "label_b")
    )


CENTROID_SEP_SQL = """
WITH ex AS (
    SELECT CAST(label AS BIGINT) AS label,
           CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
           CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS q
    FROM embeddings
),
cent AS (
    SELECT label, dim,
           CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coord
    FROM ex GROUP BY 1, 2
),
norms AS (
    SELECT label,
           SUM(CAST(FLOOR(coord * coord * 1000000.0 + 0.5) AS BIGINT)) AS qn2
    FROM cent GROUP BY 1
),
dots AS (
    SELECT a.label AS label_a, b.label AS label_b,
           SUM(CAST(FLOOR(a.coord * b.coord * 1000000.0 + 0.5)
               AS BIGINT)) AS qdot
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
    GROUP BY 1, 2
)
SELECT label_a, label_b,
       {cos_expr} AS centroid_cosine
FROM dots
JOIN norms na ON na.label = label_a
JOIN norms nb ON nb.label = label_b
ORDER BY label_a, label_b
""".format(cos_expr=sql_fround(
    'CAST(qdot AS DOUBLE) / SQRT(CAST(na.qn2 AS DOUBLE)'
    ' * CAST(nb.qn2 AS DOUBLE))', 6))


register("label_centroid_separation", label_centroid_separation,
         CENTROID_SEP_SQL)


def embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle population covariance matrix of the embedding
    coordinates — the input to PCA/whitening health checks (a
    collapsing spectrum flags encoder degeneration; unit tests
    eigendecompose this exact output against numpy).

    Scale: ONE corpus pass — each vector expands JVM-side (nested
    transform + explode, whole-stage codegen, no Python) into its
    dim·(dim+1)/2 upper-triangle products, which partial aggregation
    collapses map-side to dim² groups: the shuffle carries
    O(partitions × dim²) rows regardless of corpus size. Per-row
    products and per-dim sums are quantized to integers before
    summing (order-independent, SURVEY.md §7.4.4); the final
    cov = E[xy] − E[x]E[y] is IEEE ops over identical integer
    operands on both engines — no libm involved.
    """
    cat = Catalog(spark, sf_dir)
    # per-row upper-triangle quantized products, exploded JVM-side
    pairs = (
        cat.embeddings
        .select(F.explode(F.expr(
            "flatten(transform(embedding, (x, i) -> "
            " transform(slice(embedding, i + 1, size(embedding) - i), "
            "  (y, j) -> struct(i AS dim_i, i + j AS dim_j, "
            "   CAST(floor(CAST(x AS DOUBLE) * CAST(y AS DOUBLE) "
            "        * 1000000.0 + 0.5) AS LONG) AS qp))))"
        )).alias("p"))
        .select(F.col("p.dim_i").cast("long").alias("dim_i"),
                F.col("p.dim_j").cast("long").alias("dim_j"),
                F.col("p.qp").alias("qp"))
        .groupBy("dim_i", "dim_j")
        .agg(F.count("*").cast("long").alias("n_vecs"),
             F.sum("qp").alias("sqp"))
    )
    # per-dim quantized coordinate sums collapsed to ONE row as a
    # dim→sum map (key lookup is order-independent, so collect_list's
    # nondeterministic order is harmless) — a single one-row broadcast
    # attach instead of two 64-row broadcast joins (one fewer job,
    # simpler plan). Local-wall-time note: a FRESH invocation costs
    # ~2.4 s at any sf, ~all of it whole-stage-codegen compilation of
    # the nested-transform product expression (re-executing the same
    # DataFrame runs in <0.1 s at sf0.1) — a constant driver-side
    # cost that amortizes over real job sizes, not a scale hazard.
    qsums = (
        cat.embeddings
        .select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy(F.col("dim").cast("long").alias("dim"))
        .agg(F.sum(F.floor(F.col("x").cast("double") * F.lit(_Q)
                           + F.lit(0.5)).cast("long")).alias("sq"))
        .agg(F.expr("map_from_arrays(collect_list(dim), collect_list(sq))")
             .alias("qs"))
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # E[xy] from 1e6-quantized products; E[x]E[y] from 1e6-quantized
    # coordinate sums (the 1e6·1e6 scale divides back out)
    cov = (d("sqp") / d("n_vecs") / F.lit(_Q)
           - (F.col("qs")[F.col("dim_i")].cast("double")
              / d("n_vecs") / F.lit(_Q))
           * (F.col("qs")[F.col("dim_j")].cast("double")
              / d("n_vecs") / F.lit(_Q)))
    return (
        pairs
        .crossJoin(F.broadcast(qsums))
        .select("dim_i", "dim_j", "n_vecs",
                fround(cov, 6).alias("covariance"))
        .orderBy("dim_i", "dim_j")
    )


EMB_COV_SQL = """
WITH ex AS MATERIALIZED (
    SELECT vec_id, CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
           CAST(UNNEST(embedding) AS DOUBLE) AS x
    FROM embeddings
),
pairs AS (
    SELECT a.i AS dim_i, b.i AS dim_j,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           SUM(CAST(FLOOR(a.x * b.x * 1000000.0 + 0.5) AS BIGINT)) AS sqp
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
),
sums AS (
    SELECT dim, SUM(qx) AS sq
    FROM (SELECT CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
                 CAST(FLOOR(CAST(UNNEST(embedding) AS DOUBLE) * 1000000.0
                      + 0.5) AS BIGINT) AS qx
          FROM embeddings)
    GROUP BY 1
)
SELECT dim_i, dim_j, n_vecs,
       {cov} AS covariance
FROM pairs
JOIN (SELECT dim AS dim_i, sq AS sq_i FROM sums) si USING (dim_i)
JOIN (SELECT dim AS dim_j, sq AS sq_j FROM sums) sj USING (dim_j)
ORDER BY dim_i, dim_j
""".format(cov=sql_fround(
    'CAST(sqp AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000.0'
    ' - (CAST(sq_i AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000.0)'
    ' * (CAST(sq_j AS DOUBLE) / CAST(n_vecs AS DOUBLE) / 1000000.0)', 6))


register("embedding_covariance_matrix", embedding_covariance_matrix,
         EMB_COV_SQL)


def pca_variance_report(cov_rows) -> "list[tuple]":
    """Driver-side eigendecomposition of the collected upper-triangle
    covariance rows → [(component, eigenvalue, var_share, cum_share)].

    Separated from the query fn so unit tests can feed a
    hand-computed matrix.
    """
    import numpy as np
    if not cov_rows:
        # empty corpus: no covariance rows, no spectrum (round-9
        # empty-input sweep — max() over an empty sequence crashed)
        return []
    dims = 1 + max(max(r["dim_i"] for r in cov_rows),
                   max(r["dim_j"] for r in cov_rows))
    m = np.zeros((dims, dims))
    for r in cov_rows:
        m[r["dim_i"], r["dim_j"]] = r["covariance"]
        m[r["dim_j"], r["dim_i"]] = r["covariance"]
    eig = np.linalg.eigvalsh(m)[::-1]          # descending
    total = float(eig.sum())
    out, cum = [], 0.0
    for i, ev in enumerate(eig):
        share = float(ev) / total if total else 0.0
        cum += share
        out.append((i + 1, round(float(ev), 6), round(share, 6),
                    round(cum, 6)))
    return out


def embedding_pca_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA explained-variance spectrum of the embedding space — the
    encoder-health gate on top of ``embedding_covariance_matrix``: a
    spectrum collapsing onto few components flags representation
    collapse (all vectors on a line ⇒ cosine dedup/ANN quality
    degrades); a near-flat tail of ~zero eigenvalues flags wasted
    dimensions worth truncating before the 4× int8 step
    (llm/compress.py).

    Scale + why the eig is driver-side (MLlib's own PCA pattern —
    RowMatrix.computePrincipalComponents solves the Gramian on the
    driver): the distributed work is the ONE corpus pass inside
    embedding_covariance_matrix (shuffle = dim² rows regardless of
    corpus size); the collected matrix is dim×dim (64² here) —
    bounded by model dimension, independent of row count — and LAPACK
    eigvalsh on it is O(dim³) driver work, far below the cost of even
    scheduling a distributed job. No per-document data ever reaches
    the driver.

    Rows-only (no oracle): eigendecomposition is not expressible in
    ANSI SQL; unit tests pin the spectrum against numpy's covariance
    of the raw vectors, the trace identity Σλ = Σ var(dim), and
    cum_share→1.
    """
    cov = embedding_covariance_matrix(spark, sf_dir)
    rows = [r.asDict() for r in cov.collect()]
    report = pca_variance_report(rows)
    return spark.createDataFrame(
        report,
        "component long, eigenvalue double, var_share double, "
        "cum_share double")


register("embedding_pca_variance", embedding_pca_variance, None)


# ---------------------------------------------------------------------------
# PCA projection (round 7): apply the learned basis back to the
# corpus — covariance → driver eig → distributed projection, closing
# the loop embedding_pca_variance opens
# ---------------------------------------------------------------------------

#: components kept by the projection
PCA_TOP_K = 8

#: tolerance for the captured-variance identity gate (quantized
#: covariance vs raw-vector projection diverge at the 1e-6 level;
#: 0.01 is ~4 orders of magnitude of headroom)
PCA_CAPTURE_TOL = 0.01


def pca_basis(spark: SparkSession, sf_dir: str):
    """(means, components): per-dim means and the top-PCA_TOP_K
    eigenvectors of the covariance matrix, both driver-side (the
    MLlib RowMatrix split — see embedding_pca_variance). Sign
    convention: each eigenvector is flipped so its
    largest-magnitude coordinate is positive (eigh's sign is
    arbitrary; the convention makes the basis deterministic)."""
    import numpy as np
    cov_rows = [r.asDict() for r in
                embedding_covariance_matrix(spark, sf_dir).collect()]
    if not cov_rows:
        # empty corpus: no basis to learn (round-9 empty-input sweep)
        return [], [], 0.0
    dims = 1 + max(max(r["dim_i"] for r in cov_rows),
                   max(r["dim_j"] for r in cov_rows))
    m = np.zeros((dims, dims))
    for r in cov_rows:
        m[r["dim_i"], r["dim_j"]] = r["covariance"]
        m[r["dim_j"], r["dim_i"]] = r["covariance"]
    evals, evecs = np.linalg.eigh(m)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    comps = []
    for k in range(min(PCA_TOP_K, dims)):
        v = evecs[:, k]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        comps.append([float(x) for x in v])
    cat = Catalog(spark, sf_dir)
    mean_rows = (
        cat.embeddings
        .select(F.posexplode("embedding").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.sum(F.floor(F.col("x").cast("double") * F.lit(_Q)
                           + F.lit(0.5)).cast("long")).alias("sq"),
             F.count("*").alias("n"))
        .collect())
    means = [0.0] * dims
    for r in mean_rows:
        means[r["dim"]] = (r["sq"] / r["n"]) / _Q
    eig_total = float(evals.sum())
    eig_topk = float(evals[:min(PCA_TOP_K, dims)].sum())
    return means, comps, (eig_topk / eig_total if eig_total else 0.0)


def _score_expr(comp: list, mdot: float):
    """dot(embedding, comp) − dot(mean, comp) as a JVM fold over the
    broadcast literal component array."""
    # r12 (comment corrected r13 per ADVICE): F.lit(list) still
    # lowers to a CreateArray of per-element Literals; the rewrite
    # removed the per-element Cast nodes (one top-level cast now),
    # which is where the driver-analysis saving came from; semantics
    # identical
    arr = F.lit([float(v) for v in comp]).cast("array<double>")
    return (F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), arr,
                   lambda x, v: x * v),
        F.lit(0.0), lambda acc, t: acc + t) - F.lit(mdot))


def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered query (rows-only: eig basis is numpy-computed):
    per-vector top-K principal-component scores + squared
    reconstruction error — the whitening/truncation step applied at
    corpus scale. The basis ships as broadcast literals; scoring is
    one JVM-side fold pass per vector, no Python and no shuffle
    beyond the scan."""
    means, comps, _ = pca_basis(spark, sf_dir)
    if not comps:
        return spark.createDataFrame(
            [], "vec_id long, " +
                ", ".join(f"pc{k + 1} double"
                          for k in range(PCA_TOP_K)) +
                ", recon_err_sq double")
    mdots = [sum(m * v for m, v in zip(means, c)) for c in comps]
    marr = F.lit([float(m) for m in means]).cast("array<double>")
    sq_norm = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), marr,
                   lambda x, m: (x - m) * (x - m)),
        F.lit(0.0), lambda acc, t: acc + t)
    cat = Catalog(spark, sf_dir)
    df = cat.embeddings.select(
        "vec_id",
        *[fround(_score_expr(comps[k], mdots[k]), 6).alias(f"pc{k + 1}")
          for k in range(len(comps))],
        sq_norm.alias("_sqn"))
    score_sq = sum(F.col(f"pc{k + 1}") * F.col(f"pc{k + 1}")
                   for k in range(len(comps)))
    return (df
            .withColumn("recon_err_sq", fround(F.col("_sqn") - score_sq, 6))
            .drop("_sqn")
            .orderBy("vec_id"))


def pca_projection_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible end-to-end PCA gate (pinned-constant oracle,
    the cms/minhash floor pattern): one row asserting (a) every
    vector's reconstruction error is non-negative (Parseval — a
    violation means the basis isn't orthonormal or the projection is
    broken) and (b) the corpus-measured captured-variance ratio
    matches the eigenvalue top-K share within PCA_CAPTURE_TOL — the
    identity tying the DISTRIBUTED projection back to the
    DISTRIBUTED covariance through the driver-side eig. Per-vector
    terms are integer-quantized before the order-independent sums."""
    means, comps, eig_share = pca_basis(spark, sf_dir)
    if not comps:
        # no corpus, no evidence: NULL verdicts (the pinned-constant
        # oracle presumes a non-empty corpus; see the empty-input
        # gate's documented-divergence list)
        return spark.createDataFrame(
            [(PCA_TOP_K, None, None)],
            "top_k long, recon_nonneg boolean, "
            "capture_matches_spectrum boolean")
    mdots = [sum(m * v for m, v in zip(means, c)) for c in comps]
    marr = F.lit([float(m) for m in means]).cast("array<double>")
    sq_norm = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), marr,
                   lambda x, m: (x - m) * (x - m)),
        F.lit(0.0), lambda acc, t: acc + t)
    score_sq = None
    for k in range(len(comps)):
        s = _score_expr(comps[k], mdots[k])
        score_sq = s * s if score_sq is None else score_sq + s * s
    cat = Catalog(spark, sf_dir)
    q = lambda c: F.floor(c * F.lit(_Q) + F.lit(0.5)).cast("long")  # noqa: E731
    agg = (cat.embeddings
           .select(q(score_sq).alias("cap_q"), q(sq_norm).alias("tot_q"),
                   (sq_norm - score_sq >= F.lit(-1e-6)).alias("nonneg"))
           .agg(F.sum("cap_q").alias("cap"), F.sum("tot_q").alias("tot"),
                F.min(F.col("nonneg").cast("int")).alias("all_nonneg")))
    captured = F.col("cap").cast("double") / F.col("tot").cast("double")
    return agg.select(
        F.lit(PCA_TOP_K).cast("long").alias("top_k"),
        (F.col("all_nonneg") == 1).alias("recon_nonneg"),
        (F.abs(captured - F.lit(eig_share))
         <= F.lit(PCA_CAPTURE_TOL)).alias("capture_matches_spectrum"),
    )


PCA_FLOOR_SQL = f"""
SELECT CAST({PCA_TOP_K} AS BIGINT) AS top_k,
       TRUE AS recon_nonneg,
       TRUE AS capture_matches_spectrum
"""

register("embedding_pca_project", embedding_pca_project, None)
register("pca_projection_floor", pca_projection_floor, PCA_FLOOR_SQL)
