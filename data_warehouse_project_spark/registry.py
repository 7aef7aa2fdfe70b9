"""Query registry — the single source of truth for the driver contract.

Every implemented operator/query registers here as
  name -> (spark_fn, oracle_sql | None)
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is
the ANSI-SQL twin DuckDB runs on the same parquet tables. A ``None``
oracle marks a genuinely non-SQL-expressible op (driver falls back to
a rows-only check).

Naming contract: aliases of computed columns MUST match between the
Spark plan and the oracle SQL — the driver sorts columns by name
before value-hashing.

Session-lifetime contract: a few query plans persist() a shared
intermediate (tracked via cache.pin). Per-run sessions (the driver)
may ignore this; hosts that keep one session across many queries
should call cache.release_all() after materializing each result —
see cache.py and bench.py for the pattern.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .plans import flagship as _flagship

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: name -> (callable, oracle sql or None)
REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, fn: SparkQuery, oracle: str | None) -> None:
    if name in REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    REGISTRY[name] = (fn, oracle)


register("flagship_my_registrations", _flagship.flagship, _flagship.FLAGSHIP_ORACLE)


def _register_modules() -> None:
    """Import every module that self-registers queries."""
    from .operators import (bloom, extended, quarantine,  # noqa: F401
                            relational, skew)
    from .plans import (acf, analytics, aqp, attribution, audits,  # noqa: F401
                        cdc, dashboard, drift, experiment, graph, incremental,
                        linkage, poststate, rankcorr, regression, robust,
                        survival, timeseries, tpch, tpch_deep, warehouse)
    from .streaming import (batch_parity, cusum_state,  # noqa: F401
                            dedup_ingest, distinct_users, drift_state,
                            funnel_state, interval_join, late_sessions,
                            late_transitions, neardup_ingest, sessions,
                            transitions, ttl_window)
    from .llm import (bpe, bridge, clusters, compress, dedup,  # noqa: F401
                      distributions, importance, index, kmeans, langmix,
                      manifest, multimodal, pipeline, quality, refinery,
                      repetition, retrieval, sampling, similarity, sketches,
                      spans, textstats)
    from .functions import crypto  # noqa: F401


#: Correctness-window priority. The external CORRECTNESS run checks
#: the first 50 registered queries, so registration order is coverage
#: policy: after the flagship canary, queries it has never checked
#: come first, then the rest oldest-checked first (age by the
#: CORRECTNESS_rNN.json artifacts). The window arithmetic is
#: machine-checked by
#: tests/test_functions.py::test_priority_window_rotation. A query
#: outside the window is still value-checked on every pytest run by
#: the local DuckDB parity suite.
_PRIORITY: list[str] = [
    "flagship_my_registrations",
    # --- never checked in a window: outranks stale-but-once-green ---
    "bpe_encode_stats",
    "bpe_encode_floor",
    "docs_dedup_ingest_incremental",
    "docs_neardup_ingest_incremental",
    # --- its oracle has never run in a window (the DuckDB twin
    #     landed after its last, rows-only, window) ---
    "agg_approx_distinct",
    # --- last checked in CORRECTNESS_r06, registry order ---
    "q11_part_value_concentration",
    "q15_top_supplier",
    "q16_part_supplier_variety",
    "q17_small_quantity_revenue",
    "monthly_revenue_growth",
    "part_pareto_concentration",
    "events_transitions_incremental",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "minhash_accuracy_floor",
    "dedup_clusters",
    "dedup_survivors",
    "source_mixture_temperature",
    "vocab_top_terms",
    "source_mixture_plan",
    "quality_score_linear",
    "corpus_manifest",
    "ann_lsh_multiprobe",
    "dedup_embedding_cosine",
    "dedup_embedding_cosine_planted",
    "ann_recall_floor",
    "dup_ngram_spans",
    # --- last checked in CORRECTNESS_r07, registry order ---
    "part_market_basket",
    "events_funnel_conversion",
    "events_stickiness_monthly",
    "events_gap_report",
    "entity_dedup_parts",
    "pk_uniqueness_report",
    "k_anonymity_report",
    "cdc_changelog",
    "join_skew_report",
    "part_copurchase_pagerank",
    "part_affinity_topk",
    "part_reach_hops",
    "events_wma_hourly",
    "events_seasonal_baseline",
    "events_disorder_report",
    "events_wma_served",
    "events_seasonal_served",
    "gdpr_erasure_post_state",
    "versioned_write_post_state",
    "orders_rolling_7d_revenue",
    "approx_quantile_accuracy_floor",
    "hll_distinct_accuracy_floor",
    # ==================== end of the 50-slot window ====================
    # --- next cohort: the rest of the r07 cohort, registry order ---
    "geo_revenue_rollup",
    "supplier_hhi_by_nation",
    "events_top_paths",
    "events_distinct_users_incremental",
    "events_funnel_incremental",
    "cross_source_leakage",
    "lsh_threshold_sweep",
    "embedding_int8_report",
    "doc_zipf_fit",
    "embedding_dim_stats",
    "label_centroid_separation",
    "embedding_covariance_matrix",
    "embedding_pca_variance",
    "dsir_importance_weights",
    "inverted_index_postings",
    "lang_vocab_overlap",
    "lang_head_coverage",
    "source_length_kl",
    "quality_calibration_report",
    "doc_compression_ratio",
    "source_quality_matrix",
    "multimodal_blob_dedup",
    "corpus_build_post_state",
    "chunk_dedup_report",
    "bm25_top_docs",
    "lang_id_confusion",
    "token_bigram_pmi",
    # --- last checked in CORRECTNESS_r08, registry order ---
    "bloom_semijoin_revenue",
    "bloom_filter_floor",
    "orders_price_drift",
    "events_type_mix_weekly_drift",
    "orders_revenue_cusum",
    "cusum_identity_floor",
    "conversion_latency_quantiles",
    "orders_aqp_monthly_revenue",
    "aqp_error_floor",
    "orders_aqp_sample_incremental",
    "events_attribution",
    "events_markov_attribution",
    "benford_first_digit_audit",
    "events_ab_conversion_report",
    "events_ab_cuped_report",
    "events_ab_mannwhitney",
    "events_type_arm_chi2",
    "part_triangle_participation",
    "part_label_propagation",
    "orders_enriched_incremental",
    "nation_revenue_trend_ols",
    "event_value_trend_ols",
    # (everything unlisted keeps registration order after these)
]


def _reorder() -> None:
    """Rebuild REGISTRY so _PRIORITY names come first (driver checks
    registration order); everything else keeps its relative order.

    Missing names are skipped here WITHOUT complaint: during import
    the registry is legitimately partial (a module imported directly
    triggers this module's import mid-body, registering its remaining
    queries only after registry import returns — see the _REGISTERED
    note). The typo check lives in _check_priority(), called from
    queries()/oracle_sql() when registration is guaranteed complete.
    """
    ordered = {n: REGISTRY[n] for n in _PRIORITY if n in REGISTRY}
    for name, entry in REGISTRY.items():
        if name not in ordered:
            ordered[name] = entry
    REGISTRY.clear()
    REGISTRY.update(ordered)


#: set once _register_modules has completed in full. The import-time
#: attempt below can legitimately abort: if THIS module's import was
#: triggered from inside some llm module's own import (tests import
#: llm modules directly), that module is partially initialized, and a
#: sibling's `from .X import name` raises ImportError mid-registration
#: — the registry would silently stay partial (order-dependent: 86 of
#: 125 queries, depending on which module led). queries()/oracle_sql()
#: therefore re-attempt until a full pass succeeds; by call time no
#: import is mid-flight, so the retry completes. Deliberate corollary
#: (ADVICE r5): a GENUINE ImportError — a module truly missing or
#: broken, not mid-import circularity — propagates from every
#: queries()/oracle_sql() call rather than yielding a partial
#: registry. Fail-loud is the contract: a silently-partial registry
#: would under-report coverage to the driver.
_REGISTERED = False


def _ensure_registered() -> None:
    global _REGISTERED
    if _REGISTERED:
        return
    _register_modules()
    _REGISTERED = True


try:
    _ensure_registered()
except ImportError:
    # a sibling module is mid-import (see _REGISTERED note) — the
    # first queries()/oracle_sql() call retries and completes
    pass
_reorder()


def _check_priority() -> None:
    """A typo'd _PRIORITY name would silently shift every later window
    slot (ADVICE r10) — fail loudly once registration is complete (at
    queries()/oracle_sql() time no import is mid-flight, so REGISTRY
    is guaranteed full)."""
    unknown = [n for n in _PRIORITY if n not in REGISTRY]
    if unknown:
        # not assert: python -O would strip it and silently shift
        # every later window slot (ADVICE r11 #2)
        raise RuntimeError(f"_PRIORITY names not in REGISTRY: {unknown}")


def queries() -> dict[str, SparkQuery]:
    # complete any aborted registration, then re-apply the priority
    # order (a module imported directly self-registers after the
    # load-time _reorder() ran)
    _ensure_registered()
    _check_priority()
    _reorder()
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_registered()
    _check_priority()
    _reorder()
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
