"""Query registry — the single source of truth for the driver contract.

Every implemented operator/query registers here as
  name -> (spark_fn, oracle_sql | None)
where ``spark_fn(spark, sf_dir) -> DataFrame`` and ``oracle_sql`` is
the ANSI-SQL twin DuckDB runs on the same parquet tables. A ``None``
oracle marks a genuinely non-SQL-expressible op (driver falls back to
a rows-only check).

Each query module calls ``register`` at import time; ``queries()`` and
``oracle_sql()`` import every such module on their first call, so
importing this module, or any query module first, registers nothing
else.

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

import functools
import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

#: name -> (callable, oracle sql or None)
REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, fn: SparkQuery, oracle: str | None) -> None:
    if name in REGISTRY:
        raise ValueError(f"duplicate query name {name!r}")
    REGISTRY[name] = (fn, oracle)


#: Every module that registers queries, in registry order: a query
#: not in _PRIORITY takes its module's place here, whichever module a
#: caller imported first.
_MODULES = (
    "plans.flagship",
    "operators.bloom", "operators.extended", "operators.quarantine",
    "operators.relational", "operators.skew",
    "plans.drift", "plans.acf", "plans.graph", "plans.analytics",
    "plans.aqp", "plans.attribution", "plans.audits", "plans.cdc",
    "plans.dashboard", "plans.experiment", "plans.incremental",
    "plans.timeseries", "plans.linkage", "plans.poststate",
    "plans.rankcorr", "plans.regression", "plans.robust",
    "plans.survival", "plans.tpch", "plans.tpch_deep", "plans.warehouse",
    "streaming.batch_parity", "streaming.cusum_state",
    "streaming.dedup_ingest", "streaming.distinct_users",
    "streaming.drift_state", "streaming.funnel_state",
    "streaming.interval_join", "streaming.late_sessions",
    "streaming.late_transitions", "llm.dedup", "streaming.neardup_ingest",
    "streaming.sessions", "streaming.transitions", "streaming.ttl_window",
    "llm.bpe", "llm.clusters", "llm.bridge", "llm.compress",
    "llm.distributions", "llm.importance", "llm.index", "llm.kmeans",
    "llm.langmix", "llm.quality", "llm.sampling", "llm.manifest",
    "llm.multimodal", "llm.pipeline", "llm.refinery", "llm.repetition",
    "llm.similarity", "llm.retrieval", "llm.sketches", "llm.spans",
    "llm.textstats",
    "functions.crypto",
)


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


@functools.cache
def _register_modules() -> None:
    """Import every query module once, then order REGISTRY: _PRIORITY
    names first (the driver checks registration order), the rest by
    module in _MODULES order, each module's queries in the order it
    registers them. A _PRIORITY name that nothing registers raises:
    a typo would silently shift every later window slot."""
    for module in _MODULES:
        importlib.import_module(f"{__package__}.{module}")
    unknown = [n for n in _PRIORITY if n not in REGISTRY]
    if unknown:
        raise RuntimeError(f"_PRIORITY names not in REGISTRY: {unknown}")
    rank = {f"{__package__}.{m}": i for i, m in enumerate(_MODULES)}
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    for name, entry in sorted(REGISTRY.items(),
                              key=lambda item: rank[item[1][0].__module__]):
        ordered.setdefault(name, entry)
    REGISTRY.clear()
    REGISTRY.update(ordered)


def queries() -> dict[str, SparkQuery]:
    _register_modules()
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _register_modules()
    return {name: sql for name, (_, sql) in REGISTRY.items() if sql is not None}
