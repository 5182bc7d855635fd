"""The operator registry: the query set is fixed, module discovery finds
every operator module, each shared DuckDB oracle fragment is written
out once, and no package definition is reached only from tests."""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

from one_stop_cdc_ingestion_toolkit_spark import operators
from one_stop_cdc_ingestion_toolkit_spark.operators import load_all

OPS_DIR = Path(operators.__file__).parent

#: every registered query name; a rename or a lost module shows up here.
QUERY_NAMES = [
    "a0001_image_resize", "a0002_frame_sample", "a0003_crosslang_dups",
    "a0004_phash_dedup", "a0005_kmv_overlap", "a0006_minhash_pairs_collapsed",
    "a0007_jaccard_pairs_collapsed", "a0008_y4m_frame_luma",
    "a001_simhash_hamming_pairs", "a002_temperature_sample", "a003_knn_degree",
    "a004_containment_pairs", "a0051_int8_quant_error",
    "a0052_matryoshka_recall", "a0054_jl_distortion", "a0055_k_anonymity",
    "a0056_hard_negatives", "a0057_vocab_coverage", "a005_epoch_shuffle",
    "a006_mix_repeat", "a007_kmeans_clusters", "a008_welch_audit",
    "a009_ece_calibration", "a010_segment_dup_mass",
    "a011_label_margin_matrix", "a012_simplified_silhouette",
    "a013_cluster_purity", "a014_weighted_sample", "a015_kcenter_coreset",
    "a016_padding_waste", "a017_variant_extract", "a018_coreset_coverage",
    "a019_countmin_heavy_hitters", "a020_pagerank_neardup",
    "a021_markov_transitions", "a022_grouping_rollup", "a023_activity_streaks",
    "a024_rfm_segments", "a025_copurchase_pairs", "a026_rolling_dau",
    "a027_triangle_census", "a028_seasonal_profile",
    "a029_multitouch_attribution", "a030_survivorship", "a031_autocorrelation",
    "a032_amount_reconciliation", "a033_null_profile", "a034_benford_audit",
    "a035_curve_similarity", "a036_hierarchy_rollup", "a037_date_spine_gaps",
    "a038_semantic_clusters", "a039_skew_audit", "a040_temporal_split",
    "a041_quantile_norm_quality", "a042_embedding_drift", "a043_pairwise_auc",
    "a044_dim_correlation", "a045_cusum_changepoint", "a046_word_burstiness",
    "a047_dedup_token_savings", "a048_bigram_cond_entropy", "a049_audio_rms",
    "a050_png_roundtrip", "a100_token_budget", "a101_doc_chunks",
    "a102_lsh_decontaminate", "a103_prefix_dups", "a104_curriculum_buckets",
    "a105_est_jaccard_pairs", "a106_bm25_search", "a107_hybrid_rrf",
    "a108_sketch_rollup", "a109_bigram_logprob", "a110_centroid_classify",
    "a111_word_entropy", "a112_group_split", "a113_perplexity_buckets",
    "a114_session_assembly", "a115_contamination_coverage",
    "a116_rolling_anomaly", "a117_integrity_audit", "a118_join_size_estimate",
    "a119_bloom_prefilter", "a120_quantile_contract", "a121_ltv_deciles",
    "a122_winsorized_stats", "a123_hhi_concentration", "a124_session_gap_hist",
    "a125_funnel_ordered", "a126_reservoir_per_group", "a127_zipf_slope",
    "a128_bpe_pair_counts", "a129_dedup_rate_by_source", "a130_mad_outliers",
    "a131_gini_by_source", "a132_embedding_norms", "a133_dim_variance_topk",
    "a134_novelty_curve", "a135_mix_entropy", "a136_chisq_weekday",
    "a137_partition_balance", "a138_span_dedup", "a139_lsh_recall_curve",
    "a140_dsir_importance", "a141_cluster_retention", "a142_fertility_audit",
    "a143_source_kl_shift", "a144_cross_contamination", "a145_scd2_history",
    "a146_snapshot_diff", "a53_tumbling_window", "a67_cohort_retention",
    "a90_interval_join", "b13_hash_agg_having", "b45_simhash_buckets",
    "b47_token_stats", "b51_json_extract", "b52_blob_metadata",
    "b54_ann_lsh_topk", "b55_embedding_neardup", "b56_pivot", "b57_date_arith",
    "b58_zscore_pandas", "b59_approx_distinct", "b60_levenshtein",
    "b61_array_stats", "b62_analytic_funcs", "b63_except_all", "b64_median",
    "b65_bool_aggs", "b66_unpivot", "b68_geomean_udaf", "b69_ivf_topk",
    "b70_stats_moments", "b71_range_frame", "b72_grouping_id",
    "b73_regexp_funcs", "b74_month_rollup", "b75_late_ship", "b76_promo_share",
    "b77_first_last_nth", "b78_posexplode_words", "b79_salted_join_parity",
    "c80_stratified_sample", "c81_text_normalize", "c82_id_scrub",
    "c83_mix_weights", "c84_length_histogram", "c85_ivf_multiprobe",
    "c86_gopher_filters", "c87_repetition_ratio", "c88_decontaminate",
    "c89_vocabulary", "c91_clean_corpus_stats", "d92_asof_attribution",
    "d93_tfidf_topterms", "d94_shard_packing", "d95_exact_quantiles",
    "d96_dup_clusters", "d97_pmi_collocations", "q01_scan_count",
    "q02_project_filter", "q03_predicates", "q04_negation", "q05_star_join",
    "q06_left_outer_null", "q07_full_outer", "q08_semi_join", "q09_anti_join",
    "q10_cross_join", "q11_theta_join", "q12_latest_per_key", "q14_distinct",
    "q15_count_distinct", "q16_multi_distinct", "q17_grouping_sets",
    "q18_rollup", "q19_cube", "q20_minmax_avg", "q21_rank_topk",
    "q22_dense_rank", "q23_lag", "q24_moving_sum", "q25_top1_per_group",
    "q26_multikey_sort", "q27_topk", "q28_union_distinct",
    "q29_union_all_reagg", "q30_intersect", "q31_except", "q32_string_funcs",
    "q33_date_parts", "q34_math", "q35_case_coalesce", "q36_correlated_scalar",
    "q37_in_subquery", "q38_dedup_md5", "q39_dedup_keep_first",
    "q40_sessionization", "q41_event_funnel", "q42_revenue_join",
    "q43_minhash_lsh_pairs", "q44_ngram_jaccard_dups", "q46_cosine_topk",
    "q48_quality_score", "q49_lang_id", "q50_fingerprint",
]

#: distinctive whitespace-collapsed pieces of the DuckDB twins of
#: `text.quality_score` and `dedup.word_shingles`.
QUALITY_FRAGMENT = "/ 100.0, 1.0) * (1.0 - CAST(length(regexp_replace("
SHINGLE_FRAGMENT = "unnest(list_transform(generate_series(1, len(words) -"


def test_registry_names_unchanged():
    assert len(QUERY_NAMES) == 208
    assert sorted(load_all()) == QUERY_NAMES


def test_load_all_imports_every_module():
    load_all()
    modules = sorted(p.stem for p in OPS_DIR.glob("*.py") if p.stem != "__init__")
    missing = [m for m in modules if f"{operators.__name__}.{m}" not in sys.modules]
    assert modules and not missing


def test_shared_oracle_fragments_written_once():
    sources = {
        p.name: re.sub(r"\s+", " ", p.read_text()) for p in OPS_DIR.glob("*.py")
    }
    for fragment, home in (
        (QUALITY_FRAGMENT, "text.py"),
        (SHINGLE_FRAGMENT, "dedup.py"),
    ):
        assert [n for n, s in sources.items() if fragment in s] == [home]


ROOT = OPS_DIR.parents[1]
PKG_DIR = OPS_DIR.parent

#: Top-level package definitions that no non-test source names but that
#: stay, as ``module:name`` -> why.
KEEP = {
    # test oracles and assertion helpers
    "plans:has_pushed_filter": "plan-shape assertion helper",
    "plans:scan_read_schema": "plan-shape assertion helper",
    "plans:uses_broadcast_join": "plan-shape assertion helper",
    "plans:uses_take_ordered": "plan-shape assertion helper",
    "plans:exchange_count": "plan-shape assertion helper",
    "plans:hash_exchange_count": "plan-shape assertion helper",
    "plans:codegen_stage_count": "plan-shape assertion helper",
    "streaming.agg_view:recompute_reference": "oracle of the incremental agg view",
    "streaming.agg_view:views_equal": "oracle of the incremental agg view",
    "streaming.join_view:recompute_reference": "oracle of the incremental join view",
    "sinks:layout_stats": "measures what the CLI's optimize_layout prunes",
    "sinks:files_touched": "measures what the CLI's optimize_layout prunes",
    # the reference's ingestion surface (SURVEY A8/A25)
    "sources.kafka:kafka_available": "Kafka source (SURVEY A8)",
    "sources.kafka:kafka_reader": "Kafka source (SURVEY A8)",
    "sources.kafka:raw_records": "Kafka source (SURVEY A8)",
    "config:resolve_value": "Kafka client secret resolution (SURVEY A8)",
    "config:resolve_options": "Kafka client secret resolution (SURVEY A8)",
    "sources.debezium:decode_json": "Debezium JSON decode (SURVEY A25)",
    "sources.debezium:decode_avro": "Confluent/Avro decode (SURVEY A25)",
    "sources.debezium:avro_to_json": "Confluent/Avro decode (SURVEY A25)",
    "sources.debezium:strip_confluent_header": "Confluent/Avro decode (SURVEY A25)",
    "sources.debezium:avro_available": "Confluent/Avro decode (SURVEY A25)",
    # the streaming rows of SURVEY's capability table (SURVEY.md:470-472)
    "streaming.analytics:sliding_counts": "sliding windows",
    "streaming.analytics:session_counts": "session windows",
    "streaming.analytics:dedup_stream": "watermarked streaming dedup",
    "streaming.analytics:dedup_stream_within": "watermarked streaming dedup",
    "streaming.analytics:watermarked": "watermarked streaming dedup",
    "streaming.analytics:stream_of": "file-source stream replay",
}


def _non_test_sources() -> list[Path]:
    return [
        *PKG_DIR.rglob("*.py"),
        *(ROOT / "tools").glob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _names_in_code(tree: ast.AST):
    """(name, line) of every name the code uses: identifiers, attribute
    names and imported names (docstrings and comments do not count)."""
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            yield n.id, n.lineno
        elif isinstance(n, ast.Attribute):
            yield n.attr, n.lineno
        elif isinstance(n, ast.alias):
            yield n.name.rsplit(".", 1)[-1], n.lineno


def _is_registered(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        if isinstance(fn, ast.Name) and fn.id == "register":
            return True
    return False


def test_every_package_definition_has_a_non_test_caller():
    """Every top-level package function and class is a registered query,
    is named in code by a non-test source outside its own body, or is on
    KEEP. Code only tests reach is deleted with its tests instead."""
    trees = {p: ast.parse(p.read_text()) for p in _non_test_sources()}
    uses: dict[str, list[tuple[Path, int]]] = {}
    for path, tree in trees.items():
        for name, line in _names_in_code(tree):
            uses.setdefault(name, []).append((path, line))
    defined, unused = set(), []
    for path, tree in trees.items():
        if PKG_DIR not in path.parents:
            continue
        module = ".".join(path.relative_to(PKG_DIR).with_suffix("").parts)
        module = module.removesuffix(".__init__")
        for node in tree.body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or _is_registered(node):
                continue
            key = f"{module}:{node.name}"
            defined.add(key)
            own = range(node.lineno, node.end_lineno + 1)
            if key not in KEEP and not any(
                p != path or line not in own for p, line in uses.get(node.name, [])
            ):
                unused.append(key)
    assert not unused, f"reached only from tests (delete, or add to KEEP): {unused}"
    assert not set(KEEP) - defined, f"stale KEEP entries: {set(KEEP) - defined}"
