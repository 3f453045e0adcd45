"""Relational + data-pipeline operators (SURVEY.md §2)."""

from .cleaning import (
    handle_missing_values,
    convert_time_columns,
    remove_duplicates,
    convert_ip_to_int_column,
    clean_transactions,
)
from .joins import (
    range_join,
    geolocate,
    as_of_join,
    binned_range_join,
    interval_overlap_join,
)
from .windows import ewma_bounded, rolling_count_24h, velocity_features
from .aggregates import (
    rate_by,
    value_counts,
    count_distinct,
    numeric_profile,
    histogram,
)
from .diff import diff_rows, diff_summary
from .merge import merge_apply
from .indexing import dense_global_index
from .dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_near_dup_pairs,
    ngram_jaccard_pairs,
    connected_components,
    fuzzy_pairs_1edit,
    ngram_contamination,
)
from .search import bm25_search, tfidf_weights, feature_hash_vectors, lm_perplexity
from .graph import co_occurrence_edges, pagerank, triangle_count
from .scd import build_scd2
from .skew import advise_join_strategy, salted_agg, skew_report
from .curation import curation_funnel, remove_boilerplate_lines
from .sketches import count_min_estimate, count_min_table, hash_filter_semijoin
from .similarity import random_project, semantic_dedup

__all__ = [
    "handle_missing_values",
    "convert_time_columns",
    "remove_duplicates",
    "convert_ip_to_int_column",
    "clean_transactions",
    "range_join",
    "geolocate",
    "as_of_join",
    "binned_range_join",
    "interval_overlap_join",
    "ewma_bounded",
    "rolling_count_24h",
    "velocity_features",
    "rate_by",
    "value_counts",
    "count_distinct",
    "numeric_profile",
    "histogram",
    "diff_rows",
    "diff_summary",
    "merge_apply",
    "lm_perplexity",
    "build_scd2",
    "co_occurrence_edges",
    "pagerank",
    "triangle_count",
    "dense_global_index",
    "exact_dedup",
    "minhash_lsh_pairs",
    "simhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "connected_components",
    "fuzzy_pairs_1edit",
    "ngram_contamination",
    "bm25_search",
    "tfidf_weights",
    "feature_hash_vectors",
    "curation_funnel",
    "remove_boilerplate_lines",
    "count_min_estimate",
    "count_min_table",
    "hash_filter_semijoin",
    "random_project",
    "semantic_dedup",
    "advise_join_strategy",
    "salted_agg",
    "skew_report",
]
