"""Query plan library: every operator the engine supports, declared as a
named (Spark builder, DuckDB oracle SQL) pair and collected in a registry.

Importing this package registers all queries.
"""

from finance_etl_spark.plans.registry import (  # noqa: F401
    QuerySpec,
    all_oracles,
    all_queries,
    front_queries,
    get,
    headline_queries,
    register,
)

# Import for registration side effects, in registration order.
#
# ORDER MATTERS for the round driver: its correctness gate checks the
# first ~50 registered queries, so the window is an explicit
# front_queries() list after the imports (unknown names fail at
# import). Earlier windows and their results are in git history.
# tools/check.py always sweeps all queries regardless of order.
from finance_etl_spark.plans import (  # noqa: F401
    ingest_parity,
    jdbc_queries,
    scalars,
    tableformat,
    tokenizer,
    finance,
    governance,
    curation,
    vectors,
    relational,
    text,
    multimodal,
    udf_queries,
    tpch,
    timeseries,
    stats,
    streaming_queries,
    ml,
)

# DRIVER WINDOW: the 32 hash-oracled queries no driver window has
# sampled yet, oldest first.
front_queries(
    [
        "text_simpson_diversity", "text_burstiness", "ml_cluster_ari",
        "ml_cluster_nmi", "dq_functional_dependency",
        "stat_cramers_v_corrected", "stat_hypergeom_surprise",
        "stat_cvm_uniform", "stat_ad_uniform", "ts_periodogram",
        "graph_transitivity_global", "text_boilerplate_ngrams",
        "dq_monotonicity_audit", "fin_cagr_log",
        "stat_moods_median", "stat_bartels_rank_vn", "ts_cox_stuart",
        "fin_gain_to_pain", "fin_jensen_alpha", "fin_martin_ratio",
        "text_smog_index", "text_ari_index", "text_pmi_bigrams",
        "dq_benford_second_digit", "ml_balanced_accuracy",
        "graph_common_neighbors", "stat_theil_index", "ts_spectral_entropy",
        "ts_permutation_entropy", "ts_sample_entropy", "stat_lepage",
        "stat_theil_decomposition",
    ]
)
