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

# Import for registration side effects. Modules land incrementally;
# a missing module must never take down the whole registry.
#
# ORDER MATTERS for the round driver: its correctness gate checks the
# first ~50 registered queries, so the window is an explicit
# front_queries() list after the imports (unknown names fail at
# import). Earlier windows and their results are in git history.
# tools/check.py always sweeps all queries regardless of order.
import importlib

for _mod in (
    "ingest_parity",
    "jdbc_queries",
    "scalars",
    "tableformat",
    "tokenizer",
    "finance",
    "governance",
    "curation",
    "vectors",
    "relational",
    "text",
    "multimodal",
    "udf_queries",
    "tpch",
    "timeseries",
    "stats",
    "streaming_queries",
    # round-6 additions land at the end (rotate into later windows)
    "ml",
    # round-11/12 waves register last: never-sampled older queries
    # keep their window priority (see front_queries below)
    "round11",
    "round12",
    "round13",
    "round14",
    "round15",
):
    try:
        importlib.import_module(f"finance_etl_spark.plans.{_mod}")
    except ModuleNotFoundError as e:  # only "not yet written" is tolerated
        if e.name != f"finance_etl_spark.plans.{_mod}":
            raise

# ROUND-16 WINDOW: the 32 hash-oracled queries no driver window has
# sampled yet — 14 round-14 additions, then the 18 round-15 additions.
front_queries(
    [
        # round-14 additions
        "text_simpson_diversity", "text_burstiness", "ml_cluster_ari",
        "ml_cluster_nmi", "dq_functional_dependency",
        "stat_cramers_v_corrected", "stat_hypergeom_surprise",
        "stat_cvm_uniform", "stat_ad_uniform", "ts_periodogram",
        "graph_transitivity_global", "text_boilerplate_ngrams",
        "dq_monotonicity_audit", "fin_cagr_log",
        # round-15 additions
        "stat_moods_median", "stat_bartels_rank_vn", "ts_cox_stuart",
        "fin_gain_to_pain", "fin_jensen_alpha", "fin_martin_ratio",
        "text_smog_index", "text_ari_index", "text_pmi_bigrams",
        "dq_benford_second_digit", "ml_balanced_accuracy",
        "graph_common_neighbors", "stat_theil_index", "ts_spectral_entropy",
        "ts_permutation_entropy", "ts_sample_entropy", "stat_lepage",
        "stat_theil_decomposition",
    ]
)
