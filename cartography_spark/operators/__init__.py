from cartography_spark.operators.linking import matcher_join
from cartography_spark.operators.components import (
    canonicalize,
    connected_components,
    group_star_edges,
)
from cartography_spark.operators.dedup import (
    drop_exact_duplicates,
    embedding_near_dup_lsh,
    embedding_near_dup_pairs,
    exact_dedup_groups,
    minhash_lsh_join,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from cartography_spark.operators.drift import node_drift, state_diff
from cartography_spark.operators.driftstate import (
    State,
    add_shortcut,
    get_query_state,
    load_state,
    perform_drift_detection,
)
from cartography_spark.operators.graphquery import expand, hop, match_path_2hop, reach_fixpoint
from cartography_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    hyperplane_lsh_topk,
    ivf_topk,
)

__all__ = [
    "matcher_join",
    "connected_components", "canonicalize",
    "exact_dedup_groups", "drop_exact_duplicates", "minhash_lsh_pairs", "minhash_lsh_join",
    "ngram_jaccard_pairs", "simhash_pairs", "embedding_near_dup_pairs",
    "state_diff", "node_drift", "group_star_edges", "embedding_near_dup_lsh",
    "State", "get_query_state", "load_state", "add_shortcut", "perform_drift_detection",
    "hop", "expand", "reach_fixpoint", "match_path_2hop",
    "cosine", "brute_force_topk", "hyperplane_lsh_topk", "ivf_topk",
]
