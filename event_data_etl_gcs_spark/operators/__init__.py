from .dedup import (
    minhash_incremental_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    with_simhash,
)
from .graph import connected_components, dedup_clusters
from .ivf import (
    build_ivf_index,
    ivf_topk,
    ivf_topk_on_index,
    train_ivf_centroids,
)
from .relational import argmax_latest
from .similarity import brute_force_topk, lsh_bucket_topk
from .skew import (
    bucketed_running_sum,
    salted_join,
    salted_topn_per_key,
    two_phase_agg_count,
)
from .temporal_joins import asof_join
from .text import token_count, with_tokens
from .upsert import merge_upsert

__all__ = [
    "argmax_latest",
    "minhash_lsh_pairs",
    "minhash_incremental_pairs",
    "minhash_signatures",
    "with_simhash",
    "connected_components",
    "dedup_clusters",
    "train_ivf_centroids",
    "build_ivf_index",
    "ivf_topk",
    "ivf_topk_on_index",
    "brute_force_topk",
    "lsh_bucket_topk",
    "salted_join",
    "salted_topn_per_key",
    "two_phase_agg_count",
    "bucketed_running_sum",
    "asof_join",
    "token_count",
    "with_tokens",
    "merge_upsert",
]
