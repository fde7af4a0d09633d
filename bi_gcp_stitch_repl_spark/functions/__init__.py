from .curation import decontaminate, mixture_sample, pack_first_fit, pack_sequences
from .dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_bands,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    simhash_fingerprints,
)
from .graph import connected_components
from .similarity import brute_force_topk, lsh_bucket_topk
from .text import fingerprint, token_stats

__all__ = [
    "brute_force_topk",
    "connected_components",
    "decontaminate",
    "exact_dedup",
    "fingerprint",
    "jaccard_pairs",
    "lsh_bucket_topk",
    "minhash_bands",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_incremental",
    "mixture_sample",
    "pack_first_fit",
    "pack_sequences",
    "simhash_fingerprints",
    "token_stats",
]
