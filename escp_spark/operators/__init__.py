from .dedup import (
    exact_dedup_groups,
    minhash_signatures,
    lsh_candidate_pairs,
    minhash_near_dups,
    simhash_expr,
    simhash_near_dups,
    ngram_jaccard_pairs,
    embedding_near_dup_pairs,
)
from .similarity import (
    ann_bruteforce_topk,
    ann_lsh_topk,
    ann_lsh_topk_bucketed,
    bucketize_embeddings,
    ensure_embedding_buckets,
    lsh_bucket_expr,
)
from .textstats import (
    langid_scores,
    quality_scores,
    token_count_expr,
    doc_fingerprints,
)

__all__ = [
    "exact_dedup_groups", "minhash_signatures", "lsh_candidate_pairs",
    "minhash_near_dups", "simhash_expr", "simhash_near_dups",
    "ngram_jaccard_pairs", "embedding_near_dup_pairs",
    "ann_bruteforce_topk", "ann_lsh_topk", "ann_lsh_topk_bucketed",
    "bucketize_embeddings", "ensure_embedding_buckets", "lsh_bucket_expr",
    "langid_scores", "quality_scores", "token_count_expr", "doc_fingerprints",
]
