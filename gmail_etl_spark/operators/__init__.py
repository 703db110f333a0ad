from gmail_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_pairs,
)
from gmail_etl_spark.operators.similarity import cosine, cosine_topk

__all__ = [
    "exact_dedup",
    "jaccard_pairs",
    "minhash_lsh_pairs",
    "cosine",
    "cosine_topk",
]
