"""Beyond-reference operators for large-scale training-data pipelines.

The reference is a small ETL job; at 100 TB the same engine must also
serve corpus curation: deduplication families, similarity search over
embeddings, text analysis, and multimodal column plumbing. Everything
here is built on the same Catalyst-first principles as the core
operators: built-in column expressions wherever possible, Arrow-batched
``mapInPandas`` only where semantics genuinely require Python (vector
math fallback, media decode)."""

from hours_api_clickup_spark.datapipe.dedup import (
    char_shingles,
    exact_dedup,
    jaccard_sim,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_pairs,
)
from hours_api_clickup_spark.datapipe.similarity import (
    brute_force_topk,
    cosine_sim,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from hours_api_clickup_spark.datapipe.textstats import (
    predict_language,
    text_profile,
    tokens,
)

__all__ = [
    "exact_dedup",
    "char_shingles",
    "jaccard_sim",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash64",
    "simhash_pairs",
    "cosine_sim",
    "brute_force_topk",
    "lsh_bucketed_topk",
    "embedding_near_dup_pairs",
    "tokens",
    "text_profile",
    "predict_language",
]
