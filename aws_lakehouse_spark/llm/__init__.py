"""Large-scale training-data pipeline operators (SURVEY §7 phase 5).

Beyond the reference's own surface: deduplication (exact, MinHash+
LSH, SimHash, n-gram Jaccard, embedding near-dup), similarity search
over embeddings, text analysis (language-ID, quality scoring, token
counting, fingerprinting), and multimodal binary-column plumbing.

Design rules:
- everything stays in DataFrame expressions (higher-order array
  functions, md5-based hashing) — deterministic and identical across
  engines, so nearly all of it is DuckDB-oracle-checkable;
- pairwise ops never materialize the O(n²) cross join: candidates
  come from an equi-join on a bucket key (LSH band / shared shingle);
- Pandas UDFs appear only where arrays must be crunched numerically
  at width (cosine top-k has a mapInPandas variant) — Arrow-batched,
  never per-row Python.
"""

from aws_lakehouse_spark.llm.text import (
    tokens_col,
    token_count,
    quality_features,
    language_scores,
)
from aws_lakehouse_spark.llm.dedup import (
    exact_dedup,
    shingles_col,
    minhash_signature,
    lsh_band_pairs,
    jaccard_pairs,
)
from aws_lakehouse_spark.llm.similarity import (
    cosine_sim_col,
    brute_force_topk,
    lsh_bucket_topk,
)

__all__ = [
    "tokens_col",
    "token_count",
    "quality_features",
    "language_scores",
    "exact_dedup",
    "shingles_col",
    "minhash_signature",
    "lsh_band_pairs",
    "jaccard_pairs",
    "cosine_sim_col",
    "brute_force_topk",
    "lsh_bucket_topk",
]
