"""Deduplication operators for large-scale training-data pipelines.

Exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
near-dup — all expressed with built-in higher-order functions
(transform/aggregate/zip_with + xxhash64), zero Python UDFs, so every
stage stays inside whole-stage codegen and scales by partitioning:

- exact dedup: one shuffle on the content hash;
- MinHash LSH: narrow signature computation, then one shuffle per
  band-bucket group-by — the standard way to near-dedup 100 TB of text
  without an O(n^2) comparison;
- SimHash: narrow 64-bit fingerprint, dedup on fingerprint buckets;
- verification (true Jaccard / cosine) runs only on LSH candidates.

These have no counterpart in the reference repo (its dedup is PK-based,
covered by operators.merge); they are the north-star extension surface
(BASELINE.json, SURVEY §7.3 step 8).
"""

# Split along operator-family lines (round 8); this module is the
# stable public import surface and re-exports every top-level name.
from .dedup_common import (  # noqa: F401
    _U64,
    _splitmix64,
    _to_i64,
    _MAX_LANES,
    _MINHASH_A,
    _MINHASH_B,
    _ansi_enabled,
    MINHASH_FAMILIES,
    _resolve_family,
    _check_lanes,
)
from .dedup_minhash import (  # noqa: F401
    minhash_cross_corpus_pairs,
    cross_corpus_dedup,
    minhash_band_state,
    minhash_delta_pairs,
    minhash_dedup_delta,
    exact_dedup,
    normalized_words,
    word_shingles,
    exploded_shingles,
    minhash_signatures,
    minhash_lsh_buckets,
    lsh_candidate_pairs,
    verified_near_dup_pairs,
    minhash_dedup,
)
from .dedup_components import (  # noqa: F401
    _components_driver,
    connected_components,
    _drop_pair_losers,
    keep_best_per_cluster,
)
from .dedup_ngram import (  # noqa: F401
    ngram_jaccard_pairs,
    ngram_containment_pairs,
    ngram_jaccard_dedup,
    _quote_sep,
    line_frequencies,
    line_doc_pairs,
    pairs_to_frequencies,
    line_dedup,
    duplicate_gram_spans,
    substring_dedup,
    strip_duplicate_spans,
)
from .dedup_simhash import (  # noqa: F401
    simhash_fingerprints,
    hamming_distance,
    simhash_dedup,
    simhash_fingerprints_md5,
    simhash_dedup_md5,
)
from .dedup_embedding import (  # noqa: F401
    embedding_band_state,
    embedding_delta_pairs,
    embedding_dedup_delta,
    cosine_similarity,
    _exact_pairs_gemm,
    _auto_num_planes,
    embedding_near_dup_pairs,
    embedding_dedup,
    semantic_dedup_pairs,
    semantic_dedup,
)
