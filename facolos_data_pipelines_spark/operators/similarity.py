"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the scale path (search only the query's bucket ± probes).
Dot products run JVM-side via zip_with/aggregate.

Scale design: brute-force top-k is a single narrow pass + a k-row
TakeOrdered (no full sort, no shuffle of the corpus); LSH cuts the
scanned fraction to ~1/2^planes. IVF-style coarse quantization would
slot in the same way (bucket id = argmin centroid) once a trained
codebook is supplied.
"""

# Split along operator-family lines (round 8); this module is the
# stable public import surface and re-exports every top-level name.
from .similarity_core import (  # noqa: F401
    _seeded_plane,
    dot_literal,
    lit_double_array,
    hyperplane_signature,
    banded_signatures,
    cosine_to_query,
    topk_bruteforce,
    topk_lsh,
    rrf_fuse,
)
from .similarity_ivf import (  # noqa: F401
    ivf_assign,
    _bounded_vec_sample,
    ivf_train_lite,
    ivf_train_distributed,
    ivf_train,
    topk_ivf,
    knn_join_bruteforce,
    knn_join_lsh,
    ann_recall_at_k,
    semantic_decontaminate,
    MAX_LITERAL_CENTROIDS,
    assign_nearest_centroid,
)
from .similarity_pq import (  # noqa: F401
    _kmeans_l2,
    pq_train,
    pca_train,
    pca_project,
    pq_encode,
    pq_topk,
    encode_ivfpq,
    topk_ivfpq,
    embedding_outliers,
)
