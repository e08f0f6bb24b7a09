"""Text-analysis operators for training-data pipelines.

Language ID (stopword-hit heuristic), quality scoring (length /
punctuation / stopword ratios), token counting (whitespace + BPE-ish
regex), and document fingerprinting (normalized-content hash + rolling
k-gram winnow). All built-in expressions — regexp/split/higher-order
functions — so the hot path stays in whole-stage codegen and scales as
a narrow map over however many partitions the corpus has.
"""

# Split along operator-family lines (round 8); this module is the
# stable public import surface and re-exports every top-level name.
from .dedup import normalized_words  # noqa: F401 (historic re-export)
from .text_quality import (  # noqa: F401
    STOPWORDS,
    token_count_whitespace,
    token_count_bpe_like,
    text_stats,
    stopword_ratio,
    detect_language,
    quality_score,
    _require_unique_ids,
    fingerprint,
    fingerprint_md5,
)
from .text_clean import (  # noqa: F401
    chunk_documents,
    PII_PATTERNS,
    redact_pii,
    repetition_stats,
    decontaminate,
    contamination_fraction,
    bloom_bitmap,
    bloom_might_contain,
    decontaminate_bloom,
    top_ngrams,
    tfidf_top_terms,
    pack_documents,
)
from .text_lm import (  # noqa: F401
    corpus_gram_state,
    corpus_overlap_delta,
    corpus_state_append,
    unigram_logprob_scores,
    bigram_logprob_scores,
    corpus_overlap,
    token_length_histogram,
    corpus_diversity,
)
from .text_signals import (  # noqa: F401
    c4_clean,
    bm25_topk,
    char_entropy,
    compression_ratio,
    script_profile,
)
