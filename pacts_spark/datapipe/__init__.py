"""Training-data pipeline operators over the documents/embeddings tables.

First-class engine components alongside the validation checks: at 100 TB a
transcripts/documents corpus needs dedup, similarity search, text quality
metrics and multimodal plumbing before any validation verdict is useful.

All hot paths are built-in Column expressions (JVM, whole-stage codegen);
Python appears only in Arrow-batched pandas UDFs where semantics demand it
(multimodal decode stubs)."""

from pacts_spark.datapipe.dedup import (
    chunk_dedup,
    dedup_against_index,
    exact_duplicate_pairs,
    exact_duplicates,
    minhash_signatures,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash64,
)
from pacts_spark.datapipe.embedding import hashed_ngram_embedding
from pacts_spark.datapipe.sampling import (
    domain_cap,
    global_shuffle,
    mixture_upsample,
    shard_assign,
)
from pacts_spark.datapipe.similarity import cosine_topk, lsh_ann_topk
from pacts_spark.datapipe.textstats import (
    doc_fingerprint,
    language_id,
    text_stats,
    top_ngrams,
    unigram_logprob,
)

__all__ = [
    "chunk_dedup",
    "dedup_against_index",
    "domain_cap",
    "global_shuffle",
    "mixture_upsample",
    "shard_assign",
    "top_ngrams",
    "unigram_logprob",
    "exact_duplicate_pairs",
    "hashed_ngram_embedding",
    "exact_duplicates",
    "minhash_signatures",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "simhash64",
    "cosine_topk",
    "lsh_ann_topk",
    "doc_fingerprint",
    "language_id",
    "text_stats",
]
