"""Typed engine configuration.

Mirrors the reference's validated-config pattern
(/root/reference/config_validation.py:283-423 — Schema + Pydantic) with
a plain frozen dataclass (pydantic is not in this image). BM25 ``k1``/
``b`` replace the reference's ``tfidf_weight``/``frequency_weight``
(config.yaml:70-74); the tokenizer knobs mirror keywords4cv.py:618-678.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class EngineConfig:
    # --- BM25 weighting (replaces reference tfidf/frequency weights) ---
    k1: float = 1.2
    b: float = 0.75

    # --- tokenizer (frozen parity semantics; see textprep.normalize) ---
    min_token_len: int = 2
    stopwords: frozenset[str] = field(default_factory=frozenset)
    # index unigrams by default (BM25 dl/tf over the same unit);
    # phrase-style n-gram indexing is opt-in via ngram_hi > 1
    ngram_lo: int = 1
    ngram_hi: int = 1

    # --- corpus selection ---
    lang_filter: str | None = "en"

    # --- scoring extras (reference O2/O3, keywords4cv.py:3207-3221) ---
    whitelist_boost: float = 1.6
    default_section_weight: float = 1.0

    # --- index build / physical layout ---
    store_positions: bool = False   # positional postings (phrase queries)
    block_size: int = 128           # postings per compressed block
    n_term_buckets: int = 8         # checkpoint/lineage unit (term_id % n)
    # doc bands: segment = doc_id % n_salts for every term — bounds head-
    # term encode groups AND gives query-time per-band parallelism with an
    # exact rank-merge (the bands partition the doc space for all terms)
    n_salts: int = 8
    shuffle_partitions: int = 32
    # dictionaries at or under this row count are broadcast into the
    # postings join (the vocabulary size is known driver-side for free
    # from the term-id offsets); larger vocabularies (the 1e9-term web
    # case) fall back to a shuffled join + a persisted postings relation
    broadcast_vocab_limit: int = 2_000_000

    def __post_init__(self) -> None:
        if self.k1 <= 0 or not (0.0 <= self.b <= 1.0):
            raise ValueError(f"bad BM25 params k1={self.k1} b={self.b}")
        if self.ngram_lo < 1 or self.ngram_hi < self.ngram_lo:
            raise ValueError("bad ngram range")
        if self.block_size < 2:
            raise ValueError("block_size must be >= 2")
        if self.n_salts < 1 or self.n_term_buckets < 1:
            raise ValueError("n_salts / n_term_buckets must be >= 1")


DEFAULT_CONFIG = EngineConfig()
