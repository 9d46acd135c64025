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

    # --- WAND top-k size gates (query/wand.py) ---
    # a batch whose resolved postings (Σ df over its (query, term,
    # generation) rows) and tombstones both fit under this gate is served
    # in the driver: pyarrow read of the pruned blocks + the in-process
    # kernel, zero Spark jobs; larger batches run the applyInPandas plan.
    # Block decode runs ~250 ns/posting on one driver core, so the gate
    # bounds a driver-served batch to well under a second of kernel time
    # — about the Spark plan's own per-batch job floor
    wand_driver_max_postings: int = 1_000_000
    # per-(query, band) postings at or under which a multi-term group is
    # scored by vectorized decode + scatter-add instead of the
    # document-at-a-time WAND loop (whose pruning repays its ~30 µs per
    # candidate Python cost only on large groups)
    wand_taat_max_postings: int = 1_000_000

    def __post_init__(self) -> None:
        if self.k1 <= 0 or not (0.0 <= self.b <= 1.0):
            raise ValueError(f"bad BM25 params k1={self.k1} b={self.b}")
        if self.ngram_lo < 1 or self.ngram_hi < self.ngram_lo:
            raise ValueError("bad ngram range")
        if self.block_size < 2:
            raise ValueError("block_size must be >= 2")
        if self.n_salts < 1 or self.n_term_buckets < 1:
            raise ValueError("n_salts / n_term_buckets must be >= 1")
        # the driver gate also caps a tombstone collect (a JVM int limit)
        if not 0 <= self.wand_driver_max_postings < 2**31 - 1:
            raise ValueError("wand_driver_max_postings must be in [0, 2**31 - 1)")
        if self.wand_taat_max_postings < 0:
            raise ValueError("wand_taat_max_postings must be >= 0")


DEFAULT_CONFIG = EngineConfig()
