"""Seeded benchmark inputs: corpora, the recrawl batch and query logs.

Every input is a pure function of the ``--seed`` argument and the
workload's sizes. Corpora come from the engine's own generator
(``sources.corpus.synth_batch``) and are cached as parquet files keyed
on (kind, seed, n_docs) under the benchmark's work directory, so a
rerun with the same seed reads identical bytes and input generation
stays out of every timed region. (The engine's ``ensure_synth_parquet``
cache is not used: it returns whatever corpus already sits at its path,
whatever ``n_docs`` and ``seed`` were asked for.)

Empty-text rows (one in 997) and non-English rows are kept: the
engine must handle them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from keywords4cv_spark.query.fixtures import QUERY_SET, query_terms
from keywords4cv_spark.sources.corpus import HEAD_VOCAB, VOCAB, synth_batch

WORDS_PER_DOC = 60
_SEED_MOD = 2**31  # synth_batch multiplies the seed into a uint64 salt


def _corpus_seed(seed: int, stream: int) -> int:
    return int(np.random.SeedSequence([seed, stream]).generate_state(1)[0]) % _SEED_MOD


def _write_parquet(pdf, path: str) -> None:
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark's physical type for warc_ts is timestamp[us], not ns
    table = table.set_column(
        table.schema.get_field_index("warc_ts"),
        "warc_ts",
        table["warc_ts"].cast(pa.timestamp("us")),
    )
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def base_corpus(cache_dir: str, seed: int, n_docs: int) -> str:
    """Parquet file of ``n_docs`` synthetic documents (doc ids 0..n-1)."""
    path = os.path.join(cache_dir, f"base-s{seed}-n{n_docs}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        ids = np.arange(n_docs, dtype=np.uint64)
        _write_parquet(synth_batch(ids, _corpus_seed(seed, 0), WORDS_PER_DOC), path)
    return path


def recrawl_batch(
    cache_dir: str, seed: int, base_path: str, n_docs: int, recapture_share: float
) -> str:
    """Parquet file of one recrawl generation over a base corpus.

    The batch takes fresh doc ids after the base's (``0 .. n_base-1``). A
    seeded ``recapture_share`` of its rows carry the url of an English
    base document (a re-capture, which supersedes the base version);
    the rest are new urls. Texts come from the generator under a
    different seed stream, so re-captured pages have new content.
    """
    base_name = os.path.basename(base_path).removesuffix(".parquet")
    path = os.path.join(
        cache_dir, f"recrawl-s{seed}-{base_name}-n{n_docs}-r{recapture_share}.parquet"
    )
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        rng = np.random.default_rng([seed, 2])
        base = pq.read_table(base_path, columns=["url", "lang"])
        n_base = base.num_rows
        ids = np.arange(n_base, n_base + n_docs, dtype=np.uint64)
        pdf = synth_batch(ids, _corpus_seed(seed, 1), WORDS_PER_DOC)
        en_urls = np.array(base["url"].to_pylist())[
            np.array(base["lang"].to_pylist()) == "en"
        ]
        n_re = int(round(n_docs * recapture_share))
        rows = rng.choice(n_docs, size=n_re, replace=False)
        urls = pdf["url"].to_numpy(dtype=object).copy()
        urls[rows] = rng.choice(en_urls, size=n_re, replace=False)
        pdf["url"] = urls
        _write_parquet(pdf, path)
    return path


# --- query logs ---------------------------------------------------------
#
# Query SHAPES (term count and the kind of each term) come from the
# repo's reference query set (``query.fixtures.QUERY_SET``, FIXTURES.md
# §2): query i has the shape of reference query i mod 8, each reference
# term classified against the generator's vocabulary. The seed picks the
# terms. Query latency here is dominated by per-query Spark jobs, which
# depend on the shape far more than on the particular terms, so fixed
# shapes keep runs under different seeds comparable (stratified
# sampling) while every term still comes from the seed.
#
# The log's repeat pattern is not taken from any measured query log:
# its repeat rate (every other entry after the first 8) and the 1/rank
# popularity of repeats are chosen values, unverified (README.md). The
# pattern is the same under every seed and independent of how many
# queries a run sends.

_HEAD = frozenset(HEAD_VOCAB)
_TAIL = [str(t) for t in VOCAB[len(HEAD_VOCAB):]]
_WORDS = {"head": list(HEAD_VOCAB), "tail": _TAIL}
_REPEAT_STREAM = 20261017    # fixed stream for the choice among repeats


def _kind(term: str) -> str:
    if term in _HEAD:
        return "head"
    return "tail" if term in _WORDS["tail"] else "absent"


SHAPES = tuple(tuple(_kind(t) for t in query_terms(q)) for _, q in QUERY_SET)


@dataclass(frozen=True)
class Query:
    qid: int
    terms: tuple[str, ...]


def query_pool(seed: int, stream: int, n: int) -> list[Query]:
    """``n`` seeded queries, query i with the shape ``SHAPES[i % 8]``.

    Terms of each kind are dealt from a seeded shuffled deck, so no two
    queries of a pool share a term until a deck runs out: the dictionary
    probe's cache then hits only on the log's query repeats, the same
    pattern under every seed."""
    rng = np.random.default_rng([seed, 3, stream])
    decks: dict[str, list[str]] = {}

    def deal(kind: str) -> str:
        if not decks.get(kind):
            if kind == "absent":  # terms that occur in no corpus
                decks[kind] = [f"absent{int(i):06d}x"
                               for i in rng.choice(10**6, size=1000, replace=False)]
            else:
                words = _WORDS[kind]
                decks[kind] = [words[int(i)] for i in rng.permutation(len(words))]
        return decks[kind].pop()

    return [Query(i, tuple(deal(k) for k in SHAPES[i % len(SHAPES)]))
            for i in range(n)]


def repeat_log(pool: list[Query], length: int) -> list[Query]:
    """A query log of ``length`` entries over ``pool``.

    Entry j has the shape ``SHAPES[j % 8]``, so every prefix keeps the
    reference set's mix of shapes. The first cycle of 8 entries sends
    new queries. From the second cycle on, every other entry repeats an
    already-sent query of its shape, and which slots repeat alternates
    from one cycle to the next, so every shape repeats equally often. A
    repeat picks the query of that shape that first appeared r-th with
    weight 1/r (Zipf, exponent 1); any other entry sends the next unsent
    pool query of its shape. The pattern does not depend on how many
    queries a run sends; ``repeated_share`` reports the share sent."""
    rng = np.random.default_rng(_REPEAT_STREAM)
    n = len(SHAPES)
    fresh = {k: [q for q in pool if q.qid % n == k] for k in range(n)}
    sent: dict[int, list[Query]] = {k: [] for k in range(n)}
    log = []
    for j in range(length):
        cycle, k = divmod(j, n)
        if cycle and (k + cycle) % 2:
            w = 1.0 / np.arange(1, len(sent[k]) + 1)
            log.append(sent[k][int(rng.choice(len(w), p=w / w.sum()))])
        else:
            log.append(fresh[k].pop(0))
            sent[k].append(log[-1])
    return log


def repeated_share(log: list[Query]) -> float:
    """Share of log entries whose query already occurred earlier."""
    seen: set[int] = set()
    rep = 0
    for q in log:
        rep += q.qid in seen
        seen.add(q.qid)
    return rep / len(log) if log else 0.0
