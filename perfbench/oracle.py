"""Driver-side BM25 brute force: the benchmark's correctness oracle.

Scores every query against every document of the generated corpus in
plain Python, from the frozen tokenizer spec
(``textprep.normalize.tokenize``) and the BM25 definition the engine
documents (``query/bm25.py``): Lucene idf ``log(1 + (N-df+.5)/(df+.5))``,
k1/b saturation, scores rounded HALF_UP to 6 decimals (Spark's
``round``), ranked by rounded score then doc id.

It runs after the timed phase and submits no Spark job; a
``bm25_brute_force`` call costs ~7 s of fixed Spark overhead per run
here, which the run budget cannot carry (README.md).
"""

from __future__ import annotations

import math
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pyarrow.parquet as pq

from keywords4cv_spark.textprep.normalize import tokenize

_Q6 = Decimal("0.000001")


def round6(x: float) -> float:
    """Spark's round(double, 6): exact binary expansion, HALF_UP."""
    return float(Decimal(x).quantize(_Q6, rounding=ROUND_HALF_UP))


class Corpus:
    """Per-document term frequencies of the indexed (language-filtered) docs."""

    def __init__(self, paths: list[str], cfg):
        self.cfg = cfg
        self.tf: dict[int, Counter] = {}
        self.dl: dict[int, int] = {}
        for p in paths:
            t = pq.read_table(p, columns=["doc_id", "text", "lang"]).to_pydict()
            for d, text, lang in zip(t["doc_id"], t["text"], t["lang"]):
                if cfg.lang_filter is not None and lang != cfg.lang_filter:
                    continue
                toks = tokenize(text, cfg.min_token_len, cfg.stopwords)
                self.tf[d] = Counter(toks)
                self.dl[d] = len(toks)

    def without(self, docs: set[int]) -> "Corpus":
        live = Corpus([], self.cfg)
        live.tf = {d: c for d, c in self.tf.items() if d not in docs}
        live.dl = {d: n for d, n in self.dl.items() if d not in docs}
        return live

    def topk(
        self, terms: tuple[str, ...], k: int, exclude: frozenset[int] = frozenset()
    ) -> list[tuple[int, int, float]]:
        """(rank, doc_id, score) rows; ``exclude`` drops docs before
        ranking while statistics keep counting them."""
        k1, b = self.cfg.k1, self.cfg.b
        n = len(self.dl)
        avgdl = sum(self.dl.values()) / n
        scores: dict[int, float] = {}
        for term in terms:
            posting = [(d, c[term]) for d, c in self.tf.items() if term in c]
            if not posting:
                continue
            df = len(posting)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, tf in posting:
                norm = (tf * (k1 + 1.0)) / (tf + k1 * ((1.0 - b) + b * self.dl[d] / avgdl))
                scores[d] = scores.get(d, 0.0) + idf * norm
        ranked = sorted(
            (-round6(s), d) for d, s in scores.items() if d not in exclude
        )[:k]
        return [(i + 1, d, -neg) for i, (neg, d) in enumerate(ranked)]
