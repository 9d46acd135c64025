"""Index-backed phrase and proximity search over positional postings.

One positional kernel: ordered proximity matching, of which the exact
phrase is slop=0 — for phrase t₀ t₁ … tₖ, a doc matches at position p
iff t₀@p, t₁@p+1, …, tₖ@p+k. The candidate set shrinks term by term —
the positional-postings generalization of the reference's exact
keyword match (SURVEY.md T4/G1 family).

Spark shape mirrors wand.py: phrase terms ⋈ dictionary (broadcast) →
postings pruned by bucket + term_id →
``groupBy(phrase, segment).applyInPandas`` decoding only the matched
terms' blocks; a numpy reachability DP inside. Segments are doc bands
(segment = doc_id % n_salts for every term), so a doc's positions for
ALL phrase terms live in one (phrase, segment) group — the per-band
outputs are disjoint per doc and their union is the exact answer,
with n_salts-way parallelism per phrase.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from keywords4cv_spark.index.build import IndexTables
from keywords4cv_spark.index.codec import decode_block_positions
from keywords4cv_spark.textprep.normalize import tokenize


def proximity_search(
    spark: SparkSession,
    index: IndexTables,
    phrases: list[str],
    slop: int = 0,
    slops: dict[str, int] | None = None,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """(phrase, doc_id, n_occurrences): ordered proximity match — the
    Lucene sloppy-PhraseQuery analog. Terms must appear IN ORDER with
    each consecutive gap ≤ 1 + ``slop`` (slop=0 ⇒ exact adjacency).

    Semantics: ``n_occurrences`` counts the distinct END positions
    reachable by a valid chain (reachability DP over the position
    lists: R₀ = positions of t₀; Rᵢ = {q ∈ posᵢ : ∃ r ∈ Rᵢ₋₁,
    r < q ≤ r + 1 + slop}) — well-defined for any term count, unlike
    greedy earliest-extension which misses chains at n ≥ 3. For
    slop=0 this is the exact phrase's adjacency count.

    ``slops`` optionally overrides the slop PER PHRASE (phrase → slop),
    so a caller with mixed-slop clause groups runs ONE decode pass and
    one applyInPandas stage instead of one per distinct slop; phrases
    absent from the dict use the scalar ``slop``.

    ``exclude``: optional (doc_id) tombstone frame (superseded recrawl
    versions, index/upsert.py). Matching is per-doc with no cross-doc
    ranking, so dropping tombstoned docs AFTER matching is exact — one
    anti-join on the (small) match result, no change to the decode path.

    Requires an index built with ``store_positions=True``.
    """
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    rows = []
    n_terms: dict[str, int] = {}
    gap_by_phrase: dict[str, int] = {}
    for phrase in phrases:
        terms = tokenize(phrase)
        n_terms[phrase] = len(terms)
        gap_by_phrase[phrase] = 1 + (
            slops.get(phrase, slop) if slops is not None else slop
        )
        rows.extend((t, phrase, i) for i, t in enumerate(terms))
    # pruned positional blocks → (phrase, doc-band) groups → numpy DP
    # per doc; terms resolve through the driver-memoized dictionary probe
    blocks = index.postings_for(
        spark, rows, "term string, phrase string, ord int"
    )
    if blocks is None:
        return spark.createDataFrame(
            [], "phrase string, doc_id long, n_occurrences long"
        )
    n_terms_b = spark.sparkContext.broadcast(n_terms)
    gaps_b = spark.sparkContext.broadcast(gap_by_phrase)

    def match(pdf: pd.DataFrame) -> pd.DataFrame:
        phrase = pdf["phrase"].iloc[0]
        want = n_terms_b.value[phrase]
        max_gap = gaps_b.value[phrase]
        per_ord: dict[int, dict[int, np.ndarray]] = {}
        # column zip, not iterrows: each "row" is a 128-posting block,
        # but per-row Series construction still costs; zipping the four
        # needed columns keeps the decode loop allocation-free
        for payload, n, first_doc, o in zip(
            pdf["payload"], pdf["n"], pdf["first_doc"], pdf["ord"]
        ):
            docs, _tfs, _dls, pos = decode_block_positions(
                payload, int(n), int(first_doc)
            )
            bucket = per_ord.setdefault(int(o), {})
            for d, p in zip(docs, pos):
                bucket[int(d)] = p
        empty = pd.DataFrame(
            {
                "phrase": pd.Series([], dtype="object"),
                "doc_id": pd.Series([], dtype="int64"),
                "n_occurrences": pd.Series([], dtype="int64"),
            }
        )
        if sorted(per_ord) != list(range(want)):
            return empty
        reach = per_ord[0]
        for i in range(1, want):
            nxt: dict[int, np.ndarray] = {}
            cur = per_ord[i]
            for d, r in reach.items():
                q = cur.get(d)
                if q is None:
                    continue
                # q reachable iff some r satisfies r < q <= r + max_gap:
                # with r sorted, the LARGEST r below q decides
                idx = np.searchsorted(r, q, side="left") - 1
                ok = (idx >= 0) & (q <= r[np.maximum(idx, 0)] + max_gap)
                m = q[ok]
                if m.size:
                    nxt[d] = m
            reach = nxt
            if not reach:
                return empty
        docs_sorted = sorted(reach)
        return pd.DataFrame(
            {
                "phrase": phrase,
                "doc_id": pd.Series(docs_sorted, dtype="int64"),
                "n_occurrences": pd.Series(
                    [int(reach[d].size) for d in docs_sorted], dtype="int64"
                ),
            }
        )

    out = blocks.groupBy("phrase", "segment").applyInPandas(
        match, "phrase string, doc_id long, n_occurrences long"
    )
    if exclude is not None:
        out = out.join(exclude.select("doc_id"), "doc_id", "left_anti").select(
            "phrase", "doc_id", "n_occurrences"
        )
    return out
