"""Best-window snippet selection from the positional index.

The highlighter half of a full-text engine (reference analog: the
keyword-in-context windows keywords4cv.py builds around matched terms
for section detection, generalized to retrieval): for each (query,
top-k doc) pair, choose the token window ``[start, start + width)``
containing the most DISTINCT query terms, tie-broken on the smallest
start. Candidate starts are the query-term positions themselves — an
optimal window can always be slid left until its left edge touches a
contained term occurrence, so scanning only those starts is exact.

Everything is computed from positional postings: the document text is
never re-read (at 100 TB the text lives in cold storage; the postings
are the hot index). Spark shape mirrors phrase.py — query terms ⋈
dictionary (broadcast) → bucket/term-pruned postings scan →
``groupBy(query_id, segment).applyInPandas`` decoding only the hit
docs' position streams; segments are doc bands, so a doc's positions
for ALL query terms land in one group and the per-band outputs are
disjoint and exact.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.index.build import IndexTables
from keywords4cv_spark.index.codec import decode_block_positions
from keywords4cv_spark.query.fixtures import TOP_K, query_term_pairs
from keywords4cv_spark.query.wand import bm25_wand_multi

OUT_SCHEMA = "query_id long, doc_id long, win_start long, n_terms int"


def snippet_windows(
    spark: SparkSession,
    index: IndexTables,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    width: int = 8,
    queries: list[tuple[int, str]] | None = None,
    exclude: DataFrame | None = None,
) -> DataFrame:
    """(query_id, doc_id, win_start, n_terms) — the best snippet window
    per BM25 top-k hit. Requires ``store_positions=True`` at build.

    The hit set is collected driver-side (it is a top-k result —
    k·n_queries rows, driver-small by construction) and broadcast into
    the decode tasks so only hit docs' position streams are touched.

    ``exclude``: optional (doc_id) tombstone frame (superseded recrawl
    versions, index/upsert.py). Exclusion must happen BEFORE the top-k
    cut — a stale doc in the heap would displace a live hit — so the
    tombstones ride the WAND driver's (query, band) shuffle, with
    statistics still counting tombstoned docs until a purging
    compaction (Lucene deleted-docs semantics).
    """
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    pairs = queries if queries is not None else query_term_pairs()
    hit_df = bm25_wand_multi(
        spark, [index], cfg, k=k, queries=pairs, exclude=exclude
    )
    return snippet_windows_for_hits(spark, index, hit_df, pairs, width=width)


def snippet_windows_for_hits(
    spark: SparkSession,
    index: IndexTables,
    hit_df: DataFrame,
    qterms: list[tuple[int, str]],
    width: int = 8,
) -> DataFrame:
    """Best snippet window per (query_id, doc_id) hit, for an ARBITRARY
    hit set and highlight-term set — the picker half of
    `snippet_windows`, reusable by any retrieval front end (WAND top-k,
    the query-string parser, filtered retrieval).

    ``hit_df``: (query_id, doc_id) rows — top-k-shaped, driver-small by
    construction. ``qterms``: driver-local (query_id, term) highlight
    terms.
    """
    from keywords4cv_spark.deploy import ensure_py_files

    ensure_py_files(spark)
    hits = hit_df.select("query_id", "doc_id").collect()
    hit_map: dict[int, set[int]] = {}
    for r in hits:
        hit_map.setdefault(int(r["query_id"]), set()).add(int(r["doc_id"]))
    hits_b = spark.sparkContext.broadcast(hit_map)

    blocks = index.postings_for(
        spark, sorted({(t, qid) for qid, t in qterms}), "term string, query_id long"
    )
    if blocks is None or not hit_map:
        return spark.createDataFrame([], OUT_SCHEMA)

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        wanted = hits_b.value.get(qid, set())
        per_doc: dict[int, list[tuple[str, np.ndarray]]] = {}
        for payload, n, first_doc, term in zip(
            pdf["payload"], pdf["n"], pdf["first_doc"], pdf["term"]
        ):
            docs, _tfs, _dls, pos = decode_block_positions(
                payload, int(n), int(first_doc)
            )
            for d, p in zip(docs, pos):
                if int(d) in wanted:
                    per_doc.setdefault(int(d), []).append((term, p))
        rows = []
        for d in sorted(per_doc):
            terms = sorted({t for t, _ in per_doc[d]})
            t_idx = {t: i for i, t in enumerate(terms)}
            all_pos = np.concatenate([p for _, p in per_doc[d]])
            all_term = np.concatenate(
                [np.full(p.size, t_idx[t], dtype=np.int64) for t, p in per_doc[d]]
            )
            best_s, best_n = -1, -1
            # ascending starts + strict > keeps the SMALLEST start among
            # windows tied on distinct-term count (the oracle's
            # (n_terms DESC, win_start ASC) rank rule)
            for s in np.unique(all_pos):
                m = (all_pos >= s) & (all_pos < s + width)
                n = int(np.unique(all_term[m]).size)
                if n > best_n:
                    best_s, best_n = int(s), n
            rows.append((qid, d, best_s, best_n))
        return pd.DataFrame(
            rows, columns=["query_id", "doc_id", "win_start", "n_terms"]
        ).astype(
            {"query_id": "int64", "doc_id": "int64", "win_start": "int64",
             "n_terms": "int32"}
        )

    return blocks.groupBy("query_id", "segment").applyInPandas(pick, OUT_SCHEMA)
