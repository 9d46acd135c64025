"""Physical-plan assertions: pushdown, broadcast, codegen (SURVEY.md §4.3).

These pin the *plans*, not just the results — a regression that turns
the lang filter into a post-scan filter or the query-term join into a
sort-merge shuffle fails here before it shows up as a slowdown.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from keywords4cv_spark.config import EngineConfig
from keywords4cv_spark.index.build import tokenized_docs
from keywords4cv_spark.plans import (
    explain_str,
    pushed_filters,
    uses_broadcast_join,
    wholestage_codegen_spans,
    without_aqe,
)
from keywords4cv_spark.query.bm25 import bm25_brute_force

CFG = EngineConfig()


def test_lang_filter_pushed_to_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokenized_docs(docs, CFG).select("doc_id", "dl")
    filters = pushed_filters(toks)
    assert any("lang" in f for f in filters), filters


def test_column_pruning_reaches_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(docs.select("doc_id").filter(F.col("doc_id") > 5))
    assert "ReadSchema: struct<doc_id:bigint>" in plan, plan


def test_dictionary_ids_have_no_single_partition_window(spark, sf_dir):
    """The 1e9-term blocker (VERDICT r1 #1): term_id assignment must never
    funnel the vocabulary through one task. An empty-partitionBy Window
    shows up as `Exchange SinglePartition` feeding a Window node — assert
    the dictionary plan contains none."""
    from keywords4cv_spark.index.build import build_dictionary, term_frequencies

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with without_aqe(spark):
        d = build_dictionary(term_frequencies(tokenized_docs(docs, CFG)))
        plan = explain_str(d)
    assert "SinglePartition" not in plan, plan
    staged = getattr(d, "_k4cv_staged", None)
    if staged is not None:
        staged.unpersist()


def test_dictionary_ids_dense_and_sorted(spark, sf_dir):
    """Partition-offset ids must equal the global term rank: dense 1..V,
    ascending with term order."""
    from keywords4cv_spark.index.build import build_dictionary, term_frequencies

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    d = build_dictionary(term_frequencies(tokenized_docs(docs, CFG)))
    rows = sorted((r["term"], r["term_id"]) for r in d.collect())
    assert [tid for _, tid in rows] == list(range(1, len(rows) + 1))
    staged = getattr(d, "_k4cv_staged", None)
    if staged is not None:
        staged.unpersist()


def test_map_whitelist_has_no_single_partition_window(spark, sf_dir):
    """VERDICT r2 #1: the A8 mean-average-precision rank must not funnel
    the vocabulary through one task. The r6 rewrite over-satisfies the
    invariant: hit positions are |whitelist| conditional sums in one
    map-side-partial aggregation over the vocabulary relation, so the
    returned plan contains NO Window node at all (the result is a local
    one-row relation), and the intermediate aggregation — checked here
    by building the same vocabulary relation and its position
    aggregation — has no Window and no SinglePartition exchange before
    the terminal 1-row gather either."""
    from pyspark.sql import functions as F

    from keywords4cv_spark.index.build import term_frequencies_fused
    from keywords4cv_spark.operators.evaluation import mean_average_precision

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with without_aqe(spark):
        df = mean_average_precision(spark, docs, CFG)
        plan = explain_str(df)
        assert "Window" not in plan, plan
        dict_df = (
            term_frequencies_fused(docs, CFG)
            .groupBy("term")
            .agg(F.sum("tf").alias("cf"))
        )
        agg_plan = explain_str(
            dict_df.agg(F.sum(F.when(F.col("cf") > 5, 1).otherwise(0)))
        )
    assert "Window" not in agg_plan, agg_plan
    # the vocabulary aggregation is partial/final (map-side partials);
    # only the terminal 1-row gather may be SinglePartition
    assert agg_plan.count("SinglePartition") <= 1, agg_plan


# every postings consumer, by registry entry: (name, postings scans)
_POSTINGS_CONSUMERS = [
    ("bm25_wand_topk", 1),  # single-index WAND
    ("bm25_recrawl_topk", 2),  # two-generation WAND with exclude
    ("proximity_query", 1),  # proximity_search
    ("snippet_windows", 1),
    ("bm25_explain", 1),  # bm25_explain_indexed
    ("prefix_query", 1),  # DataFrame-keyed reader mode
]


@pytest.mark.parametrize(
    "name,n_scans", _POSTINGS_CONSUMERS, ids=[n for n, _ in _POSTINGS_CONSUMERS]
)
def test_postings_consumers_prune_buckets(spark, sf_dir, name, n_scans, monkeypatch):
    """Query-time bucket pruning on every postings consumer: each
    postings scan in the plan carries a PartitionFilter on the bucket
    dirs (whole directories of non-matching term buckets are never
    listed, the cluster-scale equivalent of reading only the query's
    index shards). The two WAND entries run with the driver gate shut:
    their driver path reads with pyarrow and has no Spark scan (its
    pruning is pinned by test_wand_driver_read_opens_only_query_buckets)."""
    from dataclasses import replace

    from keywords4cv_spark import driver_queries as dq

    if name == "bm25_wand_topk":
        monkeypatch.setattr(dq, "CFG", replace(dq.CFG, wand_driver_max_postings=0))
    elif name == "bm25_recrawl_topk":
        # build the family and its tombstones with the unpatched config
        dq._recrawl_tombstones(spark, sf_dir)
        monkeypatch.setattr(
            dq, "GEN_CFG", replace(dq.GEN_CFG, wand_driver_max_postings=0)
        )
    plan = explain_str(dq.QUERIES[name](spark, sf_dir))
    scans = [
        node for node in plan.split("\n\n")
        if "Scan parquet" in node and "/postings]" in node
    ]
    assert len(scans) == n_scans, plan
    for node in scans:
        pf = re.search(r"PartitionFilters: \[([^\]]*)\]", node)
        assert pf and "bucket" in pf.group(1), (name, node)


def test_wand_driver_read_opens_only_query_buckets(spark, sf_dir, monkeypatch):
    """The driver-side WAND read (postings_for local mode) opens parquet
    fragments only under the query terms' bucket= directories, and
    every one of those directories."""
    import pyarrow.dataset as ds

    from keywords4cv_spark.driver_queries import CFG as QCFG
    from keywords4cv_spark.driver_queries import INDEX_CFG, _index_for
    from keywords4cv_spark.index.build import term_bucket
    from keywords4cv_spark.query.fixtures import query_term_pairs
    from keywords4cv_spark.query.wand import bm25_wand

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    pairs = [(q, t) for q, t in query_term_pairs() if q in (0, 1)]
    lut = index.lookup_terms([t for _, t in pairs])  # warm: dictionary read
    want = {term_bucket(tid, icfg.n_term_buckets) for tid, _ in lut.values()}
    assert 0 < len(want) < icfg.n_term_buckets
    opened = []
    real = ds.dataset

    def spy(source, *a, **kw):
        out = real(source, *a, **kw)
        if isinstance(source, str):
            opened.extend(out.files)
        return out

    monkeypatch.setattr(ds, "dataset", spy)
    rows = bm25_wand(spark, index, QCFG, queries=pairs).collect()
    assert rows
    prefix = f"{index.path}/postings/bucket="
    assert opened and all(f.startswith(prefix) for f in opened), opened
    assert {int(f[len(prefix):].split("/")[0]) for f in opened} == want


def test_jaccard_dag_tokenizes_corpus_once(spark, sf_dir):
    """VERDICT r1 #3: the candidate→verify dedup DAG must stage its
    tokenized relation, not re-derive it per branch. Since r6 the
    candidate-bounded token sets are eagerly checkpointed during the
    call (releasing the tokenize cache), so the RETURNED verify plan
    contains ZERO documents scans — the one tokenize pass happened at
    build time, and no branch re-derives it."""
    from keywords4cv_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = explain_str(dedup.jaccard_verified_pairs(docs, CFG))
    assert plan.count("documents.parquet") == 0, plan


def test_bm25_uses_broadcast_joins_and_codegen(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with without_aqe(spark):
        df = bm25_brute_force(spark, docs, CFG)
        assert uses_broadcast_join(df)
        assert wholestage_codegen_spans(df) > 0
        # query terms are the broadcast side; nothing falls to sort-merge
        assert "SortMergeJoin" not in explain_str(df)


def test_new_curation_ops_have_no_single_partition_stage(spark, sf_dir):
    """Round-3 operators must not smuggle a global single-task stage:
    repetition_scores (two hash aggs), bm25f_topk (rank window is
    partitioned by query_id; its 1-row corpus-stats agg legitimately
    gathers — but no Window may), and the quality branch."""
    from keywords4cv_spark.operators.textstats import quality_scores, repetition_scores
    from keywords4cv_spark.plans import explain_str, without_aqe
    from keywords4cv_spark.query.bm25 import bm25f_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with without_aqe(spark):
        assert "SinglePartition" not in explain_str(repetition_scores(docs, CFG))
        assert "SinglePartition" not in explain_str(quality_scores(docs, CFG))
        plan = explain_str(bm25f_topk(spark, docs, CFG))
    # rank_topk's window must be keyed by query_id, not global: for each
    # Window node, the Exchange printed beneath it (its input shuffle)
    # must be hash-partitioned
    lines = plan.splitlines()
    window_lines = [i for i, ln in enumerate(lines) if "Window" in ln]
    assert window_lines, plan
    for i in window_lines:
        for ln in lines[i + 1 :]:
            if "Exchange" in ln:
                assert "SinglePartition" not in ln, plan
                break


def test_curated_corpus_single_tokenize(spark, sf_dir):
    """curated_corpus's docstring claim: the quality branch and the
    dedup branch share ONE tokenize pass — the persisted (doc_id,
    tokens) relation is passed explicitly to both. The final plan's
    quality side must read the cache (InMemoryTableScan), with NO
    tokenizer stage (ArrowEvalPython) left anywhere: tokenization ran
    exactly once, when the shared relation materialized inside the
    dedup branch."""
    from keywords4cv_spark.driver_queries import QUERIES

    df = QUERIES["curated_corpus"](spark, sf_dir)
    plan = explain_str(df)
    # r6 shape: every branch materializes EAGERLY from the one shared
    # persisted tokenize relation and the cache is released before the
    # query returns — so the FINAL plan is a join of checkpointed
    # branch relations with no live tokenizer stage and no documents
    # scan anywhere (tokenization ran exactly once, inside the branch
    # materializations).
    assert "ArrowEvalPython" not in plan, plan
    assert "documents.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "keyword_summary",
        "lsh_candidate_pairs",
        "reference_scored_terms",
        "simhash_near_dups",
        "top_terms",
    ],
)
def test_entries_read_keyed_cache_relations(spark, sf_dir, name):
    """These entries reuse a corpus relation the registry's keyed cache
    materialized once (term frequencies, MinHash band minima, the
    synthetic corpus's token sets, SimHash signatures). It is passed to
    the operator as an argument, so the returned plan reads its cached
    blocks instead of re-deriving the relation."""
    from keywords4cv_spark.driver_queries import QUERIES

    plan = explain_str(QUERIES[name](spark, sf_dir))
    assert "InMemoryTableScan" in plan, plan


def test_prefix_query_plan_has_no_expansion_sized_in_list(spark, sf_dir):
    """VERDICT r3 wrong #1: prefix expansion must prune postings via the
    broadcast join on the expanded (query_id, term_id) frame, never via
    a driver-collected `term_id IN (...)` literal whose width grows with
    the match count (a short prefix on a web vocabulary expands to ~1e6
    terms — plan bloat, driver memory, codegen limits). The only In-list
    allowed in the plan is the bucket filter, bounded by n_term_buckets."""
    from keywords4cv_spark.driver_queries import INDEX_CFG, QUERIES

    df = QUERIES["prefix_query"](spark, sf_dir)
    plan = explain_str(df)
    icfg = INDEX_CFG
    for m in re.finditer(r"(\w+)#\d+L? IN(?:SET)? \(?([^)\n]*)", plan):
        col, elems = m.group(1), m.group(2)
        width = len(elems.split(","))
        assert col != "term_id", (col, width, plan)
        assert width <= icfg.n_term_buckets, (col, width, plan)
    assert uses_broadcast_join(df), plan


def test_centroid_assignment_has_no_window_or_explosion(spark, sf_dir):
    """VERDICT r4 wrong #1: the IVF/k-means centroid assignment must not
    materialize an n×nlist relation (crossJoin + per-vector row_number
    window ⇒ a 10^18-row intermediate at 10^12 vectors, nlist≈√n). The
    blocked mapInPandas kernel emits one row per vector: assert the plan
    has NO Window node, NO cartesian/nested-loop join, and exactly the
    Arrow map stage."""
    from keywords4cv_spark.operators.categorize import (
        assign_to_centroids,
        label_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    with without_aqe(spark):
        df = assign_to_centroids(emb, label_centroids(emb))
        plan = explain_str(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "MapInPandas" in plan, plan
    # top-n probe fan-out runs through the same kernel
    with without_aqe(spark):
        dfn = assign_to_centroids(emb.limit(5), label_centroids(emb), n_best=3)
        plan_n = explain_str(dfn)
    assert "Window" not in plan_n, plan_n
    assert "CartesianProduct" not in plan_n, plan_n


def test_bucket_encode_reuses_cached_partitioning(spark, sf_dir):
    """The SPIMI encode cache (build_index's `posted`) is repartitioned
    on (term_id, segment) ONCE and persisted; every per-bucket encode job
    must plan its groupBy(term_id, segment) with NO new Exchange above
    the cache scan — the r4 layout re-scanned the string-heavy tf cache,
    re-probed the dictionary, and re-shuffled once per bucket (redundant
    DRAM traffic on a bandwidth-bound build)."""
    from keywords4cv_spark.index.build import build_dictionary, term_frequencies

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with without_aqe(spark):
        tf_df = term_frequencies(tokenized_docs(docs, CFG))
        dictionary = build_dictionary(tf_df)
        posted = (
            tf_df.join(
                F.broadcast(dictionary.select("term", "term_id", "df")), "term"
            )
            .withColumn("segment", F.pmod(F.col("doc_id"), F.lit(8)).cast("int"))
            .withColumn("bucket", F.pmod(F.col("term_id"), F.lit(4)).cast("int"))
            .select("segment", "bucket", "term_id", "df", "doc_id", "tf", "dl")
            .repartition(8, "term_id", "segment")
            .persist()
        )
        try:
            per_bucket = (
                posted.filter(F.col("bucket") == 0)
                .groupBy("term_id", "segment")
                .agg(F.count("*").alias("n"))
            )
            plan = explain_str(per_bucket, mode="simple")
        finally:
            posted.unpersist()
            staged = getattr(dictionary, "_k4cv_staged", None)
            if staged is not None:
                staged.unpersist()
    # everything ABOVE the cache scan must be exchange-free; the stored
    # cached plan (below InMemoryRelation) legitimately contains the one
    # repartition exchange
    above_cache = plan.split("InMemoryRelation", 1)[0]
    assert "InMemoryTableScan" in plan, plan
    assert "Exchange" not in above_cache, above_cache


def test_query_string_indexed_reads_postings_not_corpus(spark, sf_dir):
    """The registry's query_string_search (indexed executor) must never
    touch the corpus text: no documents-parquet scan, no tokenizer
    stage (ArrowEvalPython), no ShuffledHashJoin; every dictionary
    expansion join (prefix/wildcard/regexp/fuzzy) broadcasts the
    query-bounded pattern table. Regexp clauses additionally carry the
    literal-prefix StartsWith pushdown next to the anchored RLIKE."""
    from keywords4cv_spark.driver_queries import INDEX_CFG, _index_for, _pos_index_for
    from keywords4cv_spark.query.parse import search_query_strings_indexed

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    pos_index = _pos_index_for(spark, sf_dir)
    qs = [(0, "merge +join -slow"), (1, "/m[ae]rge/ s*eam qurey~")]
    df = search_query_strings_indexed(spark, index, pos_index, qs, icfg)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # the r6 executor materializes the (expansion-capped) clause-term
    # relation driver-side once, so the dictionary-expansion subtree
    # runs in its own job rather than inside the final plan — assert
    # its shape separately: broadcast join with the regexp clause's
    # literal-prefix StartsWith pushdown next to the anchored RLIKE
    from keywords4cv_spark.query.parse import _clause_terms, parse_query

    parsed = {qid: parse_query(s) for qid, s in qs}
    cterm = _clause_terms(
        spark, index.dictionary.select("term", "term_id", "df"), parsed, 64, 16
    )
    eplan = cterm._jdf.queryExecution().executedPlan().toString()
    assert "RLIKE" in eplan or "rlike" in eplan, eplan
    assert "StartsWith" in eplan, eplan
    assert "BroadcastHashJoin" in eplan or "BroadcastNestedLoopJoin" in eplan, eplan
    assert "ShuffledHashJoin" not in eplan, eplan
