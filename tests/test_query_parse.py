"""Query-string parser unit tests + executor semantics pins.

The executor under test is the indexed one
(`search_query_strings_indexed`); its reference is the generated
DuckDB oracle (`query_string_oracle`), compared value by value on the
gate corpus for every query set below. The Lucene BooleanQuery
candidate algebra is also pinned on a tiny in-memory corpus where
expected hits are hand-checkable.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from keywords4cv_spark.config import EngineConfig
from keywords4cv_spark.query.parse import (
    FUZZY_MAX_DIST,
    Clause,
    parse_query,
    search_query_strings_indexed,
)
from keywords4cv_spark.session import next_rdd_id, persistent_rdds

# Hand-checkable docs, one group per semantic pinned below. The groups
# share no token any of their queries reads, so one small positional
# index serves every tiny-corpus test.
_TINY_DOCS = [
    # boolean algebra
    (1, "merge join fast"),
    (2, "merge only here"),
    (3, "join slow merge"),
    (4, "table scan merge join"),
    # dictionary expansion
    (11, "quorum ledger quorumset"),
    (12, "stream window"),
    # phrase occurrence scoring (equal doc lengths)
    (21, "alpha beta alpha beta xx"),
    (22, "alpha beta zz yy ww"),
    (23, "alpha zz beta yy ww"),
    # min_should_match
    (31, "aa bb cc dd"),
    (32, "aa pp qq rr"),
    (33, "aa bb pp qq"),
]
_TINY_CFG = EngineConfig(
    store_positions=True, n_term_buckets=1, n_salts=1, shuffle_partitions=4
)


@pytest.fixture(scope="module")
def tiny_index(spark, tmp_path_factory):
    """One positional index over `_TINY_DOCS`; it serves as both the
    postings and the positional index of the executor."""
    from keywords4cv_spark.index.build import build_index

    docs = spark.createDataFrame(
        [(d, t, "en") for d, t in _TINY_DOCS],
        "doc_id long, text string, lang string",
    )
    return build_index(
        spark, docs, str(tmp_path_factory.mktemp("tiny_index")), _TINY_CFG
    )


def _tiny_search(spark, index, queries, **kw):
    return search_query_strings_indexed(
        spark, index, index, queries, _TINY_CFG, **kw
    ).collect()


def _indexed_vs_oracle(spark, sf_dir, name, queries, **kw):
    """Indexed executor vs the generated DuckDB oracle on the gate
    corpus, value by value; returns the engine frame. Filter/range
    clauses probe the lang-filtered documents table on both sides."""
    import duckdb

    from test_driver_contract import _assert_frames_match

    from keywords4cv_spark.driver_queries import (
        _TF_CTES,
        _docs,
        INDEX_CFG,
        _index_for,
        _pos_index_for,
    )
    from keywords4cv_spark.query.parse import query_string_oracle

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    attrs = (
        _docs(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select("doc_id", "source", "n_chars")
    )
    got = search_query_strings_indexed(
        spark, index, _pos_index_for(spark, sf_dir), queries, icfg,
        doc_attrs=attrs, **kw,
    ).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = con.execute(query_string_oracle(queries, _TF_CTES, **kw)).fetchdf()
    assert len(got) > 0
    _assert_frames_match(name, got, want)
    return got


# A second physical layout of the gate corpus: one term bucket and one
# salt (the cached gate indexes use 4 × 4), positions stored, so the
# one index serves as both postings and positional index.
_RELAYOUT_CFG = EngineConfig(n_term_buckets=1, n_salts=1, store_positions=True)


@pytest.fixture(scope="module")
def relayout_index(spark, sf_dir, tmp_path_factory):
    from keywords4cv_spark.driver_queries import _docs
    from keywords4cv_spark.index.build import build_index

    return build_index(
        spark,
        _docs(spark, sf_dir),
        str(tmp_path_factory.mktemp("relayout_index")),
        _RELAYOUT_CFG,
        url_col="source",
    )


def _indexed_rank_identical(spark, sf_dir, relayout, queries, **kw):
    """The indexed executor ranks and scores (round(·,6)) identically
    on the cached 4-bucket/4-salt gate indexes and on the 1-bucket,
    1-salt positional index: bucket pruning, salt merge and the
    positions payload never change an answer."""
    from keywords4cv_spark.driver_queries import (
        _docs,
        INDEX_CFG,
        _index_for,
        _pos_index_for,
    )

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    attrs = (
        _docs(spark, sf_dir)
        .filter(F.col("lang") == "en")
        .select("doc_id", "source", "n_chars")
    )

    def ranked(idx, pos, cfg):
        return {
            (r.query_id, r.rank): (r.doc_id, round(r.score, 6))
            for r in search_query_strings_indexed(
                spark, idx, pos, queries, cfg, doc_attrs=attrs, **kw
            ).collect()
        }

    want = ranked(index, _pos_index_for(spark, sf_dir), icfg)
    got = ranked(relayout, relayout, _RELAYOUT_CFG)
    assert want  # non-degenerate
    assert got == want


def test_parse_occurs_and_kinds():
    cs = parse_query('merge +join -slow +"table scan" mer* qurey~ "aa bb cc"~2')
    assert cs == [
        Clause("should", "term", ("merge",)),
        Clause("must", "term", ("join",)),
        Clause("must_not", "term", ("slow",)),
        Clause("must", "phrase", ("table", "scan")),
        Clause("should", "prefix", ("mer",)),
        Clause("should", "fuzzy", ("qurey",)),
        Clause("should", "phrase", ("aa", "bb", "cc"), slop=2),
    ]


def test_parse_normalization_and_degenerate():
    # terms fold through the engine tokenizer
    assert parse_query("MeRgE")[0].terms == ("merge",)
    # multi-token bare word (punct split) becomes an exact phrase
    assert parse_query("foo-bar")[0] == Clause("should", "phrase", ("foo", "bar"))
    # single-token quoted phrase degrades to a term clause
    assert parse_query('"merge"')[0].kind == "term"
    # fuzzy distance suffix, capped at the Lucene max of 2
    assert parse_query("query~1")[0].dist == 1
    assert parse_query("query~9")[0].dist == FUZZY_MAX_DIST
    # degenerate inputs parse to nothing
    assert parse_query('"" * ~ + -') == []


def test_executor_boolean_algebra(spark, tiny_index):
    rows = _tiny_search(
        spark, tiny_index, [(0, "merge +join -slow"), (1, '+"table scan"')]
    )
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    # q0: must 'join' → {1,3,4}; not 'slow' drops 3 → {1,4}, scored
    assert sorted(r.doc_id for r in by_q[0]) == [1, 4]
    assert all(r.score > 0 for r in by_q[0])
    # q1: phrase-only must → doc 4, constant-score 0.0
    assert [(r.doc_id, r.score) for r in by_q[1]] == [(4, 0.0)]


def test_executor_expansion_and_empty(spark, tiny_index):
    rows = _tiny_search(
        spark, tiny_index, [(0, "quo*"), (1, "ledgr~"), (2, "zzznope")]
    )
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert sorted(r.doc_id for r in by_q[0]) == [11]  # quorum + quorumset
    assert sorted(r.doc_id for r in by_q[1]) == [11]  # ledgr~ → ledger
    assert 2 not in by_q  # absent term → no candidates


def test_indexed_executor_rank_identical(spark, sf_dir):
    """The indexed executor reproduces the generated DuckDB oracle
    exactly — same candidates, ranks and round(·,6) scores — on the
    full gated query-string set (every construct: must/should/not
    literals, must-phrase, prefix, fuzzy, sloppy phrase, absent
    term)."""
    from keywords4cv_spark.driver_queries import _QS_QUERIES

    _indexed_vs_oracle(spark, sf_dir, "query_string_search", _QS_QUERIES)


def test_search_with_snippets_windows_exact(spark, sf_dir):
    """search_with_snippets = indexed retrieval + best-window
    highlighting. The decode+picker path is verified against a pure
    Python recomputation over the raw tokenized text: for every hit,
    the window [s, s+width) starting at a highlight-term position with
    the most DISTINCT highlight terms, smallest start on ties; hits of
    queries with no scoring terms (phrase-only) keep null snippets."""
    from keywords4cv_spark.driver_queries import (
        _QS_QUERIES,
        _docs,
        INDEX_CFG,
        _index_for,
        _pos_index_for,
    )
    from keywords4cv_spark.query.parse import (
        MUST_NOT,
        _clause_terms,
        parse_query,
        search_with_snippets,
    )
    from keywords4cv_spark.textprep.normalize import tokenize

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    pos_index = _pos_index_for(spark, sf_dir)
    width = 8
    out = search_with_snippets(
        spark, index, pos_index, _QS_QUERIES, icfg, width=width
    ).collect()
    assert out
    assert {r.query_id for r in out} >= {0, 1, 2, 3, 4}

    # highlight terms: the non-negated literal terms (a literal absent
    # from the dictionary never occurs in the text) plus the dictionary
    # expansions of the prefix/wildcard/regexp/fuzzy clauses
    parsed = {qid: parse_query(s) for qid, s in _QS_QUERIES}
    hl: dict[int, set[str]] = {}
    for qid, cs in parsed.items():
        for c in cs:
            if c.kind == "term" and c.occur != MUST_NOT:
                hl.setdefault(qid, set()).add(c.terms[0])
    cterm = _clause_terms(
        spark, index.dictionary.select("term", "term_id", "df"), parsed, 64, 16
    )
    for r in cterm.filter(F.col("occur") != MUST_NOT).collect():
        hl.setdefault(r.query_id, set()).add(r.term)

    texts = {
        r.doc_id: tokenize(r.text)
        for r in _docs(spark, sf_dir).filter(F.col("lang") == "en").collect()
    }
    for r in out:
        terms = hl.get(r.query_id, set())
        toks = texts[r.doc_id]
        occ = [(p, t) for p, t in enumerate(toks) if t in terms]
        if not occ:
            assert r.win_start is None and r.n_terms is None, r
            continue
        best_s, best_n = -1, -1
        for s, _ in occ:
            n = len({t for p, t in occ if s <= p < s + width})
            if n > best_n:
                best_s, best_n = s, n
        assert (r.win_start, r.n_terms) == (best_s, best_n), (r, best_s, best_n)


def test_parse_filters_ranges_boosts():
    assert parse_query("source:src1")[0] == Clause(
        "must", "filter", ("src1",), field="source"
    )
    assert parse_query("-source:src0")[0] == Clause(
        "must_not", "filter", ("src0",), field="source"
    )
    assert parse_query("n_chars:[200 TO 400]")[0] == Clause(
        "must", "range", (), field="n_chars", lo=200.0, hi=400.0
    )
    assert parse_query("n_chars:[* TO 400]")[0].lo is None
    assert parse_query("merge^2.5")[0].boost == 2.5
    assert parse_query("mer*^3")[0] == Clause(
        "should", "prefix", ("mer",), boost=3.0
    )
    assert parse_query("qurey~^2")[0].kind == "fuzzy"
    assert parse_query('"table scan"^2')[0].boost == 2.0
    # a '+' filter stays filter-context MUST; boost on plain term default 1
    assert parse_query("+source:src1")[0].occur == "must"
    assert parse_query("merge")[0].boost == 1.0


_EXT_QUERIES = [
    (0, "source:src1"),                   # filter-only → constant score 0
    (1, "merge source:src1"),             # filter + should: msm drops to 0
    (2, "+join -source:src0"),            # termlike must + negative filter
    (3, "n_chars:[200 TO 400] merge^2"),  # numeric range + boosted should
    (4, "merge^3 join"),                  # boost reweights the BM25 sum
    (5, "m?rge"),                         # single-char wildcard
    (6, "*ream^2 join"),                  # leading-star wildcard + boost
    (7, "+s*eam -source:src0"),           # wildcard as MUST + neg filter
    (8, "/m[ae]rge/"),                    # regexp, char class
    (9, "/st(r|d)eam/^2 join"),           # regexp, alternation + boost
    (10, "+/jo.n/ -source:src0"),         # regexp as MUST + neg filter
]


def test_parse_wildcards():
    assert parse_query("m?rge")[0] == Clause("should", "wildcard", ("m?rge",))
    assert parse_query("*ream^2")[0] == Clause(
        "should", "wildcard", ("*ream",), boost=2.0
    )
    # internal star + trailing star is wildcard, not prefix; ** collapses
    assert parse_query("s*eam**")[0] == Clause("should", "wildcard", ("s*eam*",))
    # simple trailing star stays a (range-prunable) prefix clause
    assert parse_query("mer*")[0].kind == "prefix"
    # literal segments fold through the tokenizer; pure wildcards drop
    assert parse_query("M?RGE")[0].terms == ("m?rge",)
    assert parse_query("*") == []
    assert parse_query("?*") == []
    assert parse_query("-st?eam")[0].occur == "must_not"


def test_parse_regexp():
    from keywords4cv_spark.query.parse import _regexp_literal_prefix

    assert parse_query("/m[ae]rge/")[0] == Clause(
        "should", "regexp", ("m[ae]rge",)
    )
    assert parse_query("/st(r|d)eam/^2")[0] == Clause(
        "should", "regexp", ("st(r|d)eam",), boost=2.0
    )
    assert parse_query("-/jo.n/")[0].occur == "must_not"
    assert parse_query("+/jo.n/")[0].occur == "must"
    # malformed, empty, and match-all patterns drop
    assert parse_query("/[a-/") == []
    assert parse_query("//") == []
    assert parse_query("/.*/") == []
    # an escaped paren before ? is a literal, not a (?...) group
    assert parse_query(r"/a\(?b/") == [Clause("should", "regexp", (r"a\(?b",))]
    assert parse_query(r"/a\\(?=b)/") == []
    # inside a character class "(?" is two literals, not a group
    assert parse_query("/a[(?]b/") == [Clause("should", "regexp", ("a[(?]b",))]
    # java.util.regex reads a nested class as a union and && as an
    # intersection, RE2 reads both as literals: the clause drops
    assert parse_query("/[a[b]]/") == []
    assert parse_query("/[a&&b]/") == []
    assert parse_query("/x[^a-z&&[^b]]y/") == []
    # an escaped [ and a single & stay portable
    assert parse_query(r"/a[\[]b/") == [Clause("should", "regexp", (r"a[\[]b",))]
    assert parse_query("/[a&b]/") == [Clause("should", "regexp", ("[a&b]",))]
    # a URL-shaped bare token is NOT a regexp clause (no leading slash;
    # it parses as a field filter, Lucene's reading of `http:...`)
    assert parse_query("http://foo/bar")[0].kind == "filter"
    # pruning prefix: literal run, stopped at the first metachar; the
    # last literal is excluded under a may-match-zero quantifier
    assert _regexp_literal_prefix("merg(e|es)") == "merg"
    assert _regexp_literal_prefix("ab*c") == "a"
    assert _regexp_literal_prefix("ab+c") == "ab"
    assert _regexp_literal_prefix("ab?c") == "a"
    assert _regexp_literal_prefix(".*x") == ""
    assert _regexp_literal_prefix("m[ae]rge") == "m"
    # inside a class, ( and | are literals: the top-level | still voids
    # the prefix
    assert _regexp_literal_prefix("a[(]|b") == ""
    assert _regexp_literal_prefix("x[](]|y") == ""
    assert _regexp_literal_prefix("a[|]b") == "a"


def test_extended_grammar_matches_generated_oracle(spark, sf_dir):
    """The oracle generator covers the FULL grammar (boost, filter,
    range, wildcard, regexp): the indexed executor, given the
    doc-attribute relation explicitly (docmeta carries no source/n_chars
    — attributes are the doc-values analog, a pruned scan of the source
    table), and the generated DuckDB SQL agree value by value."""
    _indexed_vs_oracle(spark, sf_dir, "extended_grammar", _EXT_QUERIES)


def test_extended_grammar_indexed_rank_identical(spark, sf_dir, relayout_index):
    """Index-layout rank identity for filter/range/boost/wildcard/regexp
    clauses."""
    _indexed_rank_identical(spark, sf_dir, relayout_index, _EXT_QUERIES)


def test_wand_fast_path_routing_and_identity(spark, sf_dir):
    """Pure-disjunctive query strings route to Block-Max WAND (unit:
    eligibility predicate) and stay equal to the generated DuckDB
    oracle across boosts and dictionary expansions."""
    from keywords4cv_spark.query.parse import wand_eligible_qids

    qs = [
        (0, "merge join"),          # plain disjunction
        (1, "mer* stream^2"),       # prefix expansion + boost
        (2, "spark^3 qurey~"),      # boost + fuzzy expansion
        (3, "zzznope"),             # absent term → empty
        (4, "st?eam m*ge^2"),       # wildcard expansions
        (5, "/m[ae]rge/ stream"),   # regexp expansion
    ]
    parsed = {qid: parse_query(s) for qid, s in qs}
    assert wand_eligible_qids(parsed) == [0, 1, 2, 3, 4, 5]
    # ineligible shapes: must, not, phrase, filter
    for bad in ["+merge join", "merge -slow", '"merge join"', "source:src1 merge"]:
        assert wand_eligible_qids({9: parse_query(bad)}) == []

    _indexed_vs_oracle(spark, sf_dir, "wand_fast_path", qs)


@pytest.mark.parametrize("gate", [0, 2**31 - 2], ids=["spark", "driver"])
def test_queries_release_their_caches(spark, sf_dir, gate):
    """A warm call of bm25_explain, query_string_search and
    bm25_wand_topk leaves no persistent RDD it created behind, on each
    side of the WAND driver gate. Compared by id, not by the JVM-wide
    count: the ContextCleaner may drop older RDDs during the call."""
    from dataclasses import replace

    from keywords4cv_spark.driver_queries import (
        CFG as QCFG,
        _QS_QUERIES,
        INDEX_CFG,
        _index_for,
        _pos_index_for,
    )
    from keywords4cv_spark.query.indexed import bm25_explain_indexed
    from keywords4cv_spark.query.wand import bm25_wand

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    pos_index = _pos_index_for(spark, sf_dir)
    calls = {
        "bm25_explain": lambda: bm25_explain_indexed(spark, index, QCFG),
        "query_string_search": lambda: search_query_strings_indexed(
            spark, index, pos_index, _QS_QUERIES,
            replace(icfg, wand_driver_max_postings=gate),
        ),
        "bm25_wand_topk": lambda: bm25_wand(
            spark, index, replace(QCFG, wand_driver_max_postings=gate)
        ),
    }
    for name, call in calls.items():
        assert call().collect(), name  # warm
        lo = next_rdd_id(spark)
        call().collect()
        assert not persistent_rdds(spark, since=lo), name


def test_explain_query_strings_decomposes_scores(spark, sf_dir):
    """explain rows reconstruct each hit's score: per-(hit, term)
    boosted contributions sum to the ranked score (within the
    round(·,6) convention), boosts surface verbatim, and phrase-only
    hits (constant score 0) explain as zero rows."""
    from keywords4cv_spark.driver_queries import (
        _QS_QUERIES,
        INDEX_CFG,
        _index_for,
        _pos_index_for,
    )
    from keywords4cv_spark.query.parse import (
        explain_query_strings,
        search_query_strings_indexed,
    )

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    pos_index = _pos_index_for(spark, sf_dir)
    qs = _QS_QUERIES + [(10, "merge^3 join")]
    hits = search_query_strings_indexed(
        spark, index, pos_index, qs, icfg
    ).collect()
    rows = explain_query_strings(spark, index, pos_index, qs, icfg).collect()
    assert rows

    by_hit: dict[tuple[int, int], list] = {}
    for r in rows:
        by_hit.setdefault((r.query_id, r.doc_id), []).append(r)
    for h in hits:
        parts = by_hit.get((h.query_id, h.doc_id), [])
        if h.score == 0.0:
            assert parts == [], (h, parts)
            continue
        assert parts, h
        assert abs(sum(p.contribution for p in parts) - h.score) < 1e-4, h
        assert all(p.rank == h.rank for p in parts)
    # the boosted query's 'merge' rows carry boost 3.0
    boosted = [r for r in rows if r.query_id == 10 and r.term == "merge"]
    assert boosted and all(r.boost == 3.0 for r in boosted)


def test_parse_query_never_raises_fuzz():
    """The search front door must never 500: parse_query handles ANY
    user string — unbalanced quotes/slashes, stray operators, malformed
    ranges/regexps — by dropping what it can't read, never raising.
    Every surviving clause is structurally valid."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    kinds = {
        "term", "phrase", "prefix", "wildcard", "regexp", "fuzzy",
        "filter", "range",
    }
    occurs = {"should", "must", "must_not"}

    @settings(max_examples=300, deadline=None)
    @given(
        st.text(
            alphabet=st.characters(codec="ascii"),
            max_size=60,
        )
    )
    def _check(q: str) -> None:
        clauses = parse_query(q)
        for c in clauses:
            assert c.kind in kinds
            assert c.occur in occurs
            if c.kind not in ("filter", "range"):
                assert c.terms and all(isinstance(t, str) for t in c.terms)
            assert c.boost >= 0.0

    _check()


def test_regexp_prefix_pruning_is_sound_fuzz():
    """The literal-prefix pushdown must never prune a true match:
    for any pattern built from the supported subset and any term, if
    the anchored pattern full-matches the term then the term starts
    with `_regexp_literal_prefix(pattern)` — the invariant that makes
    the StartsWith conjunct a pure optimization."""
    import re as _re

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from keywords4cv_spark.query.parse import _regexp_literal_prefix

    atom = st.one_of(
        st.text(alphabet="abcdxyz", min_size=1, max_size=3),
        st.sampled_from(
            ["[ab]", "[a-d]", ".", "(a|b)", "(merge|join)", "[(]", "[|(]", "[](]"]
        ),
    )
    piece = st.tuples(atom, st.sampled_from(["", "*", "+", "?", "{1,2}"])).map(
        lambda t: t[0] + t[1]
    )
    concat = st.lists(piece, min_size=1, max_size=4).map("".join)
    # top-level unescaped alternation — the case where any non-empty
    # prefix is unsound (merge|join matches "join…")
    patterns = st.one_of(
        concat,
        st.tuples(concat, concat).map(lambda t: t[0] + "|" + t[1]),
    )
    terms = st.text(alphabet="abcdxyz", max_size=10)

    @settings(max_examples=500, deadline=None)
    @given(patterns, terms)
    def _check(pat: str, term: str) -> None:
        try:
            rx = _re.compile(pat)
        except _re.error:
            return
        pre = _regexp_literal_prefix(pat)
        if rx.fullmatch(term):
            assert term.startswith(pre), (pat, pre, term)

    _check()


def test_phrase_scoring_counts_occurrences(spark, tiny_index):
    """Opt-in phrase-frequency scoring: BM25 over the occurrence count
    (distinct chain END positions). Two docs of equal length, one with
    the phrase twice, one once → the double-occurrence doc ranks first
    with a strictly higher score; a non-adjacent doc only matches (and
    scores) once slop allows the gap. Default stays constant-score 0."""
    rows = _tiny_search(
        spark, tiny_index, [(0, '"alpha beta"')], score_phrases=True
    )
    by_doc = {r.doc_id: r for r in rows}
    assert set(by_doc) == {21, 22}
    assert by_doc[21].rank == 1 and by_doc[22].rank == 2
    assert by_doc[21].score > by_doc[22].score > 0.0

    # slop=1 admits the gapped doc 23, at the lowest score (ptf 1, dl 5)
    rows = _tiny_search(
        spark, tiny_index, [(0, '"alpha beta"~1')], score_phrases=True
    )
    assert {r.doc_id for r in rows} == {21, 22, 23}
    assert all(r.score > 0.0 for r in rows)

    # default: filter-only phrases, constant score 0 (the gated shape)
    rows = _tiny_search(spark, tiny_index, [(0, '"alpha beta"')])
    assert {r.doc_id for r in rows} == {21, 22}
    assert all(r.score == 0.0 for r in rows)


_PH_QUERIES = [
    (0, '"data column" merge'),      # should phrase + should term
    (1, '+"table scan"^2 join'),     # boosted must phrase + should term
    (2, '"data column query"~2'),    # sloppy phrase only
    (3, '"table scan" -stream'),     # phrase + must_not term
    (4, "merge join"),               # control: no phrase clause
]


def test_phrase_scoring_matches_generated_oracle(spark, sf_dir):
    """Indexed executor (score_phrases=True: proximity_search
    n_occurrences feeding BM25) vs the generated DuckDB oracle
    (score_phrases=True): value-level agreement across must / should /
    boosted / sloppy phrase clauses on the gate corpus."""
    got = _indexed_vs_oracle(
        spark, sf_dir, "phrase_scoring", _PH_QUERIES, score_phrases=True
    )
    # phrase scoring must actually engage: scored phrase-only hits
    assert (got[got.query_id == 2].score > 0).any()


def test_phrase_scoring_indexed_rank_identical(spark, sf_dir, relayout_index):
    """Index-layout rank identity with score_phrases=True (phrase
    occurrence counts from the positional index feeding BM25)."""
    _indexed_rank_identical(
        spark, sf_dir, relayout_index, _PH_QUERIES, score_phrases=True
    )


def test_explain_includes_scored_phrases(spark, sf_dir):
    """With score_phrases, explain rows cover phrase clauses too (term
    = the phrase string, tf = occurrence count) and the per-hit
    contribution sum still reconstructs the ranked score exactly."""
    from keywords4cv_spark.driver_queries import INDEX_CFG, _index_for, _pos_index_for
    from keywords4cv_spark.query.parse import (
        explain_query_strings,
        search_query_strings_indexed,
    )

    index, icfg = _index_for(spark, sf_dir), INDEX_CFG
    pos_index = _pos_index_for(spark, sf_dir)
    hits = search_query_strings_indexed(
        spark, index, pos_index, _PH_QUERIES, icfg, score_phrases=True
    ).collect()
    rows = explain_query_strings(
        spark, index, pos_index, _PH_QUERIES, icfg, score_phrases=True
    ).collect()
    assert rows
    # phrase rows surface with multi-word terms and positive tf
    prows = [r for r in rows if " " in r.term]
    assert prows and all(r.tf >= 1 for r in prows)

    by_hit: dict[tuple[int, int], list] = {}
    for r in rows:
        by_hit.setdefault((r.query_id, r.doc_id), []).append(r)
    for h in hits:
        parts = by_hit.get((h.query_id, h.doc_id), [])
        if h.score == 0.0:
            assert parts == [], (h, parts)
            continue
        assert parts, h
        assert abs(sum(p.contribution for p in parts) - h.score) < 1e-4, h


def test_min_should_match(spark, tiny_index):
    """Lucene minimumShouldMatch: candidacy requires >= msm distinct
    should clauses (on top of musts); scoring is untouched for the
    docs that survive; an unsatisfiable threshold matches nothing."""
    q = [(0, "aa bb cc")]
    base = {r.doc_id: r.score for r in _tiny_search(spark, tiny_index, q)}
    assert set(base) == {31, 32, 33}
    for msm, expect in [(2, {31, 33}), (3, {31}), (4, set())]:
        rows = _tiny_search(spark, tiny_index, q, min_should_match=msm)
        assert {r.doc_id for r in rows} == expect, msm
        # survivors keep their unfiltered scores: candidacy only
        assert all(r.score == base[r.doc_id] for r in rows), msm
    # msm applies ON TOP of musts: must 'aa' AND >= 2 of the shoulds
    rows = _tiny_search(
        spark, tiny_index, [(0, "+aa bb cc dd")], min_should_match=2
    )
    assert {r.doc_id for r in rows} == {31}
    # Lucene MatchNoDocs rewrite: a must-only query (ZERO should
    # clauses) under msm > 0 matches nothing — msm exceeds the
    # optional-clause count
    rows = _tiny_search(spark, tiny_index, [(0, "+aa")], min_should_match=2)
    assert rows == []


_MSM_QUERIES = [
    (0, "merge join stream"),        # should-only, msm prunes
    (1, "+data merge join"),         # must + shoulds, msm on top
    (2, "mer* join"),                # expansion counts as one clause
    (3, "merge"),                    # fewer shoulds than msm → empty
    (4, "+data"),                    # must-only, ZERO shoulds → MatchNoDocs
]


def test_min_should_match_matches_generated_oracle(spark, sf_dir):
    """Indexed executor under msm=2 (WAND fast path bypassed — WAND
    answers the msm<=1 disjunction) vs the generated DuckDB oracle."""
    got = _indexed_vs_oracle(
        spark, sf_dir, "min_should_match", _MSM_QUERIES, min_should_match=2
    )
    assert not (got.query_id == 3).any()  # unsatisfiable → no rows
    assert not (got.query_id == 4).any()  # must-only + msm → MatchNoDocs


def test_min_should_match_indexed_rank_identical(spark, sf_dir, relayout_index):
    """Index-layout rank identity under msm=2 (WAND fast path bypassed
    — WAND answers the msm<=1 disjunction)."""
    _indexed_rank_identical(
        spark, sf_dir, relayout_index, _MSM_QUERIES, min_should_match=2
    )
