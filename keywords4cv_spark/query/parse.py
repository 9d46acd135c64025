"""Lucene-lite query-string parser + executor — the search front door.

Compiles a user-facing query string onto the engine's existing
retrieval primitives, one clause per whitespace-separated token:

=============  =====================================================
syntax         meaning
=============  =====================================================
``term``       SHOULD term (scores, and is a candidate source when
               the query has no MUST clauses)
``+term``      MUST term (filters AND scores)
``-term``      MUST_NOT term (filters only)
``"a b"``      exact phrase (adjacent positions); ``~N`` suffix
               allows slop N (ordered proximity, reachability DP)
``pre*``       prefix expansion over the dictionary (Lucene
               PrefixQuery; capped at ``max_expansions``,
               lexicographically-first terms)
``te*t``       wildcard expansion (``*`` = any run, ``?`` = one
               char, any position incl. leading; Lucene
               WildcardQuery; capped like prefix). A trailing-star
               pattern with no other wildcard stays a prefix clause
               (range-prunable); other patterns scan the dictionary
               (|V|-bounded, never postings) with the literal prefix,
               when present, pushed down for rowgroup pruning
``term~``      fuzzy expansion, levenshtein distance ≤ 2 (``~1`` for
               distance 1; Lucene FuzzyQuery; capped at
               ``fuzzy_max_expansions`` by (distance, df desc, term))
``/re.ex/``    regexp expansion (Lucene RegexpQuery): the pattern is
               anchored (must match the ENTIRE term) and evaluated
               over the dictionary only, with the pattern's literal
               prefix, when present, pushed down for rowgroup
               pruning; capped like prefix. Write patterns in the
               normalized term alphabet (lowercase); stick to the
               Java-regex ∩ RE2 common subset (classes, alternation,
               quantifiers — no backrefs/lookaround), which is what
               the DuckDB oracle can mirror
=============  =====================================================

Matching is Lucene BooleanQuery semantics: a doc is a candidate iff
it matches EVERY must clause, or — when the query has no must
clauses — at least one should clause; docs matching any must_not
clause are excluded. Scoring is the BM25 sum over the doc's matched
scoring terms (should + must literals plus every expanded dictionary
term, deduplicated per query — Lucene's scoring-BooleanQuery
rewrite), ranked by the engine-wide (round(score, 6) DESC, doc_id)
rule. Phrases are filter-only (constant-score) BY DEFAULT; passing
``score_phrases=True`` to the executor (and the oracle generator)
scores each non-negated phrase clause as a synthetic term — BM25 with
tf = its occurrence count (distinct reachable chain END positions,
proximity_search's n_occurrences semantics) and df = docs containing
the phrase — Lucene PhraseQuery scoring with an exact count in place
of sloppyFreq's 1/(distance+1) weighting, the one deliberate
divergence (documented; an exact count is reproducible in SQL, the
reciprocal-distance sum is not order-free under round(·,6)).

Scale shape: the parsed clause set is query-bounded and broadcast
everywhere; the executor reads the committed index, never the corpus
text — postings are decoded only for the clause terms, and one
broadcast-hash join keys them to the expanded clause-term table.
Prefix/wildcard/regexp/fuzzy expansion is dictionary work only (|V|-bounded range /
length-band scans — never a postings pass), identical to
``prefix_query`` / ``term_suggest_fuzzy``. Phrase clauses run on the
positional index through `query/phrase.py`'s reachability DP.
The generated DuckDB oracle (``query_string_oracle``) is the one
reference the executor is tested against.

Semantic lineage: generalizes the reference's whitelist/boolean term
filtering (/root/reference/keywords4cv.py:962-997) and fuzzy
matching (keywords4cv.py:1080-1132) into the standard search-engine
query language; no reference code is used.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from keywords4cv_spark.config import DEFAULT_CONFIG, EngineConfig
from keywords4cv_spark.session import local_rows
from keywords4cv_spark.query.bm25 import bm25_score_col, rank_topk
from keywords4cv_spark.query.fixtures import TOP_K
from keywords4cv_spark.textprep.normalize import normalize_text, tokenize

MAX_EXPANSIONS = 64
FUZZY_MAX_EXPANSIONS = 16
FUZZY_MAX_DIST = 2

SHOULD, MUST, MUST_NOT = "should", "must", "must_not"
_OCCUR = {"": SHOULD, "+": MUST, "-": MUST_NOT}


@dataclass(frozen=True)
class Clause:
    occur: str  # should | must | must_not
    kind: str  # term | phrase | prefix | wildcard | regexp | fuzzy | filter | range
    terms: tuple[str, ...]  # normalized; len >= 2 only for phrase
    slop: int = 0  # phrase only
    dist: int = FUZZY_MAX_DIST  # fuzzy only
    boost: float = 1.0  # term/prefix/wildcard/regexp/fuzzy (phrases are filter-only)
    field: str | None = None  # filter/range only
    lo: float | None = None  # range only (None = unbounded)
    hi: float | None = None  # range only


_CLAUSE_RE = re.compile(
    r'([+-]?)'
    r'(?:"([^"]*)"(?:~(\d+))?(?:\^(\d+(?:\.\d+)?))?'  # phrase [~slop][^boost]
    r"|(\w+):\[([^\]]*)\]"  #                            field:[lo TO hi]
    r"|/((?:[^/\\]|\\.)*)/(?:\^(\d+(?:\.\d+)?))?"  #     /regexp/ [^boost]
    r"|(\S+))"  #                                        bare token
)
_FUZZY_RE = re.compile(r"^(.*?)~(\d*)$")
_BOOST_RE = re.compile(r"^(.*?)\^(\d+(?:\.\d+)?)$")
_FIELD_RE = re.compile(r"^(\w+):(\S+)$")


def _range_bound(tok: str) -> float | None:
    return None if tok == "*" else float(tok)


def _wildcard_pattern(raw: str) -> str:
    """Normalize a wildcard token: literal segments go through the
    engine tokenizer's fold (so they match indexed terms exactly),
    wildcard chars survive in place, `*` runs collapse. Returns ""
    (caller drops the clause) when no literal text remains — a pure
    `*`/`?` pattern is Lucene's MatchAll/ambiguous case, out of scope.
    Dictionary terms never contain SQL-LIKE metacharacters (`%`/`_`
    are outside the tokenizer alphabet), so the LIKE translation in
    the executor needs no escape handling."""
    parts = re.split(r"([*?])", raw)
    folded = [
        p if p in ("*", "?") else normalize_text(p).replace(" ", "")
        for p in parts
    ]
    pattern = re.sub(r"\*+", "*", "".join(folded))
    return pattern if pattern.strip("*?") else ""


_REGEX_METAS = set(".^$*+?{}[]|()\\")


def _regex_atoms(pat: str):
    """The atoms of a regex: every escape (inside character classes
    too) as its two characters, each whole character class as "[]",
    any other character as itself. Inside a class ``(``, ``|`` and
    ``?`` are literals, so classes are one atom, not group syntax. A
    leading ``^`` and a ``]`` right after it are class literals; the
    class ends at the next unescaped ``]``. A class holding an
    unescaped ``[`` or ``&&`` is the atom "[&&]": java.util.regex reads
    those as class union / intersection, RE2 as literals."""
    i = 0
    while i < len(pat):
        if pat[i] == "\\":
            yield pat[i : i + 2]
            i += 2
        elif pat[i] == "[":
            i += 1
            if pat[i : i + 1] == "^":
                i += 1
            if pat[i : i + 1] == "]":
                i += 1
            set_ops = False
            while i < len(pat) and pat[i] != "]":
                if pat[i] == "\\":
                    yield pat[i : i + 2]
                    i += 1
                elif pat[i] == "[" or pat[i : i + 2] == "&&":
                    set_ops = True
                i += 1
            yield "[&&]" if set_ops else "[]"
            i += 1
        else:
            yield pat[i]
            i += 1


def _non_portable(pat: str) -> bool:
    """Constructs outside the java.util.regex ∩ RE2 common subset: a
    backreference (\\1..\\9), a (?...) group that is not the plain
    non-capturing (?:...) — covers lookaround (?= (?! (?<= (?<!, named
    groups (?P<x>/(?<x>), flags, conditionals, atomic groups — and a
    character class with a nested class or ``&&`` (``[a[b]]``,
    ``[a-z&&[^b]]``: java's union / intersection, RE2's literals)."""
    atoms = list(_regex_atoms(pat))
    for i, a in enumerate(atoms):
        if a == "[&&]":
            return True
        if len(a) == 2 and a[0] == "\\" and a[1] in "123456789":
            return True
        nxt = atoms[i + 1 : i + 3]
        if a == "(" and nxt[:1] == ["?"] and nxt[1:] != [":"]:
            return True
    return False


def _regexp_literal_prefix(pat: str) -> str:
    """Longest prefix of ``pat`` every match must start with: the run
    of literal characters before the first regex metacharacter. The
    run's last character is excluded when the stopping metachar is a
    may-match-zero quantifier (``*``, ``?``, ``{``) — ``ab*c`` matches
    "ac", so only "a" is a safe pruning prefix — but kept for ``+``
    (at-least-once). A top-level unescaped ``|`` anywhere makes ANY
    prefix unsound (``merge|join`` also matches "join…"), so the
    prefix collapses to "" — alternations inside groups already stop
    the scan at the ``(``. Character classes are one atom
    (``_regex_atoms``), not counted as group depth. Used
    ONLY to prune the dictionary scan; the anchored pattern still
    decides membership."""
    depth = 0
    for a in _regex_atoms(pat):
        if a == "(":
            depth += 1
        elif a == ")":
            depth = max(0, depth - 1)
        elif a == "|" and depth == 0:
            return ""
    i = 0
    while i < len(pat) and pat[i] not in _REGEX_METAS:
        i += 1
    if i < len(pat) and pat[i] in "*?{" and i > 0:
        i -= 1
    return pat[:i]


def parse_query(q: str) -> list[Clause]:
    """Query string → clause list; terms go through the engine
    tokenizer so they fold exactly like indexed text. Clauses whose
    text normalizes away entirely are dropped; a quoted phrase that
    folds to one token degrades to a term clause; a bare token that
    folds to several (e.g. ``foo-bar``) becomes an exact phrase.

    Field clauses — ``field:value`` (exact attribute match) and
    ``field:[lo TO hi]`` (numeric range, ``*`` = unbounded) — are
    Lucene filter context: non-scoring, coerced to MUST (``-`` makes
    them MUST_NOT; a bare filter never scores). ``^N`` boosts a
    term/prefix/wildcard/regexp/fuzzy clause's score contribution (parsed-but-inert on
    phrases, which are filter-only here)."""
    clauses: list[Clause] = []
    for m in _CLAUSE_RE.finditer(q):
        occur = _OCCUR[m.group(1)]
        if m.group(2) is not None:  # quoted phrase [~slop][^boost]
            terms = tuple(tokenize(m.group(2)))
            slop = int(m.group(3) or 0)
            boost = float(m.group(4) or 1.0)
            if not terms:
                continue
            if len(terms) == 1:
                clauses.append(Clause(occur, "term", terms, boost=boost))
            else:
                clauses.append(Clause(occur, "phrase", terms, slop=slop, boost=boost))
            continue
        if m.group(5) is not None:  # field:[lo TO hi]
            parts = m.group(6).split()
            if len(parts) == 3 and parts[1].upper() == "TO":
                try:
                    lo, hi = _range_bound(parts[0]), _range_bound(parts[2])
                except ValueError:
                    continue
                clauses.append(
                    Clause(
                        MUST_NOT if occur == MUST_NOT else MUST,
                        "range",
                        (),
                        field=m.group(5),
                        lo=lo,
                        hi=hi,
                    )
                )
            continue
        if m.group(7) is not None:  # /regexp/ [^boost]
            pat = m.group(7)
            boost = float(m.group(8) or 1.0)
            # the pattern executes on BOTH java.util.regex (Spark RLIKE)
            # and RE2 (DuckDB regexp_full_match): constructs outside
            # their common subset — backreferences, lookaround, named
            # groups — would throw at JOB time on one engine instead of
            # parse time, and class set operations match differently;
            # drop them like other malformed clauses (Lucene
            # RegexpQuery supports none of these either)
            if _non_portable(pat):
                continue
            try:
                re.compile(pat)
            except re.error:
                continue  # malformed pattern: drop the clause (Lucene throws)
            if pat and pat.strip(".*?+()"):
                clauses.append(Clause(occur, "regexp", (pat,), boost=boost))
            continue
        raw = m.group(9)
        bm = _BOOST_RE.match(raw)
        boost = 1.0
        if bm and bm.group(1):
            raw, boost = bm.group(1), float(bm.group(2))
        fm = _FIELD_RE.match(raw)
        if fm:
            clauses.append(
                Clause(
                    MUST_NOT if occur == MUST_NOT else MUST,
                    "filter",
                    (fm.group(2),),
                    field=fm.group(1),
                )
            )
            continue
        if ("*" in raw or "?" in raw) and len(raw) > 1:
            if raw.endswith("*") and "*" not in raw[:-1] and "?" not in raw:
                # simple trailing star: PrefixQuery (term-range prunable)
                prefix = normalize_text(raw[:-1]).replace(" ", "")
                if prefix:
                    clauses.append(Clause(occur, "prefix", (prefix,), boost=boost))
            else:
                pattern = _wildcard_pattern(raw)
                if pattern:
                    clauses.append(Clause(occur, "wildcard", (pattern,), boost=boost))
            continue
        fm2 = _FUZZY_RE.match(raw)
        if fm2 and fm2.group(1):
            base = tokenize(fm2.group(1))
            if base:
                dist = min(int(fm2.group(2) or FUZZY_MAX_DIST), FUZZY_MAX_DIST)
                clauses.append(
                    Clause(occur, "fuzzy", (base[0],), dist=dist, boost=boost)
                )
            continue
        terms = tuple(tokenize(raw))
        if not terms:
            continue
        if len(terms) == 1:
            clauses.append(Clause(occur, "term", terms, boost=boost))
        else:
            clauses.append(Clause(occur, "phrase", terms, boost=boost))
    return clauses


def wand_eligible_qids(parsed: dict[int, list[Clause]]) -> list[int]:
    """Queries whose every clause is a scoring SHOULD term/prefix/fuzzy
    — the pure-disjunctive shape Block-Max WAND answers directly."""
    return [
        qid
        for qid, cs in parsed.items()
        if cs
        and all(
            c.occur == SHOULD
            and c.kind in ("term", "prefix", "wildcard", "regexp", "fuzzy")
            for c in cs
        )
    ]


def _clause_terms(
    spark: SparkSession,
    dictionary: DataFrame,
    parsed: dict[int, list[Clause]],
    max_expansions: int,
    fuzzy_max_expansions: int,
) -> DataFrame | None:
    """Dictionary-expanded clause terms of the prefix/wildcard/regexp/
    fuzzy clauses: (query_id, clause_id, occur, term, *dictionary
    columns, boost); None when no clause expands. Literal term clauses
    resolve through the driver-memoized ``lookup_terms`` probe instead.

    ``dictionary`` must carry (term, df) and may carry more (term_id in
    the indexed path); extra columns ride through. Expansion windows
    are per-clause and capped: prefix/wildcard/regexp by lexicographic
    term order, fuzzy by (distance, df desc, term) — Lucene's
    maxExpansions discipline, dictionary work only. All four expansion
    kinds share ONE dictionary scan and ONE ranking window (a
    kind-tagged broadcast join whose sort key degenerates to plain term
    order for non-fuzzy rows); the per-kind shape this replaces paid a
    dictionary scan + window exchange PER KIND per call, which at the
    local-mode scheduling floor was the bulk of the query-string probe
    cost.
    """
    extra = [c for c in dictionary.columns if c != "term"]
    out_cols = ["query_id", "clause_id", "occur", "term", *extra, "boost"]

    exp_rows = []
    for qid, cs in parsed.items():
        for cid, c in enumerate(cs):
            if c.kind == "prefix":
                exp_rows.append(
                    (qid, cid, c.occur, "prefix", None, c.terms[0], None, 0, c.boost)
                )
            elif c.kind == "wildcard":
                # LIKE translation + the literal prefix (may be "") —
                # terms contain no %/_ so the translation is
                # collision-free (see _wildcard_pattern)
                exp_rows.append(
                    (
                        qid,
                        cid,
                        c.occur,
                        "wildcard",
                        None,
                        re.split(r"[*?]", c.terms[0])[0],
                        c.terms[0].replace("*", "%").replace("?", "_"),
                        0,
                        c.boost,
                    )
                )
            elif c.kind == "regexp":
                # anchored: Lucene RegexpQuery matches the ENTIRE term
                # (Java Matcher.matches() / DuckDB regexp_full_match)
                exp_rows.append(
                    (
                        qid,
                        cid,
                        c.occur,
                        "regexp",
                        None,
                        _regexp_literal_prefix(c.terms[0]),
                        "^(?:" + c.terms[0] + ")$",
                        0,
                        c.boost,
                    )
                )
            elif c.kind == "fuzzy":
                exp_rows.append(
                    (qid, cid, c.occur, "fuzzy", c.terms[0], None, None, c.dist, c.boost)
                )
    if not exp_rows:
        return None
    edf = local_rows(
        spark,
        exp_rows,
        "query_id long, clause_id long, occur string, kind string,"
        " probe string, pre string, pat string, dist int, boost double",
    )
    kind = F.col("kind")
    cond = (
        ((kind == "prefix") & F.col("term").startswith(F.col("pre")))
        | (
            (kind == "wildcard")
            & F.col("term").startswith(F.col("pre"))
            & F.expr("term LIKE pat")
        )
        | (
            (kind == "regexp")
            & F.col("term").startswith(F.col("pre"))
            & F.expr("term RLIKE pat")
        )
        | (
            (kind == "fuzzy")
            & (F.abs(F.length("term") - F.length("probe")) <= F.col("dist"))
        )
    )
    j = (
        dictionary.join(F.broadcast(edf), cond)
        .withColumn(
            "_dist",
            F.when(kind == "fuzzy", F.levenshtein("probe", "term")).otherwise(
                F.lit(0)
            ),
        )
        .filter((kind != "fuzzy") | (F.col("_dist") <= F.col("dist")))
    )
    # one window for every kind: non-fuzzy rows sort (0, 0, term) ==
    # plain term order; fuzzy rows sort (distance, -df, term) — the
    # exact per-kind orders (and caps) of the per-kind windows this
    # folds together
    w = Window.partitionBy("query_id", "clause_id").orderBy(
        F.when(kind == "fuzzy", F.col("_dist")).otherwise(F.lit(0)).asc(),
        F.when(kind == "fuzzy", -F.col("df")).otherwise(F.lit(0)).asc(),
        F.col("term").asc(),
    )
    cap = F.when(kind == "fuzzy", F.lit(fuzzy_max_expansions)).otherwise(
        F.lit(max_expansions)
    )
    return (
        j.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= cap)
        .select(*out_cols)
    )


def _boolean_rank(
    spark: SparkSession,
    parsed: dict[int, list[Clause]],
    hits: DataFrame,
    scored: DataFrame,
    k: int,
    attrs: DataFrame | None = None,
    min_should_match: int = 0,
) -> DataFrame:
    """Lucene BooleanQuery candidate algebra + final ranking.
    ``hits`` is (query_id, clause_id, occur, doc_id)
    for TERM-LIKE clauses (term/phrase/prefix/fuzzy); ``scored`` is
    (query_id, doc_id, score); ``attrs`` is the doc-attribute relation
    (doc_id + attribute columns — the doc-values analog) required when
    any query has filter/range clauses.

    Filter clauses follow Lucene filter-context semantics: positive
    filters select candidates directly from a pushed-down attribute
    scan (one predicate-conjunction pass per query — a filter-only
    query matches every attribute-matching doc at constant score, and
    when filters coexist with term-like SHOULD clauses
    minimumShouldMatch drops to 0, so the filter alone defines the
    candidate set); term-like MUSTs intersect with the filter set;
    negative filters exclude like must_not terms.

    ``min_should_match`` is Lucene's BooleanQuery knob: a doc must
    match at least that many DISTINCT should clauses, in addition to
    every must/filter constraint. 0 is the Lucene default (should-only
    queries still need ≥1 to be candidates at all); a query with fewer
    should clauses than the threshold matches nothing. Scoring is
    untouched — the knob decides candidacy only.
    """
    termlike = {"term", "phrase", "prefix", "wildcard", "regexp", "fuzzy"}
    if min_should_match > 0:
        # Lucene rewrites a BooleanQuery whose minimumShouldMatch
        # exceeds its optional-clause count to MatchNoDocsQuery — a
        # must-only query under msm >= 1 matches nothing. Drop such
        # queries from candidacy entirely (queries WITH should clauses
        # but fewer than msm already die at the n_s >= msm filter).
        parsed = {
            qid: cs
            for qid, cs in parsed.items()
            if sum(1 for c in cs if c.occur == SHOULD and c.kind in termlike)
            >= min_should_match
        }

    def _pred(cs: list[Clause], positive: bool) -> F.Column | None:
        """Conjunction (positive) / disjunction (negative) of a query's
        attribute predicates; None when it has none."""
        conds = []
        for c in cs:
            if c.kind not in ("filter", "range"):
                continue
            if (c.occur == MUST_NOT) == positive:
                continue
            if c.field not in attrs.columns:
                raise ValueError(f"unknown filter field: {c.field!r}")
            if c.kind == "filter":
                cond = F.col(c.field).cast("string") == F.lit(c.terms[0])
            else:
                v = F.col(c.field).cast("double")
                cond = F.lit(True)
                if c.lo is not None:
                    cond = cond & (v >= F.lit(c.lo))
                if c.hi is not None:
                    cond = cond & (v <= F.lit(c.hi))
            conds.append(F.coalesce(cond, F.lit(False)))
        if not conds:
            return None
        out = conds[0]
        for cnd in conds[1:]:
            out = (out & cnd) if positive else (out | cnd)
        return out

    n_must = {
        qid: sum(1 for c in cs if c.occur == MUST and c.kind in termlike)
        for qid, cs in parsed.items()
    }
    has_pos_filter = {
        qid: any(
            c.kind in ("filter", "range") and c.occur != MUST_NOT for c in cs
        )
        for qid, cs in parsed.items()
    }
    must_qids = [q for q, n in n_must.items() if n > 0]
    should_qids = [
        qid
        for qid, cs in parsed.items()
        if n_must[qid] == 0
        and not has_pos_filter[qid]
        and any(c.occur == SHOULD and c.kind in termlike for c in cs)
    ]

    must_ok = None
    if must_qids:
        nm = local_rows(
            spark, [(q, n_must[q]) for q in must_qids], "query_id long, n_must long"
        )
        must_ok = (
            hits.filter(F.col("occur") == MUST)
            .groupBy("query_id", "doc_id")
            .agg(F.countDistinct("clause_id").alias("n_hit"))
            .join(F.broadcast(nm), "query_id")
            .filter(F.col("n_hit") == F.col("n_must"))
            .select("query_id", "doc_id")
        )

    msm = max(int(min_should_match), 0)
    scounts = None
    if msm > 0:
        scounts = (
            hits.filter(F.col("occur") == SHOULD)
            .groupBy("query_id", "doc_id")
            .agg(F.countDistinct("clause_id").alias("n_s"))
        )
    # queries whose must/filter candidates additionally owe >= msm
    # distinct should matches (Lucene: msm applies on top of musts)
    msm_qids = (
        {
            qid
            for qid, cs in parsed.items()
            if (n_must[qid] > 0 or has_pos_filter[qid])
            and any(c.occur == SHOULD and c.kind in termlike for c in cs)
        }
        if msm > 0
        else set()
    )
    msm_ok = (
        scounts.filter(F.col("n_s") >= msm).select("query_id", "doc_id")
        if msm_qids
        else None
    )

    cand_parts: list[DataFrame] = []
    neg_parts: list[DataFrame] = []
    # must-only queries without attribute filters share ONE bulk branch:
    # the per-qid loop below would re-execute the must_ok subtree once
    # per query (filters/msm still get their per-query branches)
    bulk_must = [
        q
        for q in must_qids
        if not has_pos_filter[q] and q not in msm_qids
    ]
    if bulk_must:
        fc = must_ok
        if len(bulk_must) < len(must_qids):
            fc = must_ok.filter(F.col("query_id").isin(bulk_must))
        cand_parts.append(fc)
    for qid, cs in parsed.items():
        pos = _pred(cs, positive=True) if has_pos_filter[qid] else None
        fcand = None
        if pos is not None:
            fcand = attrs.filter(pos).select(
                F.lit(qid).cast("long").alias("query_id"), "doc_id"
            )
            if n_must[qid] > 0:
                # term-like MUSTs ∩ filter set; the must side is
                # hit-bounded, so it drives the join
                fcand = must_ok.filter(F.col("query_id") == qid).join(
                    fcand.select("query_id", "doc_id"), ["query_id", "doc_id"]
                )
        elif n_must[qid] > 0 and qid not in bulk_must:
            fcand = must_ok.filter(F.col("query_id") == qid)
        if fcand is not None:
            if qid in msm_qids:
                fcand = fcand.join(msm_ok, ["query_id", "doc_id"])
            cand_parts.append(fcand)
        neg = _pred(cs, positive=False)
        if neg is not None:
            neg_parts.append(
                attrs.filter(neg).select(
                    F.lit(qid).cast("long").alias("query_id"), "doc_id"
                )
            )
    if should_qids:
        if msm > 1:
            cand_parts.append(
                scounts.filter(
                    F.col("query_id").isin(should_qids)
                    & (F.col("n_s") >= msm)
                ).select("query_id", "doc_id")
            )
        else:
            cand_parts.append(
                hits.filter(
                    (F.col("occur") == SHOULD)
                    & F.col("query_id").isin(should_qids)
                )
                .select("query_id", "doc_id")
                .distinct()
            )
    if not cand_parts:
        return spark.createDataFrame(
            [], "query_id long, rank int, doc_id long, score double"
        )
    cand = cand_parts[0]
    for p in cand_parts[1:]:
        cand = cand.unionByName(p)
    cand = cand.distinct()

    not_hits = (
        hits.filter(F.col("occur") == MUST_NOT)
        .select("query_id", "doc_id")
        .distinct()
    )
    for np_ in neg_parts:
        not_hits = not_hits.unionByName(np_)
    final = (
        cand.join(not_hits, ["query_id", "doc_id"], "left_anti")
        .join(scored, ["query_id", "doc_id"], "left")
        .withColumn("score", F.coalesce(F.col("score"), F.lit(0.0)))
    )
    return rank_topk(final, k)


def _decode_postings(spark, index, term_ids) -> DataFrame:
    """Decode the posting blocks of the given term_ids → (term_id,
    doc_id, tf, dl): the IndexTables postings reader, then one
    mapInPandas pass that decodes payloads per block but emits ONE
    concatenated frame per Arrow batch — no per-row Python. Cost
    scales with the postings of the requested terms, never the corpus.
    """
    from keywords4cv_spark.index.codec import decode_block

    blocks = index.postings_for(spark, [(t,) for t in sorted({int(t) for t in term_ids})])
    if blocks is None:
        return spark.createDataFrame(
            [], "term_id long, doc_id long, tf long, dl long"
        )

    def explode(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            decoded = [
                decode_block(p, int(n), int(fd))
                for p, n, fd in zip(pdf["payload"], pdf["n"], pdf["first_doc"])
            ]
            sizes = np.array([d.size for d, _, _ in decoded], dtype=np.int64)
            yield pd.DataFrame(
                {
                    "term_id": np.repeat(pdf["term_id"].to_numpy(np.int64), sizes),
                    "doc_id": np.concatenate([d for d, _, _ in decoded]).astype("int64"),
                    "tf": np.concatenate([t for _, t, _ in decoded]).astype("int64"),
                    "dl": np.concatenate([l for _, _, l in decoded]).astype("int64"),
                }
            )

    return blocks.mapInPandas(
        explode, "term_id long, doc_id long, tf long, dl long"
    )


def _indexed_phrases(
    spark: SparkSession,
    index,
    pos_index,
    parsed: dict[int, list[Clause]],
    cfg: EngineConfig,
    score_phrases: bool,
    empty_hits: DataFrame,
) -> tuple[DataFrame, DataFrame | None]:
    """Phrase-clause execution against the positional index: hit rows
    (query_id, clause_id, occur, doc_id) and — when ``score_phrases`` —
    per-(query, doc, phrase) BM25 detail rows (term = the phrase
    string, tf = n_occurrences, df = docs containing the phrase,
    boost, score), one row per scoring clause. The detail derives from
    the SAME proximity_search output the hit filter materializes —
    phrase scoring adds no extra positional pass."""
    from keywords4cv_spark.query.phrase import proximity_search

    phrase_clauses = [
        (qid, cid, c)
        for qid, cs in parsed.items()
        for cid, c in enumerate(cs)
        if c.kind == "phrase"
    ]
    phits = empty_hits
    pdetail = None
    if not phrase_clauses:
        return phits, None
    # ONE positional pass for every phrase clause via per-phrase slops
    # (proximity_search's ``slops``) — one decode + one applyInPandas
    # stage instead of one per distinct slop. Only the degenerate case
    # of the SAME phrase text under two different slops (ambiguous key)
    # falls back to per-slop groups.
    phrase_slops: dict[str, int] = {}
    collision = False
    for _, _, c in phrase_clauses:
        ph = " ".join(c.terms)
        if phrase_slops.setdefault(ph, c.slop) != c.slop:
            collision = True
            break
    if not collision:
        by_slop = {-1: phrase_clauses}
    else:
        by_slop = {}
        for qid, cid, c in phrase_clauses:
            by_slop.setdefault(c.slop, []).append((qid, cid, c))
    for slop, group in by_slop.items():
        phrases = sorted({" ".join(c.terms) for _, _, c in group})
        if slop < 0:
            matched = proximity_search(
                spark, pos_index, phrases, slops=phrase_slops
            )
        else:
            matched = proximity_search(spark, pos_index, phrases, slop=slop)
        if score_phrases:
            # eager checkpoint, not persist: phits, pdetail AND the
            # explain consumer all read the materialized relation
            # (candidate-bounded rows), and no cache handle outlives
            # the call — persist() handles accumulated across a long
            # session's explain calls
            matched = matched.localCheckpoint()
        cmap = local_rows(
            spark,
            [(qid, cid, c.occur, " ".join(c.terms)) for qid, cid, c in group],
            "query_id long, clause_id long, occur string, phrase string",
        )
        phits = phits.unionByName(
            matched.join(F.broadcast(cmap), "phrase").select(
                "query_id", "clause_id", "occur", "doc_id"
            )
        )
        if score_phrases:
            # per-phrase df from the match relation; dl from docmeta;
            # one synthetic-term BM25 contribution per scoring clause
            srow = index.stats_row()
            bmap = local_rows(
                spark,
                [
                    (qid, " ".join(c.terms), c.boost)
                    for qid, cid, c in group
                    if c.occur != MUST_NOT
                ],
                "query_id long, phrase string, boost double",
            )
            pdfs = matched.groupBy("phrase").agg(
                F.count("*").cast("long").alias("df")
            )
            det = (
                matched.join(F.broadcast(bmap), "phrase")
                .join(F.broadcast(pdfs), "phrase")
                .join(index.docmeta.select("doc_id", "dl"), "doc_id")
                .withColumn("tf", F.col("n_occurrences"))
                .withColumn("n_docs", F.lit(int(srow["n_docs"])))
                .withColumn("avgdl", F.lit(float(srow["avgdl"])))
                .select(
                    "query_id",
                    "doc_id",
                    F.col("phrase").alias("term"),
                    F.col("tf").cast("long").alias("tf"),
                    F.col("df").cast("long").alias("df"),
                    "boost",
                    (bm25_score_col(cfg) * F.col("boost")).alias("score"),
                )
            )
            pdetail = det if pdetail is None else pdetail.unionByName(det)
    return phits, pdetail


def search_query_strings_indexed(
    spark: SparkSession,
    index,
    pos_index,
    queries: list[tuple[int, str]],
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    max_expansions: int = MAX_EXPANSIONS,
    fuzzy_max_expansions: int = FUZZY_MAX_EXPANSIONS,
    doc_attrs: DataFrame | None = None,
    score_phrases: bool = False,
    min_should_match: int = 0,
) -> DataFrame:
    """Parse + execute query strings → (query_id, rank, doc_id, score).

    Every leaf relation reads the compressed index: clause expansion
    probes the dictionary table, scoring/filter hits come from a
    bucket-pruned posting-block decode of ONLY the clause terms (dl
    rides in the payload, df in the dictionary, n_docs/avgdl from the
    one-row stats), and phrase clauses run against the positional
    index via the reachability DP in query/phrase.py.

    ``score_phrases`` lifts the filter-only phrase simplification:
    each non-negated phrase clause contributes BM25 with tf = its
    occurrence count (proximity_search's n_occurrences) and df = the
    number of docs containing the phrase, scaled by the clause boost.
    Default off: the gated query_string_search result is unchanged.
    ``doc_attrs`` is the doc-attribute relation filter/range clauses
    probe (default: the index's docmeta). Value-level equal to the
    generated DuckDB oracle (pinned in tests/test_query_parse.py);
    query cost scales with the postings of the query terms, never the
    corpus.
    """
    return _indexed_search(
        spark,
        index,
        pos_index,
        queries,
        cfg,
        k,
        max_expansions,
        fuzzy_max_expansions,
        doc_attrs,
        score_phrases,
        min_should_match,
    )[0]


def search_with_snippets(
    spark: SparkSession,
    index,
    pos_index,
    queries: list[tuple[int, str]],
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    width: int = 8,
    max_expansions: int = MAX_EXPANSIONS,
    fuzzy_max_expansions: int = FUZZY_MAX_EXPANSIONS,
    doc_attrs: DataFrame | None = None,
    score_phrases: bool = False,
    min_should_match: int = 0,
) -> DataFrame:
    """The full search response: indexed query-string retrieval plus a
    highlighted snippet per hit — (query_id, rank, doc_id, score,
    win_start, n_terms). Highlight terms are the query's scoring terms
    (literals + prefix/wildcard/regexp/fuzzy expansions); the window picker reads ONLY
    the hit docs' position streams from the positional index
    (query/snippets.py), so highlighting cost is k·|queries|-bounded.
    Hits whose clauses are all phrases/must_nots have no highlight
    terms and keep null snippet columns. ``score_phrases`` changes
    ranking only (phrase-frequency BM25); highlight terms stay the
    expanded scoring terms.
    """
    from keywords4cv_spark.query.snippets import snippet_windows_for_hits

    ranked, cterm_rows, _pdetail = _indexed_search(
        spark,
        index,
        pos_index,
        queries,
        cfg,
        k,
        max_expansions,
        fuzzy_max_expansions,
        doc_attrs,
        score_phrases,
        min_should_match,
    )
    if not cterm_rows:
        return (
            ranked.withColumn("win_start", F.lit(None).cast("long"))
            .withColumn("n_terms", F.lit(None).cast("int"))
        )
    qterms = [
        (int(r["query_id"]), r["term"]) for r in cterm_rows if r["occur"] != MUST_NOT
    ]
    snips = snippet_windows_for_hits(spark, pos_index, ranked, qterms, width=width)
    return ranked.join(snips, ["query_id", "doc_id"], "left")


_CTERM_SCHEMA = (
    "query_id long, clause_id long, occur string, term string,"
    " term_id long, df long, boost double"
)


def _indexed_search(
    spark: SparkSession,
    index,
    pos_index,
    queries: list[tuple[int, str]],
    cfg: EngineConfig,
    k: int,
    max_expansions: int,
    fuzzy_max_expansions: int,
    doc_attrs: DataFrame | None = None,
    score_phrases: bool = False,
    min_should_match: int = 0,
) -> tuple[DataFrame, list, DataFrame | None]:
    from keywords4cv_spark.query.wand import bm25_wand

    parsed = {qid: parse_query(s) for qid, s in queries}

    dictionary = index.dictionary.select("term", "term_id", "df")
    empty_hits = spark.createDataFrame(
        [], "query_id long, clause_id long, occur string, doc_id long"
    )
    # The expanded clause-term relation is expansion-capped by
    # construction (≤ max_expansions·|clauses| rows): materialize it
    # driver-side ONCE. Every downstream consumer — the WAND triples,
    # the decode term/bucket pruning, the broadcast hit join — reuses
    # the local rows instead of re-executing the dictionary-probe
    # subtree per use (it used to run 3+ times per call: once for the
    # triples collect, once for the bucket collect, once inside the
    # posting join), and the probe collapses to one Spark job per call.
    # Literal term clauses resolve through the driver-memoized
    # lookup_terms probe (ZERO Spark jobs once warm — Lucene's
    # in-memory term dictionary); only expansion kinds (prefix/
    # wildcard/regexp/fuzzy) run the one-scan dictionary probe.
    CTermRow = Row(
        "query_id", "clause_id", "occur", "term", "term_id", "df", "boost"
    )
    lit = [
        (qid, cid, c.occur, c.terms[0], c.boost)
        for qid, cs in parsed.items()
        for cid, c in enumerate(cs)
        if c.kind == "term"
    ]
    lut = index.lookup_terms([t for _, _, _, t, _ in lit]) if lit else {}
    cterm_rows: list = [
        CTermRow(qid, cid, occ, t, lut[t][0], lut[t][1], b)
        for qid, cid, occ, t, b in lit
        if t in lut
    ]
    exp = _clause_terms(
        spark, dictionary, parsed, max_expansions, fuzzy_max_expansions
    )
    if exp is not None:
        cterm_rows.extend(exp.collect())

    # ---- WAND fast path: pure-disjunctive queries -------------------
    # A query whose every clause is a scoring SHOULD (term/prefix/fuzzy
    # — no musts, nots, phrases or filters) is exactly the Block-Max
    # WAND problem; route it there so the common case gets block-skip
    # pruning instead of a full decode of its terms' postings. Clause
    # boosts map to WAND term weights (both scale idf, and the weight
    # scales the stored block-max bound, so pruning stays exact).
    wand_qids = wand_eligible_qids(parsed) if min_should_match <= 1 else []
    if wand_qids and cterm_rows:
        wand_set = set(wand_qids)
        best: dict[tuple[int, str], float] = {}
        for r in cterm_rows:
            if int(r["query_id"]) in wand_set:
                key = (int(r["query_id"]), r["term"])
                b = float(r["boost"])
                if b > best.get(key, float("-inf")):
                    best[key] = b
        triples = [(qid, t, b) for (qid, t), b in sorted(best.items())]
        ranked_w = bm25_wand(spark, index, cfg, k, queries=triples) if triples else None
        parsed_gen = {q: cs for q, cs in parsed.items() if q not in wand_set}
        gen_rows = [r for r in cterm_rows if int(r["query_id"]) not in wand_set]
        if not any(
            c.kind in ("term", "prefix", "wildcard", "regexp", "fuzzy")
            for cs in parsed_gen.values()
            for c in cs
        ):
            gen_rows = []
    else:
        ranked_w = None
        parsed_gen, gen_rows = parsed, cterm_rows

    if gen_rows:
        # the decoded postings feed both the hit relation and the scoring
        # aggregate; they are not persisted, since the returned frame is
        # lazy and a cache would outlive the call (the decode of the
        # clause terms' pruned blocks is cheap to run once per consumer)
        posts = _decode_postings(
            spark, index, [int(r["term_id"]) for r in gen_rows]
        )
        srow = index.stats_row()
        # per-(query, term) boost dedup across clauses is driver-side
        # arithmetic over the local clause rows — the old plan paid a
        # corpus-hits-sized groupBy for it before the scoring aggregate
        sbest: dict[tuple[int, int], tuple[str, int, float]] = {}
        for r in gen_rows:
            if r["occur"] == MUST_NOT:
                continue
            key = (int(r["query_id"]), int(r["term_id"]))
            b = float(r["boost"])
            if key not in sbest or b > sbest[key][2]:
                sbest[key] = (r["term"], int(r["df"]), b)
        if sbest:
            cterm_score = local_rows(
                spark,
                [
                    (qid, tid, term, df_, b)
                    for (qid, tid), (term, df_, b) in sorted(sbest.items())
                ],
                "query_id long, term_id long, term string, df long, boost double",
            )
            scored = (
                posts.join(F.broadcast(cterm_score), "term_id")
                .withColumn("n_docs", F.lit(int(srow["n_docs"])))
                .withColumn("avgdl", F.lit(float(srow["avgdl"])))
                .withColumn("contrib", bm25_score_col(cfg) * F.col("boost"))
                .groupBy("query_id", "doc_id")
                .agg(F.sum("contrib").alias("score"))
            )
        else:
            scored = spark.createDataFrame(
                [], "query_id long, doc_id long, score double"
            )
        # no distinct here: rows are unique per (query, clause, term,
        # doc) and every consumer in _boolean_rank aggregates with
        # countDistinct / distinct anyway — the dedup was a pure extra
        # shuffle of the hit relation
        cterm_gen = local_rows(spark, gen_rows, _CTERM_SCHEMA)
        thits = posts.join(F.broadcast(cterm_gen), "term_id").select(
            "query_id", "clause_id", "occur", "doc_id"
        )
    else:
        scored = spark.createDataFrame([], "query_id long, doc_id long, score double")
        thits = empty_hits

    # ---- phrase clauses: positional-index proximity search ----------
    phits, pdetail = _indexed_phrases(
        spark, index, pos_index, parsed_gen, cfg, score_phrases, empty_hits
    )
    if pdetail is not None:
        scored = (
            scored.unionByName(pdetail.select("query_id", "doc_id", "score"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum("score").alias("score"))
        )

    hits = thits.unionByName(phits)
    attrs = doc_attrs if doc_attrs is not None else index.docmeta
    ranked = _boolean_rank(
        spark, parsed_gen, hits, scored, k, attrs=attrs,
        min_should_match=min_should_match,
    )
    if ranked_w is not None:
        ranked = ranked.unionByName(ranked_w)
    return ranked, cterm_rows, pdetail


def explain_query_strings(
    spark: SparkSession,
    index,
    pos_index,
    queries: list[tuple[int, str]],
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    max_expansions: int = MAX_EXPANSIONS,
    fuzzy_max_expansions: int = FUZZY_MAX_EXPANSIONS,
    doc_attrs: DataFrame | None = None,
    score_phrases: bool = False,
    min_should_match: int = 0,
) -> DataFrame:
    """Score decomposition for query-string hits — the parser-level
    `explain` API: one row per (query, hit, matched scoring term) with
    tf, df, the clause boost actually applied (max across contributing
    clauses) and the term's boosted contribution, next to the hit's
    total score + rank. The hit set comes from the full boolean
    executor (filters/phrases included); contributions are recomputed
    from the same decode and BROADCAST-joined against the |Q|·k hit
    relation, so the explain adds no extra shuffle and output is
    bounded by |Q|·k·|expanded terms| regardless of corpus size.
    Hits with no scoring terms (phrase/filter-only queries) explain as
    zero rows, matching their constant-score 0.0. With
    ``score_phrases``, scoring phrase clauses explain too — term = the
    phrase string, tf = its occurrence count, df = docs containing it —
    and the per-hit contribution sum still reconstructs the score.
    """
    from keywords4cv_spark.query.bm25 import SCORE_DECIMALS

    ranked, cterm_rows, pdetail = _indexed_search(
        spark,
        index,
        pos_index,
        queries,
        cfg,
        k,
        max_expansions,
        fuzzy_max_expansions,
        doc_attrs,
        score_phrases,
        min_should_match,
    )
    out_schema = (
        "query_id long, rank int, doc_id long, term string, tf long,"
        " df long, boost double, contribution double, score double"
    )
    parts: list[DataFrame] = []
    scoring_rows = [r for r in cterm_rows if r["occur"] != MUST_NOT]
    if scoring_rows:
        scoring = local_rows(spark, scoring_rows, _CTERM_SCHEMA)
        posts = _decode_postings(
            spark, index, [int(r["term_id"]) for r in scoring_rows]
        )
        srow = index.stats_row()
        parts.append(
            posts.join(F.broadcast(scoring), "term_id")
            .groupBy("query_id", "term", "doc_id", "tf", "dl", "df")
            .agg(F.max("boost").alias("boost"))
            .withColumn("n_docs", F.lit(int(srow["n_docs"])))
            .withColumn("avgdl", F.lit(float(srow["avgdl"])))
            .withColumn("contribution", bm25_score_col(cfg) * F.col("boost"))
            .select(
                "query_id", "doc_id", "term",
                F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                "boost", "contribution",
            )
        )
    if score_phrases and pdetail is not None:
        # the SAME relation _indexed_search already built for ranking —
        # re-running _indexed_phrases here executed the positional
        # reachability pass a second time per explain call
        parts.append(
            pdetail.select(
                "query_id", "doc_id", "term", "tf", "df", "boost",
                F.col("score").alias("contribution"),
            )
        )
    if not parts:
        return spark.createDataFrame([], out_schema)
    per_term = parts[0]
    for p in parts[1:]:
        per_term = per_term.unionByName(p)
    return per_term.join(F.broadcast(ranked), ["query_id", "doc_id"]).select(
        "query_id",
        "rank",
        "doc_id",
        "term",
        "tf",
        "df",
        "boost",
        F.round("contribution", SCORE_DECIMALS).alias("contribution"),
        "score",
    )


# ---------------------------------------------------------------------------
# DuckDB oracle generator — the SQL reference for search_query_strings_indexed
# ---------------------------------------------------------------------------


def _phrase_chain_sql(
    terms: tuple[str, ...], slop: int, counts: bool = False
) -> str:
    """Chained DISTINCT-join reachability SQL over a `pos(doc_id, term,
    p)` CTE (same shape as driver_queries._proximity_oracle). With
    ``counts``, yields (doc_id, ptf) — distinct chain END positions per
    doc, the proximity_search occurrence count."""
    gap = 1 + slop
    cur = f"SELECT DISTINCT doc_id, p FROM pos WHERE term = '{terms[0]}'"
    for t in terms[1:]:
        cur = f"""SELECT DISTINCT b.doc_id, b.p
FROM ({cur}) r JOIN pos b
  ON b.doc_id = r.doc_id AND b.term = '{t}'
 AND b.p > r.p AND b.p <= r.p + {gap}"""
    if counts:
        return (
            f"SELECT doc_id, CAST(count(*) AS BIGINT) AS ptf"
            f" FROM ({cur}) GROUP BY doc_id"
        )
    return f"SELECT DISTINCT doc_id FROM ({cur})"


def _attr_pred_sql(cs: list[Clause], positive: bool) -> str | None:
    """SQL twin of `_boolean_rank._pred`: conjunction of a query's
    positive attribute predicates / disjunction of its negative ones.
    NULL attribute values never match (SQL WHERE drops NULL), matching
    the executor's coalesce(·, False)."""
    conds = []
    for c in cs:
        if c.kind not in ("filter", "range"):
            continue
        if (c.occur == MUST_NOT) == positive:
            continue
        if c.kind == "filter":
            conds.append(f"CAST({c.field} AS VARCHAR) = '{c.terms[0]}'")
        else:
            rng = []
            if c.lo is not None:
                rng.append(f"CAST({c.field} AS DOUBLE) >= {c.lo}")
            if c.hi is not None:
                rng.append(f"CAST({c.field} AS DOUBLE) <= {c.hi}")
            conds.append("(" + " AND ".join(rng or ["TRUE"]) + ")")
    if not conds:
        return None
    op = " AND " if positive else " OR "
    return "(" + op.join(conds) + ")"


def query_string_oracle(
    queries: list[tuple[int, str]],
    tf_ctes: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    k: int = TOP_K,
    max_expansions: int = MAX_EXPANSIONS,
    fuzzy_max_expansions: int = FUZZY_MAX_EXPANSIONS,
    attr_sql: str = "SELECT * FROM documents WHERE lang = 'en'",
    score_phrases: bool = False,
    min_should_match: int = 0,
) -> str:
    """Generate the DuckDB SQL equivalent for a fixed query-string set.

    ``tf_ctes`` supplies the `d/dd/tfs/dict/stats` CTE block so the
    oracle scores the exact corpus the Spark side tokenizes;
    ``attr_sql`` the doc-attribute relation filter/range clauses probe
    (the same corpus restriction as the tokenize CTE).
    ``score_phrases`` mirrors the executor's opt-in phrase-frequency
    BM25 scoring (synthetic-term tf = chain END-position count, df =
    docs containing the phrase, clause boost applied);
    ``min_should_match`` mirrors the Lucene candidacy knob.
    """
    parsed = {qid: parse_query(s) for qid, s in queries}
    termlike = {"term", "phrase", "prefix", "wildcard", "regexp", "fuzzy"}

    def row(qid: int, cid: int, occur: str, sel: str) -> str:
        return (
            f"SELECT CAST({qid} AS BIGINT) AS query_id, "
            f"CAST({cid} AS BIGINT) AS clause_id, '{occur}' AS occur, {sel}"
        )

    cterm_parts: list[str] = []
    phits_parts: list[str] = []
    pscored_parts: list[str] = []
    for qid, cs in parsed.items():
        for cid, c in enumerate(cs):
            boost_sel = f"CAST({c.boost} AS DOUBLE) AS boost"
            if c.kind == "term":
                cterm_parts.append(
                    row(qid, cid, c.occur, f"'{c.terms[0]}' AS term, {boost_sel}")
                )
            elif c.kind == "prefix":
                cterm_parts.append(
                    row(qid, cid, c.occur, f"term, {boost_sel}")
                    + f" FROM (SELECT term FROM dict WHERE term LIKE '{c.terms[0]}%'"
                    f" ORDER BY term LIMIT {max_expansions})"
                )
            elif c.kind == "wildcard":
                like = c.terms[0].replace("*", "%").replace("?", "_")
                cterm_parts.append(
                    row(qid, cid, c.occur, f"term, {boost_sel}")
                    + f" FROM (SELECT term FROM dict WHERE term LIKE '{like}'"
                    f" ORDER BY term LIMIT {max_expansions})"
                )
            elif c.kind == "regexp":
                pat = c.terms[0].replace("'", "''")
                cterm_parts.append(
                    row(qid, cid, c.occur, f"term, {boost_sel}")
                    + f" FROM (SELECT term FROM dict"
                    f" WHERE regexp_full_match(term, '{pat}')"
                    f" ORDER BY term LIMIT {max_expansions})"
                )
            elif c.kind == "fuzzy":
                p = c.terms[0]
                cterm_parts.append(
                    row(qid, cid, c.occur, f"term, {boost_sel}")
                    + f""" FROM (SELECT term FROM dict
  WHERE abs(length(term) - {len(p)}) <= {c.dist}
    AND levenshtein('{p}', term) <= {c.dist}
  ORDER BY levenshtein('{p}', term), df DESC, term
  LIMIT {fuzzy_max_expansions})"""
                )
            elif c.kind == "phrase":
                phits_parts.append(
                    row(qid, cid, c.occur, "doc_id")
                    + f" FROM ({_phrase_chain_sql(c.terms, c.slop)})"
                )
                if score_phrases and c.occur != MUST_NOT:
                    chain = _phrase_chain_sql(c.terms, c.slop, counts=True)
                    pscored_parts.append(
                        f"""SELECT CAST({qid} AS BIGINT) AS query_id, t.doc_id,
       CAST({c.boost} AS DOUBLE)
       * ln(1.0 + (s.n_docs - p.df + 0.5) / (p.df + 0.5))
       * (t.ptf * ({cfg.k1} + 1.0))
       / (t.ptf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dd.dl / s.avgdl)) AS score
  FROM ({chain}) t
  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS df FROM ({chain})) p
  JOIN dd ON dd.doc_id = t.doc_id
  CROSS JOIN stats s"""
                    )

    none = "WHERE 1 = 0"
    cterm_sql = (
        "\nUNION ALL\n".join(cterm_parts)
        if cterm_parts
        else f"SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT)"
        f" AS clause_id, '' AS occur, '' AS term,"
        f" CAST(1.0 AS DOUBLE) AS boost {none}"
    )
    phits_sql = (
        "\nUNION ALL\n".join(phits_parts)
        if phits_parts
        else f"SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT)"
        f" AS clause_id, '' AS occur, CAST(NULL AS BIGINT) AS doc_id {none}"
    )
    pscored_sql = (
        "\nUNION ALL\n".join(pscored_parts)
        if pscored_parts
        else f"SELECT CAST(NULL AS BIGINT) AS query_id,"
        f" CAST(NULL AS BIGINT) AS doc_id, CAST(0.0 AS DOUBLE) AS score {none}"
    )

    n_must = {
        qid: sum(1 for c in cs if c.occur == MUST and c.kind in termlike)
        for qid, cs in parsed.items()
    }
    pos_preds = {qid: _attr_pred_sql(cs, True) for qid, cs in parsed.items()}
    neg_preds = {qid: _attr_pred_sql(cs, False) for qid, cs in parsed.items()}
    must_qids = [q for q, n in n_must.items() if n > 0]
    should_qids = [
        qid
        for qid, cs in parsed.items()
        if n_must[qid] == 0
        and pos_preds[qid] is None
        and any(c.occur == SHOULD and c.kind in termlike for c in cs)
    ]
    nm_vals = (
        ", ".join(f"({q}, {n_must[q]})" for q in must_qids) or "(NULL, NULL)"
    )
    must_ok = (
        f"""SELECT m.query_id, m.doc_id
  FROM musthits m JOIN nm ON nm.query_id = m.query_id
  GROUP BY m.query_id, m.doc_id, nm.n_must
  HAVING count(DISTINCT m.clause_id) = nm.n_must"""
        if must_qids
        else f"SELECT CAST(NULL AS BIGINT) AS query_id, CAST(NULL AS BIGINT) AS doc_id {none}"
    )

    # candidate parts, mirroring the executor's per-query split:
    # filter∩must, filter-only, must-only, should-only
    msm = max(int(min_should_match), 0)
    msm_qids = (
        {
            qid
            for qid, cs in parsed.items()
            if (n_must[qid] > 0 or pos_preds[qid] is not None)
            and any(c.occur == SHOULD and c.kind in termlike for c in cs)
        }
        if msm > 0
        else set()
    )

    def _msm_and(qid: int) -> str:
        if qid not in msm_qids:
            return ""
        return (
            f" AND doc_id IN (SELECT doc_id FROM scounts"
            f" WHERE query_id = {qid} AND n_s >= {msm})"
        )

    # Lucene MatchNoDocs rewrite (mirrors _boolean_rank): msm above a
    # query's should-clause count means it matches nothing — its
    # must/filter branches emit no candidate part at all
    msm_dead = (
        {
            qid
            for qid, cs in parsed.items()
            if sum(1 for c in cs if c.occur == SHOULD and c.kind in termlike)
            < msm
        }
        if msm > 0
        else set()
    )

    cand_parts: list[str] = []
    nothits_parts: list[str] = []
    for qid in parsed:
        if qid in msm_dead:
            continue
        pos = pos_preds[qid]
        if pos is not None:
            fsel = f"SELECT doc_id FROM attr WHERE {pos}"
            if n_must[qid] > 0:
                cand_parts.append(
                    f"SELECT query_id, doc_id FROM must_ok "
                    f"WHERE query_id = {qid} AND doc_id IN ({fsel})"
                    + _msm_and(qid)
                )
            else:
                cand_parts.append(
                    f"SELECT CAST({qid} AS BIGINT) AS query_id, doc_id FROM attr "
                    f"WHERE {pos}"
                    + _msm_and(qid).replace(" doc_id IN", " attr.doc_id IN")
                )
        elif n_must[qid] > 0:
            cand_parts.append(
                f"SELECT query_id, doc_id FROM must_ok WHERE query_id = {qid}"
                + _msm_and(qid)
            )
        neg = neg_preds[qid]
        if neg is not None:
            nothits_parts.append(
                f"SELECT CAST({qid} AS BIGINT) AS query_id, doc_id FROM attr "
                f"WHERE {neg}"
            )
    if should_qids:
        if msm > 1:
            cand_parts.append(
                f"SELECT query_id, doc_id FROM scounts WHERE n_s >= {msm}"
                " AND query_id IN ("
                + ", ".join(str(q) for q in should_qids)
                + ")"
            )
        else:
            cand_parts.append(
                "SELECT query_id, doc_id FROM shouldhits WHERE query_id IN ("
                + ", ".join(str(q) for q in should_qids)
                + ")"
            )
    cand_sql = (
        "\n  UNION\n  ".join(cand_parts)
        if cand_parts
        else f"SELECT CAST(NULL AS BIGINT) AS query_id,"
        f" CAST(NULL AS BIGINT) AS doc_id {none}"
    )
    nothits_sql = "SELECT DISTINCT query_id, doc_id FROM allhits WHERE occur = 'must_not'"
    for np_ in nothits_parts:
        nothits_sql += f"\n  UNION\n  {np_}"

    return f"""
WITH {tf_ctes},
attr AS ({attr_sql}),
pos AS (
  SELECT doc_id,
         unnest(toks) AS term,
         unnest(list_transform(range(1, len(toks) + 1),
                               i -> CAST(i - 1 AS BIGINT))) AS p
  FROM d
),
cterm AS (
{cterm_sql}
),
qterms AS (SELECT query_id, term, max(boost) AS boost FROM cterm
           WHERE occur <> 'must_not' GROUP BY query_id, term),
scored AS (
  SELECT q.query_id, t.doc_id,
         sum( q.boost
              * ln(1.0 + (s.n_docs - dict.df + 0.5) / (dict.df + 0.5))
              * (t.tf * ({cfg.k1} + 1.0))
              / (t.tf + {cfg.k1} * (1.0 - {cfg.b} + {cfg.b} * dd.dl / s.avgdl)) ) AS score
  FROM qterms q
  JOIN dict USING (term)
  JOIN tfs t USING (term)
  JOIN dd ON dd.doc_id = t.doc_id
  CROSS JOIN stats s
  GROUP BY q.query_id, t.doc_id
),
thits AS (SELECT DISTINCT c.query_id, c.clause_id, c.occur, t.doc_id
          FROM cterm c JOIN tfs t USING (term)),
phits AS (
{phits_sql}
),
pscore AS (
  SELECT query_id, doc_id, sum(score) AS score FROM (
{pscored_sql}
  ) GROUP BY query_id, doc_id
),
allhits AS (SELECT * FROM thits UNION ALL SELECT * FROM phits),
musthits AS (SELECT query_id, clause_id, doc_id FROM allhits WHERE occur = 'must'),
nm(query_id, n_must) AS (SELECT CAST(c0 AS BIGINT), CAST(c1 AS BIGINT)
                         FROM (VALUES {nm_vals}) v(c0, c1)),
must_ok AS (
  {must_ok}
),
shouldhits AS (SELECT DISTINCT query_id, doc_id FROM allhits WHERE occur = 'should'),
scounts AS (
  SELECT query_id, doc_id, count(DISTINCT clause_id) AS n_s
  FROM allhits WHERE occur = 'should' GROUP BY query_id, doc_id
),
cand AS (
  {cand_sql}
),
nothits AS (
  {nothits_sql}
),
fin AS (
  SELECT c.query_id, c.doc_id,
         round(coalesce(s.score, 0.0) + coalesce(ps.score, 0.0), 6) AS score
  FROM cand c
  LEFT JOIN scored s ON s.query_id = c.query_id AND s.doc_id = c.doc_id
  LEFT JOIN pscore ps ON ps.query_id = c.query_id AND ps.doc_id = c.doc_id
  ANTI JOIN nothits n ON n.query_id = c.query_id AND n.doc_id = c.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score,
         CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS INTEGER) AS rank
  FROM fin
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= {k}
"""
