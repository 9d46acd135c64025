"""Frozen pure-Python reference tokenizer (the parity target).

Re-specification of the reference's text pipeline with deterministic
rules (no spaCy model drift):

- normalize: the reference's exact regex *order* —
  ``casefold → strip URLs → strip emails → strip non-word chars →
  collapse whitespace`` (/root/reference/keywords4cv.py:593-613,
  regexes at :554-559) — with the non-word class pinned to ASCII
  ``[^a-z0-9\\s-]`` so Python `re`, Java regex (Spark) and RE2
  (DuckDB) agree byte-for-byte. Hyphens become separators (the
  reference splits hyphenated tokens, keywords4cv.py:652-660).
- tokenize: keep tokens with ``len >= min_token_len`` and not in the
  stopword set (keywords4cv.py:643-660 length/stop rules; POS
  filtering is a spaCy-only notion and is intentionally out of the
  deterministic contract).
- n-grams: contiguous space-joined n-grams for n in [lo, hi]
  (/root/reference/_generate_ngrams.py:1-33).

Every other implementation (pandas UDFs in ``udfs``, n-gram column
expressions in ``spark_exprs``, DuckDB SQL in
``keywords4cv_spark.oracle``) MUST reproduce these functions
byte-identically per input string — enforced by
tests/test_tokenizer_parity.py.
"""

from __future__ import annotations

import re

# Explicit ASCII whitespace class: Python's \s/\S is Unicode-wide, Java's is
# ASCII incl. \x0b, RE2's is ASCII excl. \x0b — spelling the class out is the
# only way all three engines tokenize identically (found by hypothesis:
# '0@\x0b' diverged via \S in the email pattern).
WS_CHARS = r" \t\n\r\f\x0b"
_NS = rf"[^{WS_CHARS}]"  # non-whitespace

URL_PATTERN = rf"https?://{_NS}+|www\.{_NS}+"
EMAIL_PATTERN = rf"{_NS}+@{_NS}+"
NON_ALNUM_PATTERN = rf"[^a-z0-9{WS_CHARS}-]"
SEP_PATTERN = rf"[{WS_CHARS}-]+"

URL_RE = re.compile(URL_PATTERN)
EMAIL_RE = re.compile(EMAIL_PATTERN)
NON_ALNUM_RE = re.compile(NON_ALNUM_PATTERN)
SEP_RE = re.compile(SEP_PATTERN)

# Deterministic lemma pass (SURVEY §5.2a follow-up, VERDICT r2 missing
# #5): the reference lemma-casefolds tokens via spaCy
# (/root/reference/keywords4cv.py:618-678); model-driven lemmas are
# outside the determinism contract, so the engine folds a FIXED
# exception dictionary of common plural/irregular forms instead —
# applied AFTER length/stopword filtering, identically in all four
# twins (Python, Spark expr, pandas UDF, DuckDB SQL). Every value
# respects min_token_len >= 2 by construction. Extend, never reorder:
# the fold is key→value lookup, order-free.
LEMMA_EXCEPTIONS: dict[str, str] = {
    # regular tech/resume plurals
    "applications": "application",
    "batches": "batch",
    "blocks": "block",
    "caches": "cache",
    "clusters": "cluster",
    "columns": "column",
    "customers": "customer",
    "databases": "database",
    "days": "day",
    "documents": "document",
    "engines": "engine",
    "executors": "executor",
    "files": "file",
    "filters": "filter",
    "frameworks": "framework",
    "groups": "group",
    "hashes": "hash",
    "indexes": "index",
    "jobs": "job",
    "joins": "join",
    "keys": "key",
    "languages": "language",
    "lines": "line",
    "merges": "merge",
    "models": "model",
    "nodes": "node",
    "orders": "order",
    "pages": "page",
    "partitions": "partition",
    "parts": "part",
    "pipelines": "pipeline",
    "projects": "project",
    "queries": "query",
    "ranks": "rank",
    "requirements": "requirement",
    "rows": "row",
    "scans": "scan",
    "scores": "score",
    "services": "service",
    "shards": "shard",
    "skills": "skill",
    "sorts": "sort",
    "stores": "store",
    "streams": "stream",
    "systems": "system",
    "tables": "table",
    "tasks": "task",
    "teams": "team",
    "technologies": "technology",
    "terms": "term",
    "tokens": "token",
    "tools": "tool",
    "users": "user",
    "values": "value",
    "vectors": "vector",
    "windows": "window",
    "workers": "worker",
    "years": "year",
    # irregulars
    "analyses": "analysis",
    "children": "child",
    "indices": "index",
    "matrices": "matrix",
    "vertices": "vertex",
}


def normalize_text(text: str) -> str:
    """Lowercase + strip URLs/emails/punctuation + collapse separators.

    Exact regex order matters for parity (a URL stripped after
    punctuation removal would leave residue).
    """
    if text is None:
        return ""
    t = text.lower()
    t = URL_RE.sub(" ", t)
    t = EMAIL_RE.sub(" ", t)
    t = NON_ALNUM_RE.sub(" ", t)
    t = SEP_RE.sub(" ", t)
    return t.strip()


def tokenize(
    text: str,
    min_token_len: int = 2,
    stopwords: frozenset[str] = frozenset(),
) -> list[str]:
    norm = normalize_text(text)
    if not norm:
        return []
    return [
        LEMMA_EXCEPTIONS.get(t, t)
        for t in norm.split(" ")
        if len(t) >= min_token_len and t not in stopwords
    ]


def generate_ngrams(tokens: list[str], lo: int = 1, hi: int = 3) -> list[str]:
    """All contiguous space-joined n-grams, n ascending then position."""
    out: list[str] = []
    for n in range(lo, hi + 1):
        if n == 1:
            out.extend(tokens)
        else:
            out.extend(
                " ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)
            )
    return out
