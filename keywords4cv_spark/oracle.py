"""DuckDB SQL snippet builders for the driver's oracle checks.

Every ``oracle_sql()`` entry in ``__spark_entry__.py`` is built from
these so the SQL tokenizer is defined in exactly one place and is the
same chain as textprep.normalize (ASCII regex classes make Python re,
Java regex and RE2 agree — see normalize.py docstring).

NB DuckDB quirks handled here:
- ``regexp_replace`` needs the explicit ``'g'`` flag (Spark/Python
  replace all by default);
- SQL single-quoted literals keep backslashes, so ``\\S`` reaches RE2
  verbatim.
"""

from __future__ import annotations

from keywords4cv_spark.textprep.normalize import (
    EMAIL_PATTERN,
    LEMMA_EXCEPTIONS,
    NON_ALNUM_PATTERN,
    SEP_PATTERN,
    URL_PATTERN,
)


def norm_sql(col: str = "text") -> str:
    return (
        "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
        f"lower({col}), '{URL_PATTERN}', ' ', 'g'),"
        f" '{EMAIL_PATTERN}', ' ', 'g'),"
        f" '{NON_ALNUM_PATTERN}', ' ', 'g'),"
        f" '{SEP_PATTERN}', ' ', 'g'))"
    )


def tokens_sql(
    col: str = "text",
    min_token_len: int = 2,
    stopwords: frozenset[str] = frozenset(),
) -> str:
    """list<varchar> of kept tokens (duplicates preserved), lemma-folded
    with the same exception dictionary as normalize.tokenize (a CASE
    chain — engine-portable, order-free lookup)."""
    pred = f"length(t) >= {min_token_len}"
    if stopwords:
        quoted = ", ".join(f"'{s}'" for s in sorted(stopwords))
        pred += f" AND t NOT IN ({quoted})"
    whens = " ".join(
        f"WHEN '{k}' THEN '{v}'" for k, v in sorted(LEMMA_EXCEPTIONS.items())
    )
    lemma = f"CASE t {whens} ELSE t END"
    return (
        f"list_transform(list_filter(string_split({norm_sql(col)}, ' '), "
        f"t -> {pred}), t -> {lemma})"
    )

