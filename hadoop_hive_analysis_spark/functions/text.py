"""Text primitives: tokenization, shingles, quality metrics, language ID.

All JVM-side column expressions (whole-stage codegen, no Python in the hot
path). Each primitive documents its DuckDB-SQL twin so the text-analysis
and dedup operators stay oracle-checkable.

Portability notes (chosen so both engines compute identical values):
* tokenization = regex split on ``\\s+`` (DuckDB ``string_split_regex``);
* occurrence counts use the length-difference-after-replace trick —
  ``replace`` has identical semantics everywhere, unlike regex flavors;
* ratios divide exact integers in IEEE double → bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WS = r"\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens. DuckDB twin: ``string_split_regex(x, '\\s+')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, WS)


def shingles(tok_array_name: str, n: int = 3) -> Column:
    """Word n-gram array over a named token-array column (Spark arrays are
    0-indexed).

    DuckDB twin (1-indexed): ``list_transform(range(1, len(t) - ({n}-2)),
    i -> t[i] || ' ' || … || t[i+{n}-1])``. Caller must guard
    ``size(tokens) >= n``.
    """
    parts = ", ".join(f"{tok_array_name}[i+{j}]" for j in range(n))
    return F.expr(
        f"transform(sequence(0, size({tok_array_name}) - {n}), "
        f"i -> concat_ws(' ', {parts}))"
    )


def with_shingles(df, text_col: str, n: int = 3):
    """Explode distinct word n-grams per row: (…, shingle) — the input to
    MinHash / Jaccard dedup. Distinct-per-doc matches set semantics."""
    d = df.withColumn("__shingle_toks", tokens(text_col))
    d = d.filter(F.size("__shingle_toks") >= n)
    d = d.select(
        "*", F.explode(F.array_distinct(shingles("__shingle_toks", n))).alias(
            "shingle"
        )
    )
    return d.drop("__shingle_toks")


def count_occurrences(col: Column | str, needle: str) -> Column:
    """#occurrences of a literal substring.

    DuckDB twin: ``(len(x) - len(replace(x, needle, ''))) / len(needle)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        (F.length(c) - F.length(F.replace(c, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def occurrences_sql(expr: str, needle: str) -> str:
    escaped = needle.replace("'", "''")
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{escaped}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


# Tiny per-language stopword markers for the n-gram-heuristic language ID.
# Chosen to be unambiguous across the five testdata languages; a real
# deployment would widen the lists, the plumbing is identical.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "nicht"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
    "zh": ["的", "是", "了"],
}


def marker_score(col: Column | str, lang: str) -> Column:
    """Sum of padded-marker occurrences — the language-ID signal."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    score = F.lit(0).cast("long")
    for m in LANG_MARKERS[lang]:
        score = score + count_occurrences(padded, f" {m} ")
    return score


def marker_score_sql(expr: str, lang: str) -> str:
    padded = f"(' ' || {expr} || ' ')"
    return " + ".join(occurrences_sql(padded, f" {m} ") for m in LANG_MARKERS[lang])
