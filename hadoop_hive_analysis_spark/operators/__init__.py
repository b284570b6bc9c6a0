"""Operator vocabulary.

``core`` re-expresses every relational operator of the reference
(SURVEY.md §2) as composable DataFrame functions; the sibling modules add
the large-scale pipeline surface beyond reference parity:

* ``dedup`` — exact / n-gram Jaccard / MinHash+LSH / SimHash
* ``similarity`` — brute-force & LSH ANN, embedding-cosine near-dup
* ``text_analysis`` — token stats, quality, language ID, fingerprints
* ``events`` — tumbling windows, sessionization, as-of join (batch)
* ``asof`` — generic as-of join (union + carry-forward)
* ``skew`` — salted two-phase aggregation
* ``sketches`` — approx/HLL profiling (EDA at scale)
* ``multimodal`` — binary payload columns, Arrow-batched decode stubs
"""

from .core import (
    date_range_filter,
    grouped_sum,
    not_null,
    project,
    right_outer_join_coalesce,
    top_k,
)

__all__ = [
    "date_range_filter",
    "grouped_sum",
    "not_null",
    "project",
    "right_outer_join_coalesce",
    "top_k",
]
