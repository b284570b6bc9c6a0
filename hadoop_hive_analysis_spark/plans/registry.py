"""Query registry — single source of truth for the driver contract.

Every implemented operator surfaces here as a named query with (a) a
DataFrame callable ``(spark, sf_dir) -> DataFrame`` and (b) where SQL-
expressible, an oracle SQL string DuckDB runs on the same parquet tables.
``__spark_entry__.py`` is a thin re-export of this module.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from . import testdata_queries as tq

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    survey_ids: str  # SURVEY.md §2 operator IDs this query covers
    bench: bool = True  # include in bench.py's headline pack


def _build() -> dict[str, QuerySpec]:
    q: dict[str, QuerySpec] = {}

    # --- Reference parity pack (DataFrame form) ---
    q["q1a_top_suppliers_by_revenue"] = QuerySpec(
        tq.q1a_top_suppliers_by_revenue,
        tq.SQL["q1a_top_suppliers_by_revenue"],
        "S1 P1 P5 P6 P8 A1 A3 T1 T2 T4 F2",
    )
    q["q1b_top_parts_by_quantity"] = QuerySpec(
        tq.q1b_top_parts_by_quantity,
        tq.SQL["q1b_top_parts_by_quantity"],
        "S1 P2 P5 P6 A2 A3 T1 T2 T4",
    )
    q["q1c_top_dates_by_revenue"] = QuerySpec(
        tq.q1c_top_dates_by_revenue,
        tq.SQL["q1c_top_dates_by_revenue"],
        "S1 P3 P5 P6 A1 A3 T1 T2",
    )
    q["q2_supplier_revenue_rightouter"] = QuerySpec(
        tq.q2_supplier_revenue_rightouter,
        tq.SQL["q2_supplier_revenue_rightouter"],
        "S1 S2 S3 P4 P5 P6 A1 J1 F1 T3",
    )

    # S7 DDL twin: CREATE TABLE ... USING parquet LOCATION, then the q1a
    # text against the catalog-qualified table.
    q["q1a_via_ddl_catalog"] = QuerySpec(
        tq.q1a_via_ddl_catalog,
        tq.SQL["q1a_top_suppliers_by_revenue"],
        "S7 (DDL external-table catalog)",
        bench=False,
    )

    # --- Extension packs (registered by their modules; oracle-checked
    # queries lead, rows-only checks trail, dedup/text pack first) ---
    from . import extensions

    q.update(extensions.build())

    # --- SQL duals: same SQL text through Spark SQL (entry point 2) ---
    for name in list(tq.SQL):
        q[f"{name}_sql"] = QuerySpec(
            tq.make_sql_runner(name),
            tq.SQL[name],
            "S7 + dual of " + name,
            bench=False,
        )
    return q


# ---------------------------------------------------------- driver window
# The driver scores a bounded window of the registry (50 entries).
# DRIVER_WINDOW is that window, in registry order, and the only place it
# is decided; every other entry is still oracle-checked by
# tests/test_oracle_parity.py. To change the window, swap names here;
# `python scripts/scale.py <DRIVER_WINDOW names> 10` checks the new window
# against DuckDB on the fixture grown 10x.
DRIVER_SLOT_CAP = 50
DRIVER_WINDOW: tuple[str, ...] = (
    "q1a_top_suppliers_by_revenue",
    "q1c_top_dates_by_revenue",
    "dedup_minhash_lsh",
    "span_scrub",
    "dedup_exact_normalized",
    "dedup_rate_by_source",
    "dedup_family_profile",
    "dedup_cluster_quality",
    "dedup_embedding_lsh",
    "dedup_clusters",
    "dedup_collapse",
    "dedup_semantic_guardrail",
    "corpus_clean",
    "doc_token_rarity",
    "corpus_collocations",
    "doc_bigram_lm_score",
    "doc_ngram_novelty",
    "corpus_dedup_saturation",
    "doc_tfidf_cosine_pairs",
    "corpus_snapshot_diff",
    "cube_orders",
    "setop_nations",
    "grouped_stats_orders",
    "daily_distinct_users_hll",
    "doc_hybrid_search_rrf",
    "corpus_budget_select",
    "source_token_drift",
    "warc_corpus_roundtrip",
    "embedding_kmeans_quality",
    "ann_sq8_recall",
    "ann_ivfpq_recall",
    "events_asof_join",
    "events_churn_report",
    "events_freshness_report",
    "events_expectations_report",
    "events_daily_trend",
    "events_merge_upsert",
    "events_campaign_range_join",
    "events_stream_join_replay",
    "events_stream_left_join_replay",
    "documents_neardup_replay",
    "events_session_replay",
    "multimodal_frame_sample",
    "window_rank_orders_sql",
    "cube_orders_sql",
    "semi_join_customers_sql",
    "anti_join_customers_sql",
    "setop_nations_sql",
    "grouped_stats_orders_sql",
    "q2_supplier_revenue_rightouter_sql",
)


def check_driver_window(window: tuple[str, ...], names: Iterable[str]) -> None:
    """Raise unless ``window`` is DRIVER_SLOT_CAP distinct names in ``names``.

    A window that is short or over the cap would silently shrink or push
    trailing entries out of the scored window, and a misspelt name would
    silently drop one — fail loudly at import instead (not ``assert``:
    ``python -O`` strips it).
    """
    problems = []
    dupes = sorted({n for n in window if window.count(n) > 1})
    if dupes:
        problems.append(f"duplicate names {dupes}")
    unknown = sorted(set(window) - set(names))
    if unknown:
        problems.append(f"unknown names {unknown}")
    if len(window) != DRIVER_SLOT_CAP:
        problems.append(
            f"{len(window)} entries for the driver's {DRIVER_SLOT_CAP}-slot "
            "scored window"
        )
    if problems:
        raise RuntimeError("DRIVER_WINDOW: " + "; ".join(problems))


QUERIES: dict[str, QuerySpec] = _build()
check_driver_window(DRIVER_WINDOW, QUERIES)


def query_map() -> dict[str, QueryFn]:
    return {
        name: spec.fn for name, spec in QUERIES.items() if name in DRIVER_WINDOW
    }


def oracle_sql_map() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in QUERIES.items()
        if spec.oracle and name in DRIVER_WINDOW
    }
