"""The reference's 4-query pack on its NATIVE schema (store_sales / store).

These are the HiveQL semantics (the reference's ground truth — SURVEY.md §0)
re-expressed as single fused DataFrame plans. Where the reference chains 2-3
MR jobs with HDFS text between them (``Query 1a/TopKNetProfitDriver.java:
211-243``), each query here is ONE Catalyst plan: scan → filter → partial/
final aggregate → TakeOrderedAndProject, with shuffles as the only exchanges.

Used by the ingest/semantics tests against pipe-delimited fixtures; the
driver-facing correctness pack runs the analog queries in
:mod:`.testdata_queries` on the TPC-H-ish testdata (FIXTURES.md §3 mapping).

Parameters ``(k, date_lo, date_hi)`` mirror the reference CLI
(``Query 1a/TopKNetProfitDriver.java:201-205``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.core import (
    date_range_filter,
    grouped_sum,
    not_null,
    project,
    right_outer_join_coalesce,
    top_k,
)


def q1a_top_stores_by_profit(
    store_sales: DataFrame, k: int, date_lo: int, date_hi: int
) -> DataFrame:
    """Top-K stores by SUM(ss_net_profit), date-bounded, desc.

    HiveQL ground truth (Software Documentation.pdf p.1):
    ``SELECT ss_store_sk, SUM(ss_net_profit) AS net_profit FROM …
    WHERE ss_sold_date_sk >= lo AND ss_sold_date_sk <= hi
    AND ss_store_sk IS NOT NULL GROUP BY ss_store_sk
    ORDER BY net_profit DESC LIMIT k`` — plus a deterministic tie-break on
    the store key (the reference's ties are arbitrary, SURVEY.md §2.5).
    """
    df = project(store_sales, "ss_sold_date_sk", "ss_store_sk", "ss_net_profit")
    df = date_range_filter(df, "ss_sold_date_sk", date_lo, date_hi)
    df = not_null(df, "ss_store_sk", "ss_net_profit")
    agg = grouped_sum(df, "ss_store_sk", "ss_net_profit", "net_profit")
    return top_k(agg, [F.col("net_profit").desc(), F.col("ss_store_sk").asc()], k)


def q1b_top_items_by_quantity(
    store_sales: DataFrame, k: int, date_lo: int, date_hi: int
) -> DataFrame:
    """Top-K items by SUM(ss_quantity) (Software Documentation.pdf p.2)."""
    df = project(store_sales, "ss_sold_date_sk", "ss_item_sk", "ss_quantity")
    df = date_range_filter(df, "ss_sold_date_sk", date_lo, date_hi)
    df = not_null(df, "ss_item_sk")
    agg = grouped_sum(df, "ss_item_sk", "ss_quantity", "total_quantity")
    return top_k(agg, [F.col("total_quantity").desc(), F.col("ss_item_sk").asc()], k)


def q1c_top_dates_by_profit(
    store_sales: DataFrame, k: int, date_lo: int, date_hi: int
) -> DataFrame:
    """Top-K dates by SUM(ss_net_profit) (Software Documentation.pdf p.3).

    Groups on the date surrogate key directly — the reference's EDA showed
    key order == chronological order (CS346 Report.pdf p.6 §3.1).
    """
    df = project(store_sales, "ss_sold_date_sk", "ss_net_profit")
    df = date_range_filter(df, "ss_sold_date_sk", date_lo, date_hi)
    df = not_null(df, "ss_sold_date_sk")
    agg = grouped_sum(df, "ss_sold_date_sk", "ss_net_profit", "net_profit")
    return top_k(agg, [F.col("net_profit").desc(), F.col("ss_sold_date_sk").asc()], k)


def q2_store_profit_employees(
    store_sales: DataFrame,
    store: DataFrame,
    k: int,
    date_lo: int,
    date_hi: int,
) -> DataFrame:
    """Store profit ⟖ employee count: right-outer join + COALESCE, key-asc top-K.

    HiveQL ground truth (Software Documentation.pdf p.5): profit subquery
    RIGHT OUTER JOIN store; stores with no sales surface with profit 0
    (COALESCE); stores with NULL employee count are excluded
    (``Query 2/TopKStoreProfitEmployeesDriver.java:152,185-191``); output
    ordered ASC by store key, LIMIT k.

    The reference implements this as 3 chained MR jobs with a reduce-side
    tagged-union join (~80 LoC). Here Catalyst plans it; the store dimension
    (58 rows in the reference EDA) is force-broadcast, eliminating the
    fact-side shuffle — the map-side join the authors mention researching
    but never implemented (CS346 Report.pdf p.12).
    """
    sales = project(store_sales, "ss_sold_date_sk", "ss_store_sk", "ss_net_profit")
    sales = date_range_filter(sales, "ss_sold_date_sk", date_lo, date_hi)
    sales = not_null(sales, "ss_store_sk")
    profit = grouped_sum(sales, "ss_store_sk", "ss_net_profit", "net_profit")

    emp = project(store, "s_store_sk", "s_number_employees")
    emp = not_null(emp, "s_number_employees")

    joined = right_outer_join_coalesce(
        profit,
        emp,
        F.col("ss_store_sk") == F.col("s_store_sk"),
        "net_profit",
        0,
        broadcast_left=True,
    )
    out = joined.select("s_store_sk", "net_profit", "s_number_employees")
    return top_k(out, [F.col("s_store_sk").asc()], k)


def q1a_sql(k: int, date_lo: int, date_hi: int) -> str:
    """SQL dual of q1a — the engine's second entry point (SURVEY.md §3.4),
    mirroring the reference's Hadoop/Hive duality with zero duplicated
    logic differences: Catalyst compiles both to the same plan. The SQL
    text matches the HiveQL of Software Documentation.pdf p.1 modulo the
    deterministic tie-break."""
    return f"""
        SELECT ss_store_sk, SUM(ss_net_profit) AS net_profit
        FROM store_sales
        WHERE ss_sold_date_sk >= {date_lo} AND ss_sold_date_sk <= {date_hi}
          AND ss_store_sk IS NOT NULL AND ss_net_profit IS NOT NULL
        GROUP BY ss_store_sk
        ORDER BY net_profit DESC, ss_store_sk ASC
        LIMIT {k}
    """


def q1b_sql(k: int, date_lo: int, date_hi: int) -> str:
    """SQL dual of q1b (HiveQL at Software Documentation.pdf p.2)."""
    return f"""
        SELECT ss_item_sk, SUM(ss_quantity) AS total_quantity
        FROM store_sales
        WHERE ss_sold_date_sk >= {date_lo} AND ss_sold_date_sk <= {date_hi}
          AND ss_item_sk IS NOT NULL
        GROUP BY ss_item_sk
        ORDER BY total_quantity DESC, ss_item_sk ASC
        LIMIT {k}
    """


def q1c_sql(k: int, date_lo: int, date_hi: int) -> str:
    """SQL dual of q1c (HiveQL at Software Documentation.pdf p.3)."""
    return f"""
        SELECT ss_sold_date_sk, SUM(ss_net_profit) AS net_profit
        FROM store_sales
        WHERE ss_sold_date_sk >= {date_lo} AND ss_sold_date_sk <= {date_hi}
          AND ss_sold_date_sk IS NOT NULL
        GROUP BY ss_sold_date_sk
        ORDER BY net_profit DESC, ss_sold_date_sk ASC
        LIMIT {k}
    """


def q2_sql(
    k: int,
    date_lo: int,
    date_hi: int,
    sales_table: str = "store_sales",
    store_table: str = "store",
) -> str:
    """SQL dual of q2 — subquery + RIGHT OUTER JOIN + COALESCE, key-asc
    LIMIT (HiveQL at Software Documentation.pdf p.5)."""
    return f"""
        SELECT b.s_store_sk, COALESCE(a.net_profit, 0) AS net_profit,
               b.s_number_employees
        FROM (
            SELECT ss_store_sk, SUM(ss_net_profit) AS net_profit
            FROM {sales_table}
            WHERE ss_sold_date_sk >= {date_lo} AND ss_sold_date_sk <= {date_hi}
              AND ss_store_sk IS NOT NULL
            GROUP BY ss_store_sk
        ) a
        RIGHT OUTER JOIN {store_table} b ON a.ss_store_sk = b.s_store_sk
        WHERE b.s_number_employees IS NOT NULL
        ORDER BY b.s_store_sk ASC
        LIMIT {k}
    """
