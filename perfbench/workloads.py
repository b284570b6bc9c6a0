"""The workloads: seeded inputs, the steps of one pass, and each step's
DuckDB reference hash.

A timed step sends its DataFrame to its sink: the ``noop`` sink for a
query, ``sources.sinks.write_parquet`` for an ETL write. The warm-up pass
collects each query's result instead (for a write, a read-back of what it
wrote) for the check against DuckDB.
"""

from __future__ import annotations

import glob
import os
from dataclasses import dataclass
from typing import Callable

import gen

K = 10  # the reference CLI's top-K

# store_sales field index -> (column, DuckDB type), the fields the
# four reference queries read (schemas.STORE_SALES / STORE)
_SALES_COLS = {
    0: ("ss_sold_date_sk", "BIGINT"),
    2: ("ss_item_sk", "BIGINT"),
    7: ("ss_store_sk", "BIGINT"),
    10: ("ss_quantity", "INTEGER"),
    22: ("ss_net_profit", "DECIMAL(7,2)"),
}
_STORE_COLS = {0: ("s_store_sk", "BIGINT"), 6: ("s_number_employees", "INTEGER")}

# Exact aggregates over every column the queries read: an ETL write is
# checked by comparing them on what it wrote with DuckDB's on the text.
_READBACK = {
    "store_sales": ["COUNT(*) AS n", "COUNT(ss_store_sk) AS n_store",
                    "SUM(ss_sold_date_sk) AS s_date", "SUM(ss_item_sk) AS s_item",
                    "SUM(ss_store_sk) AS s_store", "SUM(ss_quantity) AS s_qty",
                    "SUM(ss_net_profit) AS s_profit"],
    "store": ["COUNT(*) AS n", "COUNT(s_number_employees) AS n_emp",
              "SUM(s_store_sk) AS s_store", "SUM(s_number_employees) AS s_emp"],
}

DEDUP_QUERIES = (
    "dedup_minhash_lsh",
    "doc_heavy_hitters",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Step:
    """One statement: ``build`` makes its DataFrame (the plans layer),
    ``sink`` executes it, and ``reference`` hashes DuckDB's answer.

    A query's sink is ``noop`` and its checked result is the DataFrame
    itself. A write step also has ``readback``, the DataFrame over what
    it wrote that is checked in its place."""

    name: str
    build: Callable  # spark -> DataFrame
    reference: Callable  # Oracle -> hash
    sink: Callable = _noop  # DataFrame -> None
    readback: Callable | None = None  # spark -> DataFrame

    @property
    def writes(self) -> bool:
        return self.readback is not None


@dataclass
class Inputs:
    rows: int  # input rows (or documents) one pass reads
    mb: float  # bytes on disk of those inputs


def _parts(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "part-*")))


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


class Workload:
    name = ""
    base_rows = 0

    def __init__(self, scale: float, seed: int, data_dir: str) -> None:
        self.scale = scale
        self.seed = seed
        self.data = data_dir

    def prepare(self, spark) -> Inputs:
        raise NotImplementedError

    def steps(self) -> list[Step]:
        raise NotImplementedError

    def oracle_setup(self, oracle) -> None:
        raise NotImplementedError


class TopkText(Workload):
    """The reference's Q1a/Q1b/Q1c/Q2 over pipe text, then the ETL: both
    tables parsed and written to parquet, and Q2 (which reads both) over
    the parquet."""

    name = "topk_text"
    base_rows = 300_000

    def prepare(self, spark) -> Inputs:
        n = max(1000, int(self.base_rows * self.scale))
        gen.store_sales_text(self.data, n, self.seed)
        self.text = {t: os.path.join(self.data, f"{t}.dat") for t in _READBACK}
        self.pq = {t: os.path.join(self.data, f"{t}.parquet") for t in _READBACK}
        return Inputs(n, sum(_dir_mb(p) for p in self.text.values()))

    def steps(self) -> list[Step]:
        from hadoop_hive_analysis_spark.plans import reference_queries as rq
        from hadoop_hive_analysis_spark.sources.csv import read_store, read_store_sales
        from hadoop_hive_analysis_spark.sources.sinks import write_parquet

        text = {"store_sales": lambda s: read_store_sales(s, self.text["store_sales"]),
                "store": lambda s: read_store(s, self.text["store"])}
        pq = {t: (lambda s, p=p: s.read.parquet(p)) for t, p in self.pq.items()}
        lo, hi = gen.DATE_LO, gen.DATE_HI

        def q2(read: dict, suffix: str) -> Step:
            return Step(
                "q2" + suffix,
                lambda s: rq.q2_store_profit_employees(
                    read["store_sales"](s), read["store"](s), K, lo, hi),
                lambda o: o.hash(rq.q2_sql(K, lo, hi, "store_sales" + suffix, "store" + suffix)),
            )

        one = [
            ("q1a", rq.q1a_top_stores_by_profit, rq.q1a_sql),
            ("q1b", rq.q1b_top_items_by_quantity, rq.q1b_sql),
            ("q1c", rq.q1c_top_dates_by_profit, rq.q1c_sql),
        ]
        q1 = [
            Step(n, (lambda s, f=f: f(text["store_sales"](s), K, lo, hi)),
                 (lambda o, q=q: o.hash(q(K, lo, hi))))
            for n, f, q in one
        ]

        etl = [
            Step(f"etl_{t}", text[t],
                 (lambda o, t=t: o.hash(f"SELECT {', '.join(_READBACK[t])} FROM {t}")),
                 sink=(lambda df, p=self.pq[t]: write_parquet(df, p)),
                 readback=(lambda s, t=t: pq[t](s).selectExpr(*_READBACK[t])))
            for t in _READBACK
        ]
        return q1 + [q2(text, "")] + etl + [q2(pq, "_pq")]

    def oracle_setup(self, oracle) -> None:
        oracle.pipe_text_view("store_sales", _parts(self.text["store_sales"]), _SALES_COLS, 23)
        oracle.pipe_text_view("store", _parts(self.text["store"]), _STORE_COLS, 29)
        for t, p in self.pq.items():
            oracle.parquet_view(f"{t}_pq", os.path.join(p, "*.parquet"))


class DedupCorpus(Workload):
    """Registry queries ``(spark, data_dir) -> DataFrame`` over a seeded
    renamed corpus, each checked with its registry oracle SQL."""

    name = "dedup_corpus"
    base_rows = 2400
    names = DEDUP_QUERIES
    tables = ("documents",)

    def prepare(self, spark) -> Inputs:
        n = max(50, int(self.base_rows * self.scale))
        gen.corpus(self.data, n, self.seed)
        return Inputs(n, _dir_mb(self.data))

    def steps(self) -> list[Step]:
        from hadoop_hive_analysis_spark.plans.registry import QUERIES

        return [
            Step(n, (lambda s, fn=QUERIES[n].fn: fn(s, self.data)),
                 (lambda o, sql=QUERIES[n].oracle: o.hash(sql)))
            for n in self.names
        ]

    def oracle_setup(self, oracle) -> None:
        for t in self.tables:
            oracle.parquet_view(t, os.path.join(self.data, f"{t}.parquet"))


WORKLOADS = {w.name: w for w in (TopkText, DedupCorpus)}
