"""DuckDB reference answers and exact value hashes.

A result is reduced to one hash of its canonical rows: columns in name
order, values tagged by type (floats by ``repr``, so equality is exact),
rows sorted. Two engines agree when their hashes are equal.
"""

from __future__ import annotations

import datetime
import hashlib
import math
from decimal import Decimal

import duckdb


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def value_hash(cols: list[str], rows) -> str:
    """Order-insensitive exact hash of a result set."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_canon(r[i]) for i in order) for r in rows)
    head = repr(sorted(cols)).encode()
    return hashlib.sha256(head + repr(canon).encode()).hexdigest()


class Oracle:
    """One DuckDB connection with the workload's tables as views."""

    def __init__(self) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")

    def parquet_view(self, name: str, path: str) -> None:
        """View over the parquet file(s) ``path`` (a file or a glob)."""
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")

    def pipe_text_view(self, name: str, parts: list[str], columns: dict[int, tuple[str, str]],
                       n_fields: int) -> None:
        """View over pipe-text ``parts`` read all-varchar; ``columns`` maps
        a field index to ``(name, type)`` and each is ``TRY_CAST`` (NULL
        where Spark's PERMISSIVE parse gives NULL). One ``read_csv`` per
        file: a multi-file ``read_csv`` here returns extra rows at file
        boundaries."""
        cols = ", ".join(f"'column{i:02d}': 'VARCHAR'" for i in range(n_fields))
        sel = ", ".join(
            f"TRY_CAST(column{i:02d} AS {typ}) AS {col}" for i, (col, typ) in columns.items()
        )
        reads = " UNION ALL ".join(
            f"SELECT {sel} FROM read_csv('{p}', delim='|', header=false, quote='', "
            f"escape='', null_padding=true, auto_detect=false, columns={{{cols}}})"
            for p in parts
        )
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS {reads}")

    def hash(self, sql: str) -> str:
        cur = self.con.execute(sql)
        return value_hash([d[0] for d in cur.description], cur.fetchall())

    def close(self) -> None:
        self.con.close()
