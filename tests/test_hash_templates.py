"""Text spellings of the portable hashes against their Column and DuckDB
twins, and the driver-side cost of building the MinHash-LSH operator.

The dedup family builds its per-row hash projections as Spark SQL text
(``h64_spark_sql``/``h31_spark_sql``/``minhash_sql``); the Column
``h64``/``h31``/``minhash_expr`` and the DuckDB ``h64_sql``/``h31_sql``/
``minhash_sql`` must give bit-identical values on every input, or the
oracle hashes and the streaming-vs-batch signature agreement break.
"""

from __future__ import annotations

import gc
import hashlib
import random
import threading

import duckdb
from pyspark.sql import functions as F

from hadoop_hive_analysis_spark.functions.hashing import (
    MERSENNE_31,
    h31,
    h31_spark_sql,
    h31_sql,
    h64,
    h64_spark_sql,
    h64_sql,
    minhash_expr,
    minhash_params,
    minhash_sql,
)

_rng = random.Random(20261017)
STRINGS = [
    "",
    "   \t\n  ",
    "naïve café — 日本語のテキスト 🙂 Ωμέγα",
    "".join(_rng.choices("abcdefghij klmnop\tqrstuvwxyzé日🙂", k=10_000)),
]
H_VALUES = [0, 1, MERSENNE_31 - 1] + [_rng.randrange(1 << 31) for _ in range(40)]


def _py_h64(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def test_string_hash_text_column_and_duckdb_agree(spark):
    rows = list(enumerate(STRINGS))
    df = spark.createDataFrame(rows, "i int, s string")
    text = {
        r.i: (r.h64, r.h31)
        for r in df.selectExpr(
            "i", f"{h64_spark_sql('s')} AS h64", f"{h31_spark_sql('s')} AS h31"
        ).collect()
    }
    col = {
        r.i: (r.h64, r.h31)
        for r in df.select("i", h64("s").alias("h64"), h31("s").alias("h31")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = {
        i: (a, b)
        for i, a, b in con.execute(f"SELECT i, {h64_sql('s')}, {h31_sql('s')} FROM t").fetchall()
    }
    want = {i: (_py_h64(s), _py_h64(s) % MERSENNE_31) for i, s in rows}
    assert text == col == duck == want


def test_minhash_text_column_and_duckdb_agree(spark):
    params = minhash_params(16)
    rows = list(enumerate(H_VALUES))
    df = spark.createDataFrame(rows, "i int, h long")
    names = [f"m{j}" for j in range(len(params))]
    text = df.selectExpr(
        "i", *[f"{minhash_sql('h', a, b)} AS {n}" for n, (a, b) in zip(names, params)]
    ).collect()
    col = df.select(
        "i", *[minhash_expr(F.col("h"), a, b).alias(n) for n, (a, b) in zip(names, params)]
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, h BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = con.execute(
        f"SELECT i, {', '.join(minhash_sql('h', a, b) for a, b in params)} FROM t"
    ).fetchall()
    want = [(i, *[(a * h + b) % MERSENNE_31 for a, b in params]) for i, h in rows]
    assert sorted(map(tuple, text)) == sorted(map(tuple, col)) == sorted(duck) == want


def test_minhash_lsh_build_stays_under_1000_py4j_commands(spark, sf_dir, monkeypatch):
    """Building (not running) ``dedup_minhash_lsh`` on sf0.001 sends at most
    1,000 py4j commands from the building thread.

    Measured with PySpark 4.1.2: 2,796 commands when the 16 signature
    folds and 4 band keys were a Column-DSL tree, 665 with them as
    Spark-SQL ``selectExpr`` text. Only commands sent from this thread count,
    and cyclic GC is off while counting: py4j sends the detach messages
    of collected Java objects from its finalizer thread, at times that
    depend on earlier tests.
    """
    from py4j.clientserver import ClientServerConnection

    from hadoop_hive_analysis_spark.operators.dedup import dedup_minhash_lsh

    me = threading.get_ident()
    sent = [0]
    send = ClientServerConnection.send_command

    def counting(self, *args, **kwargs):
        sent[0] += threading.get_ident() == me
        return send(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    gc.collect()
    gc.disable()
    try:
        dedup_minhash_lsh(spark, sf_dir)
    finally:
        gc.enable()
    assert 0 < sent[0] <= 1000, sent[0]
