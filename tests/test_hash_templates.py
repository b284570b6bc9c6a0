"""Text spellings of the portable hashes against their Column and DuckDB
twins, and the driver-side cost of building the MinHash-LSH operator and
the reference's q1a.

The dedup family builds its per-row hash projections as Spark SQL text
(``h64_spark_sql``/``h31_spark_sql``/``minhash_sql``); the Column
``h64``/``h31``/``minhash_expr`` and the DuckDB ``h64_sql``/``h31_sql``/
``minhash_sql`` must give bit-identical values on every input, or the
oracle hashes and the streaming-vs-batch signature agreement break.
"""

from __future__ import annotations

import hashlib
import random

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


def test_minhash_lsh_build_stays_under_400_py4j_commands(spark, sf_dir, py4j_commands):
    """Building (not running) ``dedup_minhash_lsh`` on sf0.001 sends at most
    400 py4j commands from the building thread.

    Measured with PySpark 4.1.2: 2,796 commands when the 16 signature
    folds and 4 band keys were a Column-DSL tree, 665 with them as
    Spark-SQL ``selectExpr`` text, 285 once the session also turned off
    DataFrame call-site capture (``spark.python.sql.dataFrameDebugging``).
    """
    from hadoop_hive_analysis_spark.operators.dedup import dedup_minhash_lsh

    sent = py4j_commands(lambda: dedup_minhash_lsh(spark, sf_dir))
    assert 0 < sent <= 400, sent


def test_session_skips_call_site_capture_and_q1a_build_stays_under_120_py4j_commands(
    spark, tmp_path, py4j_commands
):
    """A ``get_spark`` session turns DataFrame call-site capture off, so
    building the reference's q1a over pipe text (the read and the query
    frame) sends at most 120 py4j commands: 234 with capture on, 94 off
    (PySpark 4.1.2). With capture on, every ``functions``/``Column`` call
    also looks up the active session, reads a conf and sets and clears a
    JVM ``PySparkCurrentOrigin``.

    ``pyspark.errors.utils.is_debugging_enabled`` caches its first read per
    process, so the setting that counts is the one of the session active
    at the first such call — in this suite, the ``get_spark`` fixture's.
    """
    from pyspark.errors.utils import is_debugging_enabled

    from hadoop_hive_analysis_spark.plans.reference_queries import (
        q1a_top_stores_by_profit,
    )
    from hadoop_hive_analysis_spark.sources.csv import read_store_sales

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    fields = [""] * 23
    fields[0], fields[2], fields[7], fields[10], fields[22] = (
        "2451000", "1", "1", "2", "10.50"
    )
    path = tmp_path / "store_sales.dat"
    path.write_text("|".join(fields) + "\n")

    def build():
        sales = read_store_sales(spark, str(path))
        q1a_top_stores_by_profit(sales, 10, 2450000, 2452000)

    sent = py4j_commands(build)
    assert 0 < sent <= 120, sent
