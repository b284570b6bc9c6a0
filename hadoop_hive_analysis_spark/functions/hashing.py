"""Portable deterministic hashing — identical values in Spark and DuckDB.

Spark's native ``xxhash64``/``hash`` have no DuckDB twin, so oracle-checked
operators use an md5-derived 60-bit hash instead: take the first 15 hex
chars of md5 (60 bits, always positive in int64) and parse as base-16.
Verified bit-identical across engines including UTF-8 inputs.

At 100 TB this is still the right shape: md5 is JVM-side, vectorizable by
codegen, and cheap relative to shuffle.

MinHash machinery: universal-hash family h_j(x) = (a_j * x + b_j) mod P
over the 31-bit reduction of the base hash; all arithmetic stays in int64
(a_j, x < 2^31 → product < 2^62), so Spark and DuckDB agree exactly.

Spark-SQL text vs Column DSL. Every node of a PySpark Column expression
is built by py4j round trips on the driver (plus a call-site capture per
node in PySpark 4.1); a SQL string is one round trip however large the
expression. So multi-expression per-row projections — the MinHash
signature + LSH band block, the shingle/span hash arrays, the 32 SimHash
votes — are written as Spark SQL text (:func:`h64_spark_sql`,
:func:`h31_spark_sql`, :func:`minhash_sql`) and passed to ``selectExpr``
/ ``F.expr`` whole. Only integer constants and fixed column names are
spliced into the text; values that are not constants of the code stay
Column literals (``operators.bpe._apply_merge`` passes learned merge
symbols with ``F.lit`` on purpose). Measured on a 4-vCPU host with
PySpark 4.1.2: building ``dedup_minhash_lsh`` on sf0.001 sends 2,796 →
665 py4j commands (``dedup_simhash`` 4,833 → 816); building the
signature + band block alone takes 0.40–0.54 → 0.04–0.06 s; in two
traced ``perfbench`` ``dedup_corpus`` runs a pass spends 0.69–0.83 →
0.54 s building plans (``plans.build_s``) with the same 11 jobs and
14.9 MB of checkpoints. The Column
:func:`h64` / :func:`h31` / :func:`minhash_expr` stay as the independent
reference the property and streaming tests compare the text forms to.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: modulus for the universal hash family.
MERSENNE_31 = 2_147_483_647


def h64(col: Column | str) -> Column:
    """60-bit deterministic hash of a string column (portable to DuckDB)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h64_sql(expr: str) -> str:
    """DuckDB twin of :func:`h64`."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def h64_spark_sql(expr: str) -> str:
    """Spark-SQL text twin of :func:`h64` (for ``selectExpr``/``F.expr``)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def h31(col: Column | str) -> Column:
    """31-bit reduction used as MinHash input domain."""
    return h64(col) % MERSENNE_31


def h31_sql(expr: str) -> str:
    return f"({h64_sql(expr)} % {MERSENNE_31})"


def h31_spark_sql(expr: str) -> str:
    """Spark-SQL text twin of :func:`h31`."""
    return f"({h64_spark_sql(expr)} % {MERSENNE_31})"


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) pairs via a fixed LCG from seed 42 — NO
    runtime RNG, so the Spark plan and the oracle SQL embed the same
    constants."""
    params = []
    state = 42
    for _ in range(num_hashes):
        state = (state * 1_103_515_245 + 12_345) % (1 << 31)
        a = (state % (MERSENNE_31 - 1)) + 1  # a in [1, P-1]
        state = (state * 1_103_515_245 + 12_345) % (1 << 31)
        b = state % MERSENNE_31  # b in [0, P-1]
        params.append((a, b))
    return params


def minhash_expr(hash31: Column, a: int, b: int) -> Column:
    """h_j(x) = (a*x + b) mod P — int64-safe by construction."""
    return (hash31 * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)


def minhash_sql(hash31_expr: str, a: int, b: int) -> str:
    """Text twin of :func:`minhash_expr`, valid in both DuckDB and Spark SQL."""
    return f"(({hash31_expr} * {a} + {b}) % {MERSENNE_31})"
