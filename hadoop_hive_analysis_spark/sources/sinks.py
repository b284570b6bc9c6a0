"""Sinks: tab-separated text (reference-compatible, SURVEY.md §2.1 S5/S6)
and Parquet (engine-native)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_tab_text(df: DataFrame, path: str, *, compression: str | None = None) -> None:
    """Reference-compatible ``key\\tvalue`` text sink
    (``Query 1a/TopKNetProfitDriver.java:243``); optional gzip mirrors the
    compressed-sink experiment (``Query 1b/TopKSoldItemsDriver.java:216``)."""
    writer = df.write.mode("overwrite").option("sep", "\t")
    if compression:
        writer = writer.option("compression", compression)
    writer.csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
) -> None:
    """Engine-native sink (overwrites ``path``). ``partition_by`` enables
    partition pruning for downstream readers — the scale path for fact
    tables (e.g. partition by date at 100 TB so date-range queries touch
    only matching directories)."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    compression: str = "zlib",
    mode: str = "overwrite",
) -> None:
    """ORC sink — the other columnar interchange format a Hive-era
    warehouse (the reference's ecosystem) actually speaks. Same
    partition-pruning semantics as the parquet sink; predicate pushdown
    and column pruning work identically through Spark's ORC reader
    (pinned in tests/test_sources.py)."""
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark, path: str) -> DataFrame:
    """ORC scan (schema from file footers, like parquet)."""
    return spark.read.orc(path)
