"""Pipe-delimited text source — reference-compatible ingest (SURVEY.md §2.1 S1/S2).

The reference scans ``store_sales.dat`` line-at-a-time, splits on ``|``, and
silently drops rows whose fields are empty or unparsable
(``Query 1a/TopKNetProfitDriver.java:46-76``; invalid-data taxonomy in
``CS346 Report.pdf p.2 Fig. 2``: empty attribute, unparsable numeric, missing
delimiters). Hive reads the same files as external tables with NULLs for
absent fields.

Spark's PERMISSIVE CSV mode reproduces the Hive behavior exactly: a malformed
field becomes NULL and downstream ``IS NOT NULL`` filters / NULL-ignoring
aggregates drop it — no custom parse code (SURVEY.md §2.2 P7). Like Hive's
LazySimpleSerDe the read has no quote character, so a stray ``"`` is data.

Which parser runs. Spark's line reader cuts files into splits of
``FilePartition.maxSplitBytes`` and calls univocity's ``parseLine`` once
per line, which ends every line on univocity's EOF-exception path. The
streaming reader (``multiLine``) parses a whole file in one univocity pass
but never splits a file. ``read_pipe_table`` lists the input once through
the Hadoop ``FileSystem`` API (so ``file:``, ``hdfs:`` and ``s3a:`` behave
alike) and streams when no file is larger than that split size. The scan's
partitions are then the same on either path and only the parser changes;
at 100 TB a file larger than a split still splits, on the line reader.
On perfbench ``topk_text`` (300k rows in 4 parts, 4-vCPU VM, medians of
10 alternating runs) executor CPU per run fell from 3.21 to 2.14 s. The
listing costs 19 py4j commands for one file and 37 for four (~6 ms). The
streaming reader takes a file's line terminator from its first line, hence
the contract on ``read_pipe_table``.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

from ..schemas import STORE, STORE_SALES

# Characters that make a path a Hadoop glob (Spark's ``isGlobPath``).
_GLOB_CHARS = frozenset("{}[]*?\\")
# A listing with more entries keeps the line reader unexamined. Each entry
# costs six py4j round trips, 0.45 ms on a 4-vCPU VM: 256 entries cost
# 0.1 s, and a 100k-file table would wait most of a minute for its parser.
_MAX_LISTED = 256


def _hidden(name: str) -> bool:
    """Spark's file-index rule for names it skips
    (``HadoopFSUtils.shouldFilterOutPathName``)."""
    exclude = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return exclude and not name.startswith(("_common_metadata", "_metadata"))


def _no_file_splits(spark: SparkSession, path: str) -> bool:
    """True when Spark's line reader would cut no file under ``path``:
    every visible entry is a file no larger than ``FilePartition.maxSplitBytes``,
    min(``maxPartitionBytes``, max(``openCostInBytes``, Σ(len + openCost) ÷
    (``minPartitionNum`` or the leaf-node default parallelism))).

    False for globs, subdirectories, empty listings, listings of more than
    ``_MAX_LISTED`` entries and paths that cannot be listed (the line reader
    then raises Spark's own error).
    """
    if _GLOB_CHARS.intersection(path):
        return False
    jss = spark._jsparkSession
    state = jss.sessionState()
    # A fully qualified name resolves in one py4j command, not one per package.
    hpath = getattr(spark._jvm, "org.apache.hadoop.fs.Path")(path)
    sizes, listed = [], 0
    try:
        entries = hpath.getFileSystem(state.newHadoopConf()).listStatusIterator(hpath)
        while entries.hasNext():
            listed += 1
            if listed > _MAX_LISTED:
                return False
            st = entries.next()
            if _hidden(st.getPath().getName()):
                continue
            if st.isDirectory():
                return False
            sizes.append(st.getLen())
    except Py4JJavaError:
        return False
    if not sizes:
        return False
    conf = state.conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    n = jss.leafNodeDefaultParallelism() if min_parts.isEmpty() else min_parts.get()
    per_core = sum(s + open_cost for s in sizes) // n
    return max(sizes) <= min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))


def _pipe_reader(spark: SparkSession, schema: StructType, sep: str) -> DataFrameReader:
    """The line reader's options: PERMISSIVE, empty field → NULL, no quote."""
    return (
        spark.read.schema(schema)
        .option("sep", sep)
        .option("mode", "PERMISSIVE")
        .option("nullValue", "")
        .option("quote", "")
        .option("header", "false")
    )


def read_pipe_table(
    spark: SparkSession,
    path: str,
    schema: StructType,
    *,
    sep: str = "|",
) -> DataFrame:
    """Schema-on-read scan of a pipe-delimited text table.

    PERMISSIVE mode: unparsable numerics → NULL (reference drop-on-
    ``NumberFormatException``), short rows → trailing NULLs (reference
    ``ArrayIndexOutOfBoundsException`` drop), empty fields → NULL via
    ``nullValue=""`` (reference ``!field.equals("")`` check). No quote
    character (Hive's LazySimpleSerDe has none): with one, a stray ``"``
    swallows the rest of its line, or in the streaming reader the lines
    after it.

    Each file is parsed as one stream when no file would be split (see the
    module docstring), else line by line. Contract: a file's lines end one
    way, LF or CRLF. The streaming reader takes the terminator from a
    file's first line, so a mixed file reads wrong on that path: after an
    LF first line, a CRLF line's last field keeps its ``\\r`` (a numeric
    last field becomes NULL); after a CRLF first line, the LF lines after
    it merge into one row. Whitespace-only lines differ the other way: the
    streaming reader keeps each as an all-NULL row, as DuckDB's
    ``read_csv`` does, and the line reader drops it. Empty lines are
    dropped on both paths.
    """
    reader = _pipe_reader(spark, schema, sep)
    if _no_file_splits(spark, path):
        reader = reader.option("multiLine", "true")
    return reader.csv(path)


def read_store_sales(spark: SparkSession, path: str) -> DataFrame:
    """The reference's fact table (Software Documentation.pdf p.6)."""
    return read_pipe_table(spark, path, STORE_SALES)


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """The reference's dimension table (Software Documentation.pdf p.7)."""
    return read_pipe_table(spark, path, STORE)
