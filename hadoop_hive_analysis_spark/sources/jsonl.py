"""JSONL (newline-delimited JSON) source + sink — the interchange format
LLM training corpora actually arrive in (one JSON object per line:
The Pile, RedPajama, FineWeb, Dolma all ship this shape).

Same dirty-data philosophy as the pipe-CSV ingest (`sources/csv.py` —
the reference's Fig. 2 classes): explicit schema (no inference pass over
100 TB), PERMISSIVE mode with a ``columnNameOfCorruptRecord`` quarantine
column, so a corrupt line becomes an inspectable row instead of a job
failure, and a malformed FIELD (wrong type) nulls that field without
dropping the record. The reader never infers: schema inference is a
second full scan AND schema drift across shards silently widens types.

Scale shape: JSONL is splittable only when uncompressed or with a
splittable codec — gzip files are one task each, which is the classic
ingest bottleneck; the documented pattern is decompress-and-convert to
parquet ONCE (:func:`jsonl_to_parquet`) and run everything downstream on
the columnar copy (pushdown + pruning + stats, none of which JSON has).
"""

from __future__ import annotations

from ..session import materialize
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"

DOCUMENTS_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField(CORRUPT_COL, T.StringType()),
    ]
)


def read_documents_jsonl(
    spark: SparkSession, path: str, *, keep_corrupt: bool = False
) -> DataFrame:
    """Read a documents JSONL dump with explicit schema + PERMISSIVE
    quarantine.

    ``keep_corrupt=False`` (the pipeline default) drops quarantined
    lines after the parse — mirroring the P7 invalid-record-drop
    semantics of the pipe ingest; ``keep_corrupt=True`` returns them
    with every data field NULL and the raw line in ``_corrupt_record``
    for a dead-letter audit sink.
    """
    df = (
        spark.read.schema(DOCUMENTS_JSONL_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
        # Spark disallows queries whose referenced columns reduce to the
        # internal corrupt column alone (QUERY_ONLY_CORRUPT_RECORD_COLUMN
        # — e.g. a count() after the quarantine filter); materializing
        # the parse once lifts the restriction AND matches how this
        # reader is used (ingest-time conversion, every downstream read
        # runs on the parquet copy).
        .transform(materialize)
    )
    if keep_corrupt:
        return df
    return df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)


def write_jsonl(
    df: DataFrame, path: str, *, compression: str | None = None
) -> None:
    """One JSON object per line; optional codec (gzip for interchange —
    NOT for re-ingest at scale, see module docstring)."""
    writer = df.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def jsonl_to_parquet(
    spark: SparkSession, src: str, dst: str, *, dead_letter: str | None = None
) -> tuple[int, int]:
    """The one-time conversion a pipeline runs on arrival: parse with
    quarantine, land clean rows as parquet (columnar, stats-bearing,
    splittable), optionally land corrupt lines to a dead-letter JSONL.
    Returns (clean_rows, corrupt_rows)."""
    raw = read_documents_jsonl(spark, src, keep_corrupt=True)
    clean = raw.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    corrupt = raw.filter(F.col(CORRUPT_COL).isNotNull())
    clean.write.mode("overwrite").parquet(dst)
    n_corrupt = corrupt.count()
    if dead_letter is not None and n_corrupt:
        corrupt.select(CORRUPT_COL).write.mode("overwrite").text(dead_letter)
    return spark.read.parquet(dst).count(), n_corrupt
