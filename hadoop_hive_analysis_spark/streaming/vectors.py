"""Streaming twin of the vector-aggregation pack: per-group embedding
centroids maintained under continuous ingest.

The centroid state is a pure algebraic aggregate (count + component
sums in exact quantized integers), so the streaming aggregation's state
is O(groups × dims) regardless of stream length — the same partial-agg
bound the batch plan has — and the drained result equals the batch
centroid EXACTLY (integer sums are add-order independent). This is the
monitoring shape a 100 TB embedding pipeline maintains incrementally:
per-source/per-label centroids updated as vectors land, without
rescanning the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import _QUANT
from ..schemas import TESTDATA_SCHEMAS
from ..sources.catalog import stream_files


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the embeddings table (the vector landing
    zone being appended to; swap for Kafka with the same plan)."""
    return stream_files(
        spark, sf_dir, "embeddings.parquet", TESTDATA_SCHEMAS["embeddings"]
    )


def streaming_group_centroids(emb: DataFrame) -> DataFrame:
    """Per-(label, dim) running centroid over a vector stream: stateless
    posexplode, then a streaming aggregation whose state is exactly the
    batch plan's partial aggregate — count + exact quantized sum per
    (label, dim)."""
    expl = emb.select("label", F.expr(_QUANT).alias("q")).select(
        "label", F.posexplode("q").alias("dim", "v")
    )
    return (
        expl.groupBy("label", "dim")
        .agg(F.count("*").alias("n_vecs"), F.sum("v").alias("sum_q"))
        .select(
            F.col("label").cast("long").alias("label"),
            F.col("dim").cast("long").alias("dim"),
            "n_vecs",
            "sum_q",
            (F.col("sum_q") / F.col("n_vecs")).alias("mean_q"),
        )
    )


def embedding_centroid_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-ready replay: drain the embeddings table as a finite stream
    through :func:`streaming_group_centroids` — the result must equal the
    batch ``embedding_group_centroid`` exactly (integer sums commute), so
    it shares that query's oracle (``EMBEDDING_GROUP_CENTROID_SQL``).
    Complete output mode: the centroid table is a continuously-revised
    aggregate, not an append log."""
    import atexit
    import shutil
    import tempfile
    import uuid

    from .events import run_available_now

    tag = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"hha_centroid_ckpt_{tag}_")
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return run_available_now(
        streaming_group_centroids(read_embeddings_stream(spark, sf_dir)),
        query_name=f"centroid_replay_{tag}",
        checkpoint_dir=ckpt,
        output_mode="complete",
    )
