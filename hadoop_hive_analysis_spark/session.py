"""SparkSession factory with scale-oriented defaults.

The reference tuned Hadoop by hand (split sizing, combiner, uber mode,
reducer slow-start — ``Query 1a/TopKNetProfitDriver.java:207-239``,
``CS346 Report.pdf p.7-8``). The Spark equivalents are configuration, not
code: AQE re-plans shuffles at runtime (partition coalescing + skew-join
splitting), ``maxPartitionBytes`` replaces split sizing, and map-side
partial aggregation is always on in ``HashAggregateExec``.

All settings here hold on a real multi-executor cluster; ``local[N]`` is
only the test harness.
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


class ReleaseResult(NamedTuple):
    """Outcome of ``release_cached_blocks``: ``unpersisted`` registry
    RDDs explicitly released, ``residual`` RDDs still registered after
    the release (0 = the JVM is back to fresh-block state)."""

    unpersisted: int
    residual: int

# Storage level of every checkpoint (``materialize``). SERIALIZED, not
# the default deserialized level: per-row on-heap objects thrash the GC
# during downstream sorts and accumulate across queries sharing one JVM.
# Measured twice: the r8 tfidf A/B (SCALING.md, doc_tfidf_cosine_pairs —
# back-to-back deserialized runs degrade 15.3→8.7→18.1 s in one 8 GiB
# JVM; serialized levels them) and an r15 sf1 mini-pack A/B (6 dedup
# queries × 3 reps, one JVM, interleaved vs the prior tree: serialized
# 131 s total vs deserialized 158 s, worst first-rep outlier halved).
# Serialized blocks are flat buffers, several times smaller (the token
# explode doc_heavy_hitters checkpointed until it merged its candidates
# on the driver, sf0.1: 22.74 MB deserialized, 1.59 MB serialized);
# MEMORY_AND_DISK spills only under pressure.
#
# NB (advisor r19 adjudication): unlike Scala's MEMORY_AND_DISK,
# *PySpark's* ``StorageLevel.MEMORY_AND_DISK`` is ``StorageLevel(True,
# True, False, deserialized=False)`` — i.e. SERIALIZED in memory (it
# prints "Disk Memory Serialized 1x Replicated"). The Kryo rationale in
# SCALE_CONF therefore matches this level as configured: in-memory
# checkpoint blocks are Kryo-serialized byte buffers, not on-heap rows.
CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK

# Defaults chosen for the 100 TB design point, not for the local test rig:
#  - AQE on: runtime partition coalescing, skew-join splitting, and
#    shuffle-to-broadcast demotion are the modern answer to every §4
#    hand-tuning in the reference.
#  - 128 MiB scan partitions: matches HDFS/S3 block sizing; at 100 TB this
#    yields ~800k scan tasks, which Spark handles; AQE coalesces the tail.
#  - shuffle partitions: a *starting* number; AQE's coalescePartitions
#    right-sizes each exchange, so overprovisioning is safe and advised.
#  - 64 MiB broadcast threshold: every dimension table in the workload
#    (store: 58 rows in the reference EDA; region/nation/supplier/part in
#    the test schema) is far below it, so star joins become BroadcastHash.
SCALE_CONF: dict[str, str] = {
    # Kryo for everything the SparkEnv serializer touches — which in
    # this engine is chiefly the serialized localCheckpoint blocks
    # (CKPT_LEVEL) every multi-consumer operator materializes; SQL
    # exchanges use UnsafeRow either way. The stock recommendation for
    # any RDD-serialized state, local or cluster. Measured r19:
    # interleaved 2×2 fresh-JVM A/B over the 8 checkpoint-heavy dedup
    # queries — best-of-2 sums 12.91 → 12.04 s (ratio 0.933), 6/8
    # queries faster, values bit-identical (serialization is
    # representation, not arithmetic).
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.localShuffleReader.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # ANSI off: CAST returns NULL on malformed input, reproducing the
    # reference's drop-on-parse-failure semantics (SURVEY.md §2.2 P7/P8).
    "spark.sql.ansi.enabled": "false",
    "spark.sql.shuffle.partitions": "32",
    # A broadcast keyed on a string or on several columns
    # (UnsafeHashedRelation) allocates one whole Tungsten page however
    # few its rows. Unset, the page is derived from driver heap ÷ cores:
    # 1 MiB at local[32]/1g, 2 MiB at local[8]/1g, 4 MiB at local[4]/1g,
    # 16 MiB at local[4]/2g, 64 MiB at local[4]/8g — so the 30-row
    # candidate broadcast doc_heavy_hitters then made reported 16.0 MiB
    # under perfbench's 2g driver. Pinned at 4 MiB: candidates 16.0 →
    # 4.0 MiB, the dedup_minhash_lsh band table 16.5 → 4.5 MiB, perfbench
    # dedup_corpus peak_jvm_mb median 125.1 → 102.0 MB (lower in 10/10
    # alternating fresh-JVM pairs, 4-vCPU VM). A task's page table holds
    # 8,192 pages, so the per-task ceiling stays 32 GiB; 1m and 2m saved
    # only ~5 MB more (one run each).
    # Single-long-key broadcasts (LongHashedRelation) do not use the page.
    "spark.buffer.pageSize": "4m",
    # Off: at its default PySpark wraps every functions/Column call in
    # an active-session lookup, a conf read and a JVM PySparkCurrentOrigin
    # set/clear, to put the Python call site into DataFrame error
    # contexts. Building q1a over pipe text went from 234 to 94 py4j
    # commands, dedup_minhash_lsh from 665 to 285 (PySpark 4.1); the call
    # site lost points into this package's operator code. PySpark caches
    # its first read of the flag per process.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "hadoop-hive-analysis-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's scale defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for the test rig;
    on a cluster, pass ``None`` and submit with ``--master yarn``/k8s —
    an explicitly-configured master in the environment wins.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(SCALE_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame) -> DataFrame:
    """The engine's one materialization point: ``df`` as a non-eager
    local checkpoint at ``CKPT_LEVEL``.

    An operator materializes a frame that several branches read, or an
    iteration's state, so each consumer scans the stored blocks instead
    of re-running the lineage — the Spark analogue of the reference's
    HDFS hand-off between chained MR jobs. Non-eager: the first action
    that reads the frame stores it, so a frame of scans and narrow
    operators schedules no job at the call. A frame over a shuffle
    exchange does: under AQE, building its checkpoint RDD runs the
    exchange's map stage then (one job for
    ``spark.range(100_000).repartition(4)``), so e.g. ``spread_small_scan``'s
    round-robin spread runs while the operator builds its DataFrame.
    ``release_cached_blocks`` frees the blocks between queries.
    """
    return df.localCheckpoint(eager=False, storageLevel=CKPT_LEVEL)


def release_cached_blocks(spark: SparkSession) -> ReleaseResult:
    """Synchronously free every persisted RDD block in the JVM — the
    deterministic release the ContextCleaner does not guarantee.

    Checkpointed frames (``materialize``) keep their blocks until the
    ContextCleaner sees their RDD garbage-collected, which in a
    long-lived JVM running a query pack may be never: blocks from earlier
    queries ACCUMULATE and squeeze later queries' execution memory (r15
    sf1 sweep: ``dedup_embedding_lsh`` 42.1 s in-pack vs 3.3-3.8 s in a
    fresh JVM — adjudicated to exactly this, VERDICT r15 item 2). No
    operator reuses a checkpoint across queries (each ``queries()`` entry
    rebuilds its plan from the parquet scan), so a blocking unpersist of
    everything between queries reproduces the fresh-JVM condition without
    the JVM restart.

    Every RDD that still holds blocks is listed in ``sc.persistentRdds``
    (weak values), which ``getPersistentRDDs`` returns; an RDD drops off
    that list only when the JVM collects it, and the same collection hands
    it to the ContextCleaner, which frees its blocks. So one blocking
    unpersist of the listed RDDs is the whole release. ``DataFrame.
    unpersist()`` would not do: on a checkpointed frame it only touches
    the CacheManager.

    Returns ``ReleaseResult(unpersisted, residual)``: the number of RDDs
    unpersisted, and the number still listed afterwards (0 = fully
    released). A nonzero residual is the signal that in-pack block
    accumulation may be back — measurement paths surface it (bench.py
    records the pack-wide max in BENCH_FULL.json) instead of failing.
    """
    # cache()/persist()'d DataFrames keep CacheManager references that
    # would re-materialize; clear those first so the RDD sweep below is
    # the final word. (Checkpoint blocks are NOT in the CacheManager.)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    # Keys copied out as one Java array: a Python loop over the py4j map
    # ends on the Java iterator's NoSuchElementException, which PySpark's
    # exception conversion answers with more round trips (a release of
    # one RDD sent 85 py4j commands, ~0.1 s, instead of 12).
    rdds = jsc.getPersistentRDDs()
    jrdds = [rdds.get(k) for k in rdds.keySet().toArray()]
    for jrdd in jrdds:
        jrdd.unpersist(True)
    return ReleaseResult(len(jrdds), len(jsc.getPersistentRDDs()))
