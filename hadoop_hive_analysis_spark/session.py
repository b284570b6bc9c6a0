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
from pyspark.sql import SparkSession


class ReleaseResult(NamedTuple):
    """Outcome of ``release_cached_blocks``: ``unpersisted`` registry
    RDDs explicitly released, ``residual`` RDDs still holding blocks when
    the drain poll gave up (0 = the JVM is back to fresh-block state)."""

    unpersisted: int
    residual: int

# Storage level for corpus-scale localCheckpoint sites (shingle / token /
# span / posting / edge frames). SERIALIZED, not the default deserialized
# level: per-row on-heap objects thrash the GC during downstream sorts
# and — because localCheckpoint blocks are freed asynchronously by the
# ContextCleaner — ACCUMULATE across queries sharing one JVM. Measured
# twice: the r8 tfidf A/B (SCALING.md, doc_tfidf_cosine_pairs — back-to-back
# deserialized runs degrade 15.3→8.7→18.1 s in one 8 GiB JVM; serialized
# levels them) and an r15 sf1 mini-pack A/B (6 dedup queries × 3 reps,
# one JVM, interleaved vs the prior tree: serialized 131 s total vs
# deserialized 158 s, worst first-rep outlier halved). Serialized blocks
# are flat buffers ~5× smaller; MEMORY_AND_DISK spills only under
# pressure. Deliberately-tiny checkpoints (1-row sketch rows, top-K+1
# frames) keep the default — there is nothing to win.
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


def release_cached_blocks(
    spark: SparkSession, blocking: bool = True
) -> ReleaseResult:
    """Synchronously free every persisted RDD block in the JVM — the
    deterministic release the ContextCleaner does not guarantee.

    Non-eager ``localCheckpoint`` frames register with the BlockManager at
    first materialization and are freed ASYNCHRONOUSLY: the ContextCleaner
    only enqueues the cleanup after a *driver GC* collects the last
    reference, so in a long-lived JVM running a query pack the blocks from
    earlier queries ACCUMULATE and squeeze later queries' execution memory
    (r15 sf1 sweep: ``dedup_embedding_lsh`` 42.1 s in-pack vs 3.3-3.8 s in
    a fresh JVM — adjudicated to exactly this, VERDICT r15 item 2). No
    operator reuses a checkpoint across queries (each ``queries()`` entry
    rebuilds its plan from the parquet scan), so a blocking unpersist of
    everything between queries reproduces the fresh-JVM condition without
    the JVM restart.

    Two mechanisms, because checkpointed frames die two ways:
    (1) frames still referenced (registered in ``sc.persistentRdds``) are
    unpersisted directly, blocking until the BlockManager confirms;
    (2) frames whose Python/JVM references were already dropped inside an
    operator are invisible to the registry (weak values) but their BLOCKS
    remain until a driver GC feeds the ContextCleaner's reference queue —
    so force the GC and poll ``getRDDStorageInfo`` until the block list
    is empty. The poll bails after ~0.5 s of ZERO progress (advisor r16):
    if blocks cannot drain at all — ``-XX:+DisableExplicitGC``, or a
    Spark-internal persisted RDD outside our control — spinning to the
    30 s deadline on EVERY call (~3×/query across a ~129-query pack)
    would silently turn a ~100 s bench into hours, for a drain that was
    never going to happen. A few no-progress iterations of grace absorb
    the cleaner thread's normal async latency; the 30 s deadline remains
    as the cap for the slow-but-progressing case.

    Returns ``ReleaseResult(unpersisted, residual)``: the number of RDDs
    explicitly unpersisted, and the number of RDDs still holding blocks
    when the poll gave up (0 = fully drained). A nonzero residual is the
    signal that in-pack block accumulation may be back — measurement
    paths surface it (bench.py records the pack-wide max in
    BENCH_FULL.json) instead of failing.
    """
    # cache()/persist()'d DataFrames keep CacheManager references that
    # would re-materialize; clear those first so the RDD sweep below is
    # the final word. (Checkpoint blocks are NOT in the CacheManager.)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    jrdds = list(sc._jsc.getPersistentRDDs().values())
    for jrdd in jrdds:
        jrdd.unpersist(blocking)
    residual = 0
    if blocking:
        import time as _time

        def _drain_state() -> tuple[int, int]:
            # progress metric = total cached PARTITIONS, not RDD count
            # (advisor r17): a single large RDD draining block-by-block
            # keeps the RDD count constant for >0.5 s and would trip the
            # no-progress bail even though the drain was advancing —
            # exactly the slow-but-progressing case the 30 s cap covers.
            infos = list(sc._jsc.sc().getRDDStorageInfo())
            return len(infos), sum(i.numCachedPartitions() for i in infos)

        deadline = _time.monotonic() + 30.0
        n_rdds, prev = _drain_state()
        stalled = 0
        while n_rdds > 0:
            if _time.monotonic() > deadline:
                residual = n_rdds
                break  # leave residue to the ContextCleaner; best-effort
            sc._jvm.System.gc()  # enqueue dropped-ref RDDs for the cleaner
            _time.sleep(0.1)
            n_rdds, cur = _drain_state()
            stalled = stalled + 1 if cur >= prev else 0
            if n_rdds > 0 and stalled >= 5:  # ~0.5 s with zero progress
                residual = n_rdds
                break
            prev = cur
    return ReleaseResult(len(jrdds), residual)
