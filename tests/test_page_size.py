"""The pinned Tungsten page (``spark.buffer.pageSize`` in
``session.SCALE_CONF``).

A broadcast keyed on a string or on several columns
(``UnsafeHashedRelation``) allocates one whole page, so unpinned its size
follows driver heap ÷ cores (16 MiB for a 30-row table at local[4] with a
2 GiB driver). Pinned, it costs at most one 4 MiB page whatever the
session's heap and cores.
"""

from __future__ import annotations

from pyspark.sql import functions as F

PAGE_BYTES = 4 * 1024 * 1024


def _broadcast_data_sizes(jplan) -> list[int]:
    """``dataSize`` of every BroadcastExchangeExec in an executed plan,
    descending through AQE's final plan and its query stages."""
    sizes, stack = [], [jplan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            if name == "BroadcastExchangeExec":
                sizes.append(node.metrics().apply("dataSize").value())
            children = node.children()
            stack += [children.apply(i) for i in range(children.size())]
    return sizes


def test_session_page_is_pinned_at_4_mib(spark):
    mm = spark.sparkContext._jsc.sc().env().memoryManager()
    assert mm.pageSizeBytes() == PAGE_BYTES


def test_string_keyed_broadcast_costs_one_pinned_page(spark):
    small = spark.range(30).selectExpr("concat('k', id) AS k", "id AS v")
    big = spark.range(10_000).selectExpr("concat('k', id % 50) AS k", "id")
    df = big.join(F.broadcast(small), "k")
    assert len(df.collect()) == 6_000  # runs this frame's own plan
    (size,) = _broadcast_data_sizes(df._jdf.queryExecution().executedPlan())
    assert 0 < size <= PAGE_BYTES + 64 * 1024
