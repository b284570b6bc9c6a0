"""local_frame must be a drop-in for createDataFrame(list, schema):
identical rows and schema, one partition, across the row shapes the
engine's driver-built frames actually use (r19 optimization — the
pickled-list path pays 32 Python-worker tasks per consumer)."""

import pytest
from pyspark.sql import types as T

from hadoop_hive_analysis_spark.functions.frames import local_frame

CASES = [
    # (rows, schema)
    ([(1, 2), (3, 4)], "node bigint, component bigint"),
    ([("a", 1), ("b", None)], "k string, v int"),
    ([(1, [1, 2, 3]), (2, [4])], "query_id long, qq array<bigint>"),
    ([(0, "x", "y", "xy", 5)], "rank long, left string, right string, merged string, freq long"),
    ([], "node bigint, component bigint"),
    ([(1, None), (None, "s")], "a int, b string"),
    # null-mixed bigint ABOVE 2^53: pandas float64 inference would
    # silently round these (no exception, so the fallback never fires);
    # the object-dtype construction must keep them exact (advisor r19)
    ([(2**53 + 1, 1), (None, 2), (2**63 - 1, 3)], "big bigint, k int"),
]


def test_local_frame_timestamp_schema_takes_plain_path(spark):
    """Timestamp columns route around pandas (datetime64 session-tz
    localization risk — advisor r19): rows must round-trip exactly as
    the plain createDataFrame path builds them."""
    import datetime

    rows = [
        (1, datetime.datetime(2024, 3, 1, 12, 30, 15), None),
        (2, None, datetime.datetime(1999, 12, 31, 23, 59, 59)),
    ]
    schema = "id bigint, click_ts timestamp, purchase_ts timestamp"
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )
    assert got.rdd.getNumPartitions() == 1


@pytest.mark.parametrize("rows,schema", CASES, ids=range(len(CASES)))
def test_local_frame_matches_createdataframe(spark, rows, schema):
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    assert sorted(map(tuple, got.collect()), key=key) == sorted(
        map(tuple, want.collect()), key=key
    )


def test_local_frame_single_partition(spark):
    df = local_frame(spark, [(i, i) for i in range(5000)], "a long, b long")
    assert df.rdd.getNumPartitions() == 1


def test_local_frame_struct_type_schema(spark):
    schema = T.StructType(
        [
            T.StructField("node", T.LongType()),
            T.StructField("component", T.LongType()),
        ]
    )
    got = local_frame(spark, [(7, 7), (9, 7)], schema)
    assert got.schema == schema
    assert sorted(map(tuple, got.collect())) == [(7, 7), (9, 7)]


def test_local_frame_over_cap_takes_parallel_path(spark):
    """r20 boundedness guard: above LOCAL_FRAME_MAX_ROWS the helper must
    NOT funnel the frame through one partition."""
    from hadoop_hive_analysis_spark.functions import frames as fr

    if spark.sparkContext.defaultParallelism == 1:
        pytest.skip("one default partition: the parallel path is one too")

    orig = fr.LOCAL_FRAME_MAX_ROWS
    fr.LOCAL_FRAME_MAX_ROWS = 10
    try:
        rows = [(i, f"v{i}") for i in range(25)]
        got = local_frame(spark, rows, "k bigint, v string")
        assert got.rdd.getNumPartitions() > 1
        assert sorted(map(tuple, got.collect())) == rows
    finally:
        fr.LOCAL_FRAME_MAX_ROWS = orig
