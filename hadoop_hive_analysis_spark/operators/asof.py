"""Generic as-of join operator.

``asof_join``: the union-and-carry-forward formulation (ONE shuffle on the
``by`` key, linear scan per key — no range-join blow-up). Spark has no
native as-of join; this is the composition the engine standardizes on.

Used by ``operators.events.events_asof_join`` (oracle: DuckDB ASOF JOIN);
``tests/test_properties.py`` checks it against a Python bisect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    by: str,
    right_cols: list[str],
) -> DataFrame:
    """For each left row, attach the right row with the greatest ``on``
    value ≤ the left's, within the same ``by`` group (inner semantics:
    left rows with no prior right row are dropped). A right column whose
    name is also a left column comes out as ``<name>_right``.

    Right rows sort before left rows at identical ``on`` values, giving
    "at-or-before" semantics.
    """
    rstruct = F.struct(*[F.col(c) for c in right_cols]).alias("__rinfo")
    r = right.select(
        F.col(by).alias("__by"),
        F.col(on).alias("__on"),
        rstruct,
        F.lit(0).alias("__tag"),
    )
    l = left.select(
        F.col(by).alias("__by"),
        F.col(on).alias("__on"),
        F.lit(None).cast(r.schema["__rinfo"].dataType).alias("__rinfo"),
        F.lit(1).alias("__tag"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__linfo"),
    )
    r = r.withColumn("__linfo", F.lit(None).cast(l.schema["__linfo"].dataType))
    tagged = r.unionByName(l)
    w = (
        Window.partitionBy("__by")
        .orderBy("__on", "__tag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = tagged.withColumn(
        "__last", F.last("__rinfo", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__tag") == 1).filter(F.col("__last").isNotNull())
    sel = [F.col(f"__linfo.{c}").alias(c) for c in left.columns] + [
        F.col(f"__last.{c}").alias(f"{c}_right" if c in left.columns else c)
        for c in right_cols
    ]
    return out.select(*sel)
