"""Event-stream operators over the ``events`` table (batch form).

The same logical operations the reference lacks entirely (SURVEY.md §2.6
"absent in the reference"): tumbling-window aggregation, sessionization,
and as-of joins. Batch implementations here are oracle-checked; the
streaming twins (readStream + watermark) live in
:mod:`..streaming.events` and are tested for batch-equivalence.

Determinism:
* window starts are exchanged as EPOCH SECONDS (bigint) — no cross-engine
  timestamp-type/timezone coupling;
* value sums run through DECIMAL(12,2) (the fixtures are 2-decimal money)
  then cast to double;
* orderings carry event_id tie-breaks.
"""

from __future__ import annotations

from ..session import materialize
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.frames import local_frame
from ..sources.catalog import load_table

WINDOW_SEC = 300
SESSION_GAP_SEC = 1800

_VAL_CENTS = "CAST(round(value * 100, 0) AS BIGINT)"


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows per event_type: count + exact value sum.

    Uses the REAL Spark ``window()`` operator (same plan Structured
    Streaming uses), then projects the start to epoch seconds for the
    oracle. One shuffle on (window, type); map-side partial aggs apply.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(
            F.window("ts", f"{WINDOW_SEC} seconds").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.expr(_VAL_CENTS)) / F.lit(100.0)).alias("sum_value"),
        )
    )
    return agg.select(
        F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
        "event_type",
        "n_events",
        "sum_value",
    )


EVENTS_TUMBLING_SQL = f"""
    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // {WINDOW_SEC}) * {WINDOW_SEC}
               AS window_start_epoch,
           event_type,
           count(*) AS n_events,
           CAST(SUM({_VAL_CENTS}) / 100.0 AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
"""


SLIDE_SEC = 300
SLIDE_SIZE_SEC = 600


def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 minutes, per event_type
    (SURVEY §7.2-6's third event-time shape, beside tumbling/session).

    The REAL Spark ``window(ts, size, slide)`` operator: each event is
    assigned to size/slide = 2 overlapping windows (one logical explode,
    then the same shuffle-on-(window, type) + partial-agg plan as
    tumbling — input amplification is exactly ×2, no extra shuffles).
    Window starts project to epoch seconds for the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(
        F.window(
            "ts", f"{SLIDE_SIZE_SEC} seconds", f"{SLIDE_SEC} seconds"
        ).alias("w"),
        "event_type",
    ).agg(
        F.count("*").alias("n_events"),
        (F.sum(F.expr(_VAL_CENTS)) / F.lit(100.0)).alias("sum_value"),
    )
    return agg.select(
        F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
        "event_type",
        "n_events",
        "sum_value",
    )


# Spark aligns slide-window starts to the 1970 epoch grid (start ≡ 0 mod
# slide, start ≤ t < start + size). With size = 2×slide each event lands
# in exactly the two grid starts floor(t/slide)*slide and that minus
# slide — the oracle materializes the same assignment with an unnest.
EVENTS_SLIDING_SQL = f"""
    SELECT s.window_start_epoch,
           event_type,
           count(*) AS n_events,
           CAST(SUM({_VAL_CENTS}) / 100.0 AS DOUBLE) AS sum_value
    FROM events,
         LATERAL (
             SELECT unnest([
                 (CAST(floor(epoch(ts)) AS BIGINT) // {SLIDE_SEC}) * {SLIDE_SEC},
                 (CAST(floor(epoch(ts)) AS BIGINT) // {SLIDE_SEC}) * {SLIDE_SEC}
                     - {SLIDE_SEC}
             ]) AS window_start_epoch
         ) s
    GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via window functions.

    Classic linear formulation: flag session starts with lag(), number
    sessions with a running sum — one shuffle on user_id, no self-join.
    The same semantics stream via ``applyInPandasWithState`` /
    ``session_window`` in the streaming module.

    Boundary rule (shared by every session operator in the package):
    timestamps are truncated to WHOLE SECONDS, and a truncated gap
    ``> SESSION_GAP_SEC`` starts a new session. This is exactly Spark's
    native ``session_window`` semantics over second-truncated input —
    session windows MERGE when they touch (an event at last + gap
    extends the session; measured, not assumed, in
    ``tests/test_streaming.py::test_session_boundary_canary``) — so
    batch, streaming, and both DuckDB oracles agree on every input,
    with no ambiguous sub-second band around the gap.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    return sessionize_df(ev)


def sessionize_df(ev: DataFrame) -> DataFrame:
    """Sessionize an arbitrary events DataFrame (event_id, user_id, ts,
    value) with the package-wide boundary rule — factored out of
    :func:`events_sessionize` so tests can drive adversarial near-gap
    timestamps through the exact production expressions."""
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(order)
            > SESSION_GAP_SEC,
            1,
        )
        .otherwise(0)
        .cast("long"),
    ).withColumn(
        "is_new",
        F.when(F.lag("ts").over(order).isNull(), F.lit(1)).otherwise(F.col("is_new")),
    )
    sessions = flagged.withColumn(
        "session_no",
        F.sum("is_new").over(
            order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_no")
        .agg(
            F.min(F.col("ts").cast("long")).alias("session_start_epoch"),
            F.count("*").alias("n_events"),
            (F.sum(F.expr(_VAL_CENTS)) / F.lit(100.0)).alias("sum_value"),
        )
        .select("user_id", "session_no", "session_start_epoch", "n_events", "sum_value")
    )


EVENTS_SESSIONIZE_SQL = f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                         > {SESSION_GAP_SEC} THEN 1
                    ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      AS session_no
        FROM flagged
    )
    SELECT user_id, session_no,
           min(CAST(floor(epoch(ts)) AS BIGINT)) AS session_start_epoch,
           count(*) AS n_events,
           CAST(SUM({_VAL_CENTS}) / 100.0 AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY 1, 2
"""


# Session aggregates WITHOUT the session ordinal — the shape Spark's
# native session_window emits (streaming replay shares this oracle; the
# ordinal-carrying form above stays the batch query's oracle). Boundary
# alignment: session_window over SECOND-TRUNCATED timestamps splits
# exactly when the floored-epoch diff is > the gap (touching windows
# merge — measured in tests/test_streaming.py), which is precisely this
# oracle's flag rule — so oracle and streaming replay agree on EVERY
# input, not just fixtures without near-gap spacings.
EVENTS_SESSION_AGG_SQL = f"""
    WITH flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL THEN 1
                    WHEN CAST(floor(epoch(ts)) AS BIGINT)
                         - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT)
                         > {SESSION_GAP_SEC} THEN 1
                    ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                      AS session_no
        FROM flagged
    )
    SELECT user_id,
           min(CAST(floor(epoch(ts)) AS BIGINT)) AS session_start_epoch,
           count(*) AS n_events,
           CAST(SUM({_VAL_CENTS}) / 100.0 AS DOUBLE) AS sum_value
    FROM numbered
    GROUP BY user_id, session_no
"""


PRUNE_START = "2024-01-08"
PRUNE_END = "2024-01-14"


def events_day_bounded_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-bounded daily aggregation over the DAY-PARTITIONED events
    layout (:func:`..sources.catalog.events_partitioned_path`).

    The ``day`` predicate binds to the partition column, so the scan
    plans ``PartitionFilters`` and lists only the 7 matching ``day=``
    directories out of 30 — no row of any other day is read or even
    enumerated (pinned by ``tests/test_plans.py``). This is the benched
    proof of the 100 TB fact-table layout: pruning happens at planning
    time and scales with the date range, not the table.
    """
    from ..sources.catalog import events_partitioned_path

    ev = spark.read.parquet(events_partitioned_path(spark, sf_dir))
    return (
        ev.filter(
            (F.col("day") >= F.lit(PRUNE_START)) & (F.col("day") <= F.lit(PRUNE_END))
        )
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(F.expr(_VAL_CENTS)) / F.lit(100.0)).alias("sum_value"),
        )
        .select("day", "event_type", "n_events", "sum_value")
    )


EVENTS_DAY_BOUNDED_SQL = f"""
    SELECT CAST(ts AS DATE) AS day,
           event_type,
           count(*) AS n_events,
           CAST(SUM({_VAL_CENTS}) / 100.0 AS DOUBLE) AS sum_value
    FROM events
    WHERE CAST(ts AS DATE) BETWEEN DATE '{PRUNE_START}' AND DATE '{PRUNE_END}'
    GROUP BY 1, 2
"""


def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click at-or-before
    it by the same user.

    Spark lacks a native as-of join; the scalable composition is the
    union-and-carry-forward pattern: union both sides tagged, sort within
    user, carry the last click forward with last(ignorenulls) — ONE
    shuffle on user_id, linear work, no range-join blow-up. (The naive
    inequality join is quadratic per user; MERGE_ASOF-style
    applyInPandas is the other scale option.)

    DuckDB oracle: native ``ASOF JOIN``.
    """
    from .asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id", right_cols=["event_id", "ts"]
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").cast("long").alias("purchase_epoch"),
        F.col("event_id_right").alias("click_id"),
        F.col("ts_right").cast("long").alias("click_epoch"),
    )


EVENTS_ASOF_SQL = """
    SELECT p.event_id AS purchase_id,
           p.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           c.event_id AS click_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --- Range (interval) join ------------------------------------------------
#
# Campaign windows are DETERMINISTIC constants (derived from index
# arithmetic, no RNG): overlapping, non-uniform-length intervals over the
# fixtures' January-2024 span. The same constants feed the Spark plan and
# the DuckDB oracle's VALUES list, so the check exercises the join, not
# fixture plumbing.
_CAMPAIGN_EPOCH0 = 1704067200  # 2024-01-01 00:00:00 UTC
RANGE_BUCKET_SEC = 86400  # coarse-bucket width: 1 day

CAMPAIGNS: list[tuple[int, int, int]] = [
    (
        i,
        _CAMPAIGN_EPOCH0 + ((i * 37) % 28) * 86400 + ((i * 13) % 24) * 3600,
        _CAMPAIGN_EPOCH0
        + ((i * 37) % 28) * 86400
        + ((i * 13) % 24) * 3600
        + (6 + (i * 7) % 90) * 3600,
    )
    for i in range(24)
]


def events_campaign_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: events matched to every campaign window
    containing their timestamp (half-open ``[start, end)``), aggregated
    per campaign.

    Spark has no native range join (the Databricks runtime's range-join
    hint is proprietary); the open-source scale pattern is the BUCKETED
    range join: explode each interval into the coarse day buckets it
    covers, equi-join events on their bucket, then apply the exact range
    predicate. With N events and M intervals the naive plan is a
    broadcast nested loop — every event tested against all M intervals,
    O(N*M); the bucketed form touches only intervals overlapping the
    event's bucket, O(N * avg_overlap), and the join is a hash join on a
    bigint key. Intervals explode into at most
    ``len/BUCKET + 2`` rows, so the build side stays
    ``M * (max_len/bucket + 2)`` — broadcastable for any realistic
    campaign count; events (the 100 TB side) are never replicated.

    The aggregate exchanges exact cents (BIGINT) and campaign_id only —
    map-side partial aggregation collapses each partition to ≤M rows
    before the single shuffle.
    """
    ev = load_table(spark, sf_dir, "events")
    camp = local_frame(
        spark, CAMPAIGNS, "campaign_id INT, start_epoch BIGINT, end_epoch BIGINT"
    )
    camp_b = camp.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"start_epoch DIV {RANGE_BUCKET_SEC}"),
                F.expr(f"(end_epoch - 1) DIV {RANGE_BUCKET_SEC}"),
            )
        ),
    )
    ev_b = ev.select(
        F.col("ts").cast("long").alias("ts_epoch"),
        F.expr(_VAL_CENTS).alias("val_cents"),
    ).withColumn("bucket", F.expr(f"ts_epoch DIV {RANGE_BUCKET_SEC}"))
    joined = ev_b.join(
        F.broadcast(camp_b),
        on=(
            (ev_b.bucket == camp_b.bucket)
            & (ev_b.ts_epoch >= camp_b.start_epoch)
            & (ev_b.ts_epoch < camp_b.end_epoch)
        ),
    )
    return (
        joined.groupBy("campaign_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.sum("val_cents") / F.lit(100.0)).alias("sum_value"),
        )
        .orderBy("campaign_id")
    )


EVENTS_RANGE_JOIN_SQL = f"""
    WITH campaigns(campaign_id, start_epoch, end_epoch) AS (
        VALUES {", ".join(f"({i}, {s}, {e})" for i, s, e in CAMPAIGNS)}
    )
    SELECT c.campaign_id,
           count(*) AS n_events,
           CAST(SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
               AS sum_value
    FROM events e
    JOIN campaigns c
      ON CAST(floor(epoch(e.ts)) AS BIGINT) >= c.start_epoch
     AND CAST(floor(epoch(e.ts)) AS BIGINT) < c.end_epoch
    GROUP BY c.campaign_id
    ORDER BY c.campaign_id
"""


# --- Stream-stream join (batch form) --------------------------------------

ATTRIB_WINDOW_SEC = 1800  # click → purchase attribution window


def events_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution join: every (click, purchase) pair by the same user
    with the purchase strictly after the click and within
    ATTRIB_WINDOW_SEC — the canonical stream-stream-join workload.

    Batch plan: two filtered scans of the same source, an equi-join on
    ``user_id`` with the time-range predicate applied at the join, then
    integer second deltas. One shuffle per side on user_id (or one
    broadcast if a side is small); the range condition never degrades the
    join to a nested loop because user_id carries the equi-key. Per-user
    pair count is bounded by per-user event rates × the window — the
    same bound that sizes the streaming twin's state
    (:func:`..streaming.events.streaming_click_purchase_join`, tested
    batch-equivalent and driver-checked via the AvailableNow replay).

    Determinism: epoch-second casts on both engines, integer delta, and
    (click_id, purchase_id) is a unique key.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    j = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW_SEC} SECONDS")
        ),
    )
    return j.select(
        "click_id",
        "purchase_id",
        "user_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "secs_to_purchase"
        ),
    )


EVENTS_STREAM_JOIN_SQL = f"""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT)
               - CAST(floor(epoch(c.ts)) AS BIGINT) AS secs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_SEC} SECONDS
"""


# ------------------------------------------------------ conversion funnel

FUNNEL_STEPS = ["view", "click", "purchase"]


def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel — the events-warehouse staple the pack
    lacked: per user, the earliest ``view``, the earliest ``click``
    STRICTLY AFTER that view, the earliest ``purchase`` strictly after
    that click; emit one row per step with the surviving user count.
    (The strict-order semantics distinguish a real funnel from three
    independent EXISTS filters: a purchase BEFORE the first view does
    not convert.)

    Scale shape: one aggregation per step, every one keyed on user_id —
    the first groupBy establishes the partitioning and the two
    subsequent join+agg rounds REUSE the same key (no new shuffle
    dimension; the per-step frames shrink monotonically, so each join's
    build side is smaller than the last and broadcasts once survivors
    fit). No window function, no per-user event-list collection —
    state per step is one timestamp per surviving user. Step counts are
    exact distinct-user integers.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    s1, s2, s3 = FUNNEL_STEPS
    t1 = (
        ev.filter(F.col("event_type") == s1)
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == s2)
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == s3)
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage(step: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count("*").cast("long").alias("n_users")).select(
            F.lit(step).cast("long").alias("step"),
            F.lit(name).alias("step_name"),
            "n_users",
        )

    return (
        stage(1, s1, t1).unionByName(stage(2, s2, t2)).unionByName(stage(3, s3, t3))
    )


EVENTS_FUNNEL_SQL = f"""
    WITH t1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
    ),
    t2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN t1 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > t1.t1
        GROUP BY e.user_id
    ),
    t3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN t2 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > t2.t2
        GROUP BY e.user_id
    )
    SELECT CAST(1 AS BIGINT) AS step, '{FUNNEL_STEPS[0]}' AS step_name,
           (SELECT count(*) FROM t1) AS n_users
    UNION ALL
    SELECT CAST(2 AS BIGINT), '{FUNNEL_STEPS[1]}',
           (SELECT count(*) FROM t2)
    UNION ALL
    SELECT CAST(3 AS BIGINT), '{FUNNEL_STEPS[2]}',
           (SELECT count(*) FROM t3)
"""


# ---------------------------------------- robust outlier detection

# Hampel-style cutoff: |v - median| > 4.5 * MAD, applied as the exact
# integer cross-multiply  2*dev > 9*mad  (no float tolerance in the
# decision). 4.5 ~ 3 sigma under the normal-consistency factor 1.4826.
_OUTLIER_NUM = 9
_OUTLIER_DEN = 2


def events_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust anomaly profile: median / MAD / Hampel
    outlier counts over ``value`` — the data-quality screen that
    mean/stddev z-scores get wrong exactly when it matters (the
    outliers poison the mean they're judged against; the median/MAD
    breakdown point is 50%).

    Exactness: values are quantized to int64 cents (the module-wide
    money contract); medians are EXACT ELEMENT SELECTION at rank
    ``(n+1) DIV 2`` (lower median — no interpolated percentile, whose
    ``a + (b-a)*frac`` float form is not cross-engine reproducible),
    deviations are exact integer subtractions, and the cutoff is an
    integer cross-multiply. The emitted medians are single IEEE
    divisions by 100.

    Scale shape: exact per-group medians need a per-group sort (two
    ``row_number`` passes: values, then deviations); group count is
    tiny (event types) so the sorts parallelize per group but a single
    hot type is one task's sort — the honest cost of EXACTNESS. The
    100 TB screen runs :func:`~..operators.sketches.price_quantiles_sketch`'s
    ``approx_percentile`` shape instead (one streaming pass, mergeable,
    rank error bounded) and reserves this exact form for adjudicating
    sketch drift on sampled partitions. The cents frame is checkpointed
    so the value pass, the deviation pass, and the final aggregation
    read the parquet once.
    """
    c = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "event_id", F.expr(_VAL_CENTS).alias("cents"))
        .transform(materialize)
    )
    n = c.groupBy("event_type").agg(F.count("*").alias("n"))
    wv = Window.partitionBy("event_type").orderBy("cents", "event_id")
    med = (
        c.withColumn("r", F.row_number().over(wv))
        .join(F.broadcast(n), "event_type")
        .filter(F.col("r") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("cents").alias("med_cents"))
    )
    dev = c.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    wd = Window.partitionBy("event_type").orderBy("dev", "event_id")
    mad = (
        dev.withColumn("r", F.row_number().over(wd))
        .join(F.broadcast(n), "event_type")
        .filter(F.col("r") == F.expr("(n + 1) DIV 2"))
        .select("event_type", F.col("dev").alias("mad_cents"))
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.first("med_cents").alias("med_cents"),
            F.first("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(
                    F.col("dev") * _OUTLIER_DEN
                    > F.col("mad_cents") * _OUTLIER_NUM,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
            F.max("dev").alias("max_dev_cents"),
        )
        .select(
            "event_type",
            "n",
            (F.col("med_cents").cast("double") / F.lit(100.0)).alias("med"),
            (F.col("mad_cents").cast("double") / F.lit(100.0)).alias("mad"),
            "n_outliers",
            (F.col("max_dev_cents").cast("double") / F.lit(100.0)).alias(
                "max_abs_dev"
            ),
        )
    )


EVENTS_ROBUST_OUTLIERS_SQL = f"""
    WITH c AS (
        SELECT event_type, event_id, {_VAL_CENTS} AS cents
        FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT event_type, count(*) AS n FROM c GROUP BY event_type),
    rv AS (
        SELECT event_type, cents,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY cents, event_id
               ) AS r
        FROM c
    ),
    med AS (
        SELECT rv.event_type, rv.cents AS med_cents
        FROM rv JOIN n USING (event_type)
        WHERE rv.r = (n.n + 1) // 2
    ),
    dev AS (
        SELECT c.event_type, c.event_id, c.cents,
               abs(c.cents - med.med_cents) AS dev, med.med_cents
        FROM c JOIN med USING (event_type)
    ),
    rd AS (
        SELECT event_type, dev,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY dev, event_id
               ) AS r
        FROM dev
    ),
    mad AS (
        SELECT rd.event_type, rd.dev AS mad_cents
        FROM rd JOIN n USING (event_type)
        WHERE rd.r = (n.n + 1) // 2
    )
    SELECT dev.event_type,
           count(*) AS n,
           CAST(max(dev.med_cents) AS DOUBLE) / 100.0 AS med,
           CAST(max(mad.mad_cents) AS DOUBLE) / 100.0 AS mad,
           CAST(sum(CASE WHEN dev.dev * {_OUTLIER_DEN}
                              > mad.mad_cents * {_OUTLIER_NUM}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(max(dev.dev) AS DOUBLE) / 100.0 AS max_abs_dev
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
"""


# ------------------------------------------- CDC compaction / SCD history


def events_latest_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC latest-record-wins compaction: the current state per key from
    an append-only change log — the batch form of a MERGE/upsert sink
    (what a warehouse's "current" table holds after replaying updates).

    Ordering is (ts, event_id): the event_id tie-break makes the winner
    deterministic when a user has several events in one second.

    Scale shape: NOT a window + ``row_number() = 1`` — that sorts every
    key's full history after the shuffle. The engine computes
    ``max(struct(ts, event_id, payload...))`` instead (struct comparison
    is lexicographic on the leading fields, which are exactly the
    ordering key), which Catalyst plans as partial -> final HashAggregate:
    each map task keeps ONE candidate row per key it sees, so the shuffle
    moves at most (keys x tasks) rows no matter how deep the history —
    the compaction reads 100 TB of log but shuffles only the key space.
    The oracle states the same semantics in the conventional
    ``row_number() OVER (... DESC) = 1`` form.

    Contract: ``(ts_epoch, event_id)`` is unique per user — event_id is
    the log's record identifier. The struct carries the payload fields
    (event_type, cents) AFTER the ordering keys, so with the contract
    held they are never consulted by the lexicographic comparison; if a
    log ever violated it, Spark would break the tie on payload while the
    oracle's ``row_number`` would break it arbitrarily. The contract is
    asserted on the fixture in ``tests/test_asof.py``
    (test_latest_state_ordering_key_unique).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "event_id",
        "event_type",
        F.expr(_VAL_CENTS).alias("cents"),
    )
    latest = ev.groupBy("user_id").agg(
        F.max(F.struct("ts_epoch", "event_id", "event_type", "cents")).alias("s"),
        F.count("*").alias("n_versions"),
    )
    return latest.select(
        "user_id",
        F.col("s.ts_epoch").alias("last_ts_epoch"),
        F.col("s.event_id").alias("last_event_id"),
        F.col("s.event_type").alias("last_event_type"),
        (F.col("s.cents").cast("double") / F.lit(100.0)).alias("last_value"),
        "n_versions",
    )


EVENTS_LATEST_STATE_SQL = f"""
    WITH ranked AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
               event_id, event_type, {_VAL_CENTS} AS cents,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT) DESC,
                            event_id DESC
               ) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_versions
        FROM events
    )
    SELECT user_id,
           ts_epoch AS last_ts_epoch,
           event_id AS last_event_id,
           event_type AS last_event_type,
           CAST(cents AS DOUBLE) / 100.0 AS last_value,
           CAST(n_versions AS BIGINT) AS n_versions
    FROM ranked WHERE rn = 1
"""


def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build: collapse each
    user's event_type sequence into validity intervals — a row per RUN of
    equal state, with ``valid_from``/``valid_to`` epochs and a version
    number; ``valid_to`` is NULL on the current (open) interval. The
    standard dimension-history backfill a warehouse derives from a change
    log.

    Scale shape: one shuffle on user_id serves the whole query — the
    change-detection ``lag``, the run ``valid_to`` ``lead``, and the
    version ``row_number`` are all windows over the SAME
    (partition=user_id, order=(ts, event_id)) spec, so Catalyst plans one
    Exchange + one Sort and runs the three window functions in two passes
    over sorted runs (lag-based change flags first, then lead/row_number
    over the filtered change rows — still the original partitioning,
    no second shuffle). State comparisons are null-safe (``<=>``) so a
    NULL attribute forms runs rather than infinite change rows.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    changes = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        ~F.col("event_type").eqNullSafe(F.col("prev_type"))
    )
    return (
        changes.withColumn("valid_to_epoch", F.lead("ts_epoch").over(w))
        .withColumn("version", F.row_number().over(w))
        .select(
            "user_id",
            "version",
            F.col("event_type").alias("state"),
            F.col("ts_epoch").alias("valid_from_epoch"),
            "valid_to_epoch",
        )
    )


EVENTS_SCD2_SQL = """
    WITH ev AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
               event_id, event_type
        FROM events
    ),
    flagged AS (
        SELECT *,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts_epoch, event_id
               ) AS prev_type
        FROM ev
    ),
    changes AS (
        SELECT * FROM flagged
        WHERE prev_type IS DISTINCT FROM event_type
    )
    SELECT user_id,
           CAST(row_number() OVER (
               PARTITION BY user_id ORDER BY ts_epoch, event_id
           ) AS BIGINT) AS version,
           event_type AS state,
           ts_epoch AS valid_from_epoch,
           lead(ts_epoch) OVER (
               PARTITION BY user_id ORDER BY ts_epoch, event_id
           ) AS valid_to_epoch
    FROM changes
"""


EVENTS_STREAM_LEFT_JOIN_SQL = f"""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id,
           c.user_id,
           CAST(floor(epoch(p.ts)) AS BIGINT)
               - CAST(floor(epoch(c.ts)) AS BIGINT) AS secs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL {ATTRIB_WINDOW_SEC} SECONDS
"""


ROLLING_N = 5  # trailing-window width (current row + 4 preceding)


def events_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window rolling statistics per user — the monitoring /
    feature-engineering staple (moving average & peak of the last
    ROLLING_N events): a bounded ROWS frame, the window-frame shape the
    pack's other windows don't exercise (ranking = row_number family,
    unbounded = share-of-total rewrite, range = event-time windows).

    Exactness: the frame is ROWS-based over a total order (ts, event_id
    tie-break), so membership is deterministic; sums are int64 cents
    with ONE double division per row.

    Scale shape: one shuffle + one sort on (user_id; ts, event_id) —
    the same spec the SCD2 build uses; the bounded frame is evaluated
    by Spark's sliding WindowExec in a single pass holding at most
    ROLLING_N rows of state per partition stream. A bounded ROWS frame
    costs O(n) per key regardless of frame width (running add/evict),
    never the O(n*frame) of re-scanning each frame.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        F.expr(_VAL_CENTS).alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_epoch", "event_id")
        .rowsBetween(-(ROLLING_N - 1), 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_epoch",
        F.count("*").over(w).cast("long").alias("n_window"),
        (F.sum("cents").over(w).cast("double") / F.lit(100.0)).alias("rolling_sum"),
        (
            F.sum("cents").over(w).cast("double")
            / (F.count("*").over(w) * F.lit(100.0))
        ).alias("rolling_avg"),
        (F.max("cents").over(w).cast("double") / F.lit(100.0)).alias("rolling_max"),
    )


EVENTS_ROLLING_SQL = f"""
    WITH ev AS (
        SELECT event_id, user_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
               {_VAL_CENTS} AS cents
        FROM events
    )
    SELECT event_id, user_id, ts_epoch,
           CAST(count(*) OVER w AS BIGINT) AS n_window,
           CAST(sum(cents) OVER w AS DOUBLE) / 100.0 AS rolling_sum,
           CAST(sum(cents) OVER w AS DOUBLE)
               / (count(*) OVER w * 100.0) AS rolling_avg,
           CAST(max(cents) OVER w AS DOUBLE) / 100.0 AS rolling_max
    FROM ev
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts_epoch, event_id
        ROWS BETWEEN {ROLLING_N - 1} PRECEDING AND CURRENT ROW
    )
"""


# ---------------------------------------------------------- histogram

HIST_LO_CENTS = 0
HIST_W_CENTS = 2500  # 25.00-wide buckets
HIST_NBINS = 20  # covers [0, 500); outliers clamp into edge bins


def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per event type — the
    profiling staple next to the exact quantiles and the sketch screens:
    one pass, exact integer binning (bin = clamp((cents - lo) DIV w)),
    so the histogram is bit-identical on any engine and partitioning —
    unlike float-boundary binning, where a value on a bucket edge can
    land either side across engines.

    Emits only occupied (event_type, bin) rows plus per-row bounds, so
    the result is sparse and re-aggregatable (bins sum across shards).
    Scale shape: single partial-agg groupBy — the shuffle carries at
    most types x bins rows per map task.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr(_VAL_CENTS).alias("cents")
    )
    # integral division, not float floor (engine-identical on negatives)
    bin_ = F.least(
        F.greatest(
            F.expr(f"(cents - {HIST_LO_CENTS}) div {HIST_W_CENTS}"), F.lit(0)
        ),
        F.lit(HIST_NBINS - 1),
    )
    return (
        ev.withColumn("bin", bin_)
        .groupBy("event_type", "bin")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            F.col("bin").cast("long").alias("bin"),
            (
                (F.col("bin") * HIST_W_CENTS + F.lit(HIST_LO_CENTS)).cast(
                    "double"
                )
                / 100.0
            ).alias("lo"),
            (
                ((F.col("bin") + 1) * HIST_W_CENTS + F.lit(HIST_LO_CENTS)).cast(
                    "double"
                )
                / 100.0
            ).alias("hi"),
            "n",
        )
    )


EVENTS_HISTOGRAM_SQL = f"""
    WITH c AS (
        SELECT event_type, {_VAL_CENTS} AS cents FROM events
    ),
    b AS (
        SELECT event_type,
               least(greatest((cents - {HIST_LO_CENTS}) // {HIST_W_CENTS},
                              0), {HIST_NBINS - 1}) AS bin
        FROM c
    )
    SELECT event_type,
           CAST(bin AS BIGINT) AS bin,
           CAST(bin * {HIST_W_CENTS} + {HIST_LO_CENTS} AS DOUBLE) / 100.0
               AS lo,
           CAST((bin + 1) * {HIST_W_CENTS} + {HIST_LO_CENTS} AS DOUBLE) / 100.0
               AS hi,
           count(*) AS n
    FROM b
    GROUP BY event_type, bin
"""


CHURN_DAYS = 7  # inactive for >= this many days before corpus end


def events_churn_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn screen over the change log: per user, last-seen epoch
    second, days inactive relative to the corpus' maximum event time,
    and the churn flag (inactive >= CHURN_DAYS) — the retention
    report's forward-looking sibling (cohorts say who came back; this
    says who left).

    Scale shape: the per-user last-seen is the same partial-agg max
    the CDC compaction uses (shuffle carries keys, not history); the
    corpus max is ONE row computed by a parallel aggregate and
    broadcast. Day arithmetic uses FLOOR division (matching the
    oracle's ``//``), so pre-1970 timestamps bucket identically in
    both engines — ``div`` truncates toward zero and would disagree
    by one day on negative epochs.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("long").alias("ts_epoch")
    )
    last = ev.groupBy("user_id").agg(F.max("ts_epoch").alias("last_epoch"))
    corpus_max = ev.agg(F.max("ts_epoch").alias("max_epoch"))
    return (
        last.crossJoin(F.broadcast(corpus_max))
        .select(
            "user_id",
            "last_epoch",
            F.expr("FLOOR(max_epoch / 86400) - FLOOR(last_epoch / 86400)")
            .cast("long")
            .alias("days_inactive"),
        )
        .withColumn("churned", F.col("days_inactive") >= CHURN_DAYS)
    )


EVENTS_CHURN_SQL = f"""
    WITH ev AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
        FROM events
    ),
    last AS (
        SELECT user_id, max(ts_epoch) AS last_epoch FROM ev GROUP BY user_id
    ),
    m AS (SELECT max(ts_epoch) AS max_epoch FROM ev)
    SELECT user_id, last_epoch,
           CAST((max_epoch // 86400) - (last_epoch // 86400) AS BIGINT)
               AS days_inactive,
           ((max_epoch // 86400) - (last_epoch // 86400)) >= {CHURN_DAYS}
               AS churned
    FROM last, m
"""


# ------------------------------------------------- gap fill / resample

GAPFILL_BUCKET_SEC = 600  # 10-minute resample grid


def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resampling with gap filling — the hypertable
    ``time_bucket_gapfill`` staple: per event_type, every 10-minute
    bucket of the corpus time range appears exactly once, observed
    buckets carry their exact count/sum, and EMPTY buckets are emitted
    with n_events = 0 and the last observed cents carried forward
    (LOCF), so downstream consumers see an unbroken series.

    Scale shape: the events table is reduced by ONE partial-agg shuffle
    on (event_type, bucket) — the only pass over raw data. The dense
    grid is generated from a 1-row min/max aggregate cross-joined with
    the distinct types and exploded via ``sequence()`` — O(types x
    buckets) rows, independent of event count — and the observed
    buckets LEFT-join into it (broadcast of the observed side is wrong
    at 100 TB, but the GRID side stays small enough that the join keys
    co-partition; Catalyst picks the join build side from sizes). The
    LOCF carry-forward is ``last(cents, ignoreNulls)`` over the GRID
    (types x buckets rows), never over raw events — the window pass
    costs O(grid), not O(data).

    Hazard the caller owns: the grid spans [min(ts), max(ts)], so ONE
    corrupt far-future timestamp inflates it (sequence() of millions
    of buckets per type). Production runs clamp the range or run the
    events_null_profile / robust-outlier screens first — the same
    discipline as any time_bucket_gapfill.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / GAPFILL_BUCKET_SEC)
        .cast("long")
        .alias("bucket"),
        F.expr(_VAL_CENTS).alias("cents"),
    )
    observed = ev.groupBy("event_type", "bucket").agg(
        F.count("*").alias("n_events"), F.sum("cents").alias("cents")
    )
    bounds = ev.agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.expr("sequence(b0, b1)")).alias("bucket")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = (
        grid.join(observed, ["event_type", "bucket"], "left")
        .withColumn("n_events", F.coalesce("n_events", F.lit(0)))
        .withColumn("locf_cents", F.last("cents", ignorenulls=True).over(w))
    )
    return filled.select(
        "event_type",
        (F.col("bucket") * GAPFILL_BUCKET_SEC).alias("bucket_epoch"),
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("bucket_value"),
        (F.col("locf_cents").cast("double") / 100.0).alias("locf_value"),
    )


EVENTS_GAP_FILL_SQL = f"""
    WITH ev AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // {GAPFILL_BUCKET_SEC}
                   AS bucket,
               {_VAL_CENTS} AS cents
        FROM events
    ),
    observed AS (
        SELECT event_type, bucket,
               count(*) AS n_events, sum(cents) AS cents
        FROM ev GROUP BY 1, 2
    ),
    bounds AS (SELECT min(bucket) AS b0, max(bucket) AS b1 FROM ev),
    grid AS (
        SELECT t.event_type, g.bucket
        FROM (SELECT DISTINCT event_type FROM ev) t,
             (SELECT unnest(generate_series(b0, b1)) AS bucket
              FROM bounds) g
    ),
    filled AS (
        SELECT grid.event_type, grid.bucket,
               COALESCE(observed.n_events, 0) AS n_events,
               observed.cents AS cents,
               last_value(observed.cents IGNORE NULLS) OVER (
                   PARTITION BY grid.event_type ORDER BY grid.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS locf_cents
        FROM grid LEFT JOIN observed USING (event_type, bucket)
    )
    SELECT event_type,
           CAST(bucket * {GAPFILL_BUCKET_SEC} AS BIGINT) AS bucket_epoch,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(cents AS DOUBLE) / 100.0 AS bucket_value,
           CAST(locf_cents AS DOUBLE) / 100.0 AS locf_value
    FROM filled
"""


# ------------------------------------------------- MERGE / upsert apply

MERGE_CUTOFF_NUM = 3  # cutoff = min + 3/4 of the corpus time range
MERGE_CUTOFF_DEN = 4


def events_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The warehouse MERGE (upsert) apply as a batch plan: a SNAPSHOT
    (latest state per user over the first 3/4 of the corpus time range)
    has a CHANGE BATCH (latest change per user from the last 1/4)
    applied to it — update where both sides have the key, insert where
    only the change batch does, carry where only the snapshot does.
    ``op`` labels the action per key, so the result doubles as the
    merge audit a production MERGE INTO emits as metrics.

    Scale shape: both sides reduce by the same struct-max partial
    aggregate as :func:`events_latest_state` (the shuffle carries keys,
    not history), then ONE full-outer sort-merge join on user_id — the
    two aggregations and the join all share the user_id partitioning,
    so Catalyst plans a single exchange per side and no residual
    shuffle for the join. The deterministic cutoff derives from the
    corpus min/max epoch (1-row aggregate, broadcast) in exact integer
    arithmetic.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "event_id",
        "event_type",
        F.expr(_VAL_CENTS).alias("cents"),
    )
    bounds = ev.agg(
        F.min("ts_epoch").alias("t0"), F.max("ts_epoch").alias("t1")
    ).select(
        F.expr(
            f"t0 + (t1 - t0) * {MERGE_CUTOFF_NUM} DIV {MERGE_CUTOFF_DEN}"
        ).alias("cutoff")
    )
    ev = ev.crossJoin(F.broadcast(bounds))

    def latest(side):
        return (
            side.groupBy("user_id")
            .agg(
                F.max(
                    F.struct("ts_epoch", "event_id", "event_type", "cents")
                ).alias("s"),
                F.count("*").alias("n"),
            )
            .select(
                "user_id",
                F.col("s.ts_epoch").alias("ts_epoch"),
                F.col("s.event_type").alias("event_type"),
                F.col("s.cents").alias("cents"),
                "n",
            )
        )

    snap = latest(ev.filter(F.col("ts_epoch") <= F.col("cutoff")))
    chg = latest(ev.filter(F.col("ts_epoch") > F.col("cutoff")))
    s, c = snap.alias("s"), chg.alias("c")
    merged = s.join(c, F.col("s.user_id") == F.col("c.user_id"), "full_outer")
    return merged.select(
        F.coalesce(F.col("s.user_id"), F.col("c.user_id")).alias("user_id"),
        F.when(F.col("s.user_id").isNull(), F.lit("insert"))
        .when(F.col("c.user_id").isNull(), F.lit("carry"))
        .otherwise(F.lit("update"))
        .alias("op"),
        F.coalesce(F.col("c.ts_epoch"), F.col("s.ts_epoch")).alias(
            "last_ts_epoch"
        ),
        F.coalesce(F.col("c.event_type"), F.col("s.event_type")).alias(
            "last_event_type"
        ),
        (
            F.coalesce(F.col("c.cents"), F.col("s.cents")).cast("double")
            / 100.0
        ).alias("last_value"),
        (
            F.coalesce(F.col("s.n"), F.lit(0))
            + F.coalesce(F.col("c.n"), F.lit(0))
        ).cast("long").alias("n_versions"),
    )


EVENTS_MERGE_UPSERT_SQL = f"""
    WITH ev AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch,
               event_id, event_type, {_VAL_CENTS} AS cents
        FROM events
    ),
    b AS (
        SELECT min(ts_epoch)
               + (max(ts_epoch) - min(ts_epoch))
                 * {MERGE_CUTOFF_NUM} // {MERGE_CUTOFF_DEN} AS cutoff
        FROM ev
    ),
    snap AS (
        SELECT user_id, ts_epoch, event_type, cents, n FROM (
            SELECT user_id, ts_epoch, event_type, cents,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts_epoch DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM ev, b WHERE ts_epoch <= cutoff
        ) WHERE rn = 1
    ),
    chg AS (
        SELECT user_id, ts_epoch, event_type, cents, n FROM (
            SELECT user_id, ts_epoch, event_type, cents,
                   row_number() OVER (PARTITION BY user_id
                       ORDER BY ts_epoch DESC, event_id DESC) AS rn,
                   count(*) OVER (PARTITION BY user_id) AS n
            FROM ev, b WHERE ts_epoch > cutoff
        ) WHERE rn = 1
    )
    SELECT COALESCE(s.user_id, c.user_id) AS user_id,
           CASE WHEN s.user_id IS NULL THEN 'insert'
                WHEN c.user_id IS NULL THEN 'carry'
                ELSE 'update' END AS op,
           COALESCE(c.ts_epoch, s.ts_epoch) AS last_ts_epoch,
           COALESCE(c.event_type, s.event_type) AS last_event_type,
           CAST(COALESCE(c.cents, s.cents) AS DOUBLE) / 100.0 AS last_value,
           CAST(COALESCE(s.n, 0) + COALESCE(c.n, 0) AS BIGINT) AS n_versions
    FROM snap s FULL OUTER JOIN chg c ON s.user_id = c.user_id
"""


# ------------------------------------------------- rolling active users

RAU_WINDOW_DAYS = 7


def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day (the WAU curve) —
    the sliding-window DISTINCT aggregation, which unlike sums cannot
    ride a running add/evict window frame: distinct is not subtractable.

    Scale shape: the standard explode-to-window rewrite — each (user,
    active day) pair (ONE distinct partial-agg over raw events first,
    so the explode amplifies unique user-days, not raw events) fans out
    to the RAU_WINDOW_DAYS report days it supports, then one
    (report_day, user) distinct count. Work is O(user-days x window),
    independent of raw event volume beyond the first partial agg —
    the same rewrite every warehouse uses for rolling MAU at scale.
    Report days cover only days observed in the corpus (grid from the
    observed distinct days, so the curve has no empty tail).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("CAST(FLOOR(CAST(ts AS LONG) / 86400) AS BIGINT)").alias("day")
    )
    user_days = ev.distinct()
    fanout = user_days.select(
        "user_id",
        F.explode(
            F.expr(f"sequence(day, day + {RAU_WINDOW_DAYS - 1})")
        ).alias("report_day"),
    )
    observed = ev.select("day").distinct().withColumnRenamed("day", "report_day")
    return (
        fanout.join(observed, "report_day")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            (F.col("report_day") * 86400).alias("day_epoch"),
            F.col("active_users").cast("long").alias("active_users"),
        )
    )


EVENTS_ROLLING_ACTIVE_SQL = f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        FROM events
    ),
    fanout AS (
        SELECT user_id, day + d.off AS report_day
        FROM ud, (SELECT unnest(generate_series(0, {RAU_WINDOW_DAYS - 1}))
                  AS off) d
    ),
    observed AS (SELECT DISTINCT day AS report_day FROM ud)
    SELECT CAST(report_day * 86400 AS BIGINT) AS day_epoch,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM fanout JOIN observed USING (report_day)
    GROUP BY report_day
"""


# ------------------------------------------------- audience overlap


def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience intersection across event types: for every
    unordered pair of event types, the exact distinct-user overlap and
    its Jaccard — the "which segments share users" report sketches
    (HLL) cannot answer (HLL unions merge; intersections don't).

    Scale shape: raw events reduce to the distinct (event_type, user)
    frame FIRST (one partial-agg shuffle — the frame is bounded by
    users x types, not events), the pair enumeration is a self-join on
    user_id of that reduced frame (per-user cost = types-per-user
    squared, bounded by the type-universe cardinality — the classic
    bounded-dimension self-join), and per-type audience sizes join
    back by broadcast.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    tu = ev.distinct()
    sizes = tu.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = tu.alias("a"), tu.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    na = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n").alias("n_a")
    )
    nb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            (
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both"))
            ).alias("jaccard"),
        )
    )


EVENTS_AUDIENCE_OVERLAP_SQL = """
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    sizes AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*) AS n_both
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(na.n AS BIGINT) AS n_a,
           CAST(nb.n AS BIGINT) AS n_b,
           CAST(n_both AS DOUBLE) / (na.n + nb.n - n_both) AS jaccard
    FROM pairs
    JOIN sizes na ON na.event_type = type_a
    JOIN sizes nb ON nb.event_type = type_b
"""


# ------------------------------------------------- trend / transitions


def events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type linear trend of daily value: the OLS slope of (daily
    cents sum) against the epoch-day index, computed from EXACT integer
    cross-moments — n, Σx, Σy, Σxy, Σx² are int64 sums that commute and
    re-aggregate (the distributed-regression shape: moments are the
    partial-aggregable state; the only floats are the two final
    divisions). slope in cents/day and the daily mean ship as doubles
    derived from exact integers, so both engines agree bit-for-bit.

    Scale shape: one (type, day) partial-agg shuffle over raw events,
    then a types-sized moment aggregation — at 100 TB the raw pass
    dominates and the moment state per type is five int64s.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(FLOOR(CAST(ts AS LONG) / 86400) AS BIGINT)").alias("day"),
        F.expr(_VAL_CENTS).alias("cents"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.sum("cents").alias("y")
    )
    m = daily.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("day").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("day") * F.col("y")).alias("sxy"),
        F.sum(F.col("day") * F.col("day")).alias("sxx"),
    )
    num = m["n"] * m["sxy"] - m["sx"] * m["sy"]
    den = m["n"] * m["sxx"] - m["sx"] * m["sx"]
    return m.select(
        "event_type",
        F.col("n").cast("long").alias("n_days"),
        F.when(den != 0, num.cast("double") / den.cast("double") / 100.0)
        .alias("slope_per_day"),
        (m["sy"].cast("double") / m["n"] / 100.0).alias("mean_daily_value"),
    )


EVENTS_DAILY_TREND_SQL = f"""
    WITH daily AS (
        SELECT event_type,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
               sum({_VAL_CENTS}) AS y
        FROM events GROUP BY 1, 2
    ),
    m AS (
        SELECT event_type, count(*) AS n, sum(day) AS sx, sum(y) AS sy,
               sum(day * y) AS sxy, sum(day * day) AS sxx
        FROM daily GROUP BY 1
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CASE WHEN n * sxx - sx * sx <> 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0
                END AS slope_per_day,
           CAST(sy AS DOUBLE) / n / 100.0 AS mean_daily_value
    FROM m
"""


def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral model: the event-type transition matrix —
    for each ordered (prev_type, next_type) pair, how often a user's
    next action follows the previous one, with the exact conditional
    probability in ppm (integer DIV, so both engines agree on every
    cell even at row boundaries).

    Scale shape: one shuffle on user_id serves the ordering window
    (lag over (ts, event_id) — the deterministic tie-break contract
    shared with sessionize/SCD2); transitions then reduce by a
    (prev, next) partial agg bounded by the type universe squared, and
    the conditional denominator joins back by broadcast of the
    types-sized row-total frame.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("long").alias("ts_epoch"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("ts_epoch", "event_id")
    # tr is type²-bounded (tiny); materialize it so the row-total
    # branch reads it instead of re-running the corpus window pass —
    # without this the executed plan carries TWO user_id exchanges
    # (measured; pinned in tests/test_plans.py)
    tr = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
        .transform(materialize)
    )
    totals = tr.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        tr.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            F.col("n").cast("long").alias("n"),
            F.expr("n * 1000000 DIV row_total").cast("long").alias("p_ppm"),
        )
    )


EVENTS_MARKOV_SQL = """
    WITH tr AS (
        SELECT prev_type, event_type AS next_type, count(*) AS n FROM (
            SELECT user_id, event_type,
                   lag(event_type) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                   ) AS prev_type
            FROM events
        ) WHERE prev_type IS NOT NULL
        GROUP BY 1, 2
    ),
    totals AS (SELECT prev_type, sum(n) AS row_total FROM tr GROUP BY 1)
    SELECT prev_type, next_type,
           CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // row_total AS BIGINT) AS p_ppm
    FROM tr JOIN totals USING (prev_type)
"""


# --------------------------------------------------- freshness monitoring


def events_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type data-freshness report — the operational trust gate a
    streaming warehouse checks before serving a table: per event_type,
    last event epoch, lag behind the corpus clock (exact seconds), total
    volume, volume inside the trailing hour and day relative to the
    clock, and each type's share of corpus rows in exact ppm (a feed
    whose share collapses is late even if its max ts looks fresh).

    Scale shape: one partial-agg shuffle carrying |types| rows (max +
    total + two conditional sums fold map-side against the broadcast
    1-row corpus clock); the corpus is scanned once. FLOOR-free: lag is
    plain subtraction of exact epoch seconds; the trailing windows are
    closed-open ``(clock - W, clock]`` so both engines agree at the
    boundary. The churn report watches who left; this watches which
    FEED stopped — the pair covers both halves of "is this table safe
    to read".
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("long").alias("ts_epoch")
    )
    clock = ev.agg(
        F.max("ts_epoch").alias("clock"),
        F.count(F.lit(1)).alias("total"),
    )
    g = (
        ev.crossJoin(F.broadcast(clock))
        .groupBy("event_type")
        .agg(
            F.max("ts_epoch").alias("last_epoch"),
            F.max("clock").alias("clock"),
            F.max("total").alias("total"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                (F.col("ts_epoch") > F.col("clock") - 3600).cast("long")
            ).alias("n_last_hour"),
            F.sum(
                (F.col("ts_epoch") > F.col("clock") - 86400).cast("long")
            ).alias("n_last_day"),
        )
    )
    return g.select(
        "event_type",
        "last_epoch",
        (F.col("clock") - F.col("last_epoch")).alias("lag_seconds"),
        "n_events",
        "n_last_hour",
        "n_last_day",
        F.expr("n_events * 1000000 DIV total").alias("share_ppm"),
    )


EVENTS_FRESHNESS_SQL = """
    WITH ev AS (
        SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
        FROM events
    ),
    c AS (SELECT max(ts_epoch) AS clock, count(*) AS total FROM ev)
    SELECT event_type,
           max(ts_epoch) AS last_epoch,
           CAST(c.clock - max(ts_epoch) AS BIGINT) AS lag_seconds,
           count(*) AS n_events,
           CAST(COALESCE(sum(CASE WHEN ts_epoch > c.clock - 3600
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_last_hour,
           CAST(COALESCE(sum(CASE WHEN ts_epoch > c.clock - 86400
                    THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_last_day,
           CAST(count(*) * 1000000 // c.total AS BIGINT) AS share_ppm
    FROM ev CROSS JOIN c
    GROUP BY event_type, c.clock, c.total
"""


# --------------------------------------------------- expectations report

# Declarative row-level expectations (the Great-Expectations shape): each
# rule is (name, SQL boolean over a row). Registered as module constants
# so the Spark plan and the DuckDB oracle embed the same predicates.
EVENTS_EXPECTATIONS: tuple[tuple[str, str], ...] = (
    ("event_id_not_null", "event_id IS NOT NULL"),
    ("ts_not_null", "ts IS NOT NULL"),
    ("user_id_positive", "user_id IS NOT NULL AND user_id >= 0"),
    ("type_in_domain",
     "event_type IN ('view', 'click', 'purchase', 'signup', 'error')"),
    ("value_non_negative", "value IS NULL OR value >= 0"),
    ("props_json_or_null",
     "props IS NULL OR (props LIKE '{%' AND props LIKE '%}')"),
)


def events_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over the events table — the
    contract gate a table passes before downstream jobs trust it: one
    row per rule with rows checked, violations, violation ppm (exact
    integer), and the pass flag (zero violations).

    ONE corpus pass: every rule is a conditional sum in the same
    zero-group aggregate (map-side partials, SinglePartition gather of
    |rules| columns), then a constant-size unpivot — the corpus never
    shuffles, the same shape as corpus_filter_funnel. Adding a rule is
    one tuple in :data:`EVENTS_EXPECTATIONS`, shared verbatim with the
    oracle, so engine drift on a predicate is impossible by
    construction.
    """
    ev = load_table(spark, sf_dir, "events")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for name, pred in EVENTS_EXPECTATIONS:
        aggs.append(
            F.sum(F.when(F.expr(pred), 0).otherwise(1)).alias(f"v_{name}")
        )
    one = ev.agg(*aggs)
    stack = ", ".join(
        f"'{name}', v_{name}" for name, _ in EVENTS_EXPECTATIONS
    )
    return one.select(
        F.expr(
            f"stack({len(EVENTS_EXPECTATIONS)}, {stack}) AS (rule, n_violations)"
        ),
        F.col("n_rows"),
    ).select(
        "rule",
        "n_rows",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.expr("n_violations * 1000000 DIV n_rows").alias("violation_ppm"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def _expectations_sql() -> str:
    cols = ", ".join(
        f"CAST(COALESCE(sum(CASE WHEN {pred} THEN 0 ELSE 1 END), 0) AS BIGINT)"
        f" AS v_{name}"
        for name, pred in EVENTS_EXPECTATIONS
    )
    unions = "\n        UNION ALL\n".join(
        f"        SELECT '{name}' AS rule, n_rows, v_{name} AS n_violations"
        " FROM one"
        for name, _ in EVENTS_EXPECTATIONS
    )
    return f"""
    WITH one AS (
        SELECT count(*) AS n_rows, {cols} FROM events
    )
    SELECT rule, n_rows,
           CAST(n_violations AS BIGINT) AS n_violations,
           CAST(n_violations * 1000000 // n_rows AS BIGINT) AS violation_ppm,
           (n_violations = 0) AS passed
    FROM (
{unions}
    )
"""


EVENTS_EXPECTATIONS_SQL = _expectations_sql()
