"""Generic as-of operator (union+carry-forward) against the
oracle-checked events query, plus the events-table operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_hive_analysis_spark.operators.asof import asof_join
from hadoop_hive_analysis_spark.operators.events import events_asof_join
from hadoop_hive_analysis_spark.sources.catalog import load_table


def _sides(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return purchases, clicks


def test_generic_asof_matches_events_query(spark, sf_dir):
    purchases, clicks = _sides(spark, sf_dir)
    out = asof_join(
        purchases, clicks, on="ts", by="user_id", right_cols=["event_id", "ts"]
    )
    got = sorted(
        (r.event_id, r.user_id, r.event_id_right) for r in out.collect()
    )
    want = sorted(
        (r.purchase_id, r.user_id, r.click_id)
        for r in events_asof_join(spark, sf_dir).collect()
    )
    assert got == want


def test_robust_outliers_planted(spark, tmp_path):
    """Synthetic events with a known median/MAD and planted extremes:
    the Hampel screen must count exactly the planted rows, and the
    lower-median rank selection must handle an even-sized group."""
    import datetime
    import os

    import pandas as pd

    from hadoop_hive_analysis_spark.operators.events import (
        events_robust_outliers,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # type A (odd n=7): values 10,10,10,11,11,12,100 → med=11? sorted:
    # 10,10,10,11,11,12,100 rank(7+1)//2=4 → med=11; dev sorted:
    # 0,0,1,1,1,1,89 rank 4 → mad=1; outliers: dev*2>9 → dev>4.5 → 89 only
    for i, v in enumerate([10.0, 10.0, 10.0, 11.0, 11.0, 12.0, 100.0]):
        rows.append((i, t0, 1, "A", v, "{}"))
    # type B (even n=6): 1,2,3,4,5,1000 → rank (6+1)//2=3 → med=3 (lower);
    # dev: 2,1,0,1,2,997 sorted 0,1,1,2,2,997 rank 3 → mad=1;
    # outliers: dev>4.5 → only 997
    for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 5.0, 1000.0]):
        rows.append((100 + i, t0, 2, "B", v, "{}"))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )
    got = {
        r.event_type: r
        for r in events_robust_outliers(spark, str(tmp_path)).collect()
    }
    a, b = got["A"], got["B"]
    assert (a.n, a.med, a.mad, a.n_outliers, a.max_abs_dev) == (7, 11.0, 1.0, 1, 89.0)
    assert (b.n, b.med, b.mad, b.n_outliers, b.max_abs_dev) == (6, 3.0, 1.0, 1, 997.0)


def _write_events(spark, tmp_path, rows):
    import os

    import pandas as pd

    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        os.path.join(str(tmp_path), "events.parquet")
    )


def test_latest_state_tiebreak_and_versions(spark, tmp_path):
    """Latest-record-wins: same-second updates resolve by event_id, and
    the struct-max aggregate must agree with the conventional
    row_number()=1 formulation on a constructed change log."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import events_latest_state

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    t1 = t0 + datetime.timedelta(seconds=30)
    _write_events(
        spark,
        tmp_path,
        [
            # user 1: two updates in the SAME second → event_id 7 wins
            (3, t1, 1, "click", 1.00, "{}"),
            (7, t1, 1, "purchase", 2.50, "{}"),
            (1, t0, 1, "view", 0.25, "{}"),
            # user 2: single event
            (2, t0, 2, "signup", 9.99, "{}"),
        ],
    )
    got = {r.user_id: r for r in events_latest_state(spark, str(tmp_path)).collect()}
    u1, u2 = got[1], got[2]
    assert (u1.last_event_id, u1.last_event_type, u1.last_value, u1.n_versions) == (
        7,
        "purchase",
        2.5,
        3,
    )
    assert u1.last_ts_epoch == int(t1.replace(tzinfo=datetime.timezone.utc).timestamp())
    assert (u2.last_event_id, u2.n_versions) == (2, 1)


def test_scd2_runs_and_open_interval(spark, tmp_path):
    """SCD2 build: consecutive equal states collapse into one interval,
    valid_to chains to the next change, and the current interval is
    open (NULL valid_to)."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import events_scd2_intervals

    t = [
        datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(minutes=m)
        for m in range(6)
    ]
    _write_events(
        spark,
        tmp_path,
        [
            # user 1: view, view, click, click, view → 3 intervals
            (1, t[0], 1, "view", 0.0, "{}"),
            (2, t[1], 1, "view", 0.0, "{}"),
            (3, t[2], 1, "click", 0.0, "{}"),
            (4, t[3], 1, "click", 0.0, "{}"),
            (5, t[4], 1, "view", 0.0, "{}"),
            # user 2: constant state → 1 open interval
            (6, t[0], 2, "signup", 0.0, "{}"),
            (7, t[5], 2, "signup", 0.0, "{}"),
        ],
    )
    out = sorted(
        (
            (r.user_id, r.version, r.state, r.valid_from_epoch, r.valid_to_epoch)
            for r in events_scd2_intervals(spark, str(tmp_path)).collect()
        )
    )
    ep = [int(x.replace(tzinfo=datetime.timezone.utc).timestamp()) for x in t]
    assert out == [
        (1, 1, "view", ep[0], ep[2]),
        (1, 2, "click", ep[2], ep[4]),
        (1, 3, "view", ep[4], None),
        (2, 1, "signup", ep[0], None),
    ]


def test_ohlc_bars_constructed(spark, tmp_path):
    """One bar with known open/high/low/close, including a same-second
    open tie resolved by event_id, plus a second bar in another hour."""
    import datetime

    from hadoop_hive_analysis_spark.operators.rollups import events_ohlc_bars

    h0 = datetime.datetime(2024, 1, 1, 9, 0, 0)
    _write_events(
        spark,
        tmp_path,
        [
            # hour 9 bar, type A: open tie at 09:00:00 → event_id 1 wins
            (2, h0, 1, "A", 50.00, "{}"),
            (1, h0, 1, "A", 10.00, "{}"),
            (3, h0 + datetime.timedelta(minutes=30), 1, "A", 99.99, "{}"),
            (4, h0 + datetime.timedelta(minutes=59), 1, "A", 0.01, "{}"),
            # hour 10 bar, type A: single tick
            (5, h0 + datetime.timedelta(hours=1), 1, "A", 7.00, "{}"),
        ],
    )
    out = {
        (r.event_type, r.hour_epoch): r
        for r in events_ohlc_bars(spark, str(tmp_path)).collect()
    }
    ep9 = int(h0.replace(tzinfo=datetime.timezone.utc).timestamp())
    bar = out[("A", ep9)]
    assert (bar.open, bar.high, bar.low, bar.close, bar.volume) == (
        10.0,
        99.99,
        0.01,
        0.01,
        4,
    )
    assert out[("A", ep9 + 3600)].open == 7.0


def test_rolling_stats_constructed(spark, tmp_path):
    """Hand-checked trailing window: values 1..7 for one user, width 5 —
    row k's sum is the sum of the last min(k,5) values; a second user's
    rows must not leak into the frame."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import events_rolling_stats

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (i, t0 + datetime.timedelta(minutes=i), 1, "A", float(i), "{}")
        for i in range(1, 8)
    ] + [(100, t0, 2, "A", 1000.0, "{}")]
    _write_events(spark, tmp_path, rows)
    out = {r.event_id: r for r in events_rolling_stats(spark, str(tmp_path)).collect()}
    assert (out[1].n_window, out[1].rolling_sum) == (1, 1.0)
    assert (out[5].n_window, out[5].rolling_sum) == (5, 15.0)  # 1+2+3+4+5
    assert (out[7].n_window, out[7].rolling_sum) == (5, 25.0)  # 3+4+5+6+7
    assert out[7].rolling_avg == 5.0
    assert out[7].rolling_max == 7.0
    assert (out[100].n_window, out[100].rolling_sum) == (1, 1000.0)


def test_histogram_edges_and_clamps(spark, tmp_path):
    """Bucket-edge values land in the HIGHER bucket (cents DIV width),
    and out-of-range values clamp into the edge bins instead of
    vanishing — conservation: bin counts sum to row count."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import (
        HIST_NBINS,
        events_value_histogram,
    )

    t0 = datetime.datetime(2024, 1, 1)
    _write_events(
        spark,
        tmp_path,
        [
            (1, t0, 1, "A", 24.99, "{}"),   # bin 0 (2499 cents)
            (2, t0, 1, "A", 25.00, "{}"),   # exactly on the edge → bin 1
            (3, t0, 1, "A", 0.00, "{}"),    # bin 0
            (4, t0, 1, "A", -5.00, "{}"),   # clamps to bin 0
            (5, t0, 1, "A", 9999.0, "{}"),  # clamps to the last bin
        ],
    )
    rows = {r.bin: r for r in events_value_histogram(spark, str(tmp_path)).collect()}
    assert rows[0].n == 3
    assert rows[1].n == 1
    assert rows[HIST_NBINS - 1].n == 1
    assert (rows[1].lo, rows[1].hi) == (25.0, 50.0)
    assert sum(r.n for r in rows.values()) == 5


def test_churn_report_planted(spark, tmp_path):
    """Planted activity horizon: a user whose last event is 10 days
    before the corpus clock is churned; a user active yesterday is not;
    boundary exactly at CHURN_DAYS flags churned (>=)."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import (
        CHURN_DAYS,
        events_churn_report,
    )

    end = datetime.datetime(2024, 2, 1)
    _write_events(
        spark,
        tmp_path,
        [
            (1, end, 1, "A", 0.0, "{}"),  # sets the corpus clock
            (2, end - datetime.timedelta(days=10), 2, "A", 0.0, "{}"),
            (3, end - datetime.timedelta(days=1), 3, "A", 0.0, "{}"),
            (4, end - datetime.timedelta(days=CHURN_DAYS), 4, "A", 0.0, "{}"),
        ],
    )
    out = {r.user_id: r for r in events_churn_report(spark, str(tmp_path)).collect()}
    assert (out[1].days_inactive, out[1].churned) == (0, False)
    assert (out[2].days_inactive, out[2].churned) == (10, True)
    assert (out[3].days_inactive, out[3].churned) == (1, False)
    assert (out[4].days_inactive, out[4].churned) == (CHURN_DAYS, True)


def test_latest_state_ordering_key_unique(spark, sf_dir):
    """The events_latest_state contract: (ts_epoch, event_id) is unique
    per user, so the struct-max's trailing payload fields are never
    consulted and the engine agrees with the oracle's row_number
    tie-break deterministically (ADVICE r7: if event_id were non-unique
    within a user the engines could disagree)."""
    from pyspark.sql import functions as F

    from hadoop_hive_analysis_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    dupes = (
        ev.groupBy("user_id", F.col("ts").cast("long"), "event_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dupes == 0


def test_merge_upsert_three_ops(spark, tmp_path):
    """The MERGE apply must label all three actions: carry (snapshot
    only), update (both sides — change wins), insert (change only).
    Cutoff = min + 3/4 range = t0 + 75 over a 100-second span."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import events_merge_upsert

    t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(
        seconds=s
    )
    _write_events(
        spark,
        tmp_path,
        [
            # span [0, 100] -> cutoff at 75
            (1, t(0), 1, "view", 1.00, "{}"),      # carry user
            (2, t(10), 2, "view", 2.00, "{}"),     # update user: snapshot
            (3, t(76), 2, "purchase", 9.00, "{}"),  # update user: change
            (4, t(80), 3, "signup", 5.00, "{}"),    # insert user
            (5, t(100), 3, "click", 7.00, "{}"),    # insert user, later
        ],
    )
    got = {r.user_id: r for r in events_merge_upsert(spark, str(tmp_path)).collect()}
    assert got[1].op == "carry" and got[1].last_value == 1.0
    assert got[1].n_versions == 1
    assert got[2].op == "update" and got[2].last_event_type == "purchase"
    assert got[2].last_value == 9.0 and got[2].n_versions == 2
    assert got[3].op == "insert" and got[3].last_event_type == "click"
    assert got[3].last_value == 7.0 and got[3].n_versions == 2


def test_gap_fill_locf_and_leading_nulls(spark, tmp_path):
    """Gap filling: empty buckets appear with n_events=0 and the last
    observed value carried forward; buckets BEFORE a type's first
    observation carry NULL (nothing to carry)."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import (
        GAPFILL_BUCKET_SEC,
        events_gap_fill,
    )

    t = lambda s: datetime.datetime(2024, 1, 1, 0, 0, 0) + datetime.timedelta(
        seconds=s
    )
    B = GAPFILL_BUCKET_SEC
    _write_events(
        spark,
        tmp_path,
        [
            # type A: buckets 0 and 3 observed; 1, 2 are gaps
            (1, t(10), 1, "A", 2.00, "{}"),
            (2, t(3 * B + 5), 1, "A", 5.00, "{}"),
            # type B: first observation in bucket 2 -> leading NULLs
            (3, t(2 * B + 1), 2, "B", 7.00, "{}"),
        ],
    )
    rows = {
        (r.event_type, r.bucket_epoch): r
        for r in events_gap_fill(spark, str(tmp_path)).collect()
    }
    base = min(k[1] for k in rows)  # grid-aligned epoch of bucket 0
    # grid is types x full range: 2 types x 4 buckets
    assert len(rows) == 8
    a1 = rows[("A", base + B)]
    assert (a1.n_events, a1.bucket_value, a1.locf_value) == (0, None, 2.0)
    a3 = rows[("A", base + 3 * B)]
    assert (a3.n_events, a3.locf_value) == (1, 5.0)
    b0 = rows[("B", base)]
    assert (b0.n_events, b0.bucket_value, b0.locf_value) == (0, None, None)
    b3 = rows[("B", base + 3 * B)]
    assert (b3.n_events, b3.locf_value) == (0, 7.0)


def test_rolling_active_users_window_math(spark, tmp_path):
    """WAU fanout: a user active on day D supports report days
    D..D+6, but only OBSERVED days appear; distinct users counted once
    however many events they have in the window."""
    import datetime

    from hadoop_hive_analysis_spark.operators.events import (
        events_rolling_active_users,
    )

    day = lambda d, s=0: datetime.datetime(2024, 1, 1) + datetime.timedelta(
        days=d, seconds=s
    )
    _write_events(
        spark,
        tmp_path,
        [
            (1, day(0), 1, "A", 1.0, "{}"),
            (2, day(0, 60), 1, "A", 1.0, "{}"),  # same user+day: once
            (3, day(0), 2, "A", 1.0, "{}"),
            (4, day(6), 2, "A", 1.0, "{}"),   # day 6: users 1,2 in window
            (5, day(8), 3, "A", 1.0, "{}"),   # day 8: user 2 (day6) + 3
        ],
    )
    base = int(day(0).replace(tzinfo=datetime.timezone.utc).timestamp())
    got = {
        r.day_epoch: r.active_users
        for r in events_rolling_active_users(spark, str(tmp_path)).collect()
    }
    # observed days: 0, 6, 8 only
    assert set(got) == {base, base + 6 * 86400, base + 8 * 86400}
    assert got[base] == 2              # users 1, 2 on day 0
    assert got[base + 6 * 86400] == 2  # users 1, 2 (day-0 activity still in window)
    assert got[base + 8 * 86400] == 2  # user 2 (day 6) + user 3
