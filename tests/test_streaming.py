"""Streaming ↔ batch equivalence: the Kappa guarantee.

Each streaming twin, drained with Trigger.AvailableNow, must reproduce its
batch operator's results exactly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_hive_analysis_spark.operators.events import (
    events_sessionize,
    events_sliding_window,
    events_tumbling_window,
)
from hadoop_hive_analysis_spark.sources.catalog import load_table
from hadoop_hive_analysis_spark.streaming import (
    read_events_stream,
    run_available_now,
    streaming_session_aggregates,
    streaming_sliding_counts,
    streaming_tumbling_counts,
    streaming_user_running_counts,
)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_tumbling_equals_batch(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        streaming_tumbling_counts(stream), "t_tumbling", str(tmp_path / "ck1")
    )
    want = events_tumbling_window(spark, sf_dir)
    cols = ["window_start_epoch", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_sliding_equals_batch(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        streaming_sliding_counts(stream), "t_sliding", str(tmp_path / "ck9")
    )
    want = events_sliding_window(spark, sf_dir)
    cols = ["window_start_epoch", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path):
    # Watermarked stream-stream inner join: matches emit eagerly (the
    # watermark gates state EVICTION, not emission), so the AvailableNow
    # drain must equal the batch attribution join exactly.
    from hadoop_hive_analysis_spark.operators.events import (
        events_click_purchase_join,
    )
    from hadoop_hive_analysis_spark.streaming import streaming_click_purchase_join

    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        streaming_click_purchase_join(stream),
        "t_ssjoin",
        str(tmp_path / "ck_ssj"),
        output_mode="append",
    )
    want = events_click_purchase_join(spark, sf_dir)
    cols = ["click_id", "purchase_id", "user_id", "secs_to_purchase"]
    assert _rows(got, cols) == _rows(want, cols)


def test_streaming_sessions_equal_batch(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        streaming_session_aggregates(stream), "t_sessions", str(tmp_path / "ck2")
    )
    want = events_sessionize(spark, sf_dir)
    cols = ["user_id", "session_start_epoch", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_session_boundary_canary(spark, tmp_path):
    """Adversarial near-gap timestamps through ALL THREE session engines
    — native session_window (streamed), batch lag/cumsum, and the DuckDB
    oracle SQL — must sessionize identically.

    Before round 6 the streaming side windowed RAW microsecond
    timestamps while the oracle flags on second-truncated diffs
    > 1800 s, leaving a sub-second mismatch band around the gap
    (ADVICE r5). The aligned rule — measured here, not assumed — is:
    truncate to whole seconds first; Spark merges touching session
    windows, so ``session_window`` then splits exactly at floored diff
    > 1800, the oracle's rule. Cumulative gaps driven per user (base
    fraction .3 s):

    * +1799.4 s (floored diff 1799) → merge
    * +1799.9 s crossing a second boundary (floored diff 1800) → merge
      (touching windows merge; raw-microsecond code would also merge)
    * +1800.0 s (floored diff 1800 again) → merge
    * +1800.5 s (floored diff 1801; raw gap in the old ambiguous band)
      → split — the case that exposed the r5 mismatch
    * +1801.2 s (floored diff 1801) → split
    """
    import datetime as dt

    import duckdb

    from hadoop_hive_analysis_spark.operators.events import (
        EVENTS_SESSION_AGG_SQL,
        sessionize_df,
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0, 300000)  # .3 s fraction
    gaps = [1799.4, 1799.9, 1800.0, 1800.5, 1801.2]
    rows, t, eid = [], base, 0
    for u in (1, 2):
        t = base
        for g in [0.0] + gaps:
            t = t + dt.timedelta(seconds=g)
            rows.append((eid, t, u, "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string"
    )
    src = str(tmp_path / "canary_events")
    ev.coalesce(1).write.parquet(src)

    # 1) streaming: native session_window, AvailableNow drain
    stream = spark.readStream.schema(ev.schema).parquet(src)
    got_stream = run_available_now(
        streaming_session_aggregates(stream),
        "t_canary_sessions",
        str(tmp_path / "ck_canary"),
    )
    cols = ["user_id", "session_start_epoch", "n_events", "sum_value"]
    stream_rows = _rows(got_stream, cols)

    # expected: floored epochs, split at diff > 1800 → sessions are
    # [e0..e3], [e4], [e5] per user
    def fe(i):  # floored epoch of event i's ts (per user, same offsets)
        return int(rows[i][1].timestamp())

    want = sorted(
        (u, start, n, float(n))
        for u in (1, 2)
        for start, n in [(fe(0), 4), (fe(4), 1), (fe(5), 1)]
    )
    assert stream_rows == want, f"streaming: {stream_rows} != {want}"

    # 2) batch lag/cumsum (production expressions)
    batch = sessionize_df(ev.select("event_id", "user_id", "ts", "value"))
    assert _rows(batch, cols[:1] + ["session_start_epoch", "n_events", "sum_value"]) == want

    # 3) the DuckDB oracle text the driver actually runs
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{src}/*.parquet')"
    )
    o = con.execute(EVENTS_SESSION_AGG_SQL).fetchall()
    con.close()
    oracle_rows = sorted((r[0], r[1], r[2], r[3]) for r in o)
    assert oracle_rows == want, f"oracle: {oracle_rows} != {want}"


def test_stateful_running_counts_match_groupby(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        streaming_user_running_counts(stream),
        "t_state",
        str(tmp_path / "ck3"),
        output_mode="update",
    )
    # final state per user (last emitted row) == plain batch groupBy count
    import pyspark.sql.functions as F

    final = (
        got.groupBy("user_id").agg(F.max("n_events").alias("n_events")).collect()
    )
    want = {
        r.user_id: r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got_map = {r.user_id: r.n_events for r in final}
    assert got_map == want


def test_streaming_hll_sketches_equal_batch(spark, sf_dir, tmp_path):
    """HLL state depends only on the item set (max per register), so the
    incrementally-maintained streaming sketch estimates must equal the
    batch estimates exactly."""
    import pyspark.sql.functions as F

    from hadoop_hive_analysis_spark.streaming.events import (
        streaming_daily_distinct_sketches,
    )

    stream = read_events_stream(spark, sf_dir)
    got = run_available_now(
        streaming_daily_distinct_sketches(stream),
        "t_hll",
        str(tmp_path / "ck7"),
    )
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("apx_users")
        )
    )
    assert {(r.day, r.apx_users) for r in got.collect()} == {
        (r.day, r.apx_users) for r in want.collect()
    }


def test_streaming_digest_dedup_equals_batch_exact(spark, sf_dir, tmp_path):
    """Streaming first-seen digest dedup emits exactly the digest set the
    batch exact-dedup operator derives — driven with a two-batch stream
    whose second batch redelivers the whole corpus (the fixture has no
    exact dupes, so the redelivery is what exercises the drops)."""
    import pyspark.sql.functions as F

    from hadoop_hive_analysis_spark.streaming import streaming_dedup_digests

    docs = load_table(spark, sf_dir, "documents")
    ingest = str(tmp_path / "docs_ingest")
    docs.coalesce(1).write.parquet(ingest)
    docs.coalesce(1).write.mode("append").parquet(ingest)  # second file
    stream = spark.readStream.schema(docs.schema).parquet(ingest)
    got = run_available_now(
        streaming_dedup_digests(stream),
        "t_digest_dedup",
        str(tmp_path / "ck5"),
        output_mode="append",
    )
    want = docs.select(F.md5("text").alias("digest")).distinct()
    assert sorted(r.digest for r in got.collect()) == sorted(
        r.digest for r in want.collect()
    )


def test_streaming_watermark_dedup_drops_retransmissions(spark, sf_dir, tmp_path):
    """An at-least-once source delivering every event twice must come out
    exactly once, with state bounded by the watermark horizon."""
    from hadoop_hive_analysis_spark.streaming.dedup import (
        streaming_dedup_within_watermark,
    )

    ev = load_table(spark, sf_dir, "events")
    ingest = str(tmp_path / "ingest")
    # one file = one microbatch containing every event twice
    ev.union(ev).coalesce(1).write.parquet(ingest)
    stream = spark.readStream.schema(ev.schema).parquet(ingest)
    got = run_available_now(
        streaming_dedup_within_watermark(stream),
        "t_wm_dedup",
        str(tmp_path / "ck6"),
        output_mode="append",
    )
    assert got.count() == ev.count()
    assert got.select("event_id").distinct().count() == ev.count()


def test_row_minhash_sig_equals_batch_groupby_sig(spark, sf_dir):
    """The per-row higher-order-function signature (streamable,
    stateless) must equal the batch explode+groupBy(min) signature
    exactly — the property that lets a batch-built LSH snapshot verify
    streaming arrivals."""
    from hadoop_hive_analysis_spark.functions.hashing import (
        h31, minhash_expr, minhash_params,
    )
    from hadoop_hive_analysis_spark.operators.dedup import (
        NUM_HASHES, _doc_shingles,
    )
    from hadoop_hive_analysis_spark.sources.catalog import load_table
    from hadoop_hive_analysis_spark.streaming.dedup import with_minhash_bands

    params = minhash_params(NUM_HASHES)
    batch = (
        _doc_shingles(spark, sf_dir)
        .withColumn("h31", h31(F.col("shingle")))
        .groupBy("doc_id")
        .agg(
            *[
                F.min(minhash_expr(F.col("h31"), a, b)).alias(f"mh_{j}")
                for j, (a, b) in enumerate(params)
            ]
        )
    )
    want = {
        r["doc_id"]: [r[f"mh_{j}"] for j in range(NUM_HASHES)]
        for r in batch.collect()
    }
    got = {
        r["doc_id"]: list(r["sig"])
        for r in with_minhash_bands(
            load_table(spark, sf_dir, "documents")
        ).select("doc_id", "sig").collect()
    }
    assert got == want


def test_streaming_neardup_hits_snapshot(spark, sf_dir, tmp_path):
    """NEAR-dup ingest against an LSH snapshot: arriving modified copies
    of history docs are flagged (high signature agreement), novel docs
    are not, redelivered arrivals dedup to one hit row — and the drained
    stream equals the batch twin exactly (same function, two modes)."""
    from hadoop_hive_analysis_spark.sources.catalog import load_table
    from hadoop_hive_analysis_spark.streaming.dedup import (
        neardup_hits_against_snapshot,
        neardup_snapshot,
    )

    docs = load_table(spark, sf_dir, "documents")
    snap_path = str(tmp_path / "lsh_snapshot")
    neardup_snapshot(docs).write.parquet(snap_path)
    snapshot = spark.read.parquet(snap_path)

    # arrivals: near-dups of history (one appended token) + novel docs
    near = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" trailingnoveltoken")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    novel = spark.createDataFrame(
        [
            (2_000_000 + i,
             f"zzq{i} wvut{i} rqpo{i} nmlk{i} jihg{i} fedc{i} baqw{i} erty{i}",
             "en", "synthetic", 50)
            for i in range(5)
        ],
        docs.schema,
    )
    arrivals = near.unionByName(novel)
    arrivals_dup = arrivals.union(arrivals)  # redelivery

    want = sorted(
        (r.digest, r.hist_doc_id, r.est_jaccard)
        for r in neardup_hits_against_snapshot(arrivals_dup, snapshot).collect()
    )
    assert len({d for d, _, _ in want}) == 20  # every near-dup flagged
    novel_digests = {
        r.digest
        for r in novel.select(F.md5("text").alias("digest")).collect()
    }
    assert not novel_digests & {d for d, _, _ in want}
    assert all(e >= 0.5 for _, _, e in want)

    arr_path = str(tmp_path / "neardup_arrivals")
    arrivals_dup.write.parquet(str(arr_path) + "/documents.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(arr_path) + "/documents.parquet")
    )
    got = run_available_now(
        neardup_hits_against_snapshot(stream, snapshot),
        "t_neardup_snap",
        str(tmp_path / "ck_neardup"),
        output_mode="append",
    )
    got_rows = sorted(
        (r.digest, r.hist_doc_id, r.est_jaccard) for r in got.collect()
    )
    assert got_rows == want

    # TTL variant: ingest-time dropDuplicatesWithinWatermark — the
    # bounded-state form for continuous deployments. Redeliveries land
    # well inside the 1-hour TTL, so the drained hit set is identical.
    stream2 = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(arr_path) + "/documents.parquet")
    )
    got_ttl = run_available_now(
        neardup_hits_against_snapshot(stream2, snapshot, hit_state_ttl="1 hour"),
        "t_neardup_snap_ttl",
        str(tmp_path / "ck_neardup_ttl"),
        output_mode="append",
    )
    got_ttl_rows = sorted(
        (r.digest, r.hist_doc_id, r.est_jaccard) for r in got_ttl.collect()
    )
    assert got_ttl_rows == want


def test_incremental_rollup_equals_batch_and_is_idempotent(spark, sf_dir, tmp_path):
    """Multi-batch incremental rollup == full batch groupBy, and
    re-delivering a batch's partial (retry simulation) changes nothing."""
    import pyspark.sql.functions as F

    from hadoop_hive_analysis_spark.streaming.events import (
        run_incremental_rollup,
        rollup_view,
    )

    ev = load_table(spark, sf_dir, "events")
    ingest = str(tmp_path / "roll_ingest")
    # two files + maxFilesPerTrigger=1 → two distinct micro-batches
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(ingest)
    ev.filter(F.col("event_id") % 2 != 0).coalesce(1).write.mode(
        "append"
    ).parquet(ingest)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(ingest)
    )
    partials = str(tmp_path / "roll_partials")
    run_incremental_rollup(stream, partials, str(tmp_path / "ck8"))
    import os

    batch_dirs = [d for d in os.listdir(partials) if d.startswith("batch_id=")]
    assert len(batch_dirs) == 2, batch_dirs

    def rows(df):
        return sorted(
            (r.day, r.event_type, r.n_events, r.sum_value) for r in df.collect()
        )

    want = rows(
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("day", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("sum_value"),
        )
    )
    assert rows(rollup_view(spark, partials)) == want
    # retry simulation: rewrite batch 0's partial; the view must not change
    # (materialize first — Spark can't overwrite a path it is reading from)
    b0_path = f"{partials}/batch_id=0"
    b0 = spark.read.parquet(b0_path)
    replay = spark.createDataFrame(b0.collect(), b0.schema)
    replay.write.mode("overwrite").parquet(b0_path)
    assert rows(rollup_view(spark, partials)) == want


def test_foreach_batch_etl_lands_partitioned_parquet(spark, sf_dir, tmp_path):
    from hadoop_hive_analysis_spark.streaming.events import run_foreach_batch_etl

    out = str(tmp_path / "etl_out")
    stream = read_events_stream(spark, sf_dir)
    run_foreach_batch_etl(stream, out, str(tmp_path / "ck4"))
    landed = spark.read.parquet(out)
    src = load_table(spark, sf_dir, "events")
    assert landed.count() == src.count()
    # partitioned layout → day filters prune
    import os

    assert any(d.startswith("day=") for d in os.listdir(out))


def test_snapshot_seeded_dedup_bounds_state(spark, sf_dir, tmp_path):
    """The snapshot pattern: history's digests come from parquet (zero
    stream state), the stream drops history-dups via stream-static anti
    join and window-dups via in-stream state; the surviving set must
    equal the batch answer (digests in the new window minus history)."""
    from hadoop_hive_analysis_spark.sources.catalog import load_table
    from hadoop_hive_analysis_spark.streaming.dedup import (
        snapshot_digests,
        streaming_dedup_against_snapshot,
    )
    from hadoop_hive_analysis_spark.streaming.events import run_available_now

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") % 2 == 0)
    arrivals = docs.filter(F.col("doc_id") % 2 == 1)
    # doubled delivery: the new window itself contains duplicates
    arrivals_dup = arrivals.union(arrivals)

    snap_path = str(tmp_path / "digest_snapshot")
    snapshot_digests(history).write.parquet(snap_path)

    arr_path = str(tmp_path / "arrivals")
    arrivals_dup.write.parquet(str(arr_path) + "/documents.parquet")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(arr_path) + "/documents.parquet")
    )
    got = run_available_now(
        streaming_dedup_against_snapshot(
            stream, spark.read.parquet(snap_path)
        ),
        query_name="snap_dedup",
        checkpoint_dir=str(tmp_path / "ck_snap"),
        output_mode="append",
    )
    want = (
        arrivals.select(F.md5("text").alias("digest"))
        .exceptAll(snapshot_digests(history))
        .distinct()
    )
    got_set = {r["digest"] for r in got.select("digest").collect()}
    want_set = {r["digest"] for r in want.collect()}
    assert got_set == want_set
    assert len(got_set) > 0


def test_left_outer_join_replay_flushes_tail_clicks(spark, sf_dir):
    """The left-outer drain must emit the unmatched click closest to the
    end of the stream — the row that stays in state until the heartbeat
    sentinels advance the watermark past its expiry (the finite-drain
    failure mode the staged-microbatch replay exists to close). Full
    value parity with the batch LEFT JOIN is covered by the oracle sweep;
    this pins the tail-flush mechanism specifically."""
    from pyspark.sql import functions as F

    from hadoop_hive_analysis_spark.sources.catalog import load_table
    from hadoop_hive_analysis_spark.streaming.events import (
        events_stream_left_join_replay,
    )

    res = events_stream_left_join_replay(spark, sf_dir)
    unmatched = {r.click_id for r in res.filter("purchase_id IS NULL").collect()}
    assert unmatched, "fixture should contain never-converted clicks"
    # The batch-side unmatched click LATEST in event time is exactly the
    # row a naive finite drain loses (its state outlives every real
    # watermark advance); it must be present in the replay's output.
    from hadoop_hive_analysis_spark.operators.events import (
        EVENTS_STREAM_LEFT_JOIN_SQL,
    )

    from .oracle import run_oracle

    cols, rows = run_oracle(EVENTS_STREAM_LEFT_JOIN_SQL, sf_dir)
    i_click, i_purch = cols.index("click_id"), cols.index("purchase_id")
    batch_unmatched = {r[i_click] for r in rows if r[i_purch] is None}
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    tail = (
        ev.filter(F.col("event_id").isin(list(batch_unmatched)))
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .first()
    )
    assert tail.event_id in unmatched


def test_left_outer_replay_encoding_agnostic(spark, tmp_path):
    """The replay's heartbeat sentinels must be written in the SOURCE's
    own timestamp encoding: over a TIMESTAMP(NANOS) events table the
    stream schema is LongType, and a micros sentinel would either fail
    the scan or read as ~1970 and never advance the watermark. Both
    encodings must equal the batch LEFT JOIN oracle exactly."""
    import duckdb

    from tests.test_encoding import _write_encodings

    from hadoop_hive_analysis_spark.operators.events import (
        EVENTS_STREAM_LEFT_JOIN_SQL,
    )
    from hadoop_hive_analysis_spark.streaming.events import (
        events_stream_left_join_replay,
    )

    dirs = _write_encodings(tmp_path)
    # oracle over the micros dir (DuckDB reads TIMESTAMP(NANOS) too, but
    # one canonical text suffices — the point is the REPLAY side)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{dirs['micros_ltz']}/events.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.execute(EVENTS_STREAM_LEFT_JOIN_SQL).fetchall()
    )
    con.close()
    for tag in ("nanos", "micros_ntz"):
        got = sorted(
            (r.click_id, r.purchase_id, r.user_id, r.secs_to_purchase)
            for r in events_stream_left_join_replay(spark, dirs[tag]).collect()
        )
        assert got == want, tag


def test_left_outer_replay_multifile_time_interleaved(spark, sf_dir, tmp_path):
    """A directory-shaped events table whose part files interleave in
    event time (a newer-mtime file holding OLDER timestamps) must still
    replay bit-equal to the batch LEFT JOIN: drain 1 ingests every real
    file in ONE microbatch, so no row can be declared late by a
    watermark advanced from a sibling file."""
    import os
    import time

    import duckdb
    from pyspark.sql import functions as F

    from hadoop_hive_analysis_spark.operators.events import (
        EVENTS_STREAM_LEFT_JOIN_SQL,
    )
    from hadoop_hive_analysis_spark.sources.catalog import load_table
    from hadoop_hive_analysis_spark.streaming.events import (
        events_stream_left_join_replay,
    )

    ev = load_table(spark, sf_dir, "events")
    d = tmp_path / "multi" / "events.parquet"
    d.mkdir(parents=True)
    # adversarial split: LATE half written first, EARLY half second
    # (newer mtime) — a per-file drain would drop most of the early half
    mid = ev.selectExpr(
        "percentile_approx(cast(ts as long), 0.5)"
    ).first()[0]
    late = ev.filter(F.col("ts").cast("long") >= mid)
    early = ev.filter(F.col("ts").cast("long") < mid)
    for i, part in enumerate((late, early)):
        tmp = tmp_path / f"part_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        src = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(str(tmp / src), str(d / f"part-{i:05d}.parquet"))
        time.sleep(0.05)  # distinct mtimes, late file older
    df = events_stream_left_join_replay(spark, str(tmp_path / "multi"))
    got = sorted(
        (r.click_id, r.purchase_id, r.user_id, r.secs_to_purchase)
        for r in df.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/multi/events.parquet/*.parquet')"
    )
    want = sorted(
        tuple(r) for r in con.execute(EVENTS_STREAM_LEFT_JOIN_SQL).fetchall()
    )
    con.close()
    assert got == want


def test_tumbling_resumes_from_checkpoint_across_restarts(spark, sf_dir, tmp_path):
    """Exactly-once across query RESTARTS: drain half the files, stop
    the query, add the other half, start a NEW query on the SAME
    checkpoint — the resumed run must process only the new files (state
    recovery, no reprocessing) and the final complete-mode result must
    equal the batch aggregation over everything. This is the recovery
    property a production streaming job actually relies on; the
    single-drain replays never exercise it."""
    import os
    import shutil

    ev = load_table(spark, sf_dir, "events")
    d = tmp_path / "stream"
    d.mkdir(parents=True)
    h1 = ev.filter(F.abs(F.hash("event_id")) % 2 == 0)
    h2 = ev.filter(F.abs(F.hash("event_id")) % 2 == 1)
    for i, part in enumerate((h1, h2)):
        tmp = tmp_path / f"half_{i}"
        part.coalesce(1).write.mode("overwrite").parquet(str(tmp))
        src = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
        os.rename(str(tmp / src), str(tmp_path / f"staged-{i}.parquet"))
        shutil.rmtree(tmp)
    ckpt = str(tmp_path / "ckpt")

    # phase 1: only half 1 visible (pathGlobFilter matches leaf file
    # names, so the halves sit directly in the stream dir)
    os.rename(
        str(tmp_path / "staged-0.parquet"), str(d / "half-0.parquet")
    )
    first = run_available_now(
        streaming_tumbling_counts(
            read_events_stream(
                spark, str(d), file_glob="*.parquet",
                footer_file="half-0.parquet",
            )
        ),
        query_name="resume_phase1",
        checkpoint_dir=ckpt,
    )
    cols = ["window_start_epoch", "event_type", "n_events", "sum_value"]
    got1 = _rows(first, cols)
    # phase 2: add half 2, NEW query, SAME checkpoint
    os.rename(
        str(tmp_path / "staged-1.parquet"), str(d / "half-1.parquet")
    )
    second = run_available_now(
        streaming_tumbling_counts(
            read_events_stream(
                spark, str(d), file_glob="*.parquet",
                footer_file="half-0.parquet",
            )
        ),
        query_name="resume_phase2",
        checkpoint_dir=ckpt,
    )
    got2 = _rows(second, cols)

    want1 = _rows(
        h1.groupBy(F.window("ts", "300 seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        ),
        cols,
    )
    want2 = _rows(
        ev.groupBy(F.window("ts", "300 seconds").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)"))
                / F.lit(100.0)
            ).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        ),
        cols,
    )
    assert got1 == want1  # phase 1 saw exactly half 1
    assert got2 == want2  # resumed state + new files == full batch
    assert got1 != got2   # phase 2 genuinely advanced past phase 1


def test_neardup_snapshot_side_is_materialized_in_the_join_plan(spark, sf_dir):
    """Plan pin for the r16 sf1 broadcast-timeout fix: the snapshot side
    of the near-dup join must be a MATERIALIZED relation (the persisted
    table the maintenance-job pattern describes), never the inline
    shingle→minhash pipeline — re-deriving the corpus inside a
    BroadcastExchange build ran at raw-scan parallelism and blew the
    300 s broadcast timeout at 10×. Invariants: exactly ONE parquet scan
    in the executed plan (the arrivals side) and an ExistingRDD scan
    (the checkpointed snapshot) feeding the join. Which JOIN Spark picks
    stays scale-adaptive by design (AQE broadcasts the genuinely-small
    fixture snapshot, shuffles a 10× one) — the pin is about what feeds
    it, not the strategy."""
    from pyspark.sql import functions as F

    from hadoop_hive_analysis_spark.sources.catalog import load_table
    from hadoop_hive_analysis_spark.streaming.dedup import (
        neardup_hits_against_snapshot,
        neardup_snapshot,
        read_documents_table_even,
    )

    snap = neardup_snapshot(read_documents_table_even(spark, sf_dir))
    arrivals = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 2 == 1
    )
    plan = (
        neardup_hits_against_snapshot(arrivals, snap)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Scan parquet") == 1, (
        "snapshot side re-derives the corpus from parquet inside the "
        "join plan — the inline-recompute regression is back"
    )
    assert "Scan ExistingRDD" in plan, (
        "snapshot is not a materialized (checkpointed) relation"
    )


def test_directory_layout_table_fails_the_stream_loudly(spark, sf_dir, tmp_path):
    """A table stored as a directory (``events.parquet/part-*.parquet``)
    has no top-level file for the stream's name glob to match; the reader
    must raise instead of draining zero rows."""
    load_table(spark, sf_dir, "events").write.parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(FileNotFoundError, match="events.parquet"):
        read_events_stream(spark, str(tmp_path))
