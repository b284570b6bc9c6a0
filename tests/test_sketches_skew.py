"""Sketch estimates pinned against exact counts; salted aggregation
equivalence against the plain groupBy it replaces."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_hive_analysis_spark.operators.sketches import (
    daily_distinct_users_hll,
    eda_sketch_profile,
)
from hadoop_hive_analysis_spark.operators.skew import events_value_by_user_salted
from hadoop_hive_analysis_spark.session import release_cached_blocks
from hadoop_hive_analysis_spark.sources.catalog import load_table


def test_sketch_profile_within_hll_error(spark, sf_dir):
    row = eda_sketch_profile(spark, sf_dir).collect()[0]
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.agg(
        F.countDistinct("l_partkey").alias("p"),
        F.countDistinct("l_suppkey").alias("s"),
        F.countDistinct("l_orderkey").alias("o"),
        F.count("*").alias("n"),
    ).collect()[0]
    assert row.n_rows == exact.n
    # exact distincts are first-class columns since r14 (the oracle
    # hashes them); the sketch estimates surface as within-bound booleans
    assert (row.n_parts, row.n_suppliers, row.n_orders) == (
        exact.p,
        exact.s,
        exact.o,
    )
    assert row.apx_parts_ok and row.apx_suppliers_ok and row.apx_orders_ok
    assert row.price_p50_ok and row.price_p95_ok and row.price_p99_ok


def test_hll_rollup_total_within_error(spark, sf_dir):
    rows = daily_distinct_users_hll(spark, sf_dir).collect()
    total = [r for r in rows if r.day is None]
    assert len(total) == 1
    exact = (
        load_table(spark, sf_dir, "events")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()[0]
        .n
    )
    assert total[0].n_exact_users == exact
    assert all(r.hll_within_bound for r in rows)
    # per-day sketches exist for every day present in the data
    n_days = (
        load_table(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("d"))
        .distinct()
        .count()
    )
    assert len(rows) - 1 == n_days


def test_salted_sum_equals_plain_groupby(spark, sf_dir):
    salted = {
        r.user_id: r.sum_value
        for r in events_value_by_user_salted(spark, sf_dir).collect()
    }
    plain = {
        r.user_id: r.s
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            (F.sum(F.expr("CAST(round(value * 100, 0) AS BIGINT)")) / F.lit(100.0)).alias("s")
        )
        .collect()
    }
    assert salted == plain


def test_hotkey_top3_skew_spreads(spark, sf_dir):
    """The derived key is genuinely skewed (hot key holds ≥80% of rows)
    and phase 1 spreads the hot key's sort over N_SALTS window partitions
    (a plain window would funnel it to one task)."""
    from hadoop_hive_analysis_spark.functions.hashing import h64
    from hadoop_hive_analysis_spark.operators.skew import (
        _SKEW_KEY,
        N_SALTS,
        events_top3_by_hotkey_salted,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.expr(_SKEW_KEY).alias("skew_key"), "event_id"
    )
    counts = {r.skew_key: r.n for r in ev.groupBy("skew_key").count().withColumnRenamed("count", "n").collect()}
    total = sum(counts.values())
    assert counts[-1] / total >= 0.8, counts[-1] / total
    salts = (
        ev.filter(F.col("skew_key") == -1)
        .select((h64(F.col("event_id").cast("string")) % F.lit(N_SALTS)).alias("s"))
        .distinct()
        .count()
    )
    assert salts == N_SALTS  # hot key spreads across every salt
    # result sanity: every key has ≤3 ranked rows, ranks are 1..3
    rows = events_top3_by_hotkey_salted(spark, sf_dir).collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r.skew_key, []).append(r.rnk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) and len(v) <= 3 for v in per_key.values())


def test_share_of_key_total_plan_avoids_window(spark, sf_dir):
    """The unbounded-window rewrite must broadcast the per-key totals and
    contain NO Window node — the fact rows never shuffle on the hot key."""
    from hadoop_hive_analysis_spark.operators.skew import events_share_of_key_total

    df = events_share_of_key_total(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    # shares within each key sum to ~1 (exact integer cents / exact total)
    sums = (
        df.groupBy("skew_key").agg(F.sum("value_share").alias("s")).collect()
    )
    assert sums and all(abs(r.s - 1.0) < 1e-9 for r in sums)


@pytest.mark.parametrize("parts", [1, 8, 64])
def test_heavy_hitters_equals_exact_on_planted_skew(spark, parts):
    """On a synthetic corpus with planted hot tokens and a long uniform
    tail, the two-phase MG output must equal the exact heavy-hitter set
    — this exercises the candidate-superset guarantee, since a dropped
    candidate would silently shrink the result. The corpus is scanned in
    ``parts`` partitions, so the driver merges 1 to 64 summaries; the
    operator runs exactly 3 jobs and leaves no persisted RDD."""
    import os
    import tempfile

    import pandas as pd

    from hadoop_hive_analysis_spark.functions.text import tokens
    from hadoop_hive_analysis_spark.operators.sketches import (
        HH_PHI_DEN,
        doc_heavy_hitters,
    )

    # 3 hot tokens (~10% each) + 2000 distinct cold tokens spread thin.
    docs = []
    for i in range(200):
        toks = ["hot%d" % (i % 3)] * 5 + ["cold%d" % ((i * 10 + j) % 2000) for j in range(10)]
        docs.append((i, " ".join(toks)))
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    sc = spark.sparkContext
    group = f"test_sketches_skew.heavy_hitters.{parts}"
    max_bytes = spark.conf.get("spark.sql.files.maxPartitionBytes")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "documents.parquet")
        spark.createDataFrame(pdf).repartition(parts).write.parquet(path)
        release_cached_blocks(spark)
        # one scan partition per file: small files are packed into a
        # partition up to maxPartitionBytes, each costing openCostInBytes
        spark.conf.set(
            "spark.sql.files.maxPartitionBytes",
            spark.conf.get("spark.sql.files.openCostInBytes"),
        )
        try:
            assert spark.read.parquet(path).rdd.getNumPartitions() == parts
            sc.setJobGroup(group, "doc_heavy_hitters", False)
            got = {
                (r.tok, r.cnt) for r in doc_heavy_hitters(spark, tmp).collect()
            }
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc._jsc.clearJobGroup()
            spark.conf.set("spark.sql.files.maxPartitionBytes", max_bytes)
        assert sc._jsc.getPersistentRDDs().isEmpty()
        ex = spark.read.parquet(path).select(F.explode(tokens("text")).alias("tok"))
        n = ex.count()
        exact = {
            (r.tok, r.cnt)
            for r in ex.groupBy("tok")
            .agg(F.count("*").alias("cnt"))
            .filter(F.col("cnt") * HH_PHI_DEN > n)
            .collect()
        }
    assert got == exact
    assert {t for t, _ in got} == {"hot0", "hot1", "hot2"}
    assert len(jobs) == 3, jobs


def test_mg_summary_bounded_and_superset():
    """The per-batch merge keeps <= MG_K counters and never loses an
    item whose true count exceeds n/(MG_K+1) (classic MG guarantee,
    exercised across multiple merges)."""
    import numpy as np
    import pandas as pd

    from hadoop_hive_analysis_spark.operators.sketches import MG_K, _mg_merge_batch

    rng = np.random.default_rng(7)
    stream = (
        ["hh_a"] * 5000
        + ["hh_b"] * 3000
        + [f"tail{i}" for i in rng.integers(0, 5000, size=20000)]
    )
    rng.shuffle(stream)
    counts: dict = {}
    for lo in range(0, len(stream), 1024):
        batch = pd.Series(stream[lo : lo + 1024])
        counts = _mg_merge_batch(counts, batch.value_counts())
        assert len(counts) <= MG_K
    n = len(stream)
    # true count 5000 and 3000 both exceed n/(MG_K+1) ≈ 431
    assert "hh_a" in counts and "hh_b" in counts
    # MG undercount bound: stored count >= true - n/(MG_K+1)
    assert counts["hh_a"] >= 5000 - n // (MG_K + 1)
    assert counts["hh_b"] >= 3000 - n // (MG_K + 1)


def test_driver_merge_of_64_partition_summaries():
    """64 partition summaries whose union holds more than MG_K tokens
    (each partition has its own local hot token) merge on the driver
    into <= MG_K counters that keep every token above n/(MG_K+1), each
    undercounted by at most n/(MG_K+1), and the exact total n."""
    from collections import Counter

    import numpy as np
    import pandas as pd

    from hadoop_hive_analysis_spark.operators.sketches import (
        MG_K,
        _mg_merge_summaries,
        _mg_partition_summary,
    )

    rng = np.random.default_rng(5)
    spread = [f"g{j}" for j in range(5)]
    summarize = _mg_partition_summary()
    rows: list = []
    true: Counter = Counter()
    for i in range(64):
        toks = (
            [f"local{i}"] * 200
            + [g for g in spread for _ in range(30)]
            + [f"tail{t}" for t in rng.integers(0, 50_000, size=650)]
        )
        rng.shuffle(toks)
        true.update(toks)
        batches = [pd.DataFrame({"tok": toks[lo : lo + 256]}) for lo in range(0, 1000, 256)]
        (summary,) = summarize(iter(batches))
        rows += list(summary.itertuples(index=False, name=None))
    assert len({t for t, _ in rows if t is not None}) > MG_K
    n, cands = _mg_merge_summaries(rows)
    assert n == sum(true.values()) == 64_000
    assert len(cands) <= MG_K
    heavy = {t for t, c in true.items() if c * (MG_K + 1) > n}
    assert heavy == set(spread)
    for t in heavy:
        assert true[t] - n // (MG_K + 1) <= cands[t] <= true[t]


def test_mg_closure_matches_module():
    """The self-contained mapInPandas closure and the module-level
    _mg_merge_batch must produce the same candidate summary over the
    same batch sequence (drift guard for the duplicated logic); the
    closure's last row is (NULL, the partition's token count)."""
    import numpy as np
    import pandas as pd

    from hadoop_hive_analysis_spark.operators.sketches import (
        _mg_merge_batch,
        _mg_partition_summary,
    )

    rng = np.random.default_rng(11)
    toks = ["hh_x"] * 4000 + [f"t{i}" for i in rng.integers(0, 3000, size=16000)]
    rng.shuffle(toks)
    batches = [pd.DataFrame({"tok": toks[lo : lo + 2048]}) for lo in range(0, len(toks), 2048)]
    counts: dict = {}
    for b in batches:
        counts = _mg_merge_batch(counts, b["tok"].value_counts())
    (out,) = _mg_partition_summary()(iter(batches))
    assert list(out.columns) == ["tok", "c"]
    *body, last = out.itertuples(index=False, name=None)
    assert last == (None, len(toks))
    assert dict(body) == counts
    assert "hh_x" in counts
    # an empty partition still reports its (zero) token count
    (empty,) = _mg_partition_summary()(iter([]))
    assert list(empty.itertuples(index=False, name=None)) == [(None, 0)]


def test_key_skew_profile_planted_hot_key(spark, tmp_path):
    """A planted 60% hot key must come out rank 1 with the exact ppm
    share; shares are a downward-rounded integer div of the true ratio."""
    import datetime

    import pandas as pd

    from hadoop_hive_analysis_spark.operators.skew import (
        events_key_skew_profile,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, t0, 7, "A", 0.0, "{}") for i in range(60)] + [
        (100 + i, t0, i % 4, "A", 0.0, "{}") for i in range(40)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    prof = events_key_skew_profile(spark, str(tmp_path)).collect()
    assert prof[0].user_id == 7
    assert prof[0].n == 60
    assert prof[0].share_ppm == 600_000
    assert abs(prof[0].share - 0.6) < 1e-12


def test_key_skew_profile_null_key_tiebreak(spark, tmp_path):
    """A NULL user_id group must profile like any key and sort LAST on
    the tie-break in both engines (Spark asc_nulls_last, DuckDB ASC
    NULLS LAST) — the divergent-default case that would desync the
    top-N membership."""
    import datetime

    import pandas as pd

    import duckdb

    from hadoop_hive_analysis_spark.operators.skew import (
        EVENTS_KEY_SKEW_SQL,
        events_key_skew_profile,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [(i, t0, None, "A", 0.0, "{}") for i in range(5)] + [
        (10 + i, t0, k, "A", 0.0, "{}") for k in (1, 2, 3) for i in range(5)
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    pdf["user_id"] = pdf["user_id"].astype("Int64")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(
        str(tmp_path / "events.parquet")
    )
    prof = events_key_skew_profile(spark, str(tmp_path)).collect()
    # all four groups tie at n=5: NULL must come LAST
    assert [r.user_id for r in prof] == [1, 2, 3, None]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{tmp_path}/events.parquet/*.parquet')"
    )
    want = [r[0] for r in con.execute(EVENTS_KEY_SKEW_SQL).fetchall()]
    con.close()
    assert want == [1, 2, 3, None]


def test_quantile_judge_gate_paths_bit_identical(spark, sf_dir, monkeypatch):
    """The r19 judge-plan gate (QUANTILE_DISTINCT_JUDGE_MIN_ROWS): the
    row_number judge (below the gate — every driver scale) and the
    distinct-CDF judge (forced here by dropping the gate to 0) must
    produce bit-identical rows — both are exact; the gate only picks the
    cheaper plan for the scale."""
    from hadoop_hive_analysis_spark.operators import sketches

    want = sorted(
        map(tuple, sketches.price_quantiles_sketch(spark, sf_dir).collect())
    )
    monkeypatch.setattr(sketches, "QUANTILE_DISTINCT_JUDGE_MIN_ROWS", 0)
    got = sorted(
        map(tuple, sketches.price_quantiles_sketch(spark, sf_dir).collect())
    )
    assert got == want
