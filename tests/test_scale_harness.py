"""scripts/scale.py: the grown sf_dir, the per-point oracle check, the
streaming state-row count, and the engine free of measurement hooks."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq

from scripts.scale import build_scaled_dir, scale_points

GROWN_IDS = {"documents": ["doc_id"], "events": ["event_id", "user_id"], "embeddings": ["vec_id"]}


def test_scaled_dir_doubles_rows_with_disjoint_ids(sf_dir):
    d = build_scaled_dir(sf_dir, 2)
    try:
        for table, id_cols in GROWN_IDS.items():
            base = pq.read_table(f"{sf_dir}/{table}.parquet")
            grown = pq.read_table(f"{d}/{table}.parquet")
            assert grown.num_rows == 2 * base.num_rows, table
            for col in id_cols:
                n_base = len(set(base[col].to_pylist()))
                assert len(set(grown[col].to_pylist())) == 2 * n_base, (table, col)
    finally:
        shutil.rmtree(d)


def test_editdistance_pairs_exactly_linear_and_oracle_checked(spark, sf_dir):
    p1, p2 = scale_points(spark, ["dedup_editdistance"], [1, 2], sf_dir)
    assert p1["oracle_ok"] and p2["oracle_ok"]
    assert p1["rows"] > 0
    assert p2["rows"] == 2 * p1["rows"]


def test_stream_join_replay_reports_state_rows(spark, sf_dir):
    (p,) = scale_points(spark, ["events_stream_join_replay"], [1], sf_dir)
    assert p["oracle_ok"]
    assert p["state_rows"] > 0


def test_streaming_module_has_no_progress_hook():
    from hadoop_hive_analysis_spark.streaming import events

    # state volume is read by a listener; the module keeps no progress sink
    assert [n for n in vars(events) if "progress" in n.lower()] == []
