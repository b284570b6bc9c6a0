"""Unit tests for bench.py's stdout line and sidecar (no SparkSession
needed): ``_emit`` must keep the JSON line within the last 2000 characters
of stdout and write the full record to ``BENCH_FULL.json``."""

from __future__ import annotations

import json

import bench


def _emit_line(capsys, out, tmp_path):
    bench._emit(out, sidecar_dir=str(tmp_path))
    return capsys.readouterr().out.strip()


def test_emit_fits_driver_tail_window(tmp_path, capsys):
    # Round 4's failure mode: many queries + long error strings + the
    # regression block pushed the stdout line past the driver's 2000-char
    # tail capture, recording "parsed": null. The emitted line must stay
    # parseable and under the window no matter how much detail piles up.
    out = {
        "metric": "query_pack_wall_clock",
        "value": 12.3,
        "unit": "sec",
        "queries": {f"some_long_query_name_{i:02d}": 1.2345 for i in range(50)},
        "sf": 0.1,
        "errors": {f"failing_query_{i}": "AnalysisException: " + "x" * 180 for i in range(4)},
        "store_sales": {"rows": 20000000, "dat_bytes": 9e8, "gen_sec": 30.0,
                        "queries": {"q1a": 3.1, "q1b": 2.2, "q1c": 2.5, "q2": 2.8}},
        "regressions_vs_prior": {
            f"some_long_query_name_{i:02d}": {"prior": 1.0, "now": 2.0, "ratio": 2.0,
                                              "ratio_vs_pack": 1.5, "baseline": "BENCH_r04.json"}
            for i in range(6)
        },
    }
    line = _emit_line(capsys, out, tmp_path)
    assert len(line) <= 1800
    parsed = json.loads(line)
    # contract fields survive every prune step
    assert parsed["metric"] == "query_pack_wall_clock"
    assert len(parsed["queries"]) == 50
    assert parsed["sf"] == 0.1
    # full detail is preserved in the sidecar
    with open(tmp_path / "BENCH_FULL.json") as f:
        full = json.load(f)
    assert full["regressions_vs_prior"] == out["regressions_vs_prior"]
    assert full["errors"] == out["errors"]


def test_emit_small_output_untouched(tmp_path, capsys):
    out = {"metric": "query_pack_wall_clock", "value": 1.0, "unit": "sec",
           "queries": {"q1a": 0.5}, "sf": 0.1,
           "regressions_vs_prior": {"q1a": {"ratio": 2.0}}}
    parsed = json.loads(_emit_line(capsys, out, tmp_path))
    # nothing pruned when the line already fits
    assert parsed["regressions_vs_prior"] == {"q1a": {"ratio": 2.0}}


def test_driver_scored_names_survive_stdout_pruning(tmp_path, capsys):
    # The rotation contract (VERDICT r6 item 7): when the stdout line is
    # core-restricted to fit the driver's tail window, every DRIVER-SCORED
    # name in the timings must survive — staged/pytest-only entries drop
    # first. Uses the real registry so a future rotation that pushes the
    # core set past the window fails here, not silently at the driver.
    from hadoop_hive_analysis_spark.plans.registry import DRIVER_WINDOW, QUERIES

    core = set(DRIVER_WINDOW)
    benched = {n for n, s in QUERIES.items() if s.bench}
    timings = {n: 1.2345 for n in benched | core}
    out = {
        "metric": "query_pack_wall_clock",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": 0.1,
        "store_sales": {"rows": 20000000, "gen_sec": 30.0,
                        "queries": {"q1a": 3.1, "q1b": 2.2, "q1c": 2.5, "q2": 2.8}},
    }
    bench._emit(out, sidecar_dir=str(tmp_path), core_queries=core)
    line = capsys.readouterr().out.strip()
    assert len(line) <= 1800
    parsed = json.loads(line)
    missing = core - set(parsed["queries"])
    assert not missing, f"driver-scored names pruned off stdout: {missing}"
