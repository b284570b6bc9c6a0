"""Unit tests for bench.py's regression flagger (no SparkSession needed).

The flagger reads the newest BENCH_r*.json next to bench.py; these tests
point it at a temp dir via monkeypatched __file__ so repo artifacts don't
leak into assertions.
"""

from __future__ import annotations

import json
import os

import bench


def _run(tmp_path, monkeypatch, prior_queries, timings, sf=0.1):
    with open(tmp_path / "BENCH_r01.json", "w") as f:
        json.dump({"sf": sf, "queries": prior_queries}, f)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    return bench._regressions_vs_prior(timings, sf)


def test_uniform_host_slowdown_not_flagged(tmp_path, monkeypatch):
    prior = {f"q{i}": 1.0 for i in range(10)}
    now = {f"q{i}": 1.45 for i in range(10)}  # whole pack 1.45x: host, not plans
    out = _run(tmp_path, monkeypatch, prior, now)
    assert out.pop("_host_speed_factor") == 1.45
    assert out == {}


def test_relative_regression_flagged_under_slow_host(tmp_path, monkeypatch):
    prior = {f"q{i}": 1.0 for i in range(10)}
    now = {f"q{i}": 1.4 for i in range(9)}
    now["q9"] = 2.8  # 2.8x absolute = 2.0x vs the 1.4x pack median
    out = _run(tmp_path, monkeypatch, prior, now)
    out.pop("_host_speed_factor")
    assert list(out) == ["q9"]
    assert out["q9"]["ratio"] == 2.8
    assert out["q9"]["ratio_vs_pack"] == 2.0


def test_fast_host_does_not_mask_regression(tmp_path, monkeypatch):
    # Pack median 0.7x (faster host): norm clamps at 1.0 so a 1.3x query
    # still flags — a faster host must never excuse a slower plan.
    prior = {f"q{i}": 1.0 for i in range(10)}
    now = {f"q{i}": 0.7 for i in range(9)}
    now["q9"] = 1.3
    out = _run(tmp_path, monkeypatch, prior, now)
    out.pop("_host_speed_factor")
    assert list(out) == ["q9"]


def test_nonnumeric_suffix_artifacts_skipped(tmp_path, monkeypatch):
    with open(tmp_path / "BENCH_rerun.json", "w") as f:
        f.write("not json")
    out = _run(tmp_path, monkeypatch, {"q0": 1.0}, {"q0": 1.0})
    assert out.pop("_host_speed_factor") == 1.0
    assert out == {}


def test_no_prior_artifact(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    assert bench._regressions_vs_prior({"q0": 1.0}, 0.1) == {}


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


def test_sparse_sidecar_falls_back_per_name(tmp_path, monkeypatch):
    # An error-heavy run overwrites BENCH_FULL.json with a SPARSE queries
    # map (ADVICE r5). Baselines must merge per-name: sidecar values win
    # where present, names missing from it fall back to the newest round
    # artifact instead of shrinking regression coverage to the
    # intersection.
    with open(tmp_path / "BENCH_r05.json", "w") as f:
        json.dump(
            {"sf": 0.1, "queries": {f"q{i}": 1.0 for i in range(10)}}, f
        )
    with open(tmp_path / "BENCH_FULL.json", "w") as f:
        # sparse: the errored run only recorded q0..q4 (at a faster 0.5s)
        json.dump({"sf": 0.1, "queries": {f"q{i}": 0.5 for i in range(5)}}, f)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    now = {f"q{i}": 0.5 for i in range(10)}
    now["q9"] = 2.8  # vs round-artifact baseline 1.0 -> 2.8x
    out = bench._regressions_vs_prior(now, 0.1)
    out.pop("_host_speed_factor")
    out.pop("_host_speed_factor_by_file", None)
    # q9's baseline came from the round artifact, not dropped
    assert list(out) == ["q9"]
    assert out["q9"]["baseline"] == "BENCH_r05.json"
    assert out["q9"]["prior"] == 1.0


def test_per_file_normalization_unmasks_old_artifact_regression(
    tmp_path, monkeypatch
):
    # Mixed-provenance baselines (ADVICE r6): the sidecar era ran on a
    # slower host (ratios ~1.5) while an older round artifact's host
    # matched today's (ratios ~1.0). A real 1.7x regression among the
    # old-artifact names is masked by the GLOBAL median (1.7/1.5 = 1.13
    # < 1.2) but must flag against its own file's median (1.7/1.0).
    with open(tmp_path / "BENCH_r03.json", "w") as f:
        json.dump({"sf": 0.1, "queries": {f"old{i}": 1.0 for i in range(6)}}, f)
    with open(tmp_path / "BENCH_FULL.json", "w") as f:
        json.dump({"sf": 0.1, "queries": {f"new{i}": 1.0 for i in range(10)}}, f)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    now = {f"new{i}": 1.5 for i in range(10)}  # sidecar-host factor
    now.update({f"old{i}": 1.0 for i in range(5)})
    now["old5"] = 1.7  # genuine regression vs its same-host baseline
    out = bench._regressions_vs_prior(now, 0.1)
    out.pop("_host_speed_factor")
    by_file = out.pop("_host_speed_factor_by_file")
    assert by_file["BENCH_FULL.json"] == 1.5
    assert by_file["BENCH_r03.json"] == 1.0
    assert list(out) == ["old5"]
    assert out["old5"]["ratio_vs_pack"] == 1.7


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


def test_full_sidecar_preferred_over_round_artifacts(tmp_path, monkeypatch):
    # BENCH_FULL.json (previous round's complete map) must win over the
    # core-restricted BENCH_r*.json so pytest-only queries keep coverage.
    with open(tmp_path / "BENCH_r04.json", "w") as f:
        json.dump({"sf": 0.1, "queries": {"q0": 5.0}}, f)  # stale/pruned
    full_prior = {f"q{i}": 1.0 for i in range(9)}
    full_prior["extra_q"] = 1.0  # pytest-only: absent from BENCH_r04
    with open(tmp_path / "BENCH_FULL.json", "w") as f:
        json.dump({"sf": 0.1, "queries": full_prior}, f)
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    now = {f"q{i}": 1.0 for i in range(9)}
    now["extra_q"] = 2.8
    out = bench._regressions_vs_prior(now, 0.1)
    # ratios computed vs FULL (q0 would be 0.2 vs the stale r04 value)
    assert out.pop("_host_speed_factor") == 1.0
    assert list(out) == ["extra_q"]  # pytest-only query still flagged


def test_sub_floor_queries_exempt_from_per_name_flags(tmp_path, monkeypatch):
    """Queries under 0.5 s on BOTH sides measure stage-scheduling
    overhead, not plans (r8 hardening after doc_fingerprint tripped the
    flagger twice on host noise): a 2x jump on a 0.2 s query is not
    flagged, but the same ratio on a 1 s query still is — and a query
    that CROSSES the floor (0.3 -> 0.9 s) is flagged too."""
    prior = {f"q{i}": 1.0 for i in range(8)}
    prior["tiny"] = 0.2
    prior["crosser"] = 0.3
    now = {f"q{i}": 1.0 for i in range(8)}
    now["tiny"] = 0.45      # 2.25x but both sides under the floor
    now["crosser"] = 0.9    # 3x AND lands above the floor: real signal
    out = _run(tmp_path, monkeypatch, prior, now)
    out.pop("_host_speed_factor")
    assert "tiny" not in out
    assert list(out) == ["crosser"]


def test_sub_floor_queries_still_count_in_pack_median(tmp_path, monkeypatch):
    """The floor exempts per-name flags only — a pack-wide slowdown
    carried by small queries still surfaces through the median factor."""
    prior = {f"q{i}": 0.3 for i in range(10)}
    now = {f"q{i}": 0.6 for i in range(10)}
    out = _run(tmp_path, monkeypatch, prior, now)
    assert out.pop("_host_speed_factor") == 2.0
    assert out == {}


def test_surviving_flag_floor_clears_small_deltas():
    # The r18 noise trio's exact shape: 1.31-1.37x ratio_vs_pack with
    # <= 0.32 s absolute deltas — must auto-clear. The real candidate
    # (+1.02 s at 1.41x) must survive.
    regs = {
        "events_top3_by_hotkey_salted": {
            "prior": 0.3733, "now": 0.5548, "ratio": 1.49, "ratio_vs_pack": 1.31
        },
        "corpus_budget_select": {
            "prior": 0.6067, "now": 0.9257, "ratio": 1.53, "ratio_vs_pack": 1.35
        },
        "events_merge_upsert": {
            "prior": 0.4096, "now": 0.6351, "ratio": 1.55, "ratio_vs_pack": 1.37
        },
        "price_quantiles_sketch": {
            "prior": 1.6897, "now": 2.7066, "ratio": 1.6, "ratio_vs_pack": 1.41
        },
    }
    out = bench._surviving_flags(regs)
    assert set(out) == {"price_quantiles_sketch"}


def test_surviving_flag_floor_needs_both_bars():
    # Big delta but sub-1.3 normalized ratio (a slow host on a heavy
    # query) must also clear.
    regs = {
        "heavy": {"prior": 10.0, "now": 12.9, "ratio": 1.29, "ratio_vs_pack": 1.29}
    }
    assert bench._surviving_flags(regs) == {}


def test_native_baseline_merges_both_artifact_shapes(tmp_path, monkeypatch):
    # BENCH_FULL.json carries store_sales.queries; driver-recorded
    # BENCH_r*.json carries store_sales pruned to the flat dict. Newest
    # (the round artifact, written after the sidecar the driver read)
    # fills first; BENCH_FULL backfills names the round artifact lacks.
    with open(tmp_path / "BENCH_FULL.json", "w") as f:
        json.dump(
            {"sf": 0.1, "queries": {}, "store_sales": {"queries": {"q1a": 9.0, "q2": 11.96}}},
            f,
        )
    with open(tmp_path / "BENCH_r02.json", "w") as f:
        json.dump(
            {"parsed": {"sf": 0.1, "queries": {}, "store_sales": {"q1a": 2.76}}},
            f,
        )
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    base = bench._native_baseline()
    # Precedence: BENCH_FULL is appended last -> reversed() visits it
    # first -> it wins ties, same as the pack logic.
    assert base == {"q1a": 9.0, "q2": 11.96}
