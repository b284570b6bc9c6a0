"""Self-tests for the benchmark: its arithmetic, its generators, and a
minimal-size smoke run of every workload.

    python3 -m pytest perfbench -q            # from the repository root
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from oracle import value_hash  # noqa: E402


# ------------------------------------------------------------ tail percentile
def test_tail_needs_ten_samples_beyond():
    values = list(range(1, 101))  # 100 samples
    v, pct, n = stats.tail(values)
    assert (pct, n) == (90.0, 100)  # p95 would leave only 5 beyond
    assert v == 90
    assert sum(x > v for x in values) >= 10


def test_tail_ladder_steps_with_sample_count():
    assert stats.tail(list(range(20)))[1] == 50.0  # exactly 10 beyond p50
    assert stats.tail(list(range(24)))[1] == 55.0  # 10.8 beyond p55
    assert stats.tail(list(range(40)))[1] == 75.0
    assert stats.tail(list(range(1000)))[1] == 99.0


def test_tail_too_few_samples_falls_back_to_median():
    v, pct, n = stats.tail([3.0, 1.0, 2.0])
    assert (v, pct, n) == (2.0, None, 3)


def test_nearest_rank():
    assert stats.nearest_rank([5, 1, 4, 2, 3], 50) == 3
    assert stats.nearest_rank([5, 1, 4, 2, 3], 100) == 5
    assert stats.nearest_rank([7], 1) == 7


# ---------------------------------------------------------------- failed_frac
def test_failed_frac_has_its_base():
    assert stats.failed_frac(0, 24) == 0.0
    assert stats.failed_frac(3, 12) == 0.25
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(5, 4)


# ------------------------------------------------------------------ idle_frac
def test_idle_frac():
    assert stats.idle_frac(run_s=4.0, wall_s=1.0, cores=4) == 0.0
    assert stats.idle_frac(run_s=1.0, wall_s=2.0, cores=4) == pytest.approx(0.875)
    with pytest.raises(ValueError):
        stats.idle_frac(1.0, 0.0, 4)


def test_sum_of_medians_is_a_typical_pass():
    # three passes over two steps; one slow outlier per step is ignored
    columns = {"a": [1.0, 9.0, 1.2], "b": [2.0, 2.2, 0.1]}
    assert stats.sum_of_medians(columns) == pytest.approx(1.2 + 2.0)
    assert stats.sum_of_medians({"a": [], "b": [3.0]}) == 3.0


def test_sum_of_mins_is_a_best_pass():
    # each step's fastest pass, even when they are different passes
    columns = {"a": [1.0, 9.0, 1.2], "b": [2.0, 2.2, 0.1]}
    assert stats.sum_of_mins(columns) == pytest.approx(1.0 + 0.1)
    assert stats.sum_of_mins({"a": [], "b": [3.0]}) == 3.0


# ------------------------------------------------------------------ self time
def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),  # pass
        _span(1, 0, 1.0, 9.0),      # query
        _span(2, 1, 1.0, 3.0),      # plans.build
        _span(3, 1, 3.0, 8.0),      # exec
    ]
    st = stats.self_times(spans)
    assert st == pytest.approx({0: 2.0, 1: 1.0, 2: 2.0, 3: 5.0})
    # self times of a tree add up to its root's wall
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(0, None, 0.0, 4.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps the first child and overhangs the parent
    ]
    assert stats.self_times(spans)[0] == pytest.approx(1.0)


def test_tracer_nests_spans():
    from spans import Tracer

    tr = Tracer("r")
    with tr.span("pass"):
        with tr.span("query", step="q") as q:
            with tr.span("exec"):
                pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [
        ("pass", None), ("query", 0), ("exec", 1)]
    assert q["attrs"] == {"step": "q"} and all(s["end"] >= s["start"] for s in tr.spans)


# ------------------------------------------------------------------ inputs
def _read(path):
    with open(path, "rb") as f:
        return f.read()


def test_generators_are_seeded(tmp_path):
    for seed in (1, 1, 2):
        d = tmp_path / f"s{seed}"
        d.mkdir(exist_ok=True)
        gen.store_sales_text(str(d), 2000, seed)
        gen.corpus(str(d), 60, seed)
    a, b = tmp_path / "s1", tmp_path / "s2"
    sales = "store_sales.dat/part-00000.txt"
    assert _read(a / sales) != _read(b / sales)
    lines = _read(a / sales).decode().splitlines()
    assert len(lines) == 500  # 2000 rows in four parts
    full = [ln for ln in lines if ln.count("|") == 22]
    assert len(full) >= 480 and all(ln.count("|") in (2, 22) for ln in lines)


def test_corpus_rename_keeps_structure(tmp_path):
    import pyarrow.parquet as pq

    docs = []
    for seed in (3, 4):
        d = tmp_path / str(seed)
        d.mkdir()
        gen.corpus(str(d), 200, seed)
        docs.append(pq.read_table(d / "documents.parquet").to_pydict())
    a, b = docs
    assert a["lang"] == b["lang"] and a["n_chars"] == b["n_chars"]
    assert a["text"] != b["text"]
    # same duplicate structure: equal texts at the same positions
    pairs = lambda t: {(i, j) for i in range(len(t)) for j in range(i) if t[i] == t[j]}  # noqa: E731
    assert pairs(a["text"]) == pairs(b["text"]) != set()


def test_value_hash_is_order_insensitive_and_exact():
    rows = [(1, 0.1), (2, None)]
    assert value_hash(["k", "v"], rows) == value_hash(["v", "k"], [(0.1, 1), (None, 2)][::-1])
    next_float = 0.1 + 2**-56  # one ulp above 0.1
    assert value_hash(["k", "v"], rows) != value_hash(["k", "v"], [(1, next_float), (2, None)])


# ------------------------------------------------------------------ smoke run
def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(args, cwd=ROOT):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), *args]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def test_benchmark_workloads_exist():
    import workloads

    assert {w["name"] for w in _bench()["workloads"]} <= set(workloads.WORKLOADS)


# Every workload at a minimal size; one traced, the other untraced.
SMOKE = [("topk_text", 0), ("dedup_corpus", 1)]


@pytest.mark.parametrize("workload,trace", SMOKE)
def test_smoke_minimal_size(workload, trace):
    p = _run(["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace),
              "--scale", "0.05"])
    assert p.returncode == 0, p.stderr[-3000:]
    *_, record_line, result_line = p.stdout.strip().splitlines()
    result, record = json.loads(result_line), json.loads(record_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    assert set(result["metrics"]) == {m["name"] for m in _bench()[kind]}
    assert record["env"]["default_parallelism"] == record["env"]["nproc"]
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
        return
    assert result["metrics"]["session.release_residual"]["value"] == 0
    with open(record["spans_file"]) as f:
        spans = json.load(f)["spans"]
    # a query span for every step of every traced pass, and its subtree's
    # self times add up to its wall
    queries = [s for s in spans if s["name"] == "query"]
    n_traced = sum(s["name"] == "pass" for s in spans)
    assert n_traced >= 1
    assert len(queries) == n_traced * len(record["step_latencies_s"])
    selfs = stats.self_times(spans)
    for q in queries:
        subtree = [s["id"] for s in spans if s["id"] == q["id"] or s["parent"] == q["id"]]
        assert sum(selfs[i] for i in subtree) == pytest.approx(q["end"] - q["start"])


def test_refuses_to_run_without_the_package(tmp_path):
    p = _run(["--workload", "topk_text", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path))
    assert p.returncode != 0 and p.stdout.strip() == ""
