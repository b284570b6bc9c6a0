#!/usr/bin/env python3
"""Seeded closed-loop benchmark of the hadoop_hive_analysis_spark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload topk_text --seed 1 --seconds 20 --trace 0

One process, one ``local[nproc]`` SparkSession, one client sending one
statement at a time. A run sets up (session start, seeded input
generation, an untimed warm-up pass), checks the warm-up results against
DuckDB, then runs timed passes over the workload's steps for
``--seconds``. The last line of standard output is the result JSON; the line
before it is the full record, which is also written under
``.perfbench/results/``.

``--trace 1`` alternates untraced and traced passes; the traced ones
record spans around each layer call and report per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import Tracer  # noqa: E402

PACKAGE = "hadoop_hive_analysis_spark"
DEADLINE_S = 170  # the whole run, set-up and clean-up included
# Timed passes stop once the run has used this long, so a slow host gives
# fewer passes, not a run that overruns the evaluation budget.
PASSES_UNTIL_S = 62
MIN_PASSES = 3
COUNTER_NOTE = (
    "exec counters are summed per benchmark job group, read right after each "
    "statement; not comparable with cpu_s in BENCH_r*.json, which summed only "
    "the stages the UI still retained at pack end"
)
_EXEC_KEYS = (
    "jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "scan_mb", "scan_rows", "scan_run_s", "write_mb",
)
_PLAN_KEYS = ("build_s", "catalyst_s", "analysis_s", "optimization_s", "planning_s")
_ARROW_KEYS = ("nodes", "rows", "sent_mb", "received_mb", "run_s")


class _Timeout(BaseException):
    """Raised by the alarm; a BaseException so step handlers let it through."""


def _on_alarm(_sig, _frame):
    raise _Timeout(f"run exceeded {DEADLINE_S} s")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test runs at a minimal size)")
    return p.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(work: str, cores: int):
    from hadoop_hive_analysis_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.port": "0",
        },
    )


class Runner:
    """Runs the steps of one workload and keeps every measurement."""

    def __init__(self, spark, workload, tracer: Tracer | None) -> None:
        from hadoop_hive_analysis_spark.session import release_cached_blocks
        from layers import SparkCounters

        self.spark = spark
        self.sc = spark.sparkContext
        self.steps = workload.steps()
        self.counters = SparkCounters(spark)
        self.release = release_cached_blocks
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.residual_max = 0
        self.spark_hash: dict[str, str] = {}
        self.mismatch: list[str] = []
        self.peak_live_mb = 0.0

    def warmup(self) -> None:
        """Untimed pass that runs each step and keeps its result's hash.

        After each step, before its blocks are released, a full
        collection measures the live heap; ``peak_live_mb`` keeps the
        largest. (Forcing collections inside timed passes would slow the
        steps that follow them.)"""
        from oracle import value_hash

        for i, step in enumerate(self.steps):
            self.sc.setJobGroup(f"pb.warm.{i}", step.name, False)
            self.attempted += 1
            try:
                df = step.build(self.spark)
                if step.writes:
                    step.sink(df)
                    df = step.readback(self.spark)
                self.spark_hash[step.name] = value_hash(df.columns, df.collect())
                self.peak_live_mb = max(self.peak_live_mb, self.counters.live_heap_mb())
            except Exception:
                self._fail(step.name, "warm-up")
            self._release()

    def verify(self, oracle, only: str | None = None) -> None:
        """Compare each warm-up result hash with DuckDB's answer."""
        for step in self.steps:
            got = self.spark_hash.get(step.name)
            if got is None or only not in (None, step.name):
                continue  # the warm-up already counted a failed step
            try:
                want = step.reference(oracle)
            except Exception:
                self._fail(step.name, "verify")
                continue
            if got != want:
                self.failed += 1
                self.mismatch.append(f"{step.name}: got {got[:12]} want {want[:12]}")

    def _fail(self, name: str, where: str) -> None:
        self.failed += 1
        lines = traceback.format_exc().strip().splitlines()
        self.errors.append(f"{where} {name}: {lines[-1][:300]}")
        print(f"[perfbench] {where} {name} failed:\n" + "\n".join(lines[-15:]), file=sys.stderr)

    def _release(self) -> float:
        t0 = time.perf_counter()
        res = self.release(self.spark)
        self.residual_max = max(self.residual_max, res.residual)
        return time.perf_counter() - t0

    # ------------------------------------------------------------ passes
    def run_pass(self, index, traced: bool, oracle=None) -> dict:
        """One pass over every step; returns ``{"traced", "steps": {name: record}}``.

        A step's record holds its latency (``lat``), whether it writes,
        and its ``exec``, ``arrow`` and ``plans`` counters. A step that
        raised has no record."""
        rec = {"index": index, "traced": traced, "steps": {}}
        tr = self.tracer if traced else None
        with tr.span("pass", index=index) if tr else contextlib.nullcontext():
            for i, step in enumerate(self.steps):
                group = f"pb.{index}.{i}"
                self.sc.setJobGroup(group, step.name, False)
                self.attempted += 1
                try:
                    s, q = self._traced_step(step, tr, oracle) if tr else self._timed_step(step)
                except Exception:
                    self._fail(step.name, f"pass {index}")
                    self._release()
                    continue
                g = self.counters.group(group)
                job_ids = g.pop("_job_ids", set())
                s["exec"] = g
                s["arrow"] = self.counters.arrow(job_ids) if job_ids else {}
                s["writes"] = step.writes
                if q is not None:
                    q["attrs"].update({k: g[k] for k in ("jobs", "stages", "tasks")})
                rec["steps"][step.name] = s
        return rec

    def _timed_step(self, step) -> tuple[dict, None]:
        t0 = time.perf_counter()
        step.sink(step.build(self.spark))
        lat = time.perf_counter() - t0
        s = {"lat": lat, "ckpt_mb": self.counters.block_mb()}
        s["release_s"] = self._release()
        return s, None

    def _traced_step(self, step, tr: Tracer, oracle) -> tuple[dict, dict]:
        with tr.span("query", step=step.name) as q:
            with tr.span("plans.build") as b:
                df = step.build(self.spark)
            with tr.span("plans.catalyst") as c:
                phases = self.counters.plan_phases(df)
            with tr.span("exec") as e:
                step.sink(df)
            c["attrs"].update(phases)
            q["attrs"]["ckpt_mb"] = self.counters.block_mb()
            with tr.span("session.release") as r:
                self._release()
            if oracle is not None:
                with tr.span("verify"):
                    self.verify(oracle, only=step.name)
        dur = lambda span: span["end"] - span["start"]  # noqa: E731
        plans = {"build_s": dur(b), "catalyst_s": dur(c)}
        plans.update({f"{k}_s": phases.get(k, 0.0) for k in ("analysis", "optimization", "planning")})
        s = {"lat": dur(b) + dur(c) + dur(e), "ckpt_mb": q["attrs"]["ckpt_mb"],
             "release_s": dur(r), "plans": plans}
        return s, q


def _env(spark, cores: int, args, inputs) -> dict:
    sc = spark.sparkContext
    jvm = sc._jvm
    eff = sc.defaultParallelism
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": args.scale,
        "input_rows": inputs.rows,
        "input_mb": round(inputs.mb, 3),
        "nproc": cores,
        "default_parallelism": eff,
        "cores_mismatch": eff != cores,
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "loop": "closed, one client, one statement at a time",
        "counter_note": COUNTER_NOTE,
    }


def _per_step(passes: list[dict], value, only=None) -> dict[str, list[float]]:
    """``value(step record)`` of every pass, by step (``only`` filters them)."""
    per_step: dict[str, list[float]] = {}
    for p in passes:
        for name, s in p["steps"].items():
            if only is None or only(s):
                per_step.setdefault(name, []).append(value(s))
    return per_step


def _typical(passes: list[dict], value, only=None) -> float:
    """A typical pass's total of ``value``: per step, the median over
    ``passes``; summed over steps."""
    return stats.sum_of_medians(_per_step(passes, value, only))


def _best(passes: list[dict], value) -> float:
    """A best pass's total of ``value``: per step, the lowest over
    ``passes``; summed over steps."""
    return stats.sum_of_mins(_per_step(passes, value))


def _layer_metrics(passes: list[dict], cores: int, inputs) -> dict:
    """Per-layer metrics of a typical pass."""
    t = lambda f, only=None: _typical(passes, f, only)  # noqa: E731
    out = {f"plans.{k}": t(lambda s, k=k: s.get("plans", {}).get(k, 0.0)) for k in _PLAN_KEYS}
    ex = {k: t(lambda s, k=k: s["exec"][k]) for k in _EXEC_KEYS}
    for k in ("scan_mb", "scan_rows", "scan_run_s"):
        out[f"sources.{k}"] = ex[k]
    out["sources.write_s"] = t(lambda s: s["lat"], only=lambda s: s["writes"])
    out["sources.write_mb"] = ex["write_mb"]
    out["sources.write_amp"] = ex["write_mb"] / inputs.mb
    for k in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        out[f"exec.{k}"] = ex[k]
    out["exec.shuffle_per_input"] = ex["shuffle_write_mb"] / inputs.mb
    out["exec.idle_frac"] = stats.idle_frac(ex["run_s"], t(lambda s: s["lat"]), cores)
    out["session.ckpt_mb"] = t(lambda s: s["ckpt_mb"])
    out["session.release_s"] = t(lambda s: s["release_s"])
    for k in _ARROW_KEYS:
        out[f"arrow.{k}"] = t(lambda s, k=k: s["arrow"].get(k, 0.0))
    return out


def _span_summary(spans: list[dict]) -> dict:
    """Median per traced pass of each span name's summed self time."""
    selfs = stats.self_times(spans)
    by_pass: dict[int, dict[str, float]] = {}
    root_of: dict[int, int] = {}
    for s in spans:
        root = s["id"] if s["parent"] is None else root_of[s["parent"]]
        root_of[s["id"]] = root
        d = by_pass.setdefault(root, {})
        d[s["name"]] = d.get(s["name"], 0.0) + selfs[s["id"]]
    names = sorted({n for d in by_pass.values() for n in d})
    return {n: stats.median([d.get(n, 0.0) for d in by_pass.values()]) for n in names}


def run(args) -> tuple[dict, dict]:
    import oracle as oracle_mod
    import workloads

    if args.workload not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    t_run = time.perf_counter()
    root = os.getcwd()
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    # no JVM perf-data files under /tmp: the run writes inside its checkout only
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    cores = _cores()
    spark = None
    try:
        t_setup = time.perf_counter()
        spark = _start_session(work, cores)
        start_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        data = os.path.join(work, "data")
        os.makedirs(data, exist_ok=True)
        wl = workloads.WORKLOADS[args.workload](args.scale, args.seed, data)
        t_gen = time.perf_counter()
        inputs = wl.prepare(spark)
        gen_s = time.perf_counter() - t_gen
        tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}") if args.trace else None
        runner = Runner(spark, wl, tracer)
        t_warm = time.perf_counter()
        runner.warmup()
        warm_s = time.perf_counter() - t_warm
        setup_s = time.perf_counter() - t_setup

        oracle = oracle_mod.Oracle()
        wl.oracle_setup(oracle)
        if not args.trace:
            t_v = time.perf_counter()
            runner.verify(oracle)
            verify_s = time.perf_counter() - t_v
        runner.counters.skip_sql()

        # Timed passes for ``--seconds``, or until the run has used
        # PASSES_UNTIL_S; a pass starts only if one more like the last still
        # ends in time. With tracing, odd passes are traced; the first one
        # also verifies.
        passes: list[dict] = []
        t_win = time.perf_counter()
        t_end = min(t_win + args.seconds, t_run + PASSES_UNTIL_S)
        last = 0.0
        while len(passes) < MIN_PASSES or time.perf_counter() + last <= t_end:
            i = len(passes)
            traced = bool(args.trace) and i % 2 == 1
            t_pass = time.perf_counter()
            passes.append(runner.run_pass(i, traced, oracle if traced and i == 1 else None))
            last = time.perf_counter() - t_pass
        window_s = time.perf_counter() - t_win
        oracle.close()

        env = _env(spark, cores, args, inputs)
        plain = [p for p in passes if not p["traced"]]
        step_lat = {s.name: [p["steps"][s.name]["lat"] for p in plain if s.name in p["steps"]]
                    for s in runner.steps}
        lat = [x for v in step_lat.values() for x in v]
        if not lat:
            raise RuntimeError(f"no timed step completed: {runner.errors[:3]}")
        tail_v, tail_pct, tail_n = stats.tail(lat)
        # Each step's fastest timed pass: on a shared host, stolen CPU
        # slows some passes of a run, and the fastest is the one least hit.
        best = [min(v) for v in step_lat.values() if v]
        wall = sum(best)
        typical = stats.sum_of_medians(step_lat)
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (wall, "s"),
            "rows_per_s": (inputs.rows / wall, "1/s"),
            "query_p50_s": (stats.median(best), "s"),
            "cpu_s": (_best(plain, lambda s: s["exec"]["cpu_s"]), "s"),
            "peak_jvm_mb": (runner.peak_live_mb, "MB"),
        }
        record = {
            "env": env,
            "setup": {"session_start_s": start_s, "generate_s": gen_s, "warmup_s": warm_s},
            "window_s": window_s,
            "passes": len(passes),
            # too few samples in a run for a tail with ten beyond it, so
            # the tail is recorded here and not reported as a metric
            "tail": {"value_s": tail_v, "percentile": tail_pct, "n": tail_n},
            "attempted": runner.attempted,
            "failed": runner.failed,
            "failed_frac": stats.failed_frac(runner.failed, runner.attempted),
            "mismatched": runner.mismatch,
            "errors": runner.errors,
            "release_residual_max": runner.residual_max,
            "step_latencies_s": step_lat,
            "typical_pass_s": typical,
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
            "untraced_layers": _layer_metrics(plain, cores, inputs),
        }
        if not args.trace:
            record["verify_s"] = verify_s
            metrics = e2e
        else:
            traced = [p for p in passes if p["traced"]]
            layers = _layer_metrics(traced, cores, inputs)
            overhead = _typical(traced, lambda s: s["lat"]) / typical - 1.0
            layers.update({
                "session.start_s": start_s,
                "session.release_residual": runner.residual_max,
                "trace_overhead_frac": overhead,
            })
            record["self_s"] = _span_summary(tracer.spans)
            record["layers"] = layers
            metrics = {k: (v, _unit(k)) for k, v in layers.items()}
            record["spans_file"] = os.path.join(results, f"spans-{tracer.run_id}.json")
            with open(record["spans_file"], "w") as f:
                json.dump({"run": tracer.run_id, "self_s": record["self_s"],
                           "trace_overhead_frac": overhead, "spans": tracer.spans}, f)
        result = {
            "correct": runner.failed == 0 and runner.residual_max == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        name = f"{args.workload}-s{args.seed}-trace{args.trace}-{os.getpid()}.json"
        with open(os.path.join(results, name), "w") as f:
            json.dump(record, f, indent=1, default=str)
        return record, result
    finally:
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith(("_frac", "_amp", "_per_input")):
        return "ratio"
    return "count"


def _shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    try:
        record, result = run(args)
    finally:
        signal.alarm(0)
    print(json.dumps(record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
