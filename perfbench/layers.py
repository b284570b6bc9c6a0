"""Counters read from the running Spark application, one layer at a time.

* ``exec`` / ``sources`` — per-stage task metrics of one job group, read
  over the status REST API right after the group's query, so the UI's
  stage retention limit never truncates them.
* ``arrow`` — SQL metrics of the Python (Arrow) plan nodes of the
  group's SQL executions.
* ``plans`` — Catalyst phase times from ``QueryExecution.tracker``.
* ``session`` — block bytes held by persisted/checkpointed RDDs, and the
  live heap after a full collection.
"""

from __future__ import annotations

import json
import re
import urllib.request

_MB = 1e6


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self._sql_seen = 0

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def group(self, group: str) -> dict:
        """Totals over the completed stages of ``group``'s jobs."""
        self.drain()
        job_ids = set(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {
            "jobs": len(job_ids), "stages": 0, "tasks": 0, "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "shuffle_read_mb": 0.0, "spill_mb": 0.0, "scan_mb": 0.0,
            "scan_rows": 0, "scan_run_s": 0.0, "write_mb": 0.0,
        }
        if not job_ids:
            return out
        stage_ids: set[int] = set()
        for j in self._get("/jobs"):
            if j["jobId"] in job_ids:
                stage_ids.update(j["stageIds"])
        for s in self._get("/stages?status=complete"):
            if s["stageId"] not in stage_ids:
                continue
            out["stages"] += 1
            out["tasks"] += s["numCompleteTasks"]
            run = s["executorRunTime"] / 1e3
            out["run_s"] += run
            out["cpu_s"] += s["executorCpuTime"] / 1e9
            out["gc_s"] += s["jvmGcTime"] / 1e3
            out["shuffle_write_mb"] += s["shuffleWriteBytes"] / _MB
            out["shuffle_read_mb"] += s["shuffleReadBytes"] / _MB
            out["spill_mb"] += s["diskBytesSpilled"] / _MB
            out["write_mb"] += s["outputBytes"] / _MB
            if s["inputBytes"] > 0:
                out["scan_mb"] += s["inputBytes"] / _MB
                out["scan_rows"] += s["inputRecords"]
                out["scan_run_s"] += run
        out["_job_ids"] = job_ids
        return out

    def arrow(self, job_ids: set[int]) -> dict:
        """Python-node SQL metrics of the executions that ran ``job_ids``."""
        out = {"nodes": 0, "rows": 0, "sent_mb": 0.0, "received_mb": 0.0, "run_s": 0.0}
        execs = self._get(
            f"/sql?details=true&planDescription=false&offset={self._sql_seen}&length=100000"
        )
        for e in execs:
            self._sql_seen = max(self._sql_seen, e["id"] + 1)
            if not job_ids.intersection(e.get("successJobIds", [])):
                continue
            for node in e["nodes"]:
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if "data sent to Python workers" not in metrics:
                    continue
                out["nodes"] += 1
                out["rows"] += _count(metrics.get("number of output rows", "0"))
                out["sent_mb"] += _size(metrics["data sent to Python workers"]) / _MB
                out["received_mb"] += (
                    _size(metrics.get("data returned from Python workers", "0 B")) / _MB
                )
                out["run_s"] += _duration(metrics.get("time to run Python workers", "0 ms"))
        return out

    def skip_sql(self) -> None:
        """Mark every SQL execution so far as seen (e.g. after a warm-up)."""
        execs = self._get(
            f"/sql?details=false&planDescription=false&offset={self._sql_seen}&length=100000"
        )
        for e in execs:
            self._sql_seen = max(self._sql_seen, e["id"] + 1)

    def block_mb(self) -> float:
        """Memory + disk bytes of every RDD block the BlockManager holds."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / _MB

    def plan_phases(self, df) -> dict[str, float]:
        """Force the physical plan; return Catalyst phase seconds."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
        return {k: phases.get(k).durationMs() / 1e3 for k in phases.keySet()}

    def live_heap_mb(self) -> float:
        """Heap in use right after a full collection: the live set."""
        self.jvm.System.gc()
        mf = self.jvm.java.lang.management.ManagementFactory
        return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / _MB


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIMES = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _total(value: str) -> str:
    """SQL metric strings are either a plain total or
    ``'total (min, med, max ...)\\n<total> (<min>, ...)'``."""
    return value.split("\n")[-1].split(" (")[0].strip()


def _count(value: str) -> int:
    return int(_total(value).replace(",", ""))


def _size(value: str) -> float:
    num, unit = _total(value).split()
    return float(num.replace(",", "")) * _UNITS[unit]


def _duration(value: str) -> float:
    m = re.fullmatch(r"([\d.,]+)\s*(ms|s|m|h)", _total(value))
    return float(m.group(1).replace(",", "")) * _TIMES[m.group(2)] if m else 0.0
