#!/usr/bin/env python
"""Scale-up curves for registry entries, each point checked against the
entry's DuckDB oracle.

Usage: python scripts/scale.py QUERY... [MULT...]   (default mults 1 2 5 10)

For each multiplier one scaled sf_dir is written from
``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1 fixture, as in bench.py).
Four tables grow, one parquet file each (one row group per copy; the
fixtures are single files too, which the DuckDB views and the stream
replays' file glob both expect):

- documents: copy k renames every token ``t -> t_k`` and shifts doc_id.
  The rename is a bijection on tokens and shingles, so each copy holds
  the base corpus's near-dup structure in a disjoint vocabulary and pair
  counts grow exactly linearly. Entries in ``REPLICATED_DOCS`` get plain
  copies instead (doc_id shifted, text verbatim): their fixed English
  probes must keep matching and every token's corpus share must hold.
- events: copy k shifts event_id and user_id (disjoint user populations,
  timestamps untouched).
- embeddings: copy k shifts vec_id and flips signs by a seeded ±1
  diagonal; within-copy geometry is bit-exact.
- lineitem: replicated.

Every other table is linked unchanged. Each entry runs twice to a noop
sink, with blocks released between runs (untimed); the best wall is kept.
One JSON line per point, then one summary line. ``cpu_s`` is the
executor CPU of the best run's job group (and of the streaming runs it
started); ``oracle_ok`` compares the result's value hash with DuckDB's on
the same scaled dir, and a mismatch makes the exit code non-zero.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
import uuid

# Appended, not prepended: a checkout put first on PYTHONPATH (scripts/ab.py)
# supplies the package, the oracle and the counters instead of this one.
sys.path.append(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from hadoop_hive_analysis_spark.plans.registry import QUERIES  # noqa: E402
from hadoop_hive_analysis_spark.session import get_spark, release_cached_blocks  # noqa: E402
from perfbench.layers import SparkCounters  # noqa: E402
from tests.oracle import canon_rows, run_oracle  # noqa: E402

ID_OFFSET = 10_000_000  # above every fixture doc/event/user id
VEC_ID_OFFSET = 100_000  # above every fixture vec_id
REPLICATED_DOCS = frozenset(
    {
        "doc_heavy_hitters",
        "doc_bm25_search",
        "doc_hybrid_search_rrf",
        "decontaminate_spans",
        "vocab_coverage_build",
    }
)
# Java's \S (Spark regexp_replace), spelled for RE2: \s is [ \t\n\x0B\f\r].
_TOKEN = r"([^ \t\n\x0B\f\r]+)"


def _shift(t: pa.Table, col: str, by: int) -> pa.Table:
    return t.set_column(t.schema.get_field_index(col), col, pc.add(t[col], by))


def _copy(name: str, t: pa.Table, k: int, replicate_docs: bool) -> pa.Table:
    if name == "documents":
        t = _shift(t, "doc_id", k * ID_OFFSET)
        if replicate_docs:
            return t
        text = pc.replace_substring_regex(t["text"], _TOKEN, rf"\1_{k}")
        return t.set_column(t.schema.get_field_index("text"), "text", text)
    if name == "events":
        return _shift(_shift(t, "event_id", k * ID_OFFSET), "user_id", k * ID_OFFSET)
    if name == "embeddings":
        t = _shift(t, "vec_id", k * VEC_ID_OFFSET)
        if k == 0:
            return t
        emb = t["embedding"].combine_chunks()
        vecs = emb.flatten().to_numpy().reshape(len(emb), -1)
        signs = np.random.default_rng(12345 + k).integers(0, 2, vecs.shape[1]) * 2 - 1
        offsets = pa.array(np.arange(len(emb) + 1) * vecs.shape[1], pa.int32())
        flipped = pa.ListArray.from_arrays(
            offsets, pa.array((vecs * signs.astype(np.float32)).ravel()), type=emb.type
        )
        return t.set_column(t.schema.get_field_index("embedding"), "embedding", flipped)
    return t


def write_scaled_table(src: str, dst: str, mult: int, replicate_docs: bool = False) -> None:
    """Write ``mult`` copies of the fixture table file ``src`` to ``dst``,
    one row group per copy."""
    base = pq.read_table(src)
    name = os.path.basename(src).removesuffix(".parquet")
    with pq.ParquetWriter(dst, base.schema) as w:
        for k in range(mult):
            w.write_table(_copy(name, base, k, replicate_docs))


def build_scaled_dir(base_dir: str, mult: int, replicate_docs: bool = False) -> str:
    """Write a temp sf_dir holding ``mult`` copies of the grown tables and
    links to every other table of ``base_dir``; the caller removes it."""
    d = tempfile.mkdtemp(prefix=f"hha_scale_{mult}x_")
    for f in sorted(os.listdir(base_dir)):
        src, dst = os.path.join(base_dir, f), os.path.join(d, f)
        if f.removesuffix(".parquet") in ("documents", "events", "embeddings", "lineitem"):
            write_scaled_table(src, dst, mult, replicate_docs)
        else:
            os.symlink(src, dst)
    return d


class _StreamWatch(StreamingQueryListener):
    """Peak state-store rows and run ids of the streaming queries a run starts."""

    def __init__(self) -> None:
        self.state_rows = 0
        self.run_ids: list[str] = []

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        ops = event.progress.stateOperators
        self.state_rows = max(self.state_rows, sum(op.numRowsTotal for op in ops))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def _point(spark, counters, watch, name: str, d: str) -> dict:
    spec = QUERIES[name]
    sc = spark.sparkContext
    watch.state_rows = 0
    best = None
    for run in range(2):
        group = f"scale.{uuid.uuid4().hex}"
        sc.setJobGroup(group, name, False)
        watch.run_ids.clear()
        t0 = time.perf_counter()
        df = spec.fn(spark, d)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        counters.drain()
        cpu = None
        if sc.uiWebUrl:  # the job-group counters read the status REST API
            cpu = sum(counters.group(g)["cpu_s"] for g in [group, *watch.run_ids])
        if best is None or wall < best[0]:
            best = (wall, cpu)
        if run == 1:  # untimed: the result must be read before its blocks go
            cols, rows = df.columns, [tuple(r) for r in df.collect()]
            peak_mb = counters.live_heap_mb()
        release_cached_blocks(spark)
    canon = canon_rows(cols, rows)
    oracle_ok = None
    if spec.oracle:
        o_cols, o_rows = run_oracle(spec.oracle, d)
        oracle_ok = sorted(o_cols) == sorted(cols) and canon_rows(o_cols, o_rows) == canon
    return {
        "wall_s": round(best[0], 3),
        "cpu_s": None if best[1] is None else round(best[1], 2),
        "peak_jvm_mb": round(peak_mb, 1),
        "rows": len(rows),
        "state_rows": watch.state_rows,
        "oracle_ok": oracle_ok,
        "hash": hashlib.sha256(repr(canon).encode()).hexdigest()[:16],
    }


def scale_points(spark, names: list[str], mults: list[int], base_dir: str):
    """Yield one record per (multiplier, entry), multipliers in order."""
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        raise KeyError(f"not registry entries: {unknown}")
    counters, watch = SparkCounters(spark), _StreamWatch()
    spark.streams.addListener(watch)
    try:
        for mult in mults:
            for replicate_docs in sorted({n in REPLICATED_DOCS for n in names}):
                d = build_scaled_dir(base_dir, mult, replicate_docs)
                try:
                    for n in names:
                        if (n in REPLICATED_DOCS) == replicate_docs:
                            yield {"query": n, "mult": mult, **_point(spark, counters, watch, n, d)}
                finally:
                    shutil.rmtree(d, ignore_errors=True)
    finally:
        spark.streams.removeListener(watch)
        spark.sparkContext._jsc.clearJobGroup()


def main(argv: list[str]) -> int:
    names = [a for a in argv if not a.isdigit()]
    mults = [int(a) for a in argv if a.isdigit()] or [1, 2, 5, 10]
    if not names:
        sys.exit(__doc__)
    spark = get_spark("hha-scale", extra_conf={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    points = []
    for p in scale_points(spark, names, mults, base_dir):
        points.append(p)
        print(json.dumps(p), flush=True)
    summary = {}
    for n in names:
        lo, hi = (mine := [p for p in points if p["query"] == n])[0], mine[-1]
        summary[n] = {
            "mult_ratio": hi["mult"] / lo["mult"],
            "wall_ratio": round(hi["wall_s"] / lo["wall_s"], 2),
            "rows_ratio": round(hi["rows"] / lo["rows"], 2) if lo["rows"] else None,
        }
    ok = all(p["oracle_ok"] is not False for p in points)
    print(json.dumps({"summary": summary, "oracle_ok": ok}), flush=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
