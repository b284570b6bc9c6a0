#!/usr/bin/env python
"""Rotation planner (judge r7 stretch 9): turn each round's hand-curated
driver-window rotation reasoning into a CHECKED artifact.

For every registry entry this script extracts a physical signature —
the set of physical-operator kinds in its executed plan at sf0.001
(HashAggregate, SortMergeJoin, BroadcastHashJoin, Window,
WindowGroupLimit, TakeOrderedAndProject, Generate, Expand, MapInPandas,
FlatMapGroupsInPandas, Scan ExistingRDD, streaming-harness, ...) —
then reports:

- PROMOTION candidates: staged oracle-checked entries whose signature
  contains operator kinds NOT covered by the current driver window
  (their signal is invisible to the driver);
- DEMOTION candidates: scored entries whose entire signature is covered
  by the UNION of the other scored entries (their physical signal is
  redundant at the driver boundary).

Signatures are a deliberately coarse lens: they capture the PHYSICAL
shape (what Catalyst actually plans), not the semantic contract — a
human still decides which redundant-by-shape query carries semantics
worth scoring (e.g. q1a vs pricing_summary). Harness-style entries that
execute work at build time (streaming replays, iterative fits, the WARC
round trip) are tagged statically instead of planned.

To check a window edit, run it before and after editing
``registry.DRIVER_WINDOW`` and compare ``driver_signature_union``: a
shape that drops out of the union is no longer hashed by the driver.

Usage: python scripts/rotation_plan.py [--json out.json]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

# fn() for these runs real work (stream drains, iterative fits, archive
# writes) — tag statically rather than execute during planning
HARNESS_PAT = re.compile(
    r"replay|kmeans|pq_recall|roundtrip|ivf_topk|ivf_recall"
)

# physical node kinds worth diffing (prefix match on plan lines)
NODE_PAT = re.compile(
    r"\b("
    r"HashAggregate|ObjectHashAggregate|SortAggregate|"
    r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
    r"BroadcastNestedLoopJoin|CartesianProduct|"
    r"Window(?:GroupLimit)?|TakeOrderedAndProject|"
    r"Expand|Generate|"
    r"MapInPandas|FlatMapGroupsInPandas|ArrowEvalPython|BatchEvalPython|"
    r"Scan ExistingRDD|Scan parquet|PythonDataSource|"
    r"GlobalLimit|Sort|Exchange"
    r")\b"
)


def signature(name, spec, spark) -> set[str]:
    if HARNESS_PAT.search(name):
        return {"harness:" + name.split("_")[0], "harness"}
    try:
        plan = (
            spec.fn(spark, SF_DIR)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    except Exception as ex:  # a planner must never die on one entry
        return {"error:" + str(ex)[:60]}
    kinds = set(NODE_PAT.findall(plan))
    # join TYPE matters more than join presence
    for jt in ("LeftAnti", "LeftSemi", "RightOuter", "LeftOuter", "FullOuter"):
        if jt in plan:
            kinds.add("join:" + jt)
    return kinds


def main() -> None:
    from hadoop_hive_analysis_spark.plans.registry import DRIVER_WINDOW, QUERIES
    from hadoop_hive_analysis_spark.session import get_spark

    spark = get_spark("hha-rotation-plan")
    spark.sparkContext.setLogLevel("ERROR")

    sigs: dict[str, set[str]] = {}
    for name, spec in QUERIES.items():
        if name.endswith("_sql"):
            continue  # duals re-run oracle text; never rotation targets
        sigs[name] = signature(name, spec, spark)

    scored = {n for n in sigs if n in DRIVER_WINDOW}
    staged = {n for n in sigs if n not in DRIVER_WINDOW and QUERIES[n].oracle}
    driver_union: set[str] = set()
    for n in scored:
        driver_union |= sigs[n]

    promotions = {}
    for n in sorted(staged):
        unique = sigs[n] - driver_union - {"harness"}
        unique = {u for u in unique if not u.startswith("error:")}
        if unique:
            promotions[n] = sorted(unique)

    demotions = {}
    for n in sorted(scored):
        others: set[str] = set()
        for m in scored:
            if m != n:
                others |= sigs[m]
        if sigs[n] <= others:
            covering = {
                k: sorted(m for m in scored if m != n and k in sigs[m])[:3]
                for k in sorted(sigs[n])
            }
            demotions[n] = covering

    out = {
        "driver_slots": len(scored),
        "staged_with_oracle": len(staged),
        "driver_signature_union": sorted(driver_union),
        "promotion_candidates": promotions,
        "demotion_candidates_by_shape": sorted(demotions),
        "note": (
            "demotion candidates are redundant by PHYSICAL shape only; "
            "semantic contracts (reference parity, pillar coverage) "
            "still require human judgment"
        ),
    }
    print(json.dumps(out, indent=1))
    if "--json" in sys.argv:
        path = sys.argv[sys.argv.index("--json") + 1]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
