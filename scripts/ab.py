#!/usr/bin/env python
"""Interleaved A/B of two git refs on registry entries.

Usage: python scripts/ab.py REF_A REF_B QUERY... [PAIRS]   (default 10 pairs)

Each ref is checked out with ``git worktree add`` into a temp dir. A pair
runs this checkout's ``scripts/scale.py`` at x1 once per ref, each in a
fresh process with that ref's worktree first on PYTHONPATH; which ref
runs first alternates from pair to pair. Per entry it prints one JSON
line: the pairs each ref won (ties count for neither), both medians,
REF_A's interquartile range, and whether every run's result hash agreed.
``verdict`` names a faster ref only when it won at least nine tenths of
the pairs and the medians differ by more than REF_A's IQR. The worktrees
are removed on exit.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = os.path.join(ROOT, "scripts", "scale.py")


def _run(tree: str, names: list[str]) -> list[dict]:
    out = subprocess.run(
        [sys.executable, SCALE, *names, "1"],
        cwd=tree,
        env={**os.environ, "PYTHONPATH": tree},
        capture_output=True,
        text=True,
    )
    if out.returncode:
        raise RuntimeError(f"scale.py failed in {tree}:\n{out.stderr[-3000:]}{out.stdout}")
    recs = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
    return [r for r in recs if "query" in r]


def _verdict(a: list[float], b: list[float], refs: tuple[str, str]) -> dict:
    q1, _, q3 = statistics.quantiles(a, n=4)
    iqr = q3 - q1
    wins = (sum(x < y for x, y in zip(a, b)), sum(y < x for x, y in zip(a, b)))
    med = (statistics.median(a), statistics.median(b))
    verdict = "no difference shown"
    for i in (0, 1):
        if wins[i] >= 0.9 * len(a) and med[1 - i] - med[i] > iqr:
            verdict = f"{refs[i]} faster"
    return {
        "pairs": len(a),
        "wins_a": wins[0],
        "wins_b": wins[1],
        "median_a_s": round(med[0], 3),
        "median_b_s": round(med[1], 3),
        "iqr_a_s": round(iqr, 3),
        "verdict": verdict,
    }


def main(argv: list[str]) -> None:
    pairs = int(argv.pop()) if argv and argv[-1].isdigit() else 10
    if len(argv) < 3:
        sys.exit(__doc__)
    refs, names = (argv[0], argv[1]), argv[2:]
    tmp = tempfile.mkdtemp(prefix="hha_ab_")
    trees: list[str] = []
    try:
        for side, ref in zip("ab", refs):
            trees.append(os.path.join(tmp, side))
            subprocess.run(
                ["git", "-C", ROOT, "worktree", "add", "--detach", trees[-1], ref], check=True
            )
        walls: list[dict[str, list[float]]] = [{n: [] for n in names} for _ in refs]
        hashes: dict[str, set[str]] = {n: set() for n in names}
        for p in range(pairs):
            for side in (0, 1) if p % 2 == 0 else (1, 0):
                for rec in _run(trees[side], names):
                    walls[side][rec["query"]].append(rec["wall_s"])
                    hashes[rec["query"]].add(rec["hash"])
            last = {f"wall_{s}": {n: w[n][-1] for n in names} for s, w in zip("ab", walls)}
            print(json.dumps({"pair": p, **last}), flush=True)
        for n in names:
            rec = {"query": n, "ref_a": refs[0], "ref_b": refs[1]}
            rec.update(_verdict(walls[0][n], walls[1][n], refs))
            rec["hashes_equal"] = len(hashes[n]) == 1
            print(json.dumps(rec), flush=True)
    finally:
        for tree in trees:
            subprocess.run(["git", "-C", ROOT, "worktree", "remove", "--force", tree])
        subprocess.run(["git", "-C", ROOT, "worktree", "prune"])
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1:])
