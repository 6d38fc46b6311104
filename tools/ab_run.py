#!/usr/bin/env python
"""Interleaved A/B runner: alternate a benchmark class between two
``blabel_spark`` code trees (A first), each rep its own process, and
report per-rep walls plus the per-side minima — the protocol that settled
the rounds-2/3/4 drift questions (this box's wall time swings ±30-50%
with ambient load; interleaving + minima cancels it).

Usage:
  python tools/ab_run.py <class> <pathA> <pathB> [reps=3]

Example (r04 commit vs working tree):
  git worktree add .worktrees/r04 aed3661
  python tools/ab_run.py deep .worktrees/r04 . 3
"""
import json
import os
import subprocess
import sys

klass = sys.argv[1]
path_a, path_b = os.path.abspath(sys.argv[2]), os.path.abspath(sys.argv[3])
reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
child = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "ab_child.py")

results = {path_a: [], path_b: []}
for r in range(reps):
    # ABBA ordering: the box degrades monotonically through a session of
    # Spark runs, so a fixed A-then-B order systematically penalizes B
    order = (path_a, path_b) if r % 2 == 0 else (path_b, path_a)
    for path in order:
        env = dict(os.environ, PYTHONPATH=path)
        out = subprocess.run(
            [sys.executable, child, klass], env=env,
            capture_output=True, text=True, check=True)
        rec = json.loads(out.stdout.strip().splitlines()[-1])
        results[path].append(rec)
        print(f"rep {r} {path}: wall={rec['wall_s']}s", file=sys.stderr)

summary = {}
for path, recs in results.items():
    walls = [x["wall_s"] for x in recs]
    summary[path] = {
        "walls_s": walls, "min_wall_s": min(walls),
        "md5": sorted({x["md5"] for x in recs}),
        "detail_of_min": min(recs, key=lambda x: x["wall_s"]),
    }
md5s = {m for s in summary.values() for m in s["md5"]}
summary["bit_exact_across_sides"] = len(md5s) == 1
print(json.dumps({"class": klass, "reps": reps, **summary}, indent=1))
