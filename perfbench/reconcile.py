#!/usr/bin/env python3
"""Compares a traced full gate pass with the repo's recorded evidence.

    python3 perfbench/run.py --workload gate_sf01 --seed 1 --seconds 20 --trace 1 --all-entries
    python3 perfbench/reconcile.py .bench_build/traces/gate_sf01-1-traced.json

Prints each entry's jobs in the measured pass beside its median job count in
BENCH_DETAIL_sf0.1.json (graft.Bench's listener count), and the pass's
totals (jobs, tasks, construction seconds, task seconds / cores, wall)
beside ROADMAP's local[4] baseline: 639 jobs, 1,404 tasks, 26.9 s
construction, 21.8 s task time / cores, 81.3 s wall.
"""
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import report  # noqa: E402

BASELINE = {"jobs": 639, "tasks": 1404, "construct_s": 26.9,
            "task_s_per_core": 21.8, "wall_s": 81.3}


def main(path, cores=4):
    raw = json.load(open(path))
    detail = json.load(open(os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "BENCH_DETAIL_sf0.1.json")))
    counters = raw["trace_data"]["counters"]
    spans = [dict(id=s[0], name=s[1], start=s[2], end=s[3], parent=s[4], req=s[5])
             for s in raw["trace_data"]["spans"]]
    per = defaultdict(lambda: defaultdict(float))
    for tag, c in counters.items():
        kind, req = tag.split("|", 2)[1:]
        if "#" in req and not req.endswith("#setup"):
            name = req.split("#")[0]
            for k in ("jobs", "tasks", "run_ms"):
                per[name][k] += c[k]
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["name"] == "construct" and s["parent"] in by_id:
            req = by_id[s["parent"]]["req"]
            if not req.endswith("#setup"):
                per[req.split("|")[2].split("#")[0]]["construct_s"] += (s["end"] - s["start"]) / 1e6
    passes = max(1, raw["extra"].get("passes", 1))
    wall = defaultdict(float)
    for op, _, lat, _, _ in raw["samples"]:
        wall[op] += lat / passes
    print("%-28s %6s %6s %6s" % ("entry", "jobs", "detail", "diff"))
    diffs = 0
    for name in sorted(set(per) | set(detail["jobs"])):
        mine = per[name]["jobs"] / passes
        theirs = detail["jobs"].get(name)
        d = mine - theirs if theirs is not None else float("nan")
        diffs += d != 0
        print("%-28s %6.0f %6s %+6.0f" % (name, mine, theirs, d))
    tot = {"jobs": sum(p["jobs"] for p in per.values()) / passes,
           "tasks": sum(p["tasks"] for p in per.values()) / passes,
           "construct_s": sum(p["construct_s"] for p in per.values()) / passes,
           "task_s_per_core": sum(p["run_ms"] for p in per.values()) / 1e3 / cores / passes,
           "wall_s": sum(wall.values())}
    print("\nentries with a job-count difference: %d" % diffs)
    for k, v in tot.items():
        print("%-16s pass %8.1f   baseline %8.1f" % (k, v, BASELINE[k]))
    print("pass p50 entry wall %.3f s" % report.median(list(wall.values())))


if __name__ == "__main__":
    main(sys.argv[1])
