#!/usr/bin/env python3
"""Apply the `queries` selection rule to a committed profile.

    python3 lakebench/profile/select.py lakebench/profile/queries_sf0.1.json

The profile (written by `lakebench.Profile`) holds every SparkEntry.queries
entry run cold and then warm at sf0.1. The rule, on the warm figures:

  * leave out both memo groups whole (AdvancedOps.ccMemo: q57, q63;
    GraphOps.coMemo: q117, q126, q154), whose walls depend on order;
  * heavy: the HEAVY entries with the most executor CPU among those whose
    warm wall is at most HEAVY_WALL_S, so that a pass fits a run;
  * kernels: for each kernel of KERNELS that no entry picked so far calls,
    its caller with the smallest warm wall, so every kernel runs in a pass;
  * job-floor-bound: entries under FLOOR_WALL_S whose jobs at ~80 ms each
    account for at least half the wall, sampled FLOOR evenly by query number;
  * q35_pgn_pipeline.
"""
import json
import re
import sys

HEAVY = 1
HEAVY_WALL_S = 0.8
KERNELS = ["TokBuckets", "TokStats", "MinHashSigs", "VecDot"]
FLOOR = 3
FLOOR_WALL_S = 0.5
JOB_FLOOR_S = 0.08
MEMO_GROUPS = {"q57", "q63", "q117", "q126", "q154"}


def qnum(name):
    return int(re.match(r"q(\d+)_", name).group(1))


def select(profile):
    warm = {n: v["warm"] for n, v in profile["queries"].items()
            if "error" not in v["warm"] and name_key(n) not in MEMO_GROUPS}
    by_cpu = sorted(warm, key=lambda n: -warm[n]["cpu_s"])
    heavy = [n for n in by_cpu if warm[n]["wall_s"] <= HEAVY_WALL_S][:HEAVY]
    kernel = []
    for k in KERNELS:
        if not any(k in warm[n]["kernels"] for n in heavy + kernel):
            kernel += sorted((n for n in warm if k in warm[n]["kernels"]),
                             key=lambda n: warm[n]["wall_s"])[:1]
    floor = sorted((n for n, w in warm.items()
                    if w["wall_s"] < FLOOR_WALL_S
                    and w["jobs"] * JOB_FLOOR_S >= 0.5 * w["wall_s"]
                    and n not in heavy + kernel and n != "q35_pgn_pipeline"), key=qnum)
    step = (len(floor) - 1) / (FLOOR - 1)
    sample = [floor[round(i * step)] for i in range(FLOOR)]
    return heavy, kernel, sample, ["q35_pgn_pipeline"]


def name_key(name):
    return name.split("_", 1)[0]


def main():
    profile = json.load(open(sys.argv[1]))
    heavy, kernel, floor, pgn = select(profile)
    q = profile["queries"]
    for kind, names in (("heavy", heavy), ("kernel", kernel), ("job-floor", floor), ("pgn", pgn)):
        for n in names:
            w = q[n]["warm"]
            print(f"{kind:9s} {n:32s} wall={w['wall_s']:.3f}s cpu={w['cpu_s']:.3f}s "
                  f"jobs={w['jobs']} build={w['build_s']:.3f}s kernels={','.join(w['kernels'])}")


if __name__ == "__main__":
    main()
