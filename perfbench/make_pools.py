#!/usr/bin/env python3
"""Writes perfbench/pools.json, the analytics workload's two query pools.

    python3 perfbench/make_pools.py BENCH_R21OPT_AFTER.json [calibration.json ...]

Rules, applied to the per-query medians of the given bench artifact (the
round-21 sf0.1 medians at 32 cores):
  iterative  the loop-driven operators: the g-family PageRank, PPR, WCC,
             LPA, Louvain and Leiden loops; the s-family nnDescent, beam
             and incremental-graph chains; the p26/p27 funnels; d26.
  short      every other query whose median is under 1.5 s.
Each entry keeps its median as `r21_s` and its warm time on the workload's
own tables as `warm_s`. run.py stratifies the short draw by `warm_s`, so
every seed's sample has the same cost profile on these tables. An iterative
query runs in the workload (`in_run`) when its `warm_s` is at most IN_RUN_S:
a run must fit its passes into the driver's time budget.

`warm_s` comes from calibration runs' `query_median_s`: the result files of
perfbench.Bench over a whole pool (seed 1, scale 0.01, one measured pass
after the warm-up pass, on a 4-core host); a later file overrides an earlier
one. The committed pools.json merges a C2 run over the whole iterative pool
with a C1 run (the benchmark's JVM setting) over the short pool and the
iterative members under 3 s in the C2 run; every other iterative member's
C2 time already exceeds IN_RUN_S. Without calibration files, the previous
pools.json's values are kept.
"""
import json
import os
import re
import sys

ITERATIVE = re.compile(
    r"^(g(10|12|18|20|23|24|25|26|27|28|29)_"
    r"|s\d+_.*(descent|beam|incremental_graph|incremental_recall"
    r"|clustered_incremental|clustered_pq_recall|clustered_hier_recall)"
    r"|p26_|p27_|d26_)")
SHORT_BELOW_S = 1.5
IN_RUN_S = 2.8


def family(name):
    return re.match(r"[a-z]+", name).group(0)


def main(artifact, *calibrations):
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "pools.json")
    warm = {}
    if calibrations:
        for c in calibrations:
            warm.update(json.load(open(c))["query_median_s"])
    else:
        old = json.load(open(out))
        warm = {q["name"]: q["warm_s"]
                for q in old["short"] + old["iterative"]}
    medians = json.load(open(artifact))["medians"]
    pools = {"short": [], "iterative": []}
    for name, s in sorted(medians.items()):
        if ITERATIVE.match(name):
            w = round(warm[name], 3)
            pools["iterative"].append(
                {"name": name, "family": family(name), "r21_s": s,
                 "warm_s": w, "in_run": w <= IN_RUN_S,
                 "rule": "loop-driven operator"})
        elif s < SHORT_BELOW_S:
            pools["short"].append(
                {"name": name, "family": family(name), "r21_s": s,
                 "warm_s": round(warm[name], 3),
                 "rule": f"r21 median {s} s < {SHORT_BELOW_S} s"})
    spec = {"source": os.path.basename(artifact),
            "short_sample": 8, "iterative_sample": 2}
    spec.update(pools)
    with open(out, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    print(f"short {len(pools['short'])}, iterative {len(pools['iterative'])}")


if __name__ == "__main__":
    main(*sys.argv[1:])
