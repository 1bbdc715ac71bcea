#!/usr/bin/env python3
"""Derive pools.json, the benchmark's fixed key pools and cost strata.

    python3 perfbench/calibrate.py [--sites RESULT]

Runs one traced pass over every key to find which engine files launch
each key's jobs, then times every key with a benchmark run's protocol,
and writes, per key, that cost (the sampler stratifies on it) and, per
workload, its key pool:

- mix: every key.
- iterative: the superstep-loop graph keys below, plus every key with a
  job launched from GraphAlgorithms or ConnectedComponents.
- ordered: every key with a job launched from GlobalRank, plus the keys
  with an unpartitioned window over data-scaled input (listed below).
- load: every key of the etl, pipeline, dedup, multimodal and scan
  families.

The pools are data, not code paths: a change to the engine does not
move a key between workloads until this is run again on purpose.
"""
import argparse
import json
import os
import random
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import bench  # noqa: E402
import run  # noqa: E402

ITERATIVE = ["graph_pagerank", "graph_label_prop", "graph_katz", "graph_ppr",
             "graph_hits", "graph_bfs_distance", "graph_closeness",
             "graph_eccentricity", "graph_modularity"]
LOOP_SITES = {"GraphAlgorithms.scala", "ConnectedComponents.scala"}
# Keys with a Window.orderBy and no partitioning over a grid that grows
# with the data: StatQueries :533/:1485/:3305, GraphQueries
# :332/:1074/:1233/:1287, PipelineQueries :1326/:2901, AnalyticsQueries
# :2040/:2070 and TextQueries :1450 at the time the pools were drawn.
UNPARTITIONED_WINDOWS = [
    "agg_spearman_corr", "eval_lift_curve", "agg_mann_whitney_u",
    "graph_bipartite_profile", "graph_degree_gini", "graph_jaccard_linkpred",
    "graph_adamic_adar", "eval_det_ap", "multimodal_hard_example_mining",
    "agg_survival_curve", "agg_median_survival_time", "text_vocab_growth"]
LOAD_FAMILIES = {"etl", "pipeline", "dedup", "multimodal", "scan"}
CHUNK = 91


def engine_run(name, **plan):
    """One engine process over `plan`'s keys (all keys when none)."""
    out_dir = os.path.join(run.WORK, "calibrate", name)
    os.makedirs(out_dir, exist_ok=True)
    plan = {"sf_dir": run.fixture_dir(), "work_dir": out_dir,
            "out": os.path.join(out_dir, "result.json"),
            "cores": len(os.sched_getaffinity(0)), "check": 0,
            "action": "count", **plan}
    result = run.run_jvm(run.build(), plan, os.path.join(out_dir, "engine.log"),
                         timeout_s=3600)
    failed = sorted({k["key"] for p in result["passes"] for k in p["keys"]
                     if "failed_phase" in k})
    if failed:
        sys.exit(f"keys failed during calibration: {failed}")
    return result


def sites_of(result):
    """key -> source files on its jobs' call stacks, from a traced pass."""
    return {k["key"]: set(k["sites"])
            for p in result["passes"] if p["traced"] for k in p["keys"]}


def costs_of(keys, action, chunk=CHUNK):
    """key -> median wall time of three timed passes with `action`, run
    in engine processes of `chunk` keys after a warm-up pass, as in a
    benchmark run, so the costs match what runs see."""
    cost = {}
    for i in range(0, len(keys), chunk):
        result = engine_run(f"{action}{i // chunk}", key=keys[i:i + chunk],
                            warmups=1, passes=3, trace=0, action=action)
        times = {}
        for p in result["passes"]:
            for k in p["keys"]:
                times.setdefault(k["key"], []).append(k["wall_s"])
        cost.update({k: round(statistics.median(t), 4) for k, t in times.items()})
    return cost


def pools_from(sites, cost):
    """The workload pools; `cost` holds every key that ran cleanly."""
    return {
        "mix": sorted(cost),
        "iterative": sorted(set(ITERATIVE) |
                            {k for k in cost if sites[k] & LOOP_SITES}),
        "ordered": sorted(set(UNPARTITIONED_WINDOWS) |
                          {k for k in cost if "GlobalRank.scala" in sites[k]}),
        "load": sorted(k for k in cost if bench.family(k) in LOAD_FAMILIES),
    }


def main():
    ap = argparse.ArgumentParser(description="Derive pools.json.")
    ap.add_argument("--sites", help="result file of an earlier traced pass "
                    "over every key, instead of running one")
    args = ap.parse_args()
    os.makedirs(run.WORK, exist_ok=True)
    if args.sites:
        with open(args.sites) as f:
            sites = sites_of(json.load(f))
    else:
        sites = sites_of(engine_run("sites", warmups=0, passes=1, trace=1))
    keys = sorted(sites)
    random.Random(0).shuffle(keys)  # chunks mix families
    count = costs_of(keys, "count")
    pools = pools_from(sites, count)
    # Each workload's strata use the cost of its own action.
    write = costs_of([k for k in keys if k in set(pools["load"])], "write")
    pools = {"cores": len(os.sched_getaffinity(0)),
             "cost_s": {"count": count, "write": write}, "pools": pools}
    with open(bench.POOLS, "w") as f:
        json.dump(pools, f, indent=1, sort_keys=True)
        f.write("\n")
    for w, ks in pools["pools"].items():
        print(f"{w}: {len(ks)} keys")


if __name__ == "__main__":
    main()
