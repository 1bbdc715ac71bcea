"""Workloads, seeded key sampling and metrics of the benchmark.

The JVM half (src/main/scala/perfbench/Runner.scala) runs the keys and
writes raw timings; everything here is plain Python so it can be tested
without Spark.
"""
import json
import math
import os
import random
import statistics

HERE = os.path.dirname(os.path.abspath(__file__))
POOLS = os.path.join(HERE, "pools.json")

# A tail percentile needs at least this many key timings beyond it.
TAIL_BEYOND = 10

# A pass runs one key from each of `strata` cost strata of the workload's
# pool; a stratum holds up to `width` keys of near-equal calibrated cost.
# `pass_s` is a pass's typical wall time at 4 cores; it sets how many
# passes fill --seconds.
WORKLOADS = {
    "mix": {"action": "count", "strata": 19, "width": 16, "pass_s": 7.0},
    "iterative": {"action": "count", "strata": 3, "width": 2, "pass_s": 7.5},
    "ordered": {"action": "count", "strata": 11, "width": 3, "pass_s": 6.5},
    "load": {"action": "write", "strata": 15, "width": 8, "pass_s": 7.5},
}


def passes_for(workload, seconds):
    """The pass count whose nominal time is nearest `seconds`. It depends
    only on the workload and --seconds, never on how fast the build under
    test runs, so every run of a workload makes the same number of key
    timings."""
    return max(1, round(seconds / WORKLOADS[workload]["pass_s"]))


# Keys share a stratum only if the dearest costs at most this many times
# the cheapest, so the seed's choice within a stratum barely moves a pass.
SPREAD = 1.1

END_TO_END_UNITS = {
    "setup_s": "s", "pass_s": "s", "key_p50_s": "s", "key_tail_s": "s",
    "key_geomean_s": "s", "failed_frac": "fraction", "live_heap_mb": "MB",
    "peak_rss_mb": "MB",
}
# End-to-end metrics that are printed but not gated: a failed_frac of 0
# is the normal case, and peak RSS follows GC timing more than the
# engine (see README.md).
UNGATED = {"failed_frac", "peak_rss_mb"}

# Per-layer metrics summed over the keys of a traced pass.
SUMMED = {
    "build_s": "s", "build_jobs": "count", "build_job_s": "s",
    "plan_s": "s", "plan_analysis_s": "s", "plan_optimization_s": "s",
    "plan_physical_s": "s", "plan_exchanges": "count",
    "nopart_windows": "count",
    "exec_s": "s", "jobs": "count", "stages": "count",
    "stages_skipped": "count", "tasks": "count", "task_run_s": "s",
    "sched_delay_s": "s", "shuffle_write_mb": "MB",
    "shuffle_records": "count", "spill_mb": "MB", "gc_s": "s",
    "failed_tasks": "count",
    "scan_mb": "MB", "scan_rows": "count",
    "write_mb": "MB", "write_files": "count", "write_rows": "count",
    "sweep_s": "s", "blocks_dropped": "count",
}
# Per-layer metrics that are a maximum over the keys of a traced pass.
MAXED = {"stage_skew_max": "ratio", "cached_mb_peak": "MB"}
# Per-layer ratios computed per traced pass.
RATIOS = {"task_busy_frac": "fraction", "rows_read_per_row_out": "ratio",
          "trace_overhead": "ratio"}
PER_LAYER_UNITS = {**SUMMED, **MAXED, **RATIOS}


def family(key):
    """The key-name family: the prefix before the first `_`."""
    return key.split("_", 1)[0]


def load_pools(path=POOLS):
    with open(path) as f:
        return json.load(f)


def strata(costs, n, width):
    """`n` strata spread evenly over the pool's cost ranking. The ranked
    keys are cut into runs of at most `width` adjacent keys whose costs
    differ by at most SPREAD; stratum i is the run holding the key at
    rank (i + 0.5) / n. A key with no near-equal neighbour is a stratum
    of its own, drawn whenever its rank comes up."""
    ranked = sorted(costs, key=lambda k: (costs[k], k))
    assert len(ranked) >= n * width, "pool too small for its strata"
    runs, cur = [], [ranked[0]]
    for k in ranked[1:]:
        if len(cur) < width and costs[k] <= SPREAD * costs[cur[0]]:
            cur.append(k)
        else:
            runs.append(cur)
            cur = [k]
    runs.append(cur)
    run_of = {k: r for r in runs for k in r}
    return [run_of[ranked[int((i + 0.5) * len(ranked) / n)]] for i in range(n)]


def sample(workload, seed, pools):
    """The keys of one pass, in run order: one key drawn from each cost
    stratum of the workload's pool, then shuffled. Depends only on the
    workload, the seed and the pool file."""
    spec = WORKLOADS[workload]
    costs = {k: pools["cost_s"][spec["action"]][k] for k in pools["pools"][workload]}
    rng = random.Random(f"{workload}:{seed}")
    keys = [rng.choice(s) for s in strata(costs, spec["strata"], spec["width"])]
    rng.shuffle(keys)
    return keys


def _beta_cf(a, b, x):
    """Continued fraction of the incomplete beta function (modified
    Lentz; Numerical Recipes' betacf)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 500):
        for aa in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _beta_inc(a, b, x):
    """The regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) +
                     a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _beta_cf(a, b, x) / a
    return 1.0 - front * _beta_cf(b, a, 1.0 - x) / b


def quantile(values, q):
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted mean of
    all the order statistics. A single order statistic jumps whenever
    noise reorders the keys next to it; this does not. A failed key's
    infinite timing carries weight, so any failure makes it infinite."""
    xs = sorted(values)
    n = len(xs)
    a, b = q * (n + 1), (1.0 - q) * (n + 1)
    total, below = 0.0, 0.0
    for i, x in enumerate(xs, 1):
        upto = _beta_inc(a, b, i / n)
        if upto > below:
            total += (upto - below) * x
        below = upto
    return total


def tail(values):
    """(value, percentile, sample count) for the highest percentile that
    has at least TAIL_BEYOND values beyond it; value and percentile are
    None when there are too few values for any."""
    n = len(values)
    if n <= TAIL_BEYOND:
        return None, None, n
    q = (n - TAIL_BEYOND) / n
    return quantile(values, q), 100.0 * q, n


def geomean(values):
    if any(math.isinf(v) for v in values):
        return math.inf
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failures(result, check_failures, oracle_rows=None):
    """key -> reason for every key that failed its oracle check, threw in
    any pass, or counted other than `oracle_rows` (key -> the oracle's
    row count) in any pass."""
    failed = dict(check_failures)
    oracle_rows = oracle_rows or {}
    for p in result["passes"]:
        for k in p["keys"]:
            if "failed_phase" in k:
                failed.setdefault(k["key"], f"threw in {k['failed_phase']}: {k['error']}")
            elif k["key"] in oracle_rows and k["rows_out"] != oracle_rows[k["key"]]:
                failed.setdefault(k["key"], f"counted {k['rows_out']} rows, "
                                  f"the oracle {oracle_rows[k['key']]}")
    return failed


def end_to_end(result, failed, setups):
    """The end-to-end metrics of the untraced passes; `setups` are the
    set-up times of separate engine processes. A failed key has no time:
    each of its timings counts as infinitely slow, so it misses every
    latency bound."""
    untraced = [p for p in result["passes"] if not p["traced"]]
    timings = [math.inf if k["key"] in failed else k["wall_s"]
               for p in untraced for k in p["keys"]]
    keys = {k["key"] for p in result["passes"] for k in p["keys"]}
    tail_v, tail_pct, n = tail(timings)
    return {
        "setup_s": statistics.median(setups),
        "pass_s": math.inf if failed else
        statistics.median(p["wall_s"] for p in untraced),
        "key_p50_s": quantile(timings, 0.5),
        "key_tail_s": tail_v,
        "key_geomean_s": geomean(timings),
        "failed_frac": len(failed) / len(keys),
        "live_heap_mb": statistics.median(result["live_heap_mb"]),
        "peak_rss_mb": result["peak_rss_mb"],
    }, {"tail_pct": tail_pct, "timings": n}


def per_layer(result):
    """Per-layer metrics of the traced passes: each pass summed over its
    keys, then the median over traced passes."""
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    if not traced:
        return {}
    cores = result["cores"]
    per_pass = []
    for p in traced:
        ok = [k for k in p["keys"] if "failed_phase" not in k]
        m = {name: sum(k[name] for k in ok) for name in SUMMED}
        for name in MAXED:
            m[name] = max((k[name] for k in ok), default=0.0)
        m["task_busy_frac"] = m["task_run_s"] / (p["wall_s"] * cores)
        rows_out = sum(k["rows_out"] for k in ok)
        m["rows_read_per_row_out"] = m["scan_rows"] / max(rows_out, 1)
        per_pass.append(m)
    out = {name: statistics.median(m[name] for m in per_pass)
           for name in per_pass[0]}
    if untraced:
        out["trace_overhead"] = (
            statistics.median(p["wall_s"] for p in traced) /
            statistics.median(p["wall_s"] for p in untraced))
    return out


def trace_artifact(workload, seed, result, failed):
    """The per-key trace of a traced run: every traced key's spans and
    per-layer counts, the pass walls, and the failed keys."""
    return {
        "workload": workload,
        "seed": seed,
        "cores": result["cores"],
        "failed": sorted(failed),
        "passes": [{"pass": p["pass"], "traced": p["traced"],
                    "wall_s": p["wall_s"]} for p in result["passes"]],
        "keys": [k for p in result["passes"] if p["traced"] for k in p["keys"]],
    }
