"""Record the benchmark's baseline on this host into ``perfbench/baseline.json``.

    python3 perfbench/baseline.py

Runs every workload of BENCHMARK.json untraced in two sets of RUNS runs,
seeds 1..RUNS in each, the way a benchmark's steadiness is checked: each
set gives a median and a quartile spread per end-to-end metric, and the two
medians must agree within the metric's bound. The runs of both sets are
interleaved (seed by seed, workload by workload, the set order alternating
with the seed), so a slow window of the host falls on both sets alike.
Before every run a fresh, short-lived process measures the host with
bench.py's md5 capacity probe (Mrows/s of a pure-JVM scan-aggregate): it is
context for reading the numbers of a noisy window, not a metric. Last, one
traced run per workload gives the per-layer figures and the tracing
overhead (traced minus untraced median). The file is written once, at the
end, in the format committed.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "baseline.json")
RUNS = 10  # per set, seeds 1..RUNS
SETS = 2


def host_probe() -> float:
    """bench.py's fresh-process md5 probe, the repository's one host probe."""
    sys.path.insert(0, ROOT)
    import bench as repo_bench

    return repo_bench._standalone_probe_mrows(len(os.sched_getaffinity(0)))


def bench(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.monotonic()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.monotonic() - t0
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    return {"wall_s": wall, "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    record = {
        "host": {"cpus": len(os.sched_getaffinity(0)),
                 "mem_gb": round(os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30, 1),
                 "python": platform.python_version()},
        "started_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "run_seconds": spec["run_seconds"],
        "workloads": {name: {"runs": []} for name in names},
    }
    for seed in range(1, RUNS + 1):
        order = list(range(SETS)) if seed % 2 else list(reversed(range(SETS)))
        for name in names:
            for s in order:
                probe = host_probe()
                res = bench(name, seed, spec["run_seconds"], 0)
                record["workloads"][name]["runs"].append(
                    {"set": s + 1, "seed": seed, "host_probe_mrows": probe, **res})
                print(name, f"set={s + 1}", f"seed={seed}", f"probe={probe:.1f}",
                      f"wall={res['wall_s']:.1f}",
                      {k: round(v, 3) for k, v in res["metrics"].items()}, flush=True)
    for name in names:
        w = record["workloads"][name]
        runs = w["runs"]
        w["sets"] = [
            {m["name"]: summary([r["metrics"][m["name"]] for r in runs if r["set"] == s])
             for m in spec["end_to_end"]}
            for s in range(1, SETS + 1)
        ]
        # the second set's median against the first's, and each set's
        # spread, next to the metric's bound (setup_s's spread is not held
        # to its bound)
        w["agreement"] = {}
        for m in spec["end_to_end"]:
            first, second = (st[m["name"]] for st in w["sets"])
            change = second["median"] / first["median"] - 1
            w["agreement"][m["name"]] = {
                "bound": m["bound"], "median_change": change,
                "spreads": [first["spread"], second["spread"]],
                "within": abs(change) <= m["bound"] and (
                    m["name"] == "setup_s"
                    or max(first["spread"], second["spread"]) <= m["bound"]),
            }
        pooled = {m["name"]: statistics.median(r["metrics"][m["name"]] for r in runs)
                  for m in spec["end_to_end"]}
        traced = bench(name, 1, spec["run_seconds"], 1)
        w["traced"] = traced["metrics"]
        w["tracing_overhead_s"] = {
            "batch_s": traced["metrics"]["trace.batch_s"] - pooled["batch_s"],
            "op_p50_s": traced["metrics"]["trace.op_p50_s"] - pooled["op_p50_s"],
        }
        print(name, json.dumps(w["agreement"]), flush=True)
    record["finished_at"] = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(OUT, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
