"""Record how steady the benchmark is on this host.

Usage, from the repository root::

    python3 perfbench/steady.py --out perfbench/steadiness_4core.json

Runs two sets of ``perfbench/run.py --trace 0`` runs, each set ``RUNS``
runs per workload of BENCHMARK.json with seeds ``SEED0``, ``SEED0 + 1``,
..., the workloads taking turns, with ``run_seconds`` from
BENCHMARK.json; then one ``--trace 1`` run per workload.  It writes, per
set, workload and end-to-end metric, the median, the quartiles and the
spread (interquartile range over median, from
``statistics.quantiles(n=4)``), every run's metrics and per-cycle sums;
per workload and metric, how far the second set's median lies from the
first's, as a share of the first, beside the metric's bound; the traced
runs' per-layer metrics and per-op-kind roll-up; and the host's facts,
among them the time of a fixed CPU loop before each run.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETS = 2
RUNS = 10  # per set and workload
SEED0 = 101


def host_facts() -> dict:
    def first(path: str, key: str) -> str:
        with open(path) as fh:
            return next((ln.split(":", 1)[1].strip() for ln in fh
                         if ln.startswith(key)), "")

    java = subprocess.run(["java", "-version"], capture_output=True,
                          text=True).stderr.splitlines()
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total": first("/proc/meminfo", "MemTotal"),
        "cpu": first("/proc/cpuinfo", "model name"),
        "python": platform.python_version(),
        "java": java[0] if java else "",
        "pyspark": pyspark.__version__,
    }


def bench(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """One run of the benchmark's command: its result line and its
    ``perfbench-cycles`` record."""
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=300)
    if out.returncode:
        sys.exit(f"{cmd} failed:\n{out.stderr[-3000:]}")
    lines = out.stdout.strip().splitlines()
    cycles = next(ln for ln in lines if ln.startswith("perfbench-cycles "))
    return json.loads(lines[-1]), json.loads(cycles.split(" ", 1)[1])


def cpu_loop_s() -> float:
    """Seconds a fixed single-threaded loop takes: the host's speed just
    before a run, to tell host drift from the benchmark's own spread."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i * i
    return time.perf_counter() - t0


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med}


def run_set(spec: dict, names: list[str]) -> dict[str, list[dict]]:
    """``RUNS`` untraced runs per workload, the workloads taking turns."""
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for seed in range(SEED0, SEED0 + RUNS):
        for w in names:
            loop_s = cpu_loop_s()
            t0 = time.perf_counter()
            result, cycles = bench(spec, w, seed, 0)
            run_s = time.perf_counter() - t0
            runs[w].append({
                "seed": seed, "run_s": round(run_s, 1),
                "host_loop_s": round(loop_s, 4),
                "correct": result["correct"], "attempted": result["attempted"],
                "failed": result["failed"],
                **{k: v["value"] for k, v in result["metrics"].items()},
                "cycles": [{k: round(v, 4) for k, v in c.items()}
                           for c in cycles["cycles"]],
                "timed": cycles["timed"],
            })
            print(f"{w} seed={seed} run_s={run_s:.1f} loop_s={loop_s:.3f} "
                  + " ".join(
                f"{k}={v['value']:.4f}" for k, v in result["metrics"].items()),
                flush=True)
    return runs


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    sets = []
    for _ in range(SETS):
        runs = run_set(spec, names)
        sets.append({
            w: {
                "mean_run_s": round(statistics.fmean(r["run_s"] for r in rs), 1),
                "end_to_end": {m["name"]: spread([r[m["name"]] for r in rs])
                               for m in spec["end_to_end"]},
                "host_loop_s": spread([r["host_loop_s"] for r in rs]),
                "runs": rs,
            } for w, rs in runs.items()
        })
    between = {
        w: {m["name"]: {
            "median_1": sets[0][w]["end_to_end"][m["name"]]["median"],
            "median_2": sets[1][w]["end_to_end"][m["name"]]["median"],
            "change": (sets[1][w]["end_to_end"][m["name"]]["median"]
                       / sets[0][w]["end_to_end"][m["name"]]["median"] - 1),
            "bound": m["bound"],
        } for m in spec["end_to_end"]} for w in names
    }
    traced = {}
    for w in names:
        result, cycles = bench(spec, w, SEED0 + RUNS, 1)
        traced[w] = {"seed": SEED0 + RUNS, "correct": result["correct"],
                     "attempted": result["attempted"], "failed": result["failed"],
                     "per_layer": {k: v["value"] for k, v in result["metrics"].items()},
                     "pairs": cycles["pairs"], "by_op_kind": cycles["by_kind"]}
    record = {
        "what": (f"{SETS} sets of {RUNS} untraced runs per workload, seeds "
                 f"{SEED0}-{SEED0 + RUNS - 1} in each set, workloads taking "
                 "turns; spread = (q3 - q1) / median; change = second set's "
                 "median / first set's - 1; then one traced run per workload"),
        "when_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "host": host_facts(),
        "run_seconds": spec["run_seconds"],
        "between_sets": between,
        "sets": sets,
        "traced_runs": traced,
    }
    with open(args.out, "w") as fh:
        json.dump(record, fh, indent=1)
        fh.write("\n")
    for i, s in enumerate(sets, 1):
        for w, v in s.items():
            print(f"set {i}", w, {k: round(x["iqr_over_median"], 3)
                                  for k, x in v["end_to_end"].items()})
    for w, v in between.items():
        print("change", w, {k: round(x["change"], 3) for k, x in v.items()})
    return 0


if __name__ == "__main__":
    sys.exit(main())
