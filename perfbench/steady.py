"""Steadiness record: two sets of ten runs per workload, one set after
the other, and whether the two sets agree within the bounds.

    python3 perfbench/steady.py [--out FILE]

Run from the root of a checkout. In each set every workload of
``BENCHMARK.json`` runs with seeds 1..10, each run a fresh process of
``perfbench/run.py`` with the settings of ``BENCHMARK.json``. Per set,
workload and end-to-end metric the record holds the median, the quartiles
as ``statistics.quantiles(values, n=4)`` gives them and the spread
(q3 - q1) / median; per workload and metric the change of the second
set's median against the first's, next to the metric's bound. After the
last set's runs of a workload come three ``--trace 1`` runs, whose
``trace.pass_s`` against that set's ``pass_s`` median is the tracing
overhead.
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

SETS = 2
RUNS = 10
TRACED_RUNS = 3


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def run(bench: dict, wl: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        bench["command"] + ["--workload", wl, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        print(f"{wl} seed {seed}: incorrect result", res, file=sys.stderr)
    return res


def run_set(bench: dict, bounds: dict, wl: str) -> dict:
    vals: dict[str, list[float]] = {}
    walls = []
    for seed in range(1, RUNS + 1):
        t0 = time.time()
        res = run(bench, wl, seed, 0)
        walls.append(time.time() - t0)
        for k, v in res["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
        print(wl, seed, f"{walls[-1]:.1f}s", {k: round(v[-1], 4) for k, v in vals.items()},
              flush=True)
    summary = {k: summarize(v) for k, v in vals.items()}
    for k, s in summary.items():
        s["bound"] = bounds[k]
        s["within_third_of_bound"] = s["spread"] < bounds[k] / 3
        print(f"  {wl} {k}: median {s['median']:.4g} spread {s['spread']:.3f} "
              f"(bound {s['bound']})", flush=True)
    return {"metrics": summary, "run_wall_s": summarize(walls)}


def tracing(bench: dict, wl: str, base: float) -> dict:
    traced = [run(bench, wl, seed, 1)["metrics"]["trace.pass_s"]["value"]
              for seed in range(1, TRACED_RUNS + 1)]
    med = statistics.median(traced)
    print(f"  {wl} tracing overhead: {med - base:+.3f} s on {base:.3f} s", flush=True)
    return {"trace.pass_s": traced, "median": med, "untraced_pass_s": base,
            "overhead_s": med - base, "overhead_share": (med - base) / base}


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--out", default=None, help="write the record here as JSON")
    a = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    record = {"host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine()},
              "run_seconds": bench["run_seconds"], "sets": [], "agreement": {},
              "tracing": {}}
    for i in range(SETS):
        sets = {}
        for wl in workloads:
            sets[wl] = run_set(bench, bounds, wl)
            if i == SETS - 1:
                base = sets[wl]["metrics"]["pass_s"]["median"]
                record["tracing"][wl] = tracing(bench, wl, base)
        record["sets"].append(sets)
    first, last = record["sets"][0], record["sets"][-1]
    for wl in workloads:
        agree = {}
        for k, bound in bounds.items():
            m1, m2 = first[wl]["metrics"][k]["median"], last[wl]["metrics"][k]["median"]
            change = (m2 - m1) / m1
            agree[k] = {"first": m1, "second": m2, "change": change, "bound": bound,
                        "within_bound": abs(change) <= bound}
            print(f"  {wl} {k}: median {m1:.4g} -> {m2:.4g} ({change:+.3f}, bound {bound})",
                  flush=True)
        record["agreement"][wl] = agree
    if a.out:
        with open(a.out, "w", encoding="utf-8") as fh:
            json.dump(record, fh, indent=1)
            fh.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
