"""Smoke-size self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout (about three minutes on 4 cores). Checks:

1. every workload, traced and untraced, emits exactly the metric names of
   ``BENCHMARK.json`` (end-to-end resp. per-layer) and a correct result;
2. a tampered digest (queries), golden violation set (validate_dirty_sink)
   or reference count (validate_clean) is counted in ``failed``;
3. the event-log parser flags the stages of ``normalize_text`` (a pandas
   UDF) as Python stages and those of ``dup_custkeys_orders`` as not.
"""

from __future__ import annotations

import json
import subprocess
import sys


def run(workload: str, trace: int, *extra: str) -> dict:
    out = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "smoke", *extra],
        capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.exit(f"{workload} trace={trace} {extra}: exit {out.returncode}\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open("BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    names = {0: {m["name"] for m in bench["end_to_end"]},
             1: {m["name"] for m in bench["per_layer"]}}
    problems = []
    traced = {}
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            res = run(wl, trace)
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{wl}/{trace}: result keys {sorted(res)}")
            got = set(res["metrics"])
            if got != names[trace]:
                problems.append(f"{wl}/{trace}: metric names differ: "
                                f"missing {sorted(names[trace] - got)}, extra {sorted(got - names[trace])}")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{wl}/{trace}: not correct: {res['attempted']} attempted, "
                                f"{res['failed']} failed")
            if trace:
                traced[wl] = res["metrics"]
            print(f"ok {wl} trace={trace}", flush=True)
        res = run(wl, 0, "--tamper")
        if res["failed"] < 1 or res["correct"]:
            problems.append(f"{wl}: tampered expectation not counted as failed")
        print(f"ok {wl} tampered: {res['failed']} of {res['attempted']} failed", flush=True)
    q = traced.get("queries", {})
    if not q.get("q.normalize_text.python_stage_s", {}).get("value", 0) > 0:
        problems.append("normalize_text stages not classified as Python")
    if q.get("q.dup_custkeys_orders.python_stage_s", {}).get("value", 1) != 0:
        problems.append("dup_custkeys_orders stages classified as Python")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
