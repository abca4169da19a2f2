"""Repository benchmark: validation throughput and declared-query latency.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One process, one Spark session at
``local[<cores>]`` (all cores this process may use). The run builds its
inputs from the seed inside ``.perfbench_work/`` of the checkout, runs
two checked but untimed warm-up passes (``queries``: the first on small
tables), then repeats timed passes for ``--seconds`` and reports
medians over them. Every pass checks its outputs; a wrong or
failed result counts as a failed operation.

Workloads:

- ``validate_clean``: ``ValidationRun(build_audio_ruleset(),
  collect_violation_rows=False)`` over clean clips stored bucketed with
  their reference table (the bench.py layout). One pass = one run.
- ``validate_dirty_sink``: ``build_audio_ruleset(with_payload=False)``
  over short clips with 2% planted defects; one pass = the run plus the
  violation and audit sink writes, as ``scripts/run_validation.py`` does.
- ``queries``: 9 declared queries, ``queries()[name](spark, dir).collect()``,
  in a fixed order; each result is checked against its stored digest
  (``golden.json``). The tables come from a fixed data seed, so the run
  seed does not change this workload's inputs.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the session writes a Spark event log and the line
carries the per-layer metrics (see ``NOTES.md``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
from golden import digest, load as load_golden  # noqa: E402

WORKLOADS = ("validate_clean", "validate_dirty_sink", "queries")
# result size classes of the declared queries (see NOTES.md)
LARGE = [
    "fuzzy_link_parts", "sequence_gaps_lineitem", "interval_integrity_events",
    "sessions_events", "asof_clicks_events", "dup_custkeys_orders",
]
SMALL = ["knn_ivf_pq", "normalize_text", "semdedup"]
SIZES = {
    "full": {"clean_clips": 6000, "buckets": 16, "dirty_clips": 100_000,
             "dirty_parts": 16, "scale": 1.0},
    "smoke": {"clean_clips": 400, "buckets": 4, "dirty_clips": 5000,
              "dirty_parts": 4, "scale": 0.05},
}
# the engine's session default (16g) is above this class of host's
# memory; the benchmark pins the driver JVM heap explicitly
DRIVER_MEM = "4g"
# passes run before timing starts: the first pays JIT, codegen and Python
# worker start-up, and the second still ran ~10% slower than later ones
WARMUP_PASSES = 2
CORES = len(os.sched_getaffinity(0))


# ------------------------------------------------------------- plumbing


def make_work(tag: str) -> str:
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every temporary file of the driver, the JVMs and the Python workers
    # lands in the checkout (no hsperfdata file in /tmp either)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return work


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def start_spark(work: str, trace: bool):
    from open_data_linter_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def reset_peak_rss() -> None:
    """Restart this process's RSS high-water mark (VmHWM) at its current RSS."""
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by ``root`` and its descendants (the JVM and its
    Python workers), including reaped children."""
    ppid, cpu = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rindex(")") + 2:].split()
        ppid[int(d)] = int(f[1])
        cpu[int(d)] = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    kids: dict[int, list[int]] = {}
    for p, pp in ppid.items():
        kids.setdefault(pp, []).append(p)
    total, stack = 0, [root]
    while stack:
        p = stack.pop()
        total += cpu.get(p, 0)
        stack.extend(kids.get(p, ()))
    return total / os.sysconf("SC_CLK_TCK")


class CpuSampler(threading.Thread):
    """Samples the CPU time of the JVM process tree every 100 ms."""

    def __init__(self, pid: int) -> None:
        super().__init__(daemon=True)
        self.pid, self.samples, self.done = pid, [], threading.Event()

    def run(self) -> None:
        while not self.done.is_set():
            self.samples.append((time.time(), tree_cpu_s(self.pid)))
            self.done.wait(0.1)

    def stop(self) -> None:
        self.done.set()
        self.join()

    def cpu_between(self, t0: float, t1: float) -> float:
        def at(t):
            best = self.samples[0][1]
            for ts, c in self.samples:
                if ts > t:
                    break
                best = c
            return best

        return at(t1) - at(t0) if self.samples else 0.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


# ------------------------------------------------------------- workloads


class Workload:
    """Builds its inputs, then runs checked passes. ``run_pass`` returns a
    record with ``t0``/``t1`` (epoch seconds), ``wall``, ``ops``, ``failed``
    and whatever the per-layer computation needs."""

    def __init__(self, spark, work: str, size: dict, seed: int) -> None:
        self.spark, self.work, self.size, self.seed = spark, work, size, seed

    def warm_up(self):
        for _ in range(WARMUP_PASSES):
            yield self.run_pass()


class ValidateClean(Workload):
    def build(self) -> None:
        from inputs import build_clean
        from open_data_linter_spark.plans.run import ValidationRun
        from open_data_linter_spark.rules.audio_rules import build_audio_ruleset

        self.n = self.size["clean_clips"]
        self.clips, self.ctx = build_clean(
            self.spark, self.work, self.n, self.seed, self.size["buckets"])
        self.run = ValidationRun(self.spark, build_audio_ruleset(),
                                 collect_violation_rows=False)
        self.expect_refs = self.n

    def tamper(self) -> None:
        self.expect_refs += 1

    def run_pass(self) -> dict:
        reset_peak_rss()
        t0 = time.time()
        rep = self.run.run(self.clips, dict(self.ctx))
        t1 = time.time()
        rss = peak_rss_mb(os.getpid())
        ok = (all(v is True for v in rep.matrix().values())
              and rep.metrics["payload-ref"]["rows_with_reference"] == self.expect_refs)
        return {"t0": t0, "t1": t1, "wall": t1 - t0, "ops": 1, "failed": int(not ok),
                "walls": dict(rep.wall_secs), "run_s": t1 - t0, "sink_s": 0.0,
                "sink_rows": 0, "items": self.n, "rss_mb": rss}


COUNT_KEYS = ("violation_count", "ri_violation_count", "duplicate_key_count")


class ValidateDirtySink(Workload):
    def build(self) -> None:
        from inputs import build_dirty
        from open_data_linter_spark.plans.run import ValidationRun
        from open_data_linter_spark.rules.audio_rules import build_audio_ruleset

        self.n = self.size["dirty_clips"]
        self.clips, self.ctx, self.golden = build_dirty(
            self.spark, self.work, self.n, self.seed, self.size["dirty_parts"])
        self.run = ValidationRun(self.spark, build_audio_ruleset(with_payload=False),
                                 collect_violation_rows=True)
        self.vpath = os.path.join(self.work, "sink", "violations")
        self.apath = os.path.join(self.work, "sink", "audit")

    def tamper(self) -> None:
        rid = sorted(self.golden)[0]
        self.golden[rid] = set(sorted(self.golden[rid])[1:])

    def run_pass(self) -> dict:
        reset_peak_rss()
        t0 = time.time()
        rep = self.run.run(self.clips, dict(self.ctx))
        t_run = time.time()
        rep.violations.write.mode("overwrite").parquet(self.vpath)
        self.run.audit_rows(rep).write.mode("overwrite").parquet(self.apath)
        t1 = time.time()
        rss = peak_rss_mb(os.getpid())
        failed, sink_rows = self.check(rep)
        return {"t0": t0, "t1": t1, "wall": t1 - t0, "ops": 1, "failed": failed,
                "walls": dict(rep.wall_secs), "run_s": t_run - t0,
                "sink_s": t1 - t_run, "sink_rows": sink_rows, "items": self.n,
                "rss_mb": rss}

    def check(self, rep) -> tuple[int, int]:
        """Violating clip_id set per rule (read back from the sink) equals
        the golden set of the plant, and matches the reported counts."""
        got: dict[str, list] = {}
        for r in self.spark.read.parquet(self.vpath).select("rule_id", "clip_id").collect():
            got.setdefault(r.rule_id, []).append(r.clip_id)
        audit_rows = self.spark.read.parquet(self.apath).count()
        bad = []
        for rid, valid in rep.matrix().items():
            ids = got.get(rid, [])
            if set(ids) != self.golden.get(rid, set()):
                bad.append(f"{rid}: clip_id set differs from the plant")
            if valid is not (not self.golden.get(rid)):
                bad.append(f"{rid}: is_valid={valid}")
            counts = [v for k, v in rep.metrics.get(rid, {}).items() if k in COUNT_KEYS]
            if counts and int(counts[0]) != len(ids):
                bad.append(f"{rid}: sink has {len(ids)} rows, report counts {counts[0]}")
        if set(got) - set(rep.matrix()):
            bad.append(f"unknown rules in sink: {sorted(set(got) - set(rep.matrix()))}")
        for b in bad:
            print("CHECK FAILED", b, file=sys.stderr)
        return int(bool(bad)), sum(map(len, got.values())) + audit_rows


class Queries(Workload):
    def build(self) -> None:
        import __spark_entry__ as entry

        self.tables = os.path.join(self.work, "tables")
        self.tiny = os.path.join(self.work, "tiny_tables")
        # generated in a child process: the generation's memory must not
        # count in this process's RSS
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py"),
                        self.tables, str(self.size["scale"]),
                        self.tiny, str(SIZES["smoke"]["scale"])], check=True)
        self.qs = entry.queries()
        self.golden = self.size["golden"]

    def warm_up(self):
        # the first pass pays Python-worker start-up and code generation;
        # pay them on the small tables, then warm the JIT at full size
        # (9 s + 6 s here, against 17 s + 6 s at full size only)
        full, golden = self.tables, self.golden
        self.tables, self.golden = self.tiny, self.size["golden_smoke"]
        try:
            yield self.run_pass()
        finally:
            self.tables, self.golden = full, golden
        for _ in range(WARMUP_PASSES - 1):
            yield self.run_pass()

    def tamper(self) -> None:
        name = LARGE[0]
        self.golden = dict(self.golden)
        self.golden[name] = dict(self.golden[name], hashsum="0" * 16)

    def run_pass(self) -> dict:
        sc = self.spark.sparkContext
        # one fixed order: a seed-permuted order made pass_s differ by up
        # to 18% between seeds (NOTES.md)
        order = LARGE + SMALL
        per_q, failed = {}, 0
        t0 = time.time()
        for name in order:
            sc.setJobGroup(f"q:{name}", name)
            reset_peak_rss()
            try:
                a = time.time()
                df = self.qs[name](self.spark, self.tables)
                b = time.time()
                rows = df.collect()
                c = time.time()
                # RSS peak of the query call and collect(), before the digest
                rss = peak_rss_mb(os.getpid())
                d = digest(df.columns, rows)
                n_rows = len(rows)
                del rows
                want = self.golden.get(name)
                if not want or (want["rows"], want["hashsum"]) != (d["rows"], d["hashsum"]):
                    print(f"CHECK FAILED {name}: digest {d} != golden {want}", file=sys.stderr)
                    failed += 1
            except Exception as e:  # a failed query is a failed operation
                print(f"CHECK FAILED {name}: {type(e).__name__}: {e}", file=sys.stderr)
                failed += 1
                a = b = c = time.time()
                n_rows, rss = 0, peak_rss_mb(os.getpid())
            per_q[name] = {"t0": a, "t_build": b, "t1": c, "rows": n_rows, "rss_mb": rss}
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        t1 = time.time()
        # drop frames the queries persisted (as bench.py does between passes)
        self.spark.catalog.clearCache()
        # the pass wall counts the queries only, not the digest checks
        wall = sum(q["t1"] - q["t0"] for q in per_q.values())
        return {"t0": t0, "t1": t1, "wall": wall, "ops": len(order),
                "failed": failed, "per_q": per_q,
                "rss_mb": max(q["rss_mb"] for q in per_q.values())}


KINDS = {"validate_clean": ValidateClean, "validate_dirty_sink": ValidateDirtySink,
         "queries": Queries}


# ------------------------------------------------------------- per layer


def layer_metrics(passes: list[dict], log, sampler) -> dict:
    """Per-layer numbers per measured pass, reduced to medians. A layer that
    does no work in a workload reads 0."""
    rows = []
    for p in passes:
        stages = log.stages_in(window=(p["t0"] - 0.001, p["t1"] + 0.001))
        m = {
            "sources.input_bytes": sum(s.input_bytes for s in stages),
            "jvm.jobs": len(log.jobs_in(window=(p["t0"] - 0.001, p["t1"] + 0.001))),
            "jvm.stages": len(stages),
            "jvm.tasks": sum(s.tasks for s in stages),
            "jvm.stage_s": sum(s.span_s for s in stages),
            "jvm.gc_s": sum(s.gc_ms for s in stages) / 1000.0,
            "jvm.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in stages),
            "jvm.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in stages),
            "jvm.spill_bytes": sum(s.spill_bytes for s in stages),
        }
        m.update(validate_layers(p, stages, sampler))
        m.update(query_layers(p, log))
        rows.append(m)
    return {k: median([r[k] for r in rows]) for k in rows[0]}


def validate_layers(p: dict, stages, sampler) -> dict:
    w = p.get("walls", {})
    payload = w.get("payload", 0.0)
    cells = p["run_s"] - w.get("families_total", 0.0) - w.get("table", 0.0) if w else 0.0
    # the payload phase is the last family phase; only the violation-cell
    # collect runs after it
    pay_end = p["t0"] + p.get("run_s", 0.0) - cells
    cpu = sampler.cpu_between(pay_end - payload, pay_end) if payload > 0.05 else 0.0
    py = [s for s in stages if s.python] if w else []
    return {
        "plans.run.payload_s": payload,
        "plans.run.row_scan_s": w.get("row_scan", 0.0),
        "plans.run.column_aggs_s": w.get("column_aggs", 0.0),
        "plans.run.phase_a_s": w.get("families_total", 0.0) - payload,
        "plans.run.collect_cells_s": cells,
        "plans.run.sink_s": p.get("sink_s", 0.0),
        "plans.run.sink_rows": p.get("sink_rows", 0),
        "rules.payload.python_stage_s": sum(s.span_s for s in py),
        "rules.payload.python_tasks": sum(s.tasks for s in py),
        "rules.payload.cpu_share": cpu / (payload * CORES) if cpu else 0.0,
    }


def query_layers(p: dict, log) -> dict:
    m = {}
    groups = {g: dict.fromkeys(("build_s", "exec_s", "python_stage_s",
                                "shuffle_write_bytes", "tasks", "result_rows"), 0)
              for g in ("large", "small")}
    materialize_large = 0.0
    for name in LARGE + SMALL:
        q = p.get("per_q", {}).get(name)
        wall = mat = py_s = sw = 0.0
        if q:
            win = (q["t0"] - 0.001, q["t1"] + 0.001)
            stages = log.stages_in(group=f"q:{name}", window=win)
            spans = [(j.submit_ms / 1000.0, (j.end_ms or j.submit_ms) / 1000.0)
                     for j in log.jobs_in(group=f"q:{name}", window=win)]
            wall = q["t1"] - q["t0"]
            exec_s = q["t1"] - q["t_build"]
            # collect() wall not covered by the query's jobs: driver side
            mat = exec_s - eventlog.covered_s(spans, q["t_build"], q["t1"])
            py_s = sum(s.span_s for s in stages if s.python)
            sw = sum(s.shuffle_write_bytes for s in stages)
            g = groups["large" if name in LARGE else "small"]
            g["build_s"] += q["t_build"] - q["t0"]
            g["exec_s"] += exec_s
            g["python_stage_s"] += py_s
            g["shuffle_write_bytes"] += sw
            g["tasks"] += sum(s.tasks for s in stages)
            g["result_rows"] += q["rows"]
            if name in LARGE:
                materialize_large += mat
        m.update({f"q.{name}.s": wall, f"q.{name}.materialize_s": mat,
                  f"q.{name}.python_stage_s": py_s, f"q.{name}.shuffle_write_bytes": sw})
    for g, vals in groups.items():
        m.update({f"queries.{g}.{k}": v for k, v in vals.items()})
    m["fastcollect.large.materialize_s"] = materialize_large
    return m


# ------------------------------------------------------------------ main


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=tuple(SIZES), default="full")
    p.add_argument("--tamper", action="store_true",
                   help="self-test only: corrupt the expected results, so every "
                        "checked pass must count as failed")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t_start = time.time()
    a = parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "open_data_linter_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: run from the root of a checkout of the engine "
              "(open_data_linter_spark/ and __spark_entry__.py not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    size = dict(SIZES[a.size])
    if a.workload == "queries":
        golden = load_golden()
        size["golden"], size["golden_smoke"] = golden[a.size], golden["smoke"]

    work = make_work(a.workload)
    spark = None
    try:
        spark = start_spark(work, trace=bool(a.trace))
        session_s = time.time() - t_start
        sampler = None
        if a.trace:
            sampler = CpuSampler(jvm_pid(spark))
            sampler.start()
        wl = KINDS[a.workload](spark, work, size, a.seed)
        t_b = time.time()
        wl.build()
        build_s = time.time() - t_b
        setup_rss = peak_rss_mb(os.getpid())
        if a.tamper:
            wl.tamper()

        ops = failed = 0
        passes = []
        try:
            for p in wl.warm_up():  # checked, not timed
                ops, failed = ops + p["ops"], failed + p["failed"]
            t_meas = time.time()
            while not passes or time.time() - t_meas < a.seconds:
                p = wl.run_pass()
                ops, failed = ops + p["ops"], failed + p["failed"]
                passes.append(p)
        except Exception as e:  # a pass that raises is a failed operation
            print(f"CHECK FAILED pass: {type(e).__name__}: {e}", file=sys.stderr)
            ops, failed = ops + 1, failed + 1
        if not passes:
            print("perfbench: no timed pass completed", file=sys.stderr)
            return 1
        jvm_rss = peak_rss_mb(jvm_pid(spark))
        if sampler:
            sampler.stop()
        shutdown(spark)
        spark = None
        # per pass the driver's RSS peak over the program's calls only (the
        # output checks excluded), median over the passes
        rss = median([p["rss_mb"] for p in passes])

        if a.workload == "queries":
            # per query the median over the passes, summed: one slow query
            # in one pass does not move the figure
            q_s = {q: median([p["per_q"][q]["t1"] - p["per_q"][q]["t0"] for p in passes])
                   for q in LARGE + SMALL}
            groups = {"large": sum(q_s[q] for q in LARGE), "small": sum(q_s[q] for q in SMALL)}
            pass_s = sum(groups.values())
        else:
            pass_s = median([p["wall"] for p in passes])
        report = {"setup_s": (session_s + build_s, "s"), "pass_s": (pass_s, "s"),
                  "driver_peak_rss_mb": (rss, "MB")}
        if a.workload == "queries":
            report.update({f"{g}_results_s": (v, "s") for g, v in groups.items()})
        else:
            report["clips_per_s"] = (passes[0]["items"] / pass_s, "1/s")
        report["driver_setup_peak_rss_mb"] = (setup_rss, "MB")
        if a.workload == "queries":
            top = max(passes[-1]["per_q"].items(), key=lambda kv: kv[1]["rss_mb"])[0]
            report["driver_peak_rss_query"] = (top, "")
        report.update({"ops": (ops, "count"), "failed_ops": (failed, "count"),
                       "passes": (len(passes), "count")})
        print(f"perfbench workload={a.workload} seed={a.seed} size={a.size} "
              f"cores={CORES} driver_memory={DRIVER_MEM} trace={a.trace}")
        for k, (v, unit) in report.items():
            print(f"  {k} = {v:.6g} {unit}" if isinstance(v, float) else f"  {k} = {v} {unit}")

        if a.trace:
            logs = os.listdir(os.path.join(work, "events"))
            log = eventlog.parse(os.path.join(work, "events", logs[0]))
            layers = layer_metrics(passes, log, sampler)
            layers.update({"session.start_s": session_s, "sources.build_s": build_s,
                           "jvm.peak_rss_mb": jvm_rss, "trace.pass_s": pass_s})
            metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(layers.items())}
        else:
            metrics = {k: {"value": report[k][0], "unit": report[k][1]}
                       for k in ("setup_s", "pass_s", "driver_peak_rss_mb")}
        print(json.dumps({"correct": failed == 0, "attempted": ops, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            shutdown(spark)
        remove_work(work)


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_share"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
