"""Production entry point: one-shot health report for ANY parquet table.

The generic-table counterpart of run_validation.py (which drives the
audio ruleset): read a table, run the declared
`rules/health.table_health_report` spec, write the long-form findings
and a one-line JSON summary. The spec is a JSON file using exactly the
`table_health_report` spec keys (schema / metrics / fds / freshness /
volume / benford / correlation / null_patterns / trend / cusum /
intervals) — see rules/health.py's module docstring for the shapes.

spark-submit shape:

    spark-submit --py-files odl_spark.zip scripts/run_table_health.py \
        --table /path/table.parquet --spec /path/spec.json \
        --out /path/out [--no-gate]

Writes to --out:
  findings/     (family, subject, metric, value, ok, detail) parquet
  report.json   {n_findings, n_failed, n_skipped, families, wall_s}

Exit code 1 when any finding has ok == false (CI-gate friendly),
2 when the schema gate skipped checks (contract broken), else 0.
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--spec", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--no-gate", action="store_true")
    ap.add_argument("--master", default="local[8]")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    from open_data_linter_spark.session import get_spark
    from open_data_linter_spark.rules.health import table_health_report

    with open(args.spec) as f:
        spec = json.load(f)

    # a caller-owned session is used as it is: get_spark on an existing
    # session would rewrite its conf (app name, shuffle width)
    spark = SparkSession.getActiveSession()
    owned = spark is None
    if owned:
        spark = get_spark("table-health", master=args.master)
    t0 = time.time()
    df = spark.read.parquet(args.table)
    from pyspark.sql import functions as F

    # persist, write, then summarize with a small agg — never a driver
    # collect of the findings: row-level violation families make the
    # findings set proportional to table dirtiness, and a large dirty
    # table would OOM this entry point (round-5 ADVICE item). The persist
    # keeps the unioned multi-family plan from re-running every
    # full-table aggregation for the second action.
    rep = table_health_report(df, spec, gate=not args.no_gate).persist()

    out_findings = os.path.join(args.out, "findings")
    rep.coalesce(1).write.mode("overwrite").parquet(out_findings)

    agg = rep.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("ok") == F.lit(False), 1).otherwise(0)
        ).alias("n_failed"),
        F.sum(
            F.when(F.col("metric") == F.lit("skipped"), 1).otherwise(0)
        ).alias("n_skipped"),
        F.sort_array(F.collect_set("family")).alias("families"),
    ).collect()[0]
    rep.unpersist()
    summary = {
        "table": args.table,
        "n_findings": agg["n"],
        "n_failed": agg["n_failed"],
        "n_skipped": agg["n_skipped"],
        "families": list(agg["families"]),
        "wall_s": round(time.time() - t0, 3),
    }
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "report.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)
    print(json.dumps(summary, sort_keys=True))
    if owned:  # don't tear down a caller-owned session
        spark.stop()
    return 2 if agg["n_skipped"] else (1 if agg["n_failed"] else 0)


if __name__ == "__main__":
    sys.exit(main())
