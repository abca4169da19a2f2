"""Checkpoint-resumable runs: processed-partition ledger + audit table.

North-rule mandate: "checkpoint-resumable with per-partition lineage +
metrics rows persisted to an Iceberg audit table". No Iceberg runtime jar
is available in this environment (SURVEY.md §7), so the DEFAULT audit/
ledger sink is a Parquet directory — but the Iceberg branch is real code,
not a comment: pass ``audit_table="catalog.db.audit"`` to ``ResumableRun``
(or call ``write_audit_iceberg`` directly) on a cluster whose session
configures an Iceberg catalog (``--packages
org.apache.iceberg:iceberg-spark-runtime-... --conf
spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog``). The
capability check (``iceberg_catalog_available``) inspects the session conf
and fails loudly here, and the writer uses ``writeTo(...).
overwritePartitions()`` — the Iceberg-native dynamic partition overwrite,
same idempotency contract as the parquet path.

Model (generalizing the reference's single-key memo, csv_linter.py:48,91-93):
- the input table carries a coarse partition key column ``pt`` (e.g. a
  bucket of clip_id, or ingestion date). A *unit of work* is one pt value.
- the ledger records ``(run_id, pt, status)``; resume = anti-join the input
  pt set against completed ledger entries and process only the remainder.
- appends are idempotent per (run_id, pt): re-processing a pt after a crash
  overwrites its slice (deterministic output), so a resumed run converges to
  exactly the same audit content. That is SURVEY.md §7 risk (ii).
"""

from __future__ import annotations

import os
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

LEDGER_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("pt", T.IntegerType(), False),
        T.StructField("status", T.StringType(), False),  # done
        T.StructField("ts_logical", T.LongType(), True),
    ]
)


def iceberg_catalog_available(spark: SparkSession, table_ident: str) -> bool:
    """True when ``table_ident``'s catalog is configured as an Iceberg
    catalog in this session (the runtime jar registers
    org.apache.iceberg.spark.SparkCatalog / SparkSessionCatalog)."""
    if table_ident.count(".") >= 2:
        catalog = table_ident.split(".")[0]
    else:
        # 1/2-part identifiers resolve through the session's default catalog
        catalog = spark.conf.get("spark.sql.defaultCatalog", "spark_catalog")
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return bool(impl) and "iceberg" in impl.lower()


def write_audit_iceberg(df: DataFrame, table_ident: str) -> None:
    """Idempotent per-(run_id, pt) audit write through the Iceberg DSv2 API.

    ``overwritePartitions`` is Iceberg's dynamic partition overwrite: the
    incoming rows replace exactly the (run_id, pt) partitions they carry —
    the same resume contract as the parquet sink's partitionOverwriteMode.
    Creates the table partitioned by (run_id, pt) on first write.
    """
    spark = df.sparkSession
    if not iceberg_catalog_available(spark, table_ident):
        raise RuntimeError(
            f"no Iceberg catalog configured for '{table_ident}' — add the "
            "iceberg-spark-runtime package and a spark.sql.catalog.* conf "
            "(plans/ledger.py module docstring)"
        )
    if not spark.catalog.tableExists(table_ident):
        df.writeTo(table_ident).partitionedBy(F.col("run_id"), F.col("pt")).create()
        return
    df.writeTo(table_ident).overwritePartitions()


class RunLedger:
    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.exists(self.path) and any(
            f.endswith(".parquet") for _r, _d, fs in os.walk(self.path) for f in fs
        )

    def completed(self, run_id: str) -> DataFrame:
        if not self._exists():
            return self.spark.createDataFrame([], LEDGER_SCHEMA).select("pt")
        return (
            self.spark.read.parquet(self.path)
            .where((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .select("pt")
            .dropDuplicates(["pt"])
        )

    def mark_done(self, run_id: str, pts: Iterable[int]) -> None:
        ts = int(time.time())
        rows = [(run_id, int(p), "done", ts) for p in pts]
        if not rows:
            return
        (
            self.spark.createDataFrame(rows, LEDGER_SCHEMA)
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )

    def pending(self, run_id: str, all_pts: DataFrame) -> list[int]:
        """pt values not yet completed: anti-join against the ledger."""
        done = self.completed(run_id)
        rows = all_pts.select("pt").dropDuplicates(["pt"]).join(
            done, on="pt", how="left_anti"
        ).collect()
        return sorted(int(r["pt"]) for r in rows)


class ResumableRun:
    """Drive a per-pt processing function with ledger-based resume.

    ``process(pt_df, pt) -> audit_rows_df`` handles one partition's rules;
    its output is appended to the audit table partitioned by (run_id, pt) so
    a re-run of the same pt overwrites its own slice (idempotent).
    """

    def __init__(
        self,
        spark: SparkSession,
        ledger_path: str,
        audit_path: str,
        run_id: str,
        audit_table: str | None = None,
    ) -> None:
        self.spark = spark
        self.ledger = RunLedger(spark, ledger_path)
        self.audit_path = audit_path
        self.run_id = run_id
        # Iceberg sink (capability-checked at first write); None => parquet dir
        self.audit_table = audit_table

    def run(
        self,
        df: DataFrame,
        process: Callable[[DataFrame, int], DataFrame],
        pt_col: str = "pt",
        fail_after: int | None = None,
    ) -> list[int]:
        """Process every pending pt; returns the pts processed this call.

        ``fail_after`` aborts after N partitions (crash injection for tests).
        """
        pts = self.ledger.pending(self.run_id, df.select(F.col(pt_col).alias("pt")))
        processed = []
        for i, pt in enumerate(pts):
            if fail_after is not None and i >= fail_after:
                break
            part = df.where(F.col(pt_col) == pt)
            audit = process(part, pt).withColumn("run_id", F.lit(self.run_id)).withColumn(
                "pt", F.lit(pt)
            )
            if self.audit_table is not None:
                write_audit_iceberg(audit, self.audit_table)
            else:
                # dynamic overwrite: re-running a pt replaces only its slice
                (
                    audit.write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("run_id", "pt")
                    .parquet(self.audit_path)
                )
            self.ledger.mark_done(self.run_id, [pt])
            processed.append(pt)
        return processed

    def audit(self) -> DataFrame:
        return self.spark.read.parquet(self.audit_path)


def resumable_validation(
    spark: SparkSession,
    df: DataFrame,
    rules,
    ledger_path: str,
    audit_path: str,
    run_id: str,
    pt_col: str = "pt",
    ctx: dict | None = None,
    fail_after: int | None = None,
) -> list[int]:
    """North-rule glue: the FULL validation ruleset, checkpoint-resumable.

    One unit of work = one ``pt`` value of the input table. Each pending pt
    runs a complete ``ValidationRun`` (fused row scan, column aggs, shuffle
    + payload families) over its slice; its per-partition lineage + metrics
    rows land in the audit table keyed (run_id, pt) with dynamic-partition
    overwrite, then the ledger marks it done. Crash anywhere → rerun
    resumes at the first unmarked pt and converges to identical audit
    content (idempotent appends, SURVEY.md §7 risk (ii)).
    """
    from open_data_linter_spark.plans.run import ValidationRun

    ctx = ctx or {}
    runner = ValidationRun(spark, rules, run_id=run_id, collect_violation_rows=False)

    def process(part_df: DataFrame, pt: int) -> DataFrame:
        local_ctx = dict(ctx)
        report = runner.run(part_df, local_ctx)
        return runner.audit_rows(report).drop("run_id")

    rr = ResumableRun(spark, ledger_path, audit_path, run_id)
    return rr.run(df, process, pt_col=pt_col, fail_after=fail_after)
