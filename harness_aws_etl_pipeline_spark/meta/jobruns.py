"""L8 — job_runs metadata table (the DynamoDB replacement).

Reference semantics (etl/src/utils/metadata.py): composite-key
``(job_id, timestamp)`` records with status RUNNING→SUCCESS/FAILED,
nested job_result maps, Decimal durations, query-by-job and
scan-by-status access paths (:50-228).

Spark-first design: an append-only Parquet table with a
latest-row-wins view. DynamoDB's update-by-key has no cheap equivalent
in immutable columnar storage — and doesn't need one: each lifecycle
transition appends one row; ``latest()`` resolves current status with a
window over (job_id) ordered by ts. At one row per job transition this
table is tiny relative to the data plane forever; ``compact()`` folds
the ledger down to its latest-wins rows when file count (not size) is
the concern, and a Delta MERGE is the upgrade path if row-level mutable
semantics are ever required.

Writes go through the driver-side SparkSession eagerly (these are
engine bookkeeping records, not data-plane rows). Each append costs one
Spark job with one task and no Python worker: the row enters the JVM as
a one-row local relation (``session.local_frame``) and is written as
one parquet file.
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Any

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from harness_aws_etl_pipeline_spark.session import local_frame

JOB_RUNS_SCHEMA = StructType(
    [
        StructField("job_id", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("status", StringType(), False),
        StructField("duration_seconds", DecimalType(18, 6), True),
        StructField("job_result", StringType(), True),  # JSON payload
        StructField("trigger_event", StringType(), True),  # JSON payload
        StructField("error", StringType(), True),
    ]
)


class JobRuns:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _append(self, job_id: str, status: str, **fields: Any) -> None:
        from decimal import Decimal

        dur = fields.get("duration_seconds")
        row = (
            job_id,
            datetime.now(timezone.utc).replace(tzinfo=None),
            status,
            Decimal(str(dur)) if dur is not None else None,
            json.dumps(fields.get("job_result")) if fields.get("job_result") else None,
            json.dumps(fields.get("trigger")) if fields.get("trigger") else None,
            (fields.get("error") or None),
        )
        df = local_frame(self.spark, [row], JOB_RUNS_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)

    def start(self, job_id: str, trigger: dict | None = None) -> None:
        self._append(job_id, "RUNNING", trigger=trigger)

    def complete(self, job_id: str, result: dict) -> None:
        self._append(
            job_id,
            "SUCCESS",
            duration_seconds=result.get("duration_seconds"),
            job_result=result,
        )

    def fail(self, job_id: str, result: dict) -> None:
        self._append(
            job_id,
            "FAILED",
            duration_seconds=result.get("duration_seconds"),
            job_result=result,
            error=result.get("error"),
        )

    def table(self) -> DataFrame:
        return self.spark.read.schema(JOB_RUNS_SCHEMA).parquet(self.path)

    def latest(self) -> DataFrame:
        """Current status per job: latest-row-wins over the append log
        (the engine's answer to DynamoDB update-by-key,
        metadata.py:97-117)."""
        w = Window.partitionBy("job_id").orderBy(F.col("ts").desc())
        return (
            self.table()
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def compact(self, retention_days: int | None = None) -> dict:
        """Rewrite the append-only ledger down to its latest-wins rows.

        ``retention_days`` additionally expires whole job records whose
        latest transition is older than the budget — the engine's
        DynamoDB-TTL equivalent, sharing the lifecycle config family
        (storage.retention.*, reference config.yaml:35-37). Only
        TERMINAL ages matter: a job is kept or dropped on its latest
        row's timestamp, never partially truncated.

        A long-lived deployment accumulates one file per state
        transition (the documented trade-off of append-only L8); this
        bounds it: materialize ``latest()``, stage it in a temp
        sibling, then swap via renames (sinks/fs.py — works on any
        Hadoop-FS scheme), one output file. ``latest()`` before and
        after compaction returns the same rows; per-transition history
        (``by_job``) is traded away, which is exactly DynamoDB's
        update-by-key semantics the reference had (metadata.py:97-117).

        Single-writer operation (like every ledger write here): run it
        from the owning driver between jobs, not concurrently with
        appends — a transition appended mid-compaction would be lost
        with the old ledger. The swap is rename-aside (old →
        ``.__old__``, staged → live, delete aside), so a crash at any
        point leaves a recoverable copy rather than no table.
        Returns {"rows": n, "files_before": n, "files_after": n}.
        """
        from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

        fs = get_fs(self.path, self.spark)
        files_before = fs.file_count(self.path, ".parquet")
        kept = self.latest()
        if retention_days is not None:
            if retention_days <= 0:
                raise ValueError(
                    f"retention_days must be positive, got {retention_days}"
                )
            # naive-UTC cutoff, matching how _append stamps ts — a
            # Python literal, so the same wall-clock lens applies on
            # both the write and the filter side regardless of the
            # session timezone
            from datetime import timedelta

            cutoff = datetime.now(timezone.utc).replace(tzinfo=None) - timedelta(
                days=retention_days
            )
            kept = kept.filter(F.col("ts") >= F.lit(cutoff))
        snapshot = kept.coalesce(1).localCheckpoint(eager=True)
        rows = snapshot.count()
        tmp = self.path.rstrip("/") + ".__compacting__"
        aside = self.path.rstrip("/") + ".__old__"
        for leftover in (tmp, aside):
            if fs.exists(leftover):
                fs.delete(leftover, recursive=True)
        snapshot.write.mode("overwrite").parquet(tmp)
        if not fs.rename(self.path, aside):
            raise IOError(f"compact: could not move ledger aside to {aside!r}")
        if not fs.rename(tmp, self.path):
            fs.rename(aside, self.path)  # roll back — old ledger intact
            raise IOError("compact: swap rename failed; ledger restored")
        fs.delete(aside, recursive=True)
        return {
            "rows": rows,
            "files_before": files_before,
            "files_after": fs.file_count(self.path, ".parquet"),
        }

    def by_job(self, job_id: str) -> DataFrame:
        """Query-by-partition-key (metadata.py:189-196) → predicate scan."""
        return self.table().filter(F.col("job_id") == job_id).orderBy(F.col("ts").desc())

    def by_status(self, status: str, limit: int | None = None) -> DataFrame:
        """Scan with status filter + limit (metadata.py:221-228)."""
        df = self.latest().filter(F.col("status") == status)
        return df.limit(limit) if limit else df
