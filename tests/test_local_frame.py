"""session.local_frame: driver-held rows enter the JVM as one Arrow
table and plan as a LocalRelation — collecting runs no Spark job,
values match ``createDataFrame(<list>)`` — and the JobRuns ledger that
appends through it reads back the same rows as a ledger written by
``createDataFrame([row]).write``."""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone
from decimal import Decimal

import pytest

from harness_aws_etl_pipeline_spark.meta import jobruns
from harness_aws_etl_pipeline_spark.meta.jobruns import JOB_RUNS_SCHEMA, JobRuns
from harness_aws_etl_pipeline_spark.session import local_frame

_TS = datetime(2026, 3, 4, 5, 6, 7, 891011)
_LEDGER_ROW = ("job-1", _TS, "SUCCESS", Decimal("1.250000"), '{"rows": 3}', None, None)


def _plan_node(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


def _jobs(spark, fn, group: str):
    """(fn(), number of Spark jobs fn ran) — counted per job group from
    the statusTracker after the listener bus drains."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def session_zone(spark):
    """Set ``spark.sql.session.timeZone`` for one test, restored after."""
    before = spark.conf.get("spark.sql.session.timeZone")

    def _set(zone: str) -> None:
        spark.conf.set("spark.sql.session.timeZone", zone)

    yield _set
    spark.conf.set("spark.sql.session.timeZone", before)


class TestLocalFrame:
    def test_plan_is_local_relation(self, spark):
        df = local_frame(spark, [_LEDGER_ROW], JOB_RUNS_SCHEMA)
        assert _plan_node(df) == "LocalRelation"
        # the list path it replaces is an RDD scan
        assert _plan_node(spark.createDataFrame([_LEDGER_ROW], JOB_RUNS_SCHEMA)) == "LogicalRDD"

    def test_collect_runs_no_job(self, spark):
        df = local_frame(spark, [(1, [1.0, 2.0]), (2, None)], "id long, v array<double>")
        rows, jobs = _jobs(spark, df.collect, "local-frame-collect")
        assert len(rows) == 2
        assert jobs == 0

    @pytest.mark.parametrize("zone", ["UTC", "America/Los_Angeles"])
    def test_ledger_row_matches_list_path(self, spark, session_zone, zone):
        session_zone(zone)
        rows = [_LEDGER_ROW, ("job-2", _TS, "RUNNING", None, None, '{"t": 1}', None)]
        got = local_frame(spark, rows, JOB_RUNS_SCHEMA)
        want = spark.createDataFrame(rows, JOB_RUNS_SCHEMA)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        micros = "unix_micros(ts) AS us"
        assert got.selectExpr(micros).collect() == want.selectExpr(micros).collect()

    def test_decimal_rounds_like_list_path(self, spark):
        row = ("job-1", _TS, "SUCCESS", Decimal("1.23456789"), None, None, None)
        got = local_frame(spark, [row], JOB_RUNS_SCHEMA).collect()
        assert got == spark.createDataFrame([row], JOB_RUNS_SCHEMA).collect()
        assert got[0]["duration_seconds"] == Decimal("1.234568")

    def test_naive_ts_read_in_python_zone(self, spark):
        # createDataFrame(<list>) reads a naive datetime through
        # time.mktime — Python's local zone, not the session zone
        def micros(df):
            return df.selectExpr("unix_micros(ts)").first()[0]

        schema = "ts timestamp"
        old = os.environ.get("TZ")
        os.environ["TZ"] = "America/New_York"
        time.tzset()
        try:
            got = micros(local_frame(spark, [(_TS,)], schema))
            want = micros(spark.createDataFrame([(_TS,)], schema))
        finally:
            if old is None:
                os.environ.pop("TZ")
            else:
                os.environ["TZ"] = old
            time.tzset()
        assert got == want

    def test_array_double_matches_list_path(self, spark):
        rows = [(0, [0.1, -2.5, 1e300]), (1, []), (2, None)]
        schema = "centroid_id long, centroid array<double>"
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()

    def test_empty_rows(self, spark):
        schema = "query_id long, rank int, neighbor_id long, cosine double"
        got = local_frame(spark, [], schema)
        assert _plan_node(got) == "LocalRelation"
        assert got.schema == spark.createDataFrame([], schema).schema
        assert got.collect() == []

    def test_null_in_non_nullable_field_raises(self, spark):
        row = (None, _TS, "RUNNING", None, None, None, None)
        with pytest.raises(ValueError):
            local_frame(spark, [row], JOB_RUNS_SCHEMA).collect()

    def test_ivf_centroids_collect_runs_no_job(self, spark):
        from harness_aws_etl_pipeline_spark.operators.similarity import ivf_centroids

        vecs = [
            (i, [float((i * 7) % 5), float((i * 3) % 4), 1.0 + (i % 2)])
            for i in range(40)
        ]
        cents = ivf_centroids(spark.createDataFrame(vecs, "vec_id long, embedding array<double>"), k=4)
        assert _plan_node(cents) == "LocalRelation"
        rows, jobs = _jobs(spark, cents.collect, "ivf-centroids-collect")
        assert len(rows) == 4
        assert jobs == 0


class _Clock:
    """Stands in for ``jobruns.datetime``: ``now()`` replays scripted
    naive-UTC stamps, then falls back to the real clock (compact's
    retention cutoff)."""

    def __init__(self, stamps):
        self.stamps = list(stamps)

    def now(self, tz=None):
        if self.stamps:
            return self.stamps.pop(0).replace(tzinfo=tz)
        return datetime.now(tz)


def _list_path(spark, rows, schema):
    # the ledger's former append path: createDataFrame over the list
    return spark.createDataFrame(rows, schema)


class TestJobRunsLedger:
    @staticmethod
    def _run(spark, path, stamps, list_path_appends):
        """Six lifecycle transitions at the scripted stamps; the first
        ``list_path_appends`` go through the former append path."""
        runs = JobRuns(spark, path)
        calls = [
            lambda: runs.start("old-job", trigger={"key": "a.csv"}),
            lambda: runs.complete("old-job", {"duration_seconds": 0.5, "rows": 3}),
            lambda: runs.start("job-a"),
            lambda: runs.complete("job-a", {"duration_seconds": 1.234567}),
            lambda: runs.fail("job-b", {"duration_seconds": 2.0, "error": "boom"}),
            lambda: runs.start("job-c"),
        ]
        mp = pytest.MonkeyPatch()
        try:
            mp.setattr(jobruns, "datetime", _Clock(stamps))
            for i, call in enumerate(calls):
                if i == list_path_appends:
                    mp.setattr(jobruns, "local_frame", local_frame)
                elif i == 0:
                    mp.setattr(jobruns, "local_frame", _list_path)
                call()
        finally:
            mp.undo()
        return runs

    @staticmethod
    def _views(runs):
        def rows(df):
            return sorted(tuple(r) for r in df.collect())

        out = {
            "table": rows(runs.table()),
            "latest": rows(runs.latest()),
            "by_job": [tuple(r) for r in runs.by_job("job-a").collect()],
            "success": rows(runs.by_status("SUCCESS")),
            "running": rows(runs.by_status("RUNNING")),
        }
        out["compact"] = runs.compact(retention_days=30)["rows"]
        out["compacted"] = rows(runs.latest())
        return out

    @pytest.mark.parametrize("zone", ["UTC", "Asia/Kolkata"])
    def test_mixed_ledger_reads_like_list_path_ledger(
        self, spark, tmp_path, session_zone, zone
    ):
        session_zone(zone)
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        stamps = [
            now - timedelta(days=40),
            now - timedelta(days=40) + timedelta(seconds=1),
            now - timedelta(hours=2),
            now - timedelta(hours=2) + timedelta(microseconds=1_234_567),
            now - timedelta(hours=1),
            now - timedelta(minutes=10),
        ]
        ref = self._views(self._run(spark, str(tmp_path / "ref"), stamps, 6))
        mixed = self._views(self._run(spark, str(tmp_path / "mixed"), stamps, 3))
        assert mixed == ref
        # no shift: the stamps read back as written
        assert sorted(r[1] for r in ref["table"]) == stamps
        assert ref["compact"] == 3  # old-job expired; job-a, job-b, job-c kept
        assert [r[0] for r in ref["running"]] == ["job-c"]

    def test_start_runs_one_job(self, spark, tmp_path):
        runs = JobRuns(spark, str(tmp_path / "job_runs"))
        runs.start("warm")  # first write of the directory
        _, jobs = _jobs(spark, lambda: runs.start("job-1"), "jobruns-start")
        assert jobs == 1
