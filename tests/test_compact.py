"""Lakehouse compaction (sinks/compact.py): Delta OPTIMIZE + DV purge
with dataChange=false streaming semantics, Iceberg major compaction
dropping delete files, Hudi MOR log compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.sinks.compact import (
    delta_optimize,
    delta_vacuum,
    hudi_compact,
    iceberg_compact,
)


class TestDeltaOptimize:
    def test_binpack_and_dv_purge(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_snapshot,
            read_delta,
        )

        t = str(tmp_path / "t")
        write_delta(
            spark,
            spark.range(100).withColumn("v", F.lit("a")).repartition(8),
            t,
        )
        delta_delete_where(spark, t, "id % 10 = 0")
        rep = delta_optimize(spark, t)
        assert rep["files_removed"] >= 8 and rep["dvs_purged"] >= 1
        assert rep["files_added"] < rep["files_removed"]
        got = {r.id for r in read_delta(spark, t).collect()}
        assert got == {i for i in range(100) if i % 10 != 0}
        # post-optimize snapshot carries no deletion vectors
        snap = delta_snapshot(spark, t)
        assert not any(
            (a.get("deletionVector") or {}).get("storageType")
            for a in snap["files"].values()
        )
        # time travel before the optimize still works
        assert read_delta(spark, t, version=1).count() == 90

    def test_changes_and_stream_pass_over_compaction(self, spark, tmp_path):
        """dataChange=false removes/adds are invisible to append-only
        consumers: delta_changes skips the window, the stream source
        emits no duplicate rows."""
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_changes,
        )
        from harness_aws_etl_pipeline_spark.sources.lakestream import (
            register_lake_streams,
        )

        t = str(tmp_path / "t")
        write_delta(
            spark, spark.range(20).withColumn("v", F.lit("a")).repartition(4),
            t,
        )
        register_lake_streams(spark)
        df = spark.readStream.format("delta_nojar").option("path", t).load()
        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        q = (
            df.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rep = delta_optimize(spark, t)
        assert rep["files_removed"] == 4
        write_delta(
            spark, spark.range(20, 22).withColumn("v", F.lit("b")), t,
            mode="append",
        )
        # change capture over (pre-optimize, head] sees ONLY the append
        got = {(r.id, r.v) for r in delta_changes(spark, t, 0).collect()}
        assert got == {(20, "b"), (21, "b")}
        # the stream resumes across the optimize without duplicates
        q = (
            df.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        rows = [(r.id, r.v) for r in spark.read.parquet(out).collect()]
        assert len(rows) == 22 and len(rows) == len(set(rows))

    def test_noop_when_nothing_small(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )

        t = str(tmp_path / "t")
        write_delta(spark, spark.range(10).coalesce(1), t)
        rep = delta_optimize(spark, t, small_file_bytes=1)
        assert rep["version"] is None and rep["files_removed"] == 0


class TestIcebergCompact:
    def test_drops_delete_files(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.icebergdml import (
            iceberg_delete_where,
            iceberg_upsert,
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergwrite import (
            write_iceberg,
        )
        from harness_aws_etl_pipeline_spark.sources.icebergread import (
            iceberg_snapshot,
            read_iceberg,
        )

        t = str(tmp_path / "t")
        write_iceberg(spark, spark.range(10).withColumn("v", F.lit("a")), t)
        iceberg_delete_where(spark, t, "id = 3")
        iceberg_upsert(
            spark, t,
            spark.createDataFrame([(5, "b")], "id long, v string"),
            keys=["id"],
        )
        before = {(r.id, r.v) for r in read_iceberg(spark, t).collect()}
        rep = iceberg_compact(spark, t)
        assert rep["delete_files_dropped"] == 2
        snap = iceberg_snapshot(spark, t)
        assert snap["delete_files"] == 0
        after = {(r.id, r.v) for r in read_iceberg(spark, t).collect()}
        assert after == before
        # delete_where works again post-compaction (equality deletes gone)
        iceberg_delete_where(spark, t, "id = 5")
        assert (5, "b") not in {
            (r.id, r.v) for r in read_iceberg(spark, t).collect()
        }


class TestHudiCompact:
    def test_merges_logs_into_new_base_slices(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.hudiwrite import (
            hudi_upsert,
        )
        from harness_aws_etl_pipeline_spark.sources.hudiread import (
            hudi_changes,
            hudi_snapshot,
            read_hudi,
        )

        t = str(tmp_path / "t")
        hudi_upsert(
            spark,
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, v string"
            ),
            t, key_col="id",
        )
        hudi_upsert(
            spark,
            spark.createDataFrame([(2, "b2")], "id long, v string"),
            t, key_col="id",
        )
        before = {
            (r.id, r.v) for r in read_hudi(spark, t, drop_meta=True).collect()
        }
        assert before == {(1, "a"), (2, "b2")}
        rep = hudi_compact(spark, t)
        assert rep["groups_compacted"] == 1
        snap = hudi_snapshot(spark, t)
        assert snap["log_files"] == [] and snap["files"]
        after = {
            (r.id, r.v) for r in read_hudi(spark, t, drop_meta=True).collect()
        }
        assert after == before
        # change capture works again (no live logs)
        assert hudi_changes(spark, t, rep["instant"]).count() == 0

    def test_aborts_on_concurrent_deltacommit(
        self, spark, tmp_path, monkeypatch
    ):
        """r11 ADVICE fix: a deltacommit landing between hudi_compact's
        snapshot and its CAS appends log blocks to the OLD base
        instant; the freshly committed compacted base would silently
        supersede them. The pre-CAS re-check must catch it, re-merge
        from a fresh snapshot, and keep the late rows."""
        import harness_aws_etl_pipeline_spark.sources.hudiread as hr
        from harness_aws_etl_pipeline_spark.sinks.hudiwrite import (
            hudi_upsert,
        )
        from harness_aws_etl_pipeline_spark.sources.hudiread import (
            read_hudi,
        )

        t = str(tmp_path / "t")
        hudi_upsert(
            spark,
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            t, key_col="id",
        )
        hudi_upsert(
            spark,
            spark.createDataFrame([(2, "b2")], "id long, v string"),
            t, key_col="id",
        )
        real_snap = hr.hudi_snapshot
        state = {"calls": 0, "injecting": False}

        def wrapper(spark_, path, as_of_instant=None):
            out = real_snap(spark_, path, as_of_instant)
            if state["injecting"]:
                return out
            state["calls"] += 1
            if state["calls"] == 1:
                # lands AFTER compact took its planning snapshot
                state["injecting"] = True
                try:
                    hudi_upsert(
                        spark,
                        spark.createDataFrame(
                            [(1, "late")], "id long, v string"
                        ),
                        t, key_col="id",
                    )
                finally:
                    state["injecting"] = False
            return out

        monkeypatch.setattr(hr, "hudi_snapshot", wrapper)
        rep = hudi_compact(spark, t)
        assert rep["retries"] >= 1 and rep["groups_compacted"] >= 1
        monkeypatch.setattr(hr, "hudi_snapshot", real_snap)
        got = {
            (r.id, r.v)
            for r in read_hudi(spark, t, drop_meta=True).collect()
        }
        assert got == {(1, "late"), (2, "b2")}

    def test_cow_rejected_and_noop(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.hudiwrite import (
            hudi_upsert, write_hudi,
        )

        t = str(tmp_path / "t")
        write_hudi(spark, spark.range(3).withColumn("v", F.lit("a")), t)
        with pytest.raises(ValueError, match="MERGE_ON_READ"):
            hudi_compact(spark, t)
        t2 = str(tmp_path / "t2")
        hudi_upsert(
            spark, spark.createDataFrame([(1, "a")], "id long, v string"),
            t2, key_col="id",
        )
        hudi_compact(spark, t2)  # first compaction eats the log
        rep = hudi_compact(spark, t2)  # second is a no-op
        assert rep["groups_compacted"] == 0 and rep["instant"] is None


class TestCli:
    def test_compact_cli_all_three(self, spark, tmp_path, capsys):
        import json

        from harness_aws_etl_pipeline_spark.cli import main
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sinks.hudiwrite import (
            hudi_upsert,
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergdml import (
            iceberg_delete_where,
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergwrite import (
            write_iceberg,
        )

        d = str(tmp_path / "d")
        write_delta(spark, spark.range(50).repartition(4), d)
        delta_delete_where(spark, d, "id = 0")
        rc = main(["delta", "--path", d, "--optimize"])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["action"] == "delta_optimize" and rep["dvs_purged"] >= 1

        i = str(tmp_path / "i")
        write_iceberg(spark, spark.range(5).withColumn("v", F.lit("a")), i)
        iceberg_delete_where(spark, i, "id = 0")
        rc = main(["iceberg", "--path", i, "--compact"])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["action"] == "iceberg_compact"
        assert rep["delete_files_dropped"] == 1

        h = str(tmp_path / "h")
        hudi_upsert(
            spark, spark.createDataFrame([(1, "a")], "id long, v string"),
            h, key_col="id",
        )
        rc = main(["hudi", "--path", h, "--compact"])
        assert rc == 0
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["action"] == "hudi_compact"
        assert rep["groups_compacted"] == 1


class TestVacuumAndRetention:
    def test_delta_vacuum_reclaims_old_versions(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            read_delta,
        )

        t = str(tmp_path / "t")
        write_delta(spark, spark.range(10).withColumn("v", F.lit("a")), t)
        write_delta(
            spark, spark.range(5).withColumn("v", F.lit("b")), t,
            mode="overwrite",
        )
        rep = delta_vacuum(spark, t, retain_hours=0, dry_run=True)
        assert rep["dry_run"] and len(rep["candidates"]) >= 1
        before = rep["candidates"]
        rep = delta_vacuum(spark, t, retain_hours=0)
        assert rep["removed"] == len(before) and rep["bytes"] > 0
        # the current snapshot is intact
        assert read_delta(spark, t).count() == 5
        # a second vacuum finds nothing
        assert delta_vacuum(spark, t, retain_hours=0)["removed"] == 0

    def test_delta_vacuum_keeps_live_dv_sidecars(self, spark, tmp_path):
        import glob

        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            read_delta,
        )

        t = str(tmp_path / "t")
        write_delta(
            spark,
            spark.range(20000).withColumn("v", F.lit("x")).coalesce(1),
            t,
        )
        delta_delete_where(spark, t, "id % 2 = 0")  # sidecar DV
        assert glob.glob(str(tmp_path / "t" / "deletion_vector_*.bin"))
        rep = delta_vacuum(spark, t, retain_hours=0)
        # the referenced sidecar survives; the read still applies it
        assert glob.glob(str(tmp_path / "t" / "deletion_vector_*.bin"))
        assert read_delta(spark, t).count() == 10000
        assert rep["removed"] == 0

    def test_iceberg_expire_snapshots(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.compact import (
            iceberg_expire_snapshots,
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergwrite import (
            write_iceberg,
        )
        from harness_aws_etl_pipeline_spark.sources.icebergread import (
            iceberg_snapshots,
            read_iceberg,
        )

        t = str(tmp_path / "t")
        write_iceberg(spark, spark.range(4).withColumn("v", F.lit("a")), t)
        write_iceberg(
            spark, spark.range(4, 6).withColumn("v", F.lit("b")), t,
            mode="append",
        )
        write_iceberg(
            spark, spark.range(9, 10).withColumn("v", F.lit("c")), t,
            mode="overwrite",
        )
        rep = iceberg_expire_snapshots(spark, t, keep_last=1)
        assert rep["expired"] == 2 and rep["files_removed"] >= 2
        assert len(iceberg_snapshots(spark, t)) == 1
        got = {(r.id, r.v) for r in read_iceberg(spark, t).collect()}
        assert got == {(9, "c")}
        # idempotent
        assert iceberg_expire_snapshots(spark, t)["expired"] == 0

    def test_iceberg_expire_keeps_shared_files(self, spark, tmp_path):
        """An append chain shares data files across snapshots — files
        reachable from the RETAINED head must survive expiry."""
        from harness_aws_etl_pipeline_spark.sinks.compact import (
            iceberg_expire_snapshots,
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergwrite import (
            write_iceberg,
        )
        from harness_aws_etl_pipeline_spark.sources.icebergread import (
            read_iceberg,
        )

        t = str(tmp_path / "t")
        write_iceberg(spark, spark.range(3).withColumn("v", F.lit("a")), t)
        write_iceberg(
            spark, spark.range(3, 5).withColumn("v", F.lit("b")), t,
            mode="append",
        )
        iceberg_expire_snapshots(spark, t, keep_last=1)
        got = {(r.id, r.v) for r in read_iceberg(spark, t).collect()}
        assert got == {(0, "a"), (1, "a"), (2, "a"), (3, "b"), (4, "b")}

    def test_hudi_clean(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.compact import hudi_clean
        from harness_aws_etl_pipeline_spark.sinks.hudiwrite import (
            hudi_upsert,
        )
        from harness_aws_etl_pipeline_spark.sources.hudiread import (
            read_hudi,
        )

        t = str(tmp_path / "t")
        hudi_upsert(
            spark, spark.createDataFrame([(1, "v1")], "id long, v string"),
            t, key_col="id",
        )
        hudi_upsert(
            spark, spark.createDataFrame([(1, "v2")], "id long, v string"),
            t, key_col="id",
        )
        hudi_compact(spark, t)  # old log-only slice + new base slice
        rep = hudi_clean(spark, t, keep_last=1)
        assert rep["files_removed"] >= 0  # log-only groups have no old base
        got = {(r.id, r.v) for r in read_hudi(spark, t, drop_meta=True).collect()}
        assert got == {(1, "v2")}
        # CoW shape: two slices of one group, clean drops the older
        from tests.test_hudiread import T1, T2, _commit, _props, _slice

        t2 = tmp_path / "t2"
        t2.mkdir()
        _props(t2)
        _commit(t2, T1)
        _commit(t2, T2)
        _slice(spark, t2, "", "g1", T1, [(1, "old")])
        _slice(spark, t2, "", "g1", T2, [(1, "new")])
        rep = hudi_clean(spark, str(t2), keep_last=1)
        assert rep["files_removed"] == 1
        assert {(r.id, r.v) for r in read_hudi(spark, str(t2)).collect()} == {
            (1, "new")
        }


class TestPartitionedOptimize:
    def test_per_partition_binpack(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_snapshot,
            read_delta,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 2) for i in range(40)], "id long, g int"
        ).repartition(6)
        write_delta(spark, df, t, partition_by=["g"])
        snap0 = delta_snapshot(spark, t)
        assert len(snap0["files"]) > 2
        rep = delta_optimize(spark, t)
        assert rep["files_removed"] == len(snap0["files"])
        # one file per partition after the pack
        snap = delta_snapshot(spark, t)
        pvs = [
            tuple((a.get("partitionValues") or {}).items())
            for a in snap["files"].values()
        ]
        assert len(pvs) == 2 and len(set(pvs)) == 2
        got = {(r.id, r.g) for r in read_delta(spark, t).collect()}
        assert got == {(i, i % 2) for i in range(40)}
        # partition pruning semantics survive (typed values recovered)
        assert read_delta(spark, t).where("g = 1").count() == 20

    def test_partitioned_dv_purge(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_snapshot,
            read_delta,
        )

        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 2) for i in range(30)], "id long, g int"
        )
        write_delta(spark, df, t, partition_by=["g"])
        delta_delete_where(spark, t, "g = 0 AND id < 10")
        rep = delta_optimize(spark, t)
        assert rep["dvs_purged"] >= 1
        snap = delta_snapshot(spark, t)
        assert not any(
            (a.get("deletionVector") or {}).get("storageType")
            for a in snap["files"].values()
        )
        got = {(r.id, r.g) for r in read_delta(spark, t).collect()}
        assert got == {
            (i, i % 2) for i in range(30) if not (i % 2 == 0 and i < 10)
        }


class TestZorderOptimizeAndDispatch:
    def test_optimize_zorder_tightens_ranges(self, spark, tmp_path):
        import json as _json

        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_snapshot,
            read_delta,
        )

        t = str(tmp_path / "t")
        # rows shuffled across files → every file spans the full id
        # range; OPTIMIZE ZORDER should give disjoint-ish ranges
        df = (
            spark.range(8000)
            .withColumn("v", F.col("id") % 97)
            .repartition(8)
        )
        write_delta(spark, df, t)
        rep = delta_optimize(
            spark, t, target_file_bytes=16_000, zorder_by=["id"]
        )
        assert rep["files_removed"] == 8 and rep["files_added"] >= 2
        assert read_delta(spark, t).count() == 8000
        # per-file id spans shrink vs the full range (stats audit)
        snap = delta_snapshot(spark, t)
        spans = []
        for add in snap["files"].values():
            st = _json.loads(add["stats"])
            spans.append(st["maxValues"]["id"] - st["minValues"]["id"])
        assert max(spans) < 8000 * 0.8

    def test_compact_lake_dispatch(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.compact import (
            compact_lake,
        )
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            write_delta,
        )
        from harness_aws_etl_pipeline_spark.sinks.hudiwrite import (
            hudi_upsert,
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergwrite import (
            write_iceberg,
        )

        d = str(tmp_path / "d")
        write_delta(spark, spark.range(30).repartition(3), d)
        rep = compact_lake(spark, d)
        assert rep["format"] == "delta" and rep["files_removed"] == 3

        i = str(tmp_path / "i")
        write_iceberg(spark, spark.range(5).withColumn("v", F.lit("a")), i)
        rep = compact_lake(spark, i)
        assert rep["format"] == "iceberg"

        h = str(tmp_path / "h")
        hudi_upsert(
            spark, spark.createDataFrame([(1, "a")], "id long, v string"),
            h, key_col="id",
        )
        rep = compact_lake(spark, h)
        assert rep["format"] == "hudi" and rep["groups_compacted"] == 1

        p = str(tmp_path / "p")
        spark.range(10).repartition(4).write.parquet(p)
        rep = compact_lake(spark, p, files_per_partition=1)
        assert rep["format"] == "parquet" and rep["parquet_files"] == 1


class TestMappedOptimize:
    """Round 13: delta_optimize on column-mapped tables — reads
    through the mapped plan, stages back through the physical layout
    (the old loud reject is gone)."""

    def test_name_mapped_with_dv_purge(self, spark, tmp_path):
        from tests.test_deltadml import TestColumnMappedDml

        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            read_delta,
        )

        t = TestColumnMappedDml()._name_mapped_table(spark, tmp_path)
        delta_delete_where(spark, t, "id = 5")
        rep = delta_optimize(spark, t, target_file_bytes=1 << 20)
        assert rep["dvs_purged"] == 1 and rep["files_added"] >= 1
        assert sorted(
            (r.id, r.v) for r in read_delta(spark, t).collect()
        ) == [(i, f"v{i}") for i in range(5)]

    def test_partitioned_name_mapped(self, spark, tmp_path):
        from tests.test_deltadml import TestColumnMappedDml

        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_merge,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            read_delta,
        )

        t = TestColumnMappedDml()._name_mapped_table(
            spark, tmp_path, partition=True
        )
        delta_merge(
            spark,
            spark.createDataFrame(
                [(9, "nine", 1)], "id long, v string, p int"
            ),
            t,
            keys=["id"],
        )
        rep = delta_optimize(spark, t, target_file_bytes=1 << 20)
        assert rep["files_added"] >= 1
        df = read_delta(spark, t)
        assert df.count() == 7
        assert df.filter("p = 1").count() == 4
        # the rewritten adds carry PHYSICAL partitionValues keys
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_snapshot,
        )

        snap = delta_snapshot(spark, t)
        assert all(
            set(a.get("partitionValues") or {}) == {"col-pp"}
            for a in snap["files"].values()
        )

    def test_nested_id_mapped(self, spark, tmp_path):
        from tests.test_deltadml import TestNestedIdMappedDml

        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            read_delta,
        )

        t = TestNestedIdMappedDml()._nested_id_table(spark, tmp_path)
        rep = delta_optimize(spark, t, target_file_bytes=1 << 20)
        # single file -> nothing to bin unless DVs; force via zorder
        rep = delta_optimize(
            spark, t, target_file_bytes=1 << 20, zorder_by=["id"]
        )
        assert rep["files_added"] >= 1
        assert sorted(
            (r.id, r.s["a"], r.s["b"])
            for r in read_delta(spark, t).collect()
        ) == [(i, i * 10, f"v{i}") for i in range(4)]
