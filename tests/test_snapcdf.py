"""Round 13: CHANGE DATA FEED from SnapTable bulk rewrites — the DML
bulk guards in ``sinks/deltadml`` redirect to SnapTable
``delete_where``/``update_where``/``merge``; with
``delta.enableChangeDataFeed`` set those commits now emit
``_change_data/`` files that ``export_delta_log`` surfaces as ``cdc``
actions, so ``delta_changes(cdf=True)`` and ``delta_nojar``
``readChangeFeed`` consumers are no longer stranded by rewrites."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.sinks.deltaexport import (
    export_delta_log,
)
from harness_aws_etl_pipeline_spark.sinks.snaptable import SnapTable
from harness_aws_etl_pipeline_spark.sources.deltaread import delta_changes


@pytest.fixture
def table(spark, tmp_path):
    return SnapTable(spark, str(tmp_path / "t"))


def _cdf_rows(spark, path, since=0):
    return {
        tuple(r)
        for r in delta_changes(spark, path, since, cdf=True)
        .select("id", "v", "_change_type", "_commit_version")
        .collect()
    }


class TestChangeDataEmission:
    def test_delete_where_emits_and_exports(self, spark, table):
        table.write(
            spark.createDataFrame(
                [(i, "a") for i in range(6)], "id long, v string"
            ),
            mode="overwrite",
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        rep = table.delete_where("id >= 4")
        assert rep["files_rewritten"] >= 1
        m = table.manifest(rep["version"])
        assert m.get("cdc"), "delete commit carries no change data"
        export_delta_log(spark, table.path)
        # since_version=0 is EXCLUSIVE: the window is (0, hi]
        got = _cdf_rows(spark, table.path)
        assert got == {
            (4, "a", "delete", 2),
            (5, "a", "delete", 2),
        }
        # the table itself still reads correctly
        assert {r.id for r in table.read().collect()} == {0, 1, 2, 3}

    def test_update_where_pre_and_post_images(self, spark, table):
        table.write(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, v string"
            ),
            mode="overwrite",
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        table.update_where({"v": F.concat(F.col("v"), F.lit("-up"))}, "id = 2")
        export_delta_log(spark, table.path)
        got = _cdf_rows(spark, table.path)
        assert got == {
            (2, "b", "update_preimage", 2),
            (2, "b-up", "update_postimage", 2),
        }

    def test_merge_update_and_insert_labels(self, spark, table):
        table.write(
            spark.createDataFrame(
                [(1, "a"), (2, "b")], "id long, v string"
            ),
            mode="overwrite",
            cluster_by=["id"],
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        table.merge(
            spark.createDataFrame(
                [(2, "B"), (9, "n")], "id long, v string"
            ),
            key_cols=["id"],
        )
        export_delta_log(spark, table.path)
        got = _cdf_rows(spark, table.path)
        assert got == {
            (2, "b", "update_preimage", 2),
            (2, "B", "update_postimage", 2),
            (9, "n", "insert", 2),
        }
        assert {(r.id, r.v) for r in table.read().collect()} == {
            (1, "a"),
            (2, "B"),
            (9, "n"),
        }

    def test_merge_no_hit_is_pure_insert(self, spark, table):
        table.write(
            spark.createDataFrame([(1, "a")], "id long, v string"),
            mode="overwrite",
            cluster_by=["id"],
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        rep = table.merge(
            spark.createDataFrame([(7, "n")], "id long, v string"),
            key_cols=["id"],
        )
        m = table.manifest(rep["version"])
        cdc = m.get("cdc") or []
        assert cdc
        export_delta_log(spark, table.path)
        got = _cdf_rows(spark, table.path)
        assert (7, "n", "insert", 2) in got

    def test_without_property_rewrites_still_reject(self, spark, table):
        table.write(
            spark.createDataFrame(
                [(i, "a") for i in range(4)], "id long, v string"
            ),
            mode="overwrite",
        )
        table.delete_where("id = 0")
        assert not table.manifest(
            table.current_version()
        ).get("cdc")
        export_delta_log(spark, table.path)
        with pytest.raises(ValueError, match="without change"):
            delta_changes(spark, table.path, 0, cdf=True).collect()

    def test_properties_carry_forward_and_unset(self, spark, table):
        table.write(spark.range(3), mode="overwrite")
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        table.write(spark.range(3, 5), mode="append")
        assert table.properties() == {
            "delta.enableChangeDataFeed": "true"
        }
        table.set_properties({"delta.enableChangeDataFeed": None})
        assert table.properties() == {}
        # delete after unsetting emits nothing
        rep = table.delete_where("id = 0")
        assert not table.manifest(rep["version"]).get("cdc")


class TestCdcHygiene:
    def test_vacuum_keeps_referenced_collects_orphans(
        self, spark, table
    ):
        table.write(
            spark.createDataFrame(
                [(i, "a") for i in range(4)], "id long, v string"
            ),
            mode="overwrite",
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        table.delete_where("id = 1")
        # orphan: a change dir no manifest references (lost race twin)
        table._write_change_files(
            spark.createDataFrame(
                [(99, "x", "delete")],
                "id long, v string, _change_type string",
            )
        )
        out = table.vacuum(min_age_seconds=0)
        assert len(out["removed"]) == 1
        assert out["removed"][0].startswith("_change_data/")
        # the referenced change file survives → CDF still replays
        export_delta_log(spark, table.path)
        got = _cdf_rows(spark, table.path)
        assert (1, "a", "delete", 2) in got

    def test_expire_then_vacuum_collects_old_cdc(self, spark, table):
        table.write(spark.range(4).withColumn("v", F.lit("a")),
                    mode="overwrite")
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        table.delete_where("id = 0")
        table.write(spark.range(9, 10).withColumn("v", F.lit("b")),
                    mode="overwrite")
        table.expire_snapshots(keep_last=1)
        removed = table.vacuum(min_age_seconds=0)["removed"]
        assert any(p.startswith("_change_data/") for p in removed)
        assert table.read().count() == 1


class TestChangeFeedStreamFromExport:
    def test_readChangeFeed_consumes_snaptable_rewrites(
        self, spark, tmp_path
    ):
        from harness_aws_etl_pipeline_spark.sources.lakestream import (
            register_lake_streams,
        )

        register_lake_streams(spark)
        table = SnapTable(spark, str(tmp_path / "t"))
        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        table.write(
            spark.createDataFrame(
                [(i, "a") for i in range(3)], "id long, v string"
            ),
            mode="overwrite",
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        table.update_where({"v": F.lit("up")}, "id = 1")
        export_delta_log(spark, table.path)
        df = (
            spark.readStream.format("delta_nojar")
            .option("path", table.path)
            .option("readChangeFeed", "true")
            .load()
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r.id, r.v, r._change_type)
            for r in spark.read.parquet(out).collect()
        }
        assert got == {(i, "a", "insert") for i in range(3)} | {
            (1, "a", "update_preimage"),
            (1, "up", "update_postimage"),
        }


class TestNativeChangeRows:
    """read_changes(change_rows=True): native CDF consumption without
    the Delta export hop, plus the lake_changes one-call dispatch."""

    def test_dml_and_append_change_rows(self, spark, table):
        table.write(
            spark.createDataFrame(
                [(i, "a") for i in range(4)], "id long, v string"
            ),
            mode="overwrite",
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        base = table.current_version()
        table.delete_where("id = 3")
        table.write(
            spark.createDataFrame([(7, "n")], "id long, v string"),
            mode="append",
        )
        table.merge(
            spark.createDataFrame(
                [(0, "up"), (9, "new")], "id long, v string"
            ),
            key_cols=["id"],
        )
        got = {
            tuple(r)
            for r in table.read_changes(base, change_rows=True)
            .select("id", "v", "_change_type")
            .collect()
        }
        assert got == {
            (3, "a", "delete"),
            (7, "n", "insert"),
            (0, "a", "update_preimage"),
            (0, "up", "update_postimage"),
            (9, "new", "insert"),
        }
        # versions label each commit distinctly
        vs = {
            r["_commit_version"]
            for r in table.read_changes(base, change_rows=True).collect()
        }
        assert len(vs) == 3

    def test_rewrite_without_cdf_rejects(self, spark, table):
        table.write(
            spark.createDataFrame(
                [(i, "a") for i in range(4)], "id long, v string"
            ),
            mode="overwrite",
        )
        base = table.current_version()
        table.delete_where("id = 0")
        with pytest.raises(ValueError, match="change data"):
            table.read_changes(base, change_rows=True)

    def test_compaction_contributes_nothing(self, spark, table):
        table.write(
            spark.createDataFrame([(1, "a")], "id long, v string"),
            mode="overwrite",
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        base = table.current_version()
        table.write(
            spark.createDataFrame([(2, "b")], "id long, v string"),
            mode="append",
        )
        table.compact()
        got = {
            (r.id, r._change_type)
            for r in table.read_changes(base, change_rows=True).collect()
        }
        assert got == {(2, "insert")}

    def test_lake_changes_dispatch(self, spark, table, tmp_path):
        from harness_aws_etl_pipeline_spark.sources.lakeread import (
            lake_changes,
        )

        table.write(
            spark.createDataFrame([(1, "a")], "id long, v string"),
            mode="overwrite",
        )
        table.set_properties({"delta.enableChangeDataFeed": "true"})
        base = table.current_version()
        table.delete_where("id = 1")
        got = {
            (r.id, r._change_type)
            for r in lake_changes(
                spark, table.path, base, change_rows=True
            ).collect()
        }
        assert got == {(1, "delete")}
        # non-log layouts reject loudly
        pq = str(tmp_path / "pq")
        spark.range(3).write.parquet(pq)
        with pytest.raises(ValueError, match="change-capture"):
            lake_changes(spark, pq, 0)

    def test_lake_changes_iceberg_and_hudi(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.hudiwrite import (
            hudi_upsert,
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergwrite import (
            write_iceberg,
        )
        from harness_aws_etl_pipeline_spark.sources.icebergread import (
            iceberg_snapshots,
        )
        from harness_aws_etl_pipeline_spark.sources.lakeread import (
            lake_changes,
        )

        it = str(tmp_path / "it")
        write_iceberg(
            spark,
            spark.createDataFrame([(1, "a")], "id long, v string"),
            it,
        )
        s0 = iceberg_snapshots(spark, it)[-1]["snapshot_id"]
        write_iceberg(
            spark,
            spark.createDataFrame([(2, "b")], "id long, v string"),
            it,
            mode="append",
        )
        assert {
            (r.id, r._change_type)
            for r in lake_changes(
                spark, it, s0, change_rows=True
            ).collect()
        } == {(2, "insert")}

        ht = str(tmp_path / "ht")
        r1 = hudi_upsert(
            spark,
            spark.createDataFrame([(1, "a")], "id long, v string"),
            ht,
            key_col="id",
        )
        hudi_upsert(
            spark,
            spark.createDataFrame([(1, "A2")], "id long, v string"),
            ht,
            key_col="id",
        )
        assert {
            (r.id, r.v, r._change_type)
            for r in lake_changes(
                spark, ht, r1["instant"], change_rows=True
            ).collect()
        } == {(1, "A2", "upsert")}
