"""Delta as a Structured Streaming SOURCE (sources/lakestream.py):
Spark 4 Python DataSource with log versions as offsets — batch
boundaries, checkpoint resume without duplicates, partitioned tables,
append-only and deletion-vector guards, startingVersion."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.sinks.deltawrite import write_delta
from harness_aws_etl_pipeline_spark.sources.lakestream import (
    register_lake_streams,
)


def _drain(df, out, cp):
    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


class TestDeltaStreamSource:
    def test_stream_then_resume_exactly_once(self, spark, tmp_path):
        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(spark, spark.range(5).withColumn("v", F.lit("a")), t)
        write_delta(
            spark, spark.range(5, 8).withColumn("v", F.lit("b")), t,
            mode="append",
        )
        df = spark.readStream.format("delta_nojar").option("path", t).load()
        _drain(df, out, cp)
        got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
        assert got == [(i, "a") for i in range(5)] + [
            (i, "b") for i in range(5, 8)
        ]
        # new commit, SAME checkpoint: only the delta arrives, no dups
        write_delta(
            spark, spark.range(8, 10).withColumn("v", F.lit("c")), t,
            mode="append",
        )
        _drain(df, out, cp)
        got = sorted((r.id, r.v) for r in spark.read.parquet(out).collect())
        assert len(got) == 10 and (9, "c") in got
        assert len(got) == len(set(got))

    def test_partitioned_values_typed(self, spark, tmp_path):
        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        df0 = spark.createDataFrame(
            [(i, i % 2) for i in range(6)], "id long, g int"
        )
        write_delta(spark, df0, t, partition_by=["g"])
        df = spark.readStream.format("delta_nojar").option("path", t).load()
        _drain(df, out, cp)
        back = spark.read.parquet(out)
        assert dict(back.dtypes)["g"] == "int"
        assert {(r.id, r.g) for r in back.collect()} == {
            (i, i % 2) for i in range(6)
        }

    def test_starting_version_skips_history(self, spark, tmp_path):
        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(spark, spark.range(3).withColumn("v", F.lit("old")), t)
        write_delta(
            spark, spark.range(3, 5).withColumn("v", F.lit("new")), t,
            mode="append",
        )
        df = (
            spark.readStream.format("delta_nojar")
            .option("path", t)
            .option("startingVersion", 0)  # emit commits AFTER v0
            .load()
        )
        _drain(df, out, cp)
        got = {(r.id, r.v) for r in spark.read.parquet(out).collect()}
        assert got == {(3, "new"), (4, "new")}

    def test_remove_in_window_rejected(self, spark, tmp_path):
        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(spark, spark.range(4).withColumn("v", F.lit("a")), t)
        write_delta(
            spark, spark.range(9, 10).withColumn("v", F.lit("b")), t,
            mode="overwrite",
        )
        df = spark.readStream.format("delta_nojar").option("path", t).load()
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with pytest.raises(StreamingQueryException, match="remove"):
            q.awaitTermination(120)

    def test_dv_add_in_window_rejected(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )

        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(spark, spark.range(6).withColumn("v", F.lit("a")), t)
        delta_delete_where(spark, t, "id = 2")
        df = spark.readStream.format("delta_nojar").option("path", t).load()
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        from pyspark.errors.exceptions.captured import StreamingQueryException

        with pytest.raises(StreamingQueryException, match="remove|vector"):
            q.awaitTermination(120)

    def test_roundtrip_with_stream_to_delta(self, spark, tmp_path):
        """Source and sink compose: delta → stream → delta, both
        no-jar, exactly-once on both ends."""
        from harness_aws_etl_pipeline_spark.sinks.deltawrite import (
            stream_to_delta,
        )
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            read_delta,
        )

        register_lake_streams(spark)
        src, dst, cp = (
            str(tmp_path / "src"), str(tmp_path / "dst"), str(tmp_path / "cp")
        )
        write_delta(spark, spark.range(7).withColumn("v", F.lit("x")), src)
        df = spark.readStream.format("delta_nojar").option("path", src).load()
        q = stream_to_delta(df, dst, app_id="relay", checkpoint_location=cp)
        q.start().awaitTermination(120)
        assert read_delta(spark, dst).count() == 7
        # second drain with no new source commits writes nothing new
        q = stream_to_delta(df, dst, app_id="relay", checkpoint_location=cp)
        q.start().awaitTermination(120)
        assert read_delta(spark, dst).count() == 7

    def test_checkpoint_folded_commits_raise(self, spark, tmp_path):
        """Commits folded into a checkpoint and log-cleaned have no JSON
        adds to replay: the stream raises, naming the first missing
        version, instead of emitting fewer rows than the snapshot."""
        import os

        from pyspark.errors.exceptions.captured import StreamingQueryException

        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            read_delta,
        )

        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        for i in range(4):
            write_delta(
                spark,
                spark.range(3 * i, 3 * i + 3).withColumn("v", F.lit(i)),
                t,
                checkpoint_interval=2,
            )
        for v in (0, 1):  # a foreign writer's log cleanup
            os.remove(os.path.join(t, "_delta_log", f"{v:020d}.json"))
        assert read_delta(spark, t).count() == 12
        df = spark.readStream.format("delta_nojar").option("path", t).load()
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        with pytest.raises(StreamingQueryException, match="commit 0 is"):
            q.awaitTermination(120)


class TestChangeFeedStream:
    """Round 12: readChangeFeed=true — streaming CDC consumption of
    cdc actions + insert-labeled appends."""

    def test_cdf_stream_and_resume(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.compact import (
            delta_optimize,
        )
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )

        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(
            spark,
            spark.createDataFrame(
                [(i, "a") for i in range(4)], "id long, v string"
            ),
            t,
        )
        delta_delete_where(spark, t, "id = 2", change_data=True)
        df = (
            spark.readStream.format("delta_nojar")
            .option("path", t)
            .option("readChangeFeed", "true")
            .load()
        )
        assert "_change_type" in df.columns
        _drain(df, out, cp)
        got = {
            (r.id, r.v, r._change_type, r._commit_version)
            for r in spark.read.parquet(out).collect()
        }
        assert got == {(i, "a", "insert", 0) for i in range(4)} | {
            (2, "a", "delete", 1)
        }
        # OPTIMIZE contributes nothing; a fresh append surfaces as
        # inserts at its commit version — exactly once across drains
        delta_optimize(spark, t, small_file_bytes=1 << 30)
        write_delta(
            spark,
            spark.createDataFrame([(9, "b")], "id long, v string"),
            t,
            mode="append",
        )
        _drain(df, out, cp)
        rows = spark.read.parquet(out).collect()
        assert len(rows) == 6 and len(set(map(tuple, rows))) == 6
        assert (9, "b", "insert", 3) in {
            (r.id, r.v, r._change_type, r._commit_version) for r in rows
        }

    def test_cdf_stream_partitioned(self, spark, tmp_path):
        """The cdc file carries the partition column inline; the stream
        still yields the typed partition value on every change row."""
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )

        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(
            spark,
            spark.createDataFrame(
                [(i, i % 2) for i in range(6)], "id long, g int"
            ),
            t,
            partition_by=["g"],
        )
        delta_delete_where(spark, t, "id = 3", change_data=True)
        df = (
            spark.readStream.format("delta_nojar")
            .option("path", t)
            .option("readChangeFeed", "true")
            .load()
        )
        _drain(df, out, cp)
        back = spark.read.parquet(out)
        assert dict(back.dtypes)["g"] == "int"
        got = [
            (r.id, r.g, r._change_type, r._commit_version)
            for r in back.collect()
        ]
        assert sorted(got) == sorted(
            [(i, i % 2, "insert", 0) for i in range(6)]
            + [(3, 1, "delete", 1)]
        )

    def test_cdf_merge_labels_stream_through(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_merge,
        )

        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(
            spark,
            spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"),
            t,
        )
        delta_merge(
            spark,
            spark.createDataFrame(
                [(2, "b2"), (7, "n")], "id long, v string"
            ),
            t,
            keys=["id"],
            change_data=True,
        )
        df = (
            spark.readStream.format("delta_nojar")
            .option("path", t)
            .option("readChangeFeed", "true")
            .load()
        )
        _drain(df, out, cp)
        got = {
            (r.id, r.v, r._change_type)
            for r in spark.read.parquet(out).collect()
        }
        assert got == {
            (1, "a", "insert"),
            (2, "b", "insert"),
            (2, "b", "update_preimage"),
            (2, "b2", "update_postimage"),
            (7, "n", "insert"),
        }

    def test_rewrite_without_cdf_rejected(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_delete_where,
        )

        register_lake_streams(spark)
        t, out, cp = (
            str(tmp_path / "t"), str(tmp_path / "out"), str(tmp_path / "cp")
        )
        write_delta(
            spark,
            spark.createDataFrame([(1, "a")], "id long, v string"),
            t,
        )
        delta_delete_where(spark, t, "id = 1", change_data=False)
        df = (
            spark.readStream.format("delta_nojar")
            .option("path", t)
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
        from pyspark.errors.exceptions.captured import (
            StreamingQueryException,
        )

        with pytest.raises(StreamingQueryException, match="change data"):
            q.awaitTermination(120)


class TestColumnMappedStream:
    """Round 13: delta_nojar streams column-mapped tables — the Arrow
    reader resolves columns by physical name (name mode) or parquet
    field id (id mode); nested-mapped columns reject loudly."""

    @staticmethod
    def _commitfile(t, v, actions):
        import json as _json
        import pathlib

        log = pathlib.Path(t) / "_delta_log"
        log.mkdir(parents=True, exist_ok=True)
        (log / f"{v:020d}.json").write_text(
            "\n".join(_json.dumps(a) for a in actions) + "\n"
        )

    def _name_mapped(self, spark, tmp_path, cdf=False):
        import glob as _glob
        import json as _json
        import shutil

        t = str(tmp_path / "t")
        schema = _json.dumps({
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": "col-aa"}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "col-bb"}},
            ],
        })
        conf = {"delta.columnMapping.mode": "name"}
        if cdf:
            conf["delta.enableChangeDataFeed"] = "true"
        stage = tmp_path / "stage"
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(4)],
            "`col-aa` long, `col-bb` string",
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        (tmp_path / "t").mkdir(parents=True, exist_ok=True)
        shutil.move(
            _glob.glob(str(stage / "*.parquet"))[0],
            str(tmp_path / "t" / "f0.parquet"),
        )
        self._commitfile(t, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "tbl-cm",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": conf,
            }},
            {"add": {"path": "f0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ])
        return t

    def test_name_mapped_append_stream(self, spark, tmp_path):
        register_lake_streams(spark)
        t = self._name_mapped(spark, tmp_path)
        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        df = (
            spark.readStream.format("delta_nojar").option("path", t).load()
        )
        assert df.columns == ["id", "v"]
        _drain(df, out, cp)
        got = {(r.id, r.v) for r in spark.read.parquet(out).collect()}
        assert got == {(i, f"v{i}") for i in range(4)}

    def test_name_mapped_cdf_stream_of_dml(self, spark, tmp_path):
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_update_where,
        )

        register_lake_streams(spark)
        t = self._name_mapped(spark, tmp_path, cdf=True)
        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        delta_update_where(spark, t, "id = 1", {"v": "'up'"})
        df = (
            spark.readStream.format("delta_nojar")
            .option("path", t)
            .option("readChangeFeed", "true")
            .load()
        )
        _drain(df, out, cp)
        got = {
            (r.id, r.v, r._change_type)
            for r in spark.read.parquet(out).collect()
        }
        assert got == {(i, f"v{i}", "insert") for i in range(4)} | {
            (1, "v1", "update_preimage"),
            (1, "up", "update_postimage"),
        }

    def test_id_mapped_stream(self, spark, tmp_path):
        import glob as _glob
        import json as _json
        import shutil

        from pyspark.sql import types as T

        register_lake_streams(spark)
        t = str(tmp_path / "t")
        schema = _json.dumps({
            "type": "struct",
            "fields": [
                {"name": "id", "type": "long", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 1,
                              "delta.columnMapping.physicalName": "col-aa"}},
                {"name": "v", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "col-bb"}},
            ],
        })
        st = T.StructType([
            T.StructField("col-aa", T.LongType(), True,
                          {"parquet.field.id": 1}),
            T.StructField("col-bb", T.StringType(), True,
                          {"parquet.field.id": 2}),
        ])
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        stage = tmp_path / "stage"
        spark.createDataFrame([(1, "a"), (2, "b")], st).coalesce(
            1
        ).write.mode("overwrite").parquet(str(stage))
        (tmp_path / "t").mkdir(parents=True, exist_ok=True)
        shutil.move(
            _glob.glob(str(stage / "*.parquet"))[0],
            str(tmp_path / "t" / "f0.parquet"),
        )
        self._commitfile(t, 0, [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {"metaData": {
                "id": "tbl-id",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema,
                "partitionColumns": [],
                "configuration": {"delta.columnMapping.mode": "id"},
            }},
            {"add": {"path": "f0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0,
                     "dataChange": True}},
        ])
        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        df = (
            spark.readStream.format("delta_nojar").option("path", t).load()
        )
        _drain(df, out, cp)
        got = {(r.id, r.v) for r in spark.read.parquet(out).collect()}
        assert got == {(1, "a"), (2, "b")}
