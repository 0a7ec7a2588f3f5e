"""The Arrow conformer shared by the lake streaming sources
(sources/lakestream.py): column precedence and Delta column mapping,
pinned on in-memory tables (the stream tests cannot make a file
column and a partition literal disagree)."""

from __future__ import annotations

import pyarrow as pa

from harness_aws_etl_pipeline_spark.sources.lakestream import _conform

TARGET = pa.schema([
    ("id", pa.int64()),
    ("g", pa.int32()),
    ("missing", pa.string()),
    ("_change_type", pa.string()),
    ("_commit_version", pa.int64()),
])


def test_change_constant_then_file_then_partition_then_null():
    tbl = pa.table({
        "id": pa.array([1, 2], pa.int32()),
        "g": pa.array([7, 7], pa.int64()),
        "_change_type": ["delete", "delete"],
        "_commit_version": pa.array([99, 99], pa.int64()),
    })
    out = _conform(tbl, TARGET, ("insert", 3), {"g": 5, "missing": "p"})
    assert out.schema == TARGET
    assert out.to_pylist() == [
        {"id": i, "g": 7, "missing": "p", "_change_type": "insert",
         "_commit_version": 3}
        for i in (1, 2)
    ]
    # a None change type leaves _change_type to the file (Delta cdc)
    out = _conform(tbl, TARGET, (None, 3), {"g": 5})
    assert out.column("_change_type").to_pylist() == ["delete", "delete"]
    assert out.column("_commit_version").to_pylist() == [3, 3]
    assert out.column("missing").to_pylist() == [None, None]


def test_column_mapping_by_physical_name_and_field_id():
    target = pa.schema([("id", pa.int64()), ("v", pa.string())])
    by_name = pa.table({"col-a": [1], "v": ["own"], "col-b": ["phys"]})
    out = _conform(by_name, target, colmap={"id": "col-a", "v": "col-b"})
    assert out.to_pylist() == [{"id": 1, "v": "phys"}]

    ids = pa.schema([
        pa.field("x", pa.int64(), metadata={"PARQUET:field_id": "1"}),
        pa.field("y", pa.string(), metadata={"PARQUET:field_id": "2"}),
    ])
    by_id = pa.table({"x": [4], "y": ["w"]}, schema=ids)
    out = _conform(by_id, target, colmap={"id": 1, "v": 2}, cm_mode="id")
    assert out.to_pylist() == [{"id": 4, "v": "w"}]
