"""Read Delta Lake tables WITHOUT the Delta jar — protocol-level
interop for the commonest ask: "my existing lake is Delta; can this
engine read it?"

The Delta transaction protocol is an open spec
(github.com/delta-io/delta PROTOCOL.md): a table is parquet data
files plus ``_delta_log/`` — ordered JSON commits of ``add`` /
``remove`` / ``metaData`` / ``protocol`` actions, periodically
compacted into parquet ``*.checkpoint.parquet`` files referenced by
``_LAST_CHECKPOINT``. Reconstructing a snapshot is a pure metadata
fold: start from the newest checkpoint at or below the requested
version, replay later commits, keep the last action per file path.

Scope (honest): reader protocol 1 features — plain and
partition-layout tables, snapshot-by-version time travel, partition
values recovered from ``add.partitionValues`` (typed via the table
schema), stats passthrough — PLUS the two protocol ≥ 2 features that
change data interpretation on default-config modern tables (round
10): DELETION VECTORS (storageType ``i``/``u``/``p``; 64-bit roaring
decode in ``sources/dvcodec.py``, applied as an anti-join on
``(file, _metadata.row_index)``) and COLUMN MAPPING — name mode
(physical parquet names from the schema's
``delta.columnMapping.physicalName`` metadata, logical names
restored after the scan) and, round 11, ID mode: the read schema
carries ``parquet.field.id`` metadata from
``delta.columnMapping.id`` (recursively, nested fields included) and
Spark's parquet reader resolves columns by field id natively —
renames and drop/re-add cycles read correctly from old and new
files alike. Still rejected loudly: NAME-mode mapping on nested
fields, and any reader feature outside
{columnMapping, deletionVectors} — detected, never silently misread.

Scale shape: the log fold is driver-side over manifest-sized JSON
(exactly what every Delta client does); data reading is a stock
``spark.read.parquet`` over the live files — pushdown, pruning and
vectorization all intact. Partition columns are reattached as
literal columns per file group (one union of per-partition reads —
Delta's physical layout omits them from the parquet files).
"""

from __future__ import annotations

import json
import posixpath

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

__all__ = [
    "delta_changes",
    "delta_history",
    "delta_snapshot",
    "delta_version_at",
    "read_delta",
]

_LOG = "_delta_log"

#: reader protocol ≥ 3 features this reader implements; anything else
#: in ``readerFeatures`` is rejected loudly (minReaderVersion == 2 ==
#: legacy column-mapping protocol, also covered)
_SUPPORTED_READER_FEATURES = {"columnMapping", "deletionVectors"}


def _load_dv(fs, base: str, dv: dict) -> list[int]:
    """Deleted row indexes of one add action's ``deletionVector``
    descriptor (PROTOCOL.md): inline z85 (``i``), UUID-addressed
    ``.bin`` file (``u`` — last 20 chars are the z85 UUID, anything
    before is the random directory prefix), or absolute path (``p``).
    Cardinality is cross-checked against the log's claim."""
    import uuid as _uuid

    from harness_aws_etl_pipeline_spark.sources.dvcodec import (
        decode_dv_blob,
        read_dv_from_file_bytes,
        z85_decode,
    )

    st = dv.get("storageType")
    if st == "i":
        idx = decode_dv_blob(z85_decode(dv["pathOrInlineDv"]))
    elif st == "u":
        enc = dv["pathOrInlineDv"]
        if len(enc) < 20:
            raise ValueError(f"bad deletion vector descriptor {enc!r}")
        u = _uuid.UUID(bytes=z85_decode(enc[-20:]))
        prefix = enc[:-20]
        rel = f"deletion_vector_{u}.bin"
        pth = posixpath.join(base, prefix, rel) if prefix else posixpath.join(base, rel)
        idx = read_dv_from_file_bytes(
            fs.read_bytes(pth), int(dv.get("offset") or 0),
            int(dv["sizeInBytes"]),
        )
    elif st == "p":
        idx = read_dv_from_file_bytes(
            fs.read_bytes(dv["pathOrInlineDv"]),
            int(dv.get("offset") or 0),
            int(dv["sizeInBytes"]),
        )
    else:
        raise ValueError(f"unknown deletion vector storageType {st!r}")
    card = dv.get("cardinality")
    if card is not None and int(card) != len(idx):
        raise ValueError(
            f"deletion vector cardinality mismatch: log says {card}, "
            f"decoded {len(idx)}"
        )
    return idx


def _commit_files(fs, log_dir: str) -> dict[int, str]:
    out: dict[int, str] = {}
    for rel, _mtime, _size in fs.list_files(log_dir):
        name = posixpath.basename(rel)
        if name.endswith(".json") and name[:-5].isdigit():
            out[int(name[:-5])] = posixpath.join(log_dir, name)
    return out


def _checkpoints(fs, log_dir: str) -> dict[int, list[str]]:
    """version → checkpoint parquet part paths (single- and
    multi-part ``N.checkpoint.M.P.parquet`` layouts)."""
    out: dict[int, list[str]] = {}
    for rel, _mtime, _size in fs.list_files(log_dir):
        name = posixpath.basename(rel)
        if ".checkpoint" in name and name.endswith(".parquet"):
            ver = name.split(".", 1)[0]
            if ver.isdigit():
                out.setdefault(int(ver), []).append(
                    posixpath.join(log_dir, name)
                )
    return out


def delta_snapshot(
    spark: SparkSession | None, path: str, version: int | None = None
) -> dict:
    """Fold the log into a snapshot dict: ``{"version", "files":
    {path: add-action}, "schema" (StructType), "partition_columns",
    "protocol"}``. Works without a session (``spark=None``, local
    paths): the checkpoint replay falls back to pyarrow — this is
    what lets the Python-DataSource stream reader plan offsets inside
    a JVM-less worker."""
    base = path.rstrip("/")
    fs = get_fs(base, spark)
    log_dir = posixpath.join(base, _LOG)
    commits = _commit_files(fs, log_dir)
    if not commits and not _checkpoints(fs, log_dir):
        raise ValueError(f"not a Delta table (no {_LOG} commits): {path}")
    latest = max(commits) if commits else max(_checkpoints(fs, log_dir))
    target = latest if version is None else int(version)
    if target > latest or target < 0:
        raise ValueError(
            f"version {target} out of range (latest is {latest})"
        )

    files: dict[int, dict] = {}
    meta: dict | None = None
    protocol: dict | None = None
    txns: dict[str, int] = {}
    start = 0

    cps = _checkpoints(fs, log_dir)
    usable = [v for v in cps if v <= target]
    actions_from_checkpoint = []
    if usable:
        cp_ver = max(usable)
        wanted = ("add", "remove", "metaData", "protocol", "txn")
        if spark is not None and getattr(spark, "_jvm", None) is not None:
            cp = spark.read.parquet(*cps[cp_ver])
            cols = set(cp.columns)
            rows = cp.select(*[c for c in wanted if c in cols]).collect()
            for r in rows:
                actions_from_checkpoint.append(r.asDict(recursive=True))
        else:
            # no JVM — e.g. inside a Python DataSource worker
            # (sources/lakestream.py): checkpoint parquet via pyarrow
            import pyarrow.parquet as pq

            def _fix(d):
                # pyarrow maps decode as [(k, v)] pairs; the Spark
                # path (and every consumer) expects dicts
                if isinstance(d, list) and all(
                    isinstance(x, tuple) and len(x) == 2 for x in d
                ):
                    return dict(d)
                if isinstance(d, dict):
                    return {k: _fix(v) for k, v in d.items()}
                return d

            for p in cps[cp_ver]:
                tbl = pq.read_table(p.removeprefix("file:"))
                cols = [c for c in wanted if c in tbl.column_names]
                for d in tbl.select(cols).to_pylist():
                    actions_from_checkpoint.append(_fix(d))
        start = cp_ver + 1

    def _apply(action: dict) -> None:
        nonlocal meta, protocol
        if action.get("metaData"):
            meta = action["metaData"]
        if action.get("protocol"):
            protocol = action["protocol"]
        add = action.get("add")
        if add and add.get("path"):
            files[add["path"]] = add
        rem = action.get("remove")
        if rem and rem.get("path"):
            files.pop(rem["path"], None)
        tx = action.get("txn")
        if tx and tx.get("appId") is not None:
            txns[tx["appId"]] = max(
                int(tx.get("version") or 0), txns.get(tx["appId"], -1)
            )

    for a in actions_from_checkpoint:
        _apply(a)
    for v in range(start, target + 1):
        p = commits.get(v)
        if p is None:
            raise ValueError(f"Delta log is missing commit version {v}")
        for line in fs.read_bytes(p).decode("utf-8").splitlines():
            line = line.strip()
            if line:
                _apply(json.loads(line))

    if meta is None:
        raise ValueError("Delta log never defined table metadata")
    if protocol:
        mrv = int(protocol.get("minReaderVersion", 1))
        feats = set(protocol.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if mrv > 3 or (mrv == 3 and unsupported):
            raise ValueError(
                "Delta reader protocol "
                f"{mrv} (features {sorted(feats)}) requires "
                f"{sorted(unsupported) or 'a newer reader'} support "
                "this reader does not provide"
            )
    schema_json = meta.get("schemaString")
    schema = (
        StructType.fromJson(json.loads(schema_json)) if schema_json else None
    )
    config = meta.get("configuration") or {}
    cm_mode = (config.get("delta.columnMapping.mode") or "none").lower()
    if cm_mode not in ("none", "name", "id"):
        raise ValueError(
            f"Delta column mapping mode {cm_mode!r} is not supported "
            "by this reader; 'name' and 'id' mapping are"
        )
    physical: dict[str, str] = {}
    if cm_mode in ("name", "id") and schema is not None:
        for f in schema.fields:
            md = f.metadata or {}
            pn = md.get("delta.columnMapping.physicalName")
            if pn:
                physical[f.name] = pn
            if cm_mode == "name":
                # round 12: ONE nested struct level restores by name
                # (mirroring the id-mode recursion); anything deeper —
                # struct-in-struct, arrays/maps of structs — still
                # rejects loudly (id mode handles those by field id)
                if isinstance(f.dataType, StructType):
                    deep = [
                        sf.name
                        for sf in f.dataType.fields
                        if _phys_below(sf.dataType)
                    ]
                    if deep:
                        raise ValueError(
                            "Delta NAME-mode column mapping below one "
                            f"nested level (column {f.name!r}, fields "
                            f"{deep}) is not supported by this reader "
                            "(id mode handles deep nesting)"
                        )
                elif _phys_below(f.dataType):
                    raise ValueError(
                        "Delta NAME-mode column mapping inside "
                        f"array/map column {f.name!r} is not supported "
                        "by this reader (id mode handles it)"
                    )
    return {
        "version": target,
        "files": files,
        "schema": schema,
        "partition_columns": list(meta.get("partitionColumns") or []),
        "protocol": protocol or {"minReaderVersion": 1},
        "column_mapping": {"mode": cm_mode, "physical": physical},
        "txns": txns,
        "metadata_id": meta.get("id"),
        "configuration": config,
    }


def _phys_below(dt) -> bool:
    """True when any field at or below ``dt`` carries a
    ``delta.columnMapping.physicalName`` (used to bound the name-mode
    nested-restore to one struct level)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        return any(
            (sf.metadata or {}).get("delta.columnMapping.physicalName")
            or _phys_below(sf.dataType)
            for sf in dt.fields
        )
    if isinstance(dt, ArrayType):
        return _phys_below(dt.elementType)
    if isinstance(dt, MapType):
        return _phys_below(dt.keyType) or _phys_below(dt.valueType)
    return False


def _nested_mapped_ids(dt) -> bool:
    """True when a NESTED field (below the top level) carries a
    ``delta.columnMapping.id`` — the shapes whose fieldId resolution
    nested schema pruning would break."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        return any(
            (sf.metadata or {}).get("delta.columnMapping.id") is not None
            or _nested_mapped_ids(sf.dataType)
            for sf in dt.fields
        )
    if isinstance(dt, ArrayType):
        return _nested_mapped_ids(dt.elementType)
    if isinstance(dt, MapType):
        return _nested_mapped_ids(dt.keyType) or _nested_mapped_ids(
            dt.valueType
        )
    return False


def _field_with_parquet_ids(f: StructField) -> StructField:
    """id-mode column mapping: re-emit the field (recursively) with
    ``parquet.field.id`` metadata from ``delta.columnMapping.id`` so
    Spark's parquet reader resolves it by field id."""
    from pyspark.sql.types import ArrayType, MapType

    md = f.metadata or {}
    cid = md.get("delta.columnMapping.id")
    if cid is None:
        raise ValueError(
            "Delta id-mode column mapping: field "
            f"{f.name!r} carries no delta.columnMapping.id"
        )

    def _t(dt):
        if isinstance(dt, StructType):
            return StructType([_field_with_parquet_ids(x) for x in dt.fields])
        if isinstance(dt, ArrayType):
            return ArrayType(_t(dt.elementType), dt.containsNull)
        if isinstance(dt, MapType):
            return MapType(
                _t(dt.keyType), _t(dt.valueType), dt.valueContainsNull
            )
        return dt

    return StructField(
        f.name, _t(f.dataType), f.nullable, {"parquet.field.id": int(cid)}
    )


def _mapped_read_plan(spark: SparkSession, snap: dict):
    """Column-mapping read machinery shared by the snapshot reader and
    the DML scans (``sinks/deltadml``): returns ``(read_schema,
    rename)`` where ``read_schema`` addresses the files' PHYSICAL
    layout (physical names in name mode; ``parquet.field.id`` metadata
    in id mode — the session conf is set here) and ``rename(df)``
    restores the logical names (one nested struct level in name mode,
    exactly the reader's bound)."""
    schema: StructType = snap["schema"]
    pcols = snap["partition_columns"]
    cm = snap.get("column_mapping") or {}
    phys = cm.get("physical") or {}
    cm_mode = cm.get("mode") or "none"

    def _p(name: str) -> str:
        return phys.get(name, name)

    data_fields = [f for f in schema.fields if f.name not in pcols]
    if cm_mode == "id":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        read_schema = StructType(
            [_field_with_parquet_ids(f) for f in data_fields]
        )
        if any(_nested_mapped_ids(f.dataType) for f in data_fields):
            # Spark's nested schema pruning rebuilds pruned struct
            # types WITHOUT field metadata, so the fieldId parquet
            # reader cannot resolve a pruned nested field and returns
            # NULLs (verified live: select("s.a") nulls while
            # select("s") reads fine). Disable it for the session the
            # moment a nested id-mapped table is scanned — plans are
            # lazy, so a save/restore around planning would be unsafe.
            spark.conf.set(
                "spark.sql.optimizer.nestedSchemaPruning.enabled",
                "false",
            )
        logical_names: list[str] = []
        nested_restore: dict[str, StructField] = {}
    else:

        def _pn(sf: StructField) -> str:
            return (sf.metadata or {}).get(
                "delta.columnMapping.physicalName"
            ) or sf.name

        def _phys_type(dt):
            if isinstance(dt, StructType):
                return StructType(
                    [
                        StructField(_pn(sf), sf.dataType, sf.nullable)
                        for sf in dt.fields
                    ]
                )
            return dt

        read_schema = StructType(
            [
                StructField(_p(f.name), _phys_type(f.dataType), f.nullable)
                for f in data_fields
            ]
        )
        logical_names = [f.name for f in data_fields]
        nested_restore = {
            f.name: f
            for f in data_fields
            if isinstance(f.dataType, StructType)
            and any(_pn(sf) != sf.name for sf in f.dataType.fields)
        }

    def _rename(df: DataFrame) -> DataFrame:
        # nested restore FIRST (addressing the physical top name),
        # then the top-level rename; a null struct stays null rather
        # than becoming a struct of nulls
        for logical, f in nested_restore.items():
            ptop = _p(logical)
            md_of = {
                sf.name: (sf.metadata or {}).get(
                    "delta.columnMapping.physicalName"
                )
                or sf.name
                for sf in f.dataType.fields
            }
            rebuilt = F.struct(
                *[
                    F.col(ptop).getField(md_of[sf.name]).alias(sf.name)
                    for sf in f.dataType.fields
                ]
            )
            df = df.withColumn(
                ptop,
                F.when(
                    F.col(ptop).isNull(),
                    F.lit(None).cast(f.dataType),
                ).otherwise(rebuilt.cast(f.dataType)),
            )
        for logical in logical_names:
            if _p(logical) != logical:
                df = df.withColumnRenamed(_p(logical), logical)
        return df

    return read_schema, _rename


def _read_files_with_partitions(
    spark: SparkSession, base: str, snap: dict
) -> DataFrame:
    """Read ``snap["files"]`` with partition columns reattached as
    typed literals per file group (Delta's physical layout omits them
    from the parquet files).

    Name-mode column mapping: the parquet files carry PHYSICAL column
    names (``delta.columnMapping.physicalName`` metadata) — the scan
    schema uses them and the logical names are restored immediately
    after, so pushdown/pruning run against the physical layout.
    ``add.partitionValues`` keys are physical too.

    Deletion vectors: files without a DV ride the bulk per-partition
    scan untouched (the common fast path). DV'd files are scanned
    with ``_metadata.row_index`` and their decoded indexes (driver-
    side, DV blobs are manifest-sized) are removed by ONE anti-join
    on ``(file key, row_index)`` across all DV'd files — no
    per-file plan explosion, no Python row filtering."""
    from urllib.parse import unquote

    schema: StructType = snap["schema"]
    pcols = snap["partition_columns"]
    cm = snap.get("column_mapping") or {}
    phys = cm.get("physical") or {}

    def _p(name: str) -> str:
        return phys.get(name, name)

    read_schema, _rename = _mapped_read_plan(spark, snap)
    ptypes = {f.name: f.dataType for f in schema.fields if f.name in pcols}

    if not snap["files"]:
        return spark.createDataFrame([], schema)

    fs = get_fs(base, spark)
    plain_groups: dict[tuple, list[str]] = {}
    dv_reads: list[tuple[str, tuple, str]] = []  # (key, pkey, abs path)
    removed: list[tuple[str, int]] = []
    for p, add in snap["files"].items():
        pv = add.get("partitionValues") or {}
        pkey = tuple(pv.get(_p(c)) for c in pcols)
        apath = posixpath.join(base, unquote(p))
        dv = add.get("deletionVector")
        if dv and dv.get("storageType"):
            dv_reads.append((p, pkey, apath))
            removed.extend((p, int(i)) for i in _load_dv(fs, base, dv))
        else:
            plain_groups.setdefault(pkey, []).append(apath)

    def _with_partitions(df: DataFrame, pkey: tuple) -> DataFrame:
        for c, v in zip(pcols, pkey):
            df = df.withColumn(
                c,
                F.lit(v).cast(ptypes[c])
                if v is not None
                else F.lit(None).cast(ptypes[c]),
            )
        return df

    final_cols = [f.name for f in schema.fields]
    out: DataFrame | None = None
    for pkey, paths in sorted(plain_groups.items(), key=lambda kv: str(kv[0])):
        df = _with_partitions(
            _rename(spark.read.schema(read_schema).parquet(*paths)), pkey
        )
        df = df.select(*final_cols).withColumns(
            {"__dv_key": F.lit(None).cast(StringType()),
             "__dv_pos": F.lit(None).cast(LongType())}
        )
        out = df if out is None else out.unionByName(df)
    # Few DV'd files: one frame per file with its log key as a literal
    # (exact, no path-string matching). Many DV'd files: a per-file
    # plan would grow the driver's analysis cost linearly, so group by
    # partition key and recover the log key from _metadata.file_path —
    # scheme-stripped on both sides so file:/s3a:/hdfs: URIs all match
    # the paths the fold constructed. Both paths produce identical
    # rows (test-pinned).
    if len(dv_reads) <= 32:
        for key, pkey, apath in sorted(dv_reads):
            df = spark.read.schema(read_schema).parquet(apath).select(
                "*", F.col("_metadata.row_index").alias("__dv_pos")
            )
            df = _with_partitions(_rename(df), pkey).withColumn(
                "__dv_key", F.lit(key)
            )
            df = df.select(*final_cols, "__dv_key", "__dv_pos")
            out = df if out is None else out.unionByName(df)
    elif dv_reads:
        strip = lambda c: F.regexp_replace(c, "^[a-zA-Z0-9+.-]+:/+", "/")  # noqa: E731
        key_map = spark.createDataFrame(
            [(apath, key) for key, _pk, apath in dv_reads],
            "__dv_apath string, __dv_key string",
        ).withColumn("__dv_apath", strip(F.col("__dv_apath")))
        dv_groups: dict[tuple, list[str]] = {}
        for _key, pkey, apath in dv_reads:
            dv_groups.setdefault(pkey, []).append(apath)
        for pkey, paths in sorted(
            dv_groups.items(), key=lambda kv: str(kv[0])
        ):
            df = spark.read.schema(read_schema).parquet(*paths).select(
                "*",
                F.col("_metadata.row_index").alias("__dv_pos"),
                strip(F.col("_metadata.file_path")).alias("__dv_apath"),
            )
            df = _with_partitions(_rename(df), pkey)
            df = df.join(F.broadcast(key_map), "__dv_apath").select(
                *final_cols, "__dv_key", "__dv_pos"
            )
            out = df if out is None else out.unionByName(df)
    if removed:
        rem_df = spark.createDataFrame(
            removed, "__dv_key string, __dv_pos long"
        )
        # broadcast below a sane bound; a pathologically large DV set
        # falls back to a shuffled anti-join rather than a driver OOM
        if len(removed) <= 2_000_000:
            rem_df = F.broadcast(rem_df)
        out = out.join(rem_df, ["__dv_key", "__dv_pos"], "left_anti")
    return out.select(*final_cols)


def delta_version_at(spark: SparkSession, path: str, timestamp_ms: int) -> int:
    """Largest version whose commit timestamp is ≤ ``timestamp_ms``
    (the AS OF TIMESTAMP resolution rule). Raises when the table's
    first commit is later than the requested time."""
    hist = delta_history(spark, path)
    usable = [
        h["version"]
        for h in hist
        if h["timestamp"] is not None and h["timestamp"] <= timestamp_ms
    ]
    if not usable:
        raise ValueError(
            f"no Delta commit at or before timestamp {timestamp_ms}"
        )
    return max(usable)


def read_delta(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
) -> DataFrame:
    """The snapshot as a DataFrame (time travel via ``version`` or
    ``timestamp_ms`` — the newest commit at or before the instant).
    Partition columns come back typed per the table schema."""
    if version is not None and timestamp_ms is not None:
        raise ValueError("pass version OR timestamp_ms, not both")
    if timestamp_ms is not None:
        version = delta_version_at(spark, path, timestamp_ms)
    snap = delta_snapshot(spark, path, version)
    if snap["schema"] is None:
        raise ValueError("Delta table has no schema in its metadata")
    return _read_files_with_partitions(spark, path.rstrip("/"), snap)


def delta_history(spark: SparkSession, path: str) -> list[dict]:
    """Commit list: ``[{"version", "timestamp", "operation",
    "num_adds", "num_removes"}, ...]`` oldest first — the
    observability face of the log fold."""
    base = path.rstrip("/")
    fs = get_fs(base, spark)
    log_dir = posixpath.join(base, _LOG)
    commits = _commit_files(fs, log_dir)
    # commitInfo (and its timestamp) is OPTIONAL in the Delta spec —
    # fall back to the commit file's modification time so timestamp
    # travel over tables written by other clients never silently skips
    # a newer commit (the reference AS OF TIMESTAMP resolution)
    mtimes = {
        posixpath.basename(rel): mt for rel, mt, _sz in fs.list_files(log_dir)
    }
    out = []
    for v in sorted(commits):
        adds = removes = 0
        op = None
        ts = None
        for line in fs.read_bytes(commits[v]).decode("utf-8").splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if a.get("add"):
                adds += 1
            if a.get("remove"):
                removes += 1
            ci = a.get("commitInfo")
            if ci:
                op = ci.get("operation")
                ts = ci.get("timestamp")
        if ts is None:
            mt = mtimes.get(posixpath.basename(commits[v]))
            if mt is not None:
                ts = int(mt * 1000)
        out.append(
            {
                "version": v,
                "timestamp": ts,
                "operation": op,
                "num_adds": adds,
                "num_removes": removes,
            }
        )
    return out


def delta_changes(
    spark: SparkSession,
    path: str,
    since_version: int,
    to_version: int | None = None,
    cdf: bool = False,
) -> DataFrame:
    """CDC-lite incremental consumer (the snaptable ``read_changes``
    face for Delta): rows in files ADDED after ``since_version`` up
    to ``to_version`` — append-only change capture. Raises when the
    window contains removes of files that predate the window
    (a rewrite/delete — those changes are not representable as
    added-rows-only).

    ``cdf=True`` switches to CHANGE DATA FEED consumption: the result
    carries the table columns plus ``_change_type`` / ``_commit_
    version``. Per commit, ``cdc`` actions (written by e.g.
    ``delta_delete_where(change_data=True)``) are the authoritative
    change rows; pure appends surface as ``insert`` rows; compaction
    commits (dataChange=false) contribute nothing. A commit that
    rewrites files WITHOUT change data still rejects loudly — CDF
    cannot be reconstructed after the fact."""
    lo = delta_snapshot(spark, path, since_version)
    hi = delta_snapshot(spark, path, to_version)
    if cdf:
        return _delta_changes_cdf(spark, path.rstrip("/"), lo, hi)
    # append-only means NO remove action anywhere in the window — a
    # snapshot-set diff alone misses a file added AND removed/rewritten
    # inside the same window (an in-window UPDATE/DELETE of in-window
    # rows), and a deletion-vector update re-adds the same path, which
    # is invisible to a by-path diff; the per-commit replay catches
    # both (round-10 fix)
    base = path.rstrip("/")
    fs = get_fs(base, spark)
    commits = _commit_files(fs, posixpath.join(base, _LOG))
    compacted_away: set[str] = set()
    # lineage of in-window appended rows: dataChange=true adds still
    # live under their original path OR under the compacted outputs
    # that absorbed them — a file appended then compacted INSIDE the
    # window is absent from hi["files"] and its compacted output
    # carries dataChange=false, so a plain set-diff would silently
    # drop those rows (r11 ADVICE fix)
    pending: dict[str, None] = {}
    replay_complete = True
    for v in range(lo["version"] + 1, hi["version"] + 1):
        p = commits.get(v)
        if p is None:
            # folded into a checkpoint; the set diff below still
            # guards pre-window files
            replay_complete = False
            continue
        adds_true: list[str] = []
        adds_false: list[str] = []
        rem_false: list[str] = []
        for line in fs.read_bytes(p).decode("utf-8").splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            add = a.get("add")
            if add and add.get("path"):
                (
                    adds_true
                    if add.get("dataChange", True)
                    else adds_false
                ).append(add["path"])
            rem = a.get("remove")
            if rem and rem.get("path"):
                # dataChange=false removes are COMPACTION (the rows
                # live on in same-commit dataChange=false adds) — the
                # real Delta streaming-source rule
                if rem.get("dataChange", True):
                    raise ValueError(
                        f"commit {v} removes or rewrites file "
                        f"{rem['path']!r}; append-only change "
                        "capture cannot represent versions "
                        f"({since_version}, {hi['version']}]"
                    )
                rem_false.append(rem["path"])
                compacted_away.add(rem["path"])
        consumed = [q for q in rem_false if q in pending]
        if consumed:
            others = [q for q in rem_false if q not in pending]
            if others:
                # the rewrite merged in-window appends with pre-window
                # files: its outputs double-count pre-window rows and
                # the appended rows exist nowhere else — unrepresentable
                raise ValueError(
                    f"commit {v} compacts {len(consumed)} in-window "
                    f"appended file(s) together with {len(others)} "
                    "pre-window file(s); append-only change capture "
                    "cannot represent versions "
                    f"({since_version}, {hi['version']}]"
                )
            for q in consumed:
                del pending[q]
            for q in adds_false:
                pending[q] = None
        for q in adds_true:
            pending[q] = None
    removed_old = set(lo["files"]) - set(hi["files"]) - compacted_away
    if removed_old:
        raise ValueError(
            f"versions ({since_version}, {hi['version']}] rewrite or "
            f"delete {len(removed_old)} pre-existing file(s); "
            "append-only change capture cannot represent that window"
        )
    if replay_complete:
        missing = [q for q in pending if q not in hi["files"]]
        if missing:
            raise ValueError(
                f"versions ({since_version}, {hi['version']}] lose track "
                f"of {len(missing)} in-window appended file(s); "
                "append-only change capture cannot represent that window"
            )
        new_files = sorted(q for q in pending if q not in lo["files"])
    else:
        # some window commits are checkpoint-folded: fall back to the
        # snapshot-set diff (compaction adds carry OLD rows — never emit)
        new_files = sorted(
            p
            for p in set(hi["files"]) - set(lo["files"])
            if hi["files"][p].get("dataChange", True) is not False
        )
    if not new_files:
        return spark.createDataFrame([], hi["schema"])
    snap = dict(hi)
    snap["files"] = {p: hi["files"][p] for p in new_files}
    return _read_files_with_partitions(spark, path.rstrip("/"), snap)


def _delta_changes_cdf(
    spark: SparkSession, base: str, lo: dict, hi: dict
) -> DataFrame:
    """Change-data-feed replay of the commits in ``(lo, hi]``: per
    commit, ``cdc`` actions win; else dataChange=true adds are
    ``insert`` rows and dataChange=true removes reject (no change
    data to replay). Output = table columns + ``_change_type`` +
    ``_commit_version``."""
    from urllib.parse import unquote

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = hi["schema"]
    cols = [f.name for f in schema.fields]
    pcols = hi["partition_columns"]
    cm = hi.get("column_mapping") or {}
    phys = cm.get("physical") or {}
    if phys:
        # column-mapped tables (round 13): change-data files follow
        # the table's PHYSICAL layout, like data files — read them
        # with the snapshot reader's exact mapping machinery (all
        # table columns: cdc files carry partition columns inline)
        snap_all = dict(hi)
        snap_all["partition_columns"] = []
        cdc_read_schema, cdc_rename = _mapped_read_plan(spark, snap_all)
        cdc_read_schema = T.StructType(
            list(cdc_read_schema.fields)
            + [T.StructField("_change_type", T.StringType())]
        )
    else:
        cdc_read_schema, cdc_rename = None, None
    fs = get_fs(base, spark)
    commits = _commit_files(fs, posixpath.join(base, _LOG))
    out: DataFrame | None = None
    for v in range(lo["version"] + 1, hi["version"] + 1):
        p = commits.get(v)
        if p is None:
            raise ValueError(
                f"commit {v} is folded into a checkpoint; CDF replay "
                "needs the JSON commits in the window"
            )
        cdc_acts: list[dict] = []
        adds_true: dict[str, dict] = {}
        removes_true = 0
        for line in fs.read_bytes(p).decode("utf-8").splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            if a.get("cdc") and a["cdc"].get("path"):
                cdc_acts.append(a["cdc"])
            add = a.get("add")
            if add and add.get("path") and add.get("dataChange", True):
                adds_true[add["path"]] = add
            rem = a.get("remove")
            if rem and rem.get("path") and rem.get("dataChange", True):
                removes_true += 1
        if cdc_acts:
            # authoritative change rows; the commit's add/remove pairs
            # (e.g. DV re-adds) are bookkeeping for the same change
            for c in cdc_acts:
                cpath = posixpath.join(base, unquote(c["path"]))
                if cdc_read_schema is not None:
                    df = cdc_rename(
                        spark.read.schema(cdc_read_schema).parquet(cpath)
                    )
                else:
                    df = spark.read.parquet(cpath)
                    if "_change_type" not in df.columns:
                        raise ValueError(
                            f"change-data file {c['path']!r} carries "
                            "no _change_type column"
                        )
                for pc in pcols:
                    if pc not in df.columns:
                        # partitionValues keys are physical on mapped
                        # tables, like data files
                        pv = (c.get("partitionValues") or {}).get(
                            phys.get(pc, pc)
                        )
                        df = df.withColumn(
                            pc, F.lit(pv).cast(schema[pc].dataType)
                        )
                df = df.select(*cols, "_change_type").withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
                out = df if out is None else out.unionByName(df)
            continue
        if removes_true:
            raise ValueError(
                f"commit {v} rewrites or deletes files without change "
                "data; CDF capture cannot represent versions "
                f"({lo['version']}, {hi['version']}] — enable change "
                "data on the writer (delta_delete_where change_data)"
            )
        if adds_true:
            snap1 = dict(hi)
            snap1["files"] = adds_true
            df = (
                _read_files_with_partitions(spark, base, snap1)
                .select(*cols)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", F.lit(v).cast("long"))
            )
            out = df if out is None else out.unionByName(df)
    if out is None:
        return spark.createDataFrame(
            [],
            T.StructType(
                list(schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            ),
        )
    return out
