"""Delta, Iceberg and Hudi tables as STRUCTURED STREAMING SOURCES — no
jar: Spark 4 Python DataSources (``pyspark.sql.datasource``) completing
the interop loop (``stream_to_delta`` is the exactly-once sink).

    register_lake_streams(spark)
    spark.readStream.format("delta_nojar").option("path", p).load()
    spark.readStream.format("iceberg_nojar").option("path", p).load()
    spark.readStream.format("hudi_nojar").option("path", p).load()

Each format contributes only its offset, its window planner and its
table-schema lookup; the file partition, the Arrow conformer, the
reader base and the DataSource base are shared.

- **delta_nojar** (Delta PROTOCOL.md): the offset is
  ``{"version": N}`` — the newest log version whose adds have been
  emitted (``startingVersion``, default ``-1`` → include version 0). A
  micro-batch ``(start, end]`` is the data files ADDED by the commits
  in that window. Every commit in the window needs its JSON file: a
  version folded into a checkpoint and log-cleaned raises, naming it,
  rather than silently skipping its rows. A ``remove`` with
  ``dataChange`` or a deletion-vector re-add raises (the
  ``delta_changes`` rule); ``dataChange=false`` compaction re-adds pass
  over. Partition columns are reattached as typed literals from
  ``add.partitionValues`` (string/numeric/boolean/date — exotic types
  reject at planning time). COLUMN-MAPPED tables resolve file columns
  by physical name (name mode) or parquet field id (id mode) and
  partitionValues by physical key; NESTED mapped columns reject.
- **iceberg_nojar** (Iceberg table spec): the offset is
  ``{"sid": "<snapshot-id>"}`` — the newest snapshot emitted (``None``
  before the first batch; ``startingIdx`` counts snapshots to skip).
  Snapshot ids are STABLE across ``iceberg_expire_snapshots``, unlike
  list positions: a stream resuming after expiration resolves its id
  against the current snapshot log and fails loudly if that snapshot
  was expired (legacy positional ``{"idx": N}`` offsets are still
  accepted). A micro-batch is the data files ADDED between two
  snapshots; windows that drop files or touch the delete-file sets
  raise (the ``iceberg_changes`` rule), except operation-``replace``
  compactions, which pass over.
- **hudi_nojar** (Hudi tech-specs): the offset is
  ``{"instant": "..."}`` — the newest completed instant emitted
  (``startingInstant``, default ``"0"``). A micro-batch is the file
  GROUPS that first appeared in the window; rewrites of existing
  groups, replacecommits and MOR log files raise (the ``hudi_changes``
  rule).

``readChangeFeed=true`` switches a source to CHANGE ROW consumption;
the schema gains ``_change_type`` / ``_commit_version``:

- Delta: per commit, ``cdc`` actions (written by the CDF-emitting DML
  in ``sinks/deltadml``) are the authoritative change rows, pure
  appends surface as ``insert`` rows, compactions contribute nothing,
  and a rewrite WITHOUT change data raises. ``_commit_version`` is the
  log version.
- Iceberg: an ``iceberg_upsert`` surfaces as key-only ``delete`` rows
  (the equality-delete file) + ``insert`` rows (the new data files);
  an ``iceberg_delete_where`` replays the referenced PREIMAGE rows as
  full-value ``delete`` rows (position deletes resolved in-task);
  compactions contribute nothing; other file-dropping snapshots reject.
  ``_commit_version`` is the snapshot's sequence number, and within one
  version deletes apply BEFORE inserts (the upsert changelog order).
- Hudi: brand-new file groups are ``insert`` rows; MOR deltacommit log
  files ARE the change data (avro blocks → ``upsert`` rows, delete
  blocks → key-only ``delete`` rows on ``_hoodie_record_key``);
  base-slice rewrites (CoW upserts, MOR compaction) reject — restart
  the change stream from a fresh checkpoint after them.
  ``_commit_version`` is the instant as a long.

Scale shape: offsets are planned driver-side from table metadata (what
every client does; the planner runs in a JVM-less Python worker, which
is why ``delta_snapshot``'s checkpoint replay has a pyarrow path), and
data is read one file per task via pyarrow in the executors' Python
workers, emitted as whole Arrow RecordBatches cast to the target
schema (the Spark 4 Python-DataSource fast path). Local/posix paths;
an object-store deployment plugs a pyarrow filesystem in here.
"""

from __future__ import annotations

import json
import posixpath
from urllib.parse import unquote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

__all__ = [
    "DeltaStreamDataSource",
    "HudiStreamDataSource",
    "IcebergStreamDataSource",
    "register_lake_streams",
]


def _conform(tbl, arrow_schema, change=None, pvalues=None, colmap=None,
             cm_mode="none"):
    """``tbl`` as a table of ``arrow_schema``. Each target column is, in
    order of precedence: a change constant (``change`` is
    ``(change_type, commit_version)``; a ``None`` change type leaves
    ``_change_type`` to the file, as Delta cdc files carry it); the file
    column, cast (Delta column mapping resolves it by parquet field id
    in id mode or by physical name in name mode); a partition literal
    from ``pvalues`` (a file column wins, as Delta cdc files carry
    partition columns inline); else nulls."""
    import pyarrow as pa

    n = tbl.num_rows
    consts = {}
    if change is not None:
        if change[0] is not None:
            consts["_change_type"] = change[0]
        consts["_commit_version"] = change[1]
    src = {name: i for i, name in enumerate(tbl.column_names)}
    if colmap:
        phys = src
        if cm_mode == "id":
            phys = {}
            for i, fld in enumerate(tbl.schema):
                fid = (fld.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None:
                    phys[int(fid)] = i
        src = {c: i for c, i in src.items() if c not in colmap} | {
            c: phys[k] for c, k in colmap.items() if k in phys
        }
    pvalues = pvalues or {}
    cols = []
    for field in arrow_schema:
        c = field.name
        if c in consts:
            cols.append(pa.array([consts[c]] * n, field.type))
        elif c in src:
            cols.append(tbl.column(src[c]).cast(field.type))
        elif c in pvalues:
            cols.append(pa.array([pvalues[c]] * n, field.type))
        else:
            cols.append(pa.nulls(n, field.type))
    return pa.table(cols, schema=arrow_schema).combine_chunks()


class _FilePartition(InputPartition):
    """One plain parquet data (or cdc / equality-delete) file. The
    target arrow schema is picklable, so ``rows()`` emits whole
    RecordBatches instead of per-row tuples."""

    def __init__(self, path: str, arrow_schema, change=None, pvalues=None,
                 colmap=None, cm_mode: str = "none"):
        self.path = path
        self.arrow_schema = arrow_schema
        self.change = change  # readChangeFeed: see _conform
        self.pvalues = pvalues  # partition column name -> typed value
        # Delta column mapping: logical name -> physical name (name
        # mode) or -> delta.columnMapping.id (id mode)
        self.colmap = colmap
        self.cm_mode = cm_mode

    def rows(self):
        import pyarrow.parquet as pq

        tbl = pq.read_table(self.path.removeprefix("file:"))
        if tbl.num_rows:
            yield from _conform(
                tbl, self.arrow_schema, self.change, self.pvalues,
                self.colmap, self.cm_mode,
            ).to_batches()


class _PosDeletePartition(InputPartition):
    """One Iceberg position-delete file: emits the REFERENCED rows
    (full preimage values) as ``delete`` change rows — the delete
    parquet names (data file, row position) pairs, so the task reads
    each referenced data file once and ``take``s the positions."""

    def __init__(self, path: str, local_of: dict, arrow_schema, version):
        self.path = path
        self.local_of = local_of  # manifest-recorded path → local path
        self.arrow_schema = arrow_schema
        self.version = version

    def rows(self):
        import pyarrow.parquet as pq

        dt = pq.read_table(
            self.path.removeprefix("file:"), columns=["file_path", "pos"]
        )
        by_file: dict[str, list[int]] = {}
        for fp, pos in zip(
            dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()
        ):
            by_file.setdefault(fp, []).append(int(pos))
        for fp in sorted(by_file):
            local = self.local_of.get(fp)
            if local is None:
                raise ValueError(
                    f"position-delete file references {fp!r}, which is "
                    "not a live data file of the prior snapshot"
                )
            tbl = pq.read_table(local.removeprefix("file:"))
            sel = tbl.take(sorted(by_file[fp]))
            yield from _conform(
                sel, self.arrow_schema, ("delete", self.version)
            ).to_batches()


class _HudiLogPartition(InputPartition):
    """One Hudi MOR log file: avro data blocks yield ``upsert`` change
    rows, delete blocks yield key-only ``delete`` rows. Blocks outside
    ``instants`` (in-flight / other windows) are skipped."""

    def __init__(self, path: str, arrow_schema, instants: list, key_col):
        self.path = path
        self.arrow_schema = arrow_schema
        self.instants = set(instants)
        self.key_col = key_col

    def rows(self):
        import pyarrow as pa

        from harness_aws_etl_pipeline_spark.sources.hudilog import (
            decode_log_blocks,
        )

        with open(self.path.removeprefix("file:"), "rb") as fh:
            blocks = decode_log_blocks(fh.read())
        asch = self.arrow_schema
        data_names = [
            f.name
            for f in asch
            if f.name not in ("_change_type", "_commit_version")
        ]
        for blk in blocks:
            inst = blk.get("instant")
            if inst not in self.instants:
                continue
            if blk["type"] == "avro" and blk["records"]:
                recs = blk["records"]
                tbl = pa.table({
                    n: pa.array(
                        [r.get(n) for r in recs], type=asch.field(n).type
                    )
                    for n in data_names
                })
                change = ("upsert", int(inst))
            elif blk["type"] == "delete" and blk["deletes"]:
                tbl = pa.table({
                    self.key_col: pa.array(
                        [k for k, _p in blk["deletes"]],
                        type=asch.field(self.key_col).type,
                    )
                })
                change = ("delete", int(inst))
            else:
                continue
            yield from _conform(tbl, asch, change).to_batches()


class _LakeStreamReader(DataSourceStreamReader):
    """Shared reader state and the executor-side ``read`` dispatch;
    ``commit`` stays the inherited no-op (the table is not ours to
    trim). Subclasses plan offsets and partitions."""

    def __init__(self, path: str, schema, start, cdf: bool):
        from pyspark.sql.pandas.types import to_arrow_schema

        self._base = path.rstrip("/")
        self._asch = to_arrow_schema(schema)
        self._start = start
        self._cdf = cdf

    def read(self, partition):
        return partition.rows()


class _LakeStreamSource(DataSource):
    """Shared ``DataSource`` surface: the ``path`` check, the
    ``readChangeFeed`` schema extension and the reader construction.
    Subclasses set the start option and provide ``_table_schema``."""

    _reader: type
    _start_option: tuple  # (option name, parse, default)

    def _cdf(self) -> bool:
        return (
            str(self.options.get("readChangeFeed", "false")).lower()
            == "true"
        )

    def _table_schema(self, path: str):
        raise NotImplementedError

    def schema(self):
        from pyspark.sql import types as T

        path = self.options.get("path")
        if not path:
            raise ValueError(f"{self.name()} needs .option('path', ...)")
        sch = self._table_schema(path)
        if not self._cdf():
            return sch
        return T.StructType(
            list(sch.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )

    def streamReader(self, schema) -> DataSourceStreamReader:
        opt, parse, default = self._start_option
        return self._reader(
            self.options["path"],
            schema,
            parse(self.options.get(opt, default)),
            self._cdf(),
        )


# --------------------------------------------------------------- Delta


def _typed_partition_value(raw: str | None, dt) -> object:
    if raw is None:
        return None
    t = dt.typeName()
    if t in ("byte", "short", "integer", "long"):
        return int(raw)
    if t in ("float", "double"):
        return float(raw)
    if t == "boolean":
        return raw.lower() == "true"
    if t == "string":
        return raw
    if t == "date":
        import datetime as _dt

        return _dt.date.fromisoformat(raw)
    raise ValueError(
        f"partition column type {t!r} is not supported by the "
        "delta_nojar stream source"
    )


class _DeltaStreamReader(_LakeStreamReader):
    def __init__(self, path: str, schema, start: int, cdf: bool):
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_snapshot,
        )

        super().__init__(path, schema, start, cdf)
        snap = delta_snapshot(None, self._base)
        cm = snap.get("column_mapping") or {}
        self._phys = cm.get("physical") or {}
        self._cm_mode = cm.get("mode") or "none"
        self._colmap = self._column_map(snap["schema"]) if self._phys else None
        self._pcols = snap["partition_columns"]
        self._ptypes = {
            f.name: f.dataType for f in schema.fields if f.name in self._pcols
        }
        self._latest = snap["version"]

    def _column_map(self, table_schema) -> dict:
        """logical name -> physical name (name mode) or field id (id
        mode). NESTED mapped columns would need struct surgery in
        Arrow; reject those loudly."""
        from pyspark.sql.types import StructType

        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            _phys_below,
        )

        colmap: dict = {}
        for f in table_schema.fields:
            md = f.metadata or {}
            if _phys_below(f.dataType) or (
                isinstance(f.dataType, StructType)
                and any(
                    (sf.metadata or {}).get("delta.columnMapping.physicalName")
                    for sf in f.dataType.fields
                )
            ):
                raise ValueError(
                    "delta_nojar streaming on tables with NESTED "
                    f"mapped columns (column {f.name!r}) is not supported"
                )
            if self._cm_mode == "id":
                cid = md.get("delta.columnMapping.id")
                if cid is None:
                    raise ValueError(
                        "Delta id-mode column mapping: field "
                        f"{f.name!r} carries no delta.columnMapping.id"
                    )
                colmap[f.name] = int(cid)
            else:
                colmap[f.name] = (
                    md.get("delta.columnMapping.physicalName") or f.name
                )
        return colmap

    def _commits(self):
        from harness_aws_etl_pipeline_spark.sinks.fs import get_fs
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            _commit_files,
        )

        fs = get_fs(self._base, None)
        return fs, _commit_files(fs, posixpath.join(self._base, "_delta_log"))

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        _fs, commits = self._commits()
        self._latest = max(commits) if commits else self._latest
        return {"version": self._latest}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        fs, commits = self._commits()
        parts: list[InputPartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            p = commits.get(v)
            if p is None:
                raise ValueError(
                    f"commit {v} is folded into a checkpoint (its JSON "
                    "commit was log-cleaned); streaming needs every JSON "
                    "commit in the window — set startingVersion at or "
                    "after the checkpoint"
                )
            acts = [
                json.loads(line)
                for line in fs.read_bytes(p).decode("utf-8").splitlines()
                if line.strip()
            ]
            plan = self._cdf_commit if self._cdf else self._append_commit
            parts += plan(v, acts)
        return parts

    def _file(self, action: dict, change=None) -> _FilePartition:
        pv = action.get("partitionValues") or {}
        return _FilePartition(
            posixpath.join(self._base, unquote(action["path"])),
            self._asch,
            change,
            {
                c: _typed_partition_value(
                    pv.get(self._phys.get(c, c)), self._ptypes[c]
                )
                for c in self._pcols
            },
            self._colmap,
            self._cm_mode,
        )

    def _append_commit(self, v: int, acts: list) -> list:
        parts = []
        for a in acts:
            rem = a.get("remove")
            if rem and rem.get("dataChange", True):
                raise ValueError(
                    f"commit {v} removes data file {rem.get('path')!r}"
                    " — an update/delete window is not representable"
                    " as a stream of appended rows"
                )
            add = a.get("add")
            if not add or not add.get("path"):
                continue
            if add.get("dataChange", True) is False:
                continue  # compaction re-add: rows already emitted
            if (add.get("deletionVector") or {}).get("storageType"):
                raise ValueError(
                    f"commit {v} adds a deletion-vector'd file — "
                    "not representable as appended rows"
                )
            parts.append(self._file(add))
        return parts

    def _cdf_commit(self, v: int, acts: list) -> list:
        cdc = [a["cdc"] for a in acts if (a.get("cdc") or {}).get("path")]
        if cdc:
            # authoritative change rows (the file carries _change_type);
            # the commit's add/remove pairs (DV re-adds, merge data
            # files) are bookkeeping for the same change
            return [self._file(c, (None, v)) for c in cdc]
        if any(
            (a.get("remove") or {}).get("path")
            and a["remove"].get("dataChange", True)
            for a in acts
        ):
            raise ValueError(
                f"commit {v} rewrites or deletes files without "
                "change data; CDF streaming cannot represent it — "
                "enable change data on the writer"
            )
        adds = [
            a["add"]
            for a in acts
            if (a.get("add") or {}).get("path")
            and a["add"].get("dataChange", True)
        ]
        for add in adds:
            if (add.get("deletionVector") or {}).get("storageType"):
                raise ValueError(
                    f"commit {v} adds a deletion-vector'd file "
                    "without change data — not representable"
                )
        return [self._file(add, ("insert", v)) for add in adds]


class DeltaStreamDataSource(_LakeStreamSource):
    """``spark.readStream.format("delta_nojar").option("path", ...)``."""

    _reader = _DeltaStreamReader
    _start_option = ("startingVersion", int, -1)

    @classmethod
    def name(cls) -> str:
        return "delta_nojar"

    def _table_schema(self, path: str):
        from harness_aws_etl_pipeline_spark.sources.deltaread import (
            delta_snapshot,
        )

        sch = delta_snapshot(None, path)["schema"]
        if sch is None:
            raise ValueError("Delta table has no schema in its metadata")
        return sch


# ------------------------------------------------------------- Iceberg


class _IcebergStreamReader(_LakeStreamReader):
    def _snap_ids(self) -> list[int]:
        from harness_aws_etl_pipeline_spark.sources.icebergread import (
            iceberg_snapshots,
        )

        return [
            s["snapshot_id"]
            for s in iceberg_snapshots(None, self._base)  # type: ignore[arg-type]
        ]

    def initialOffset(self) -> dict:
        if self._start <= 0:
            return {"sid": None}
        ids = self._snap_ids()
        if self._start > len(ids):
            raise ValueError(
                f"startingIdx {self._start} exceeds the snapshot log "
                f"({len(ids)} snapshots)"
            )
        return {"sid": str(ids[self._start - 1])}

    def latestOffset(self) -> dict:
        ids = self._snap_ids()
        return {"sid": str(ids[-1]) if ids else None}

    @staticmethod
    def _resolve(off: dict, ids: list[int]) -> int:
        """Offset → count of already-emitted snapshots. Snapshot IDS
        are the durable coordinate — positions shift when
        iceberg_expire_snapshots rewrites the snapshot list, so a
        positional offset resumed after expiration would silently
        skip or replay batches. Legacy {"idx": N} offsets (pre-r12
        checkpoints) are still honored positionally."""
        if "idx" in off:
            return int(off["idx"])
        sid = off.get("sid")
        if sid is None:
            return 0
        strs = [str(i) for i in ids]
        if str(sid) not in strs:
            raise ValueError(
                f"checkpointed offset snapshot {sid} is no longer in "
                "the snapshot log (expired?); cannot resume this "
                "stream safely — restart it from a fresh checkpoint"
            )
        return strs.index(str(sid)) + 1

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        from harness_aws_etl_pipeline_spark.sources.icebergread import (
            _snapshot_meta,
            iceberg_snapshot,
        )

        ids = self._snap_ids()
        lo, hi = self._resolve(start, ids), self._resolve(end, ids)
        asch = self._asch
        # snapshot-id → {"seq", "op"}: the change feed labels rows with
        # the snapshot's SEQUENCE NUMBER (durable and monotonic, unlike
        # log positions)
        meta = (
            _snapshot_meta(None, self._base)  # type: ignore[arg-type]
            if self._cdf
            else None
        )
        parts: list[InputPartition] = []
        prev = (
            iceberg_snapshot(None, self._base, ids[lo - 1])  # type: ignore[arg-type]
            if lo > 0
            else None
        )
        for i in range(lo, hi):
            cur = iceberg_snapshot(None, self._base, ids[i])  # type: ignore[arg-type]
            prev_files = set(prev["files"]) if prev else set()
            prev_pd = set(prev["position_delete_files"]) if prev else set()
            prev_eq = (
                {d["path"] for d in prev["equality_delete_files"]}
                if prev
                else set()
            )
            cur_pd = set(cur["position_delete_files"])
            cur_eq = {d["path"] for d in cur["equality_delete_files"]}
            new_data = sorted(set(cur["files"]) - prev_files)
            dropped = prev_files - set(cur["files"])
            if not self._cdf:
                if cur_pd != prev_pd or cur_eq != prev_eq or dropped:
                    # compaction (operation "replace") is data-neutral
                    # — rows were already emitted from the files it
                    # rewrites, so the append stream passes over it
                    # (the delta_nojar dataChange=false rule)
                    if meta is None:
                        meta = _snapshot_meta(None, self._base)  # type: ignore[arg-type]
                    if (meta.get(ids[i]) or {}).get("op") == "replace":
                        prev = cur
                        continue
                if cur_pd != prev_pd or cur_eq != prev_eq:
                    raise ValueError(
                        f"snapshot {ids[i]} changes the live delete-file "
                        "set; append-only streaming cannot represent it "
                        "(readChangeFeed=true consumes deletes/upserts "
                        "as change rows)"
                    )
                if dropped:
                    raise ValueError(
                        f"snapshot {ids[i]} drops {len(dropped)} data "
                        "file(s); append-only streaming cannot represent "
                        "it"
                    )
                parts += [_FilePartition(f, asch) for f in new_data]
                prev = cur
                continue

            # ---- CHANGE FEED: per snapshot, deletes (position deletes
            # replay the referenced preimage rows; equality deletes are
            # key-only rows) then inserts — within one _commit_version,
            # deletes apply BEFORE inserts, the upsert changelog order.
            sm = meta.get(ids[i]) or {}
            version = int(sm.get("seq") or (i + 1))
            if sm.get("op") == "replace":
                # compaction: file set rewrite, row set unchanged — the
                # change feed is empty for this snapshot
                prev = cur
                continue
            if dropped:
                raise ValueError(
                    f"snapshot {ids[i]} ({sm.get('op')}) drops "
                    f"{len(dropped)} data file(s) outside a compaction; "
                    "the change feed cannot reconstruct rewrite deltas"
                )
            if (prev_pd - cur_pd) or (prev_eq - cur_eq):
                raise ValueError(
                    f"snapshot {ids[i]} removes delete files outside a "
                    "compaction; the change feed cannot represent it"
                )
            if prev is not None and cur_pd - prev_pd:
                local_of = {
                    (prev.get("origin_of") or {}).get(f, f): f
                    for f in prev["files"]
                }
                for dfp in sorted(cur_pd - prev_pd):
                    parts.append(
                        _PosDeletePartition(dfp, local_of, asch, version)
                    )
            for efp in sorted(cur_eq - prev_eq):
                parts.append(_FilePartition(efp, asch, ("delete", version)))
            for f in new_data:
                parts.append(_FilePartition(f, asch, ("insert", version)))
            prev = cur
        return parts


class IcebergStreamDataSource(_LakeStreamSource):
    """``spark.readStream.format("iceberg_nojar").option("path", …)``."""

    _reader = _IcebergStreamReader
    _start_option = ("startingIdx", int, 0)

    @classmethod
    def name(cls) -> str:
        return "iceberg_nojar"

    def _table_schema(self, path: str):
        from harness_aws_etl_pipeline_spark.sources.icebergread import (
            iceberg_snapshot,
        )

        return iceberg_snapshot(None, path)["schema"]  # type: ignore[arg-type]


# ---------------------------------------------------------------- Hudi


class _HudiStreamReader(_LakeStreamReader):
    def initialOffset(self) -> dict:
        return {"instant": self._start}

    def latestOffset(self) -> dict:
        from harness_aws_etl_pipeline_spark.sources.hudiread import (
            hudi_timeline,
        )

        tl = hudi_timeline(None, self._base)  # type: ignore[arg-type]
        return {"instant": tl[-1]["instant"] if tl else self._start}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        from harness_aws_etl_pipeline_spark.sources.hudiread import (
            _DATA_RE,
            hudi_snapshot,
            hudi_timeline,
        )

        lo, hi = start["instant"], end["instant"]
        if hi <= lo:
            return []
        tl = hudi_timeline(None, self._base)  # type: ignore[arg-type]
        for t in tl:
            if lo < t["instant"] <= hi and t["action"] == "replacecommit":
                raise ValueError(
                    f"replacecommit {t['instant']} in the window; "
                    "streaming cannot represent it"
                )

        def _groups(snap):
            # keys are (BASE-RELATIVE partition dir, fid) so they
            # compare against log_files' "part" (relative) directly
            out = {}
            for p in snap["files"]:
                rel = (
                    p[len(self._base) + 1:]
                    if p.startswith(self._base)
                    else p
                )
                m = _DATA_RE.search(rel)
                if m:
                    out[(posixpath.dirname(rel), m.group("fid"))] = p
            return out

        asch = self._asch

        if self._cdf:
            # ---- CHANGE FEED: brand-new file groups' base files are
            # ``insert`` rows (base slices time-travel exactly, so a
            # per-instant diff is accurate); MOR log files are
            # ``upsert``/``delete`` change rows — the avro/delete
            # blocks ARE the change data. Log files do NOT time-travel
            # at the file level (a version-2 log carries its group's
            # ORIGINAL base instant), so every hi-snapshot log file is
            # scanned once with the window's committed instants as the
            # block filter: blocks label their own instant, windows
            # partition committed instants → exactly-once. Base-slice
            # rewrites (CoW upserts, MOR compaction) carry no
            # row-level deltas and reject loudly.
            parts: list[InputPartition] = []
            window = [
                t["instant"]
                for t in tl
                if lo < t["instant"] <= hi
            ]
            prev_inst = lo
            for inst in window:
                snap_prev = (
                    hudi_snapshot(None, self._base, prev_inst)  # type: ignore[arg-type]
                    if prev_inst != "0"
                    else {"files": [], "log_files": []}
                )
                snap_cur = hudi_snapshot(None, self._base, inst)  # type: ignore[arg-type]
                lo_g, hi_g = _groups(snap_prev), _groups(snap_cur)
                rewritten = [
                    k for k in lo_g if k in hi_g and lo_g[k] != hi_g[k]
                ]
                dropped = [k for k in lo_g if k not in hi_g]
                if rewritten or dropped:
                    raise ValueError(
                        f"instant {inst} rewrites {len(rewritten)} / "
                        f"drops {len(dropped)} base file slice(s); "
                        "base rewrites carry no row-level change data "
                        "— restart the change stream from a fresh "
                        "checkpoint after compaction/CoW upserts"
                    )
                version = int(inst)
                prev_logged = {
                    (lf["part"], lf["fid"])
                    for lf in snap_prev.get("log_files") or []
                }
                for k in sorted(hi_g):
                    if k in lo_g:
                        continue
                    if k in prev_logged:
                        # first base slice of a previously log-only
                        # group = MOR compaction, not an insert —
                        # emitting it would replay merged rows
                        raise ValueError(
                            f"instant {inst} compacts log-only file "
                            f"group {k[1]!r} into a base slice; base "
                            "rewrites carry no row-level change data "
                            "— restart the change stream from a fresh "
                            "checkpoint after compaction"
                        )
                    parts.append(
                        _FilePartition(hi_g[k], asch, ("insert", version))
                    )
                prev_inst = inst
            snap_hi = hudi_snapshot(None, self._base, hi)  # type: ignore[arg-type]
            for lf in snap_hi.get("log_files") or []:
                parts.append(
                    _HudiLogPartition(
                        lf["path"], asch, window,
                        key_col="_hoodie_record_key",
                    )
                )
            return parts

        snap_lo = (
            hudi_snapshot(None, self._base, lo)  # type: ignore[arg-type]
            if lo != "0"
            else {"files": [], "log_files": []}
        )
        snap_hi = hudi_snapshot(None, self._base, hi)  # type: ignore[arg-type]
        if snap_hi.get("log_files"):
            raise ValueError(
                "MERGE_ON_READ snapshot carries delta log files; "
                "append-only streaming cannot represent log-merged rows "
                "(readChangeFeed=true consumes them as change rows)"
            )
        lo_g, hi_g = _groups(snap_lo), _groups(snap_hi)
        rewritten = [k for k in lo_g if k in hi_g and lo_g[k] != hi_g[k]]
        dropped = [k for k in lo_g if k not in hi_g]
        if rewritten or dropped:
            raise ValueError(
                f"instants ({lo}, {hi}] rewrite {len(rewritten)} and drop "
                f"{len(dropped)} file group(s); append-only streaming "
                "cannot represent it"
            )
        return [
            _FilePartition(hi_g[k], asch)
            for k in sorted(hi_g)
            if k not in lo_g
        ]


class HudiStreamDataSource(_LakeStreamSource):
    """``spark.readStream.format("hudi_nojar").option("path", …)``."""

    _reader = _HudiStreamReader
    _start_option = ("startingInstant", str, "0")

    @classmethod
    def name(cls) -> str:
        return "hudi_nojar"

    def _table_schema(self, path: str):
        from harness_aws_etl_pipeline_spark.sources.hudiread import (
            hudi_recorded_schema,
            hudi_snapshot,
        )

        snap = hudi_snapshot(None, path)  # type: ignore[arg-type]
        rec = hudi_recorded_schema(None, path, snap.get("instant"))
        if rec is not None:
            return rec
        if snap["files"]:
            import pyarrow as pa
            import pyarrow.parquet as pq
            from pyspark.sql.pandas.types import from_arrow_schema

            # footer UNION across live files — a single sampled footer
            # drops columns added by schema-evolved appends
            schemas = [
                pq.read_schema(f.removeprefix("file:"))
                for f in snap["files"]
            ]
            try:
                unified = pa.unify_schemas(
                    schemas, promote_options="permissive"
                )
            except TypeError:  # older pyarrow: no promote_options
                unified = pa.unify_schemas(schemas)
            return from_arrow_schema(unified)
        if snap.get("log_files"):
            # log-only MOR table (hudi_upsert-created): the avro
            # block's schema is the table schema. POSIX open — log
            # files are dot-prefixed and Hadoop FS reads of hidden
            # files trip over their checksum shadows (hudiread rule).
            from harness_aws_etl_pipeline_spark.sources.avroread import (
                avro_spark_schema,
            )
            from harness_aws_etl_pipeline_spark.sources.hudilog import (
                decode_log_blocks,
            )

            with open(
                snap["log_files"][0]["path"].removeprefix("file:"), "rb"
            ) as fh:
                blocks = decode_log_blocks(fh.read())
            avro_blocks = [b for b in blocks if b["type"] == "avro"]
            if not avro_blocks:
                raise ValueError(
                    "cannot derive a schema: the first Hudi log file "
                    "has no avro data block"
                )
            return avro_spark_schema(avro_blocks[0]["schema"])
        raise ValueError(
            "Hudi table has no base files to derive a schema from"
        )


def register_lake_streams(spark) -> None:
    """Register the three sources on a session (idempotent)."""
    for source in (
        DeltaStreamDataSource, IcebergStreamDataSource, HudiStreamDataSource
    ):
        spark.dataSource.register(source)
