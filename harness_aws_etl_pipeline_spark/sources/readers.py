"""S1–S7 — multi-format sources with format dispatch, batch union, and
per-file error isolation.

Reference semantics (etl/src/extract/extractor.py):

- S1 CSV scan with header + inferred schema (:94-95)
- S2 JSON-lines scan (:96-97)
- S3 Parquet scan (:98-99)
- S4 extension-based format dispatch, unknown → error (:165-184, :86-87)
- S5 prefix listing filtered to supported extensions (:142-163)
- S6 multi-file batch union with per-file error isolation — a file
  that fails to parse is skipped, the batch continues (:104-140)
- S7 trigger routing: single-file vs prefix-batch extraction (:42-69)

Spark-first design: a *single* multi-path ``spark.read`` is one job
whose file listing, split planning, and schema merge are handled by the
data source — that is the default (``read_paths``). Per-file error
isolation (``read_batch(isolate_errors=True)``) trades that for a
driver-side try-read loop, exactly like the reference; it stays O(files)
in driver work, so it is a flag, not the default, and malformed *rows*
are better handled by PERMISSIVE mode + ``columnNameOfCorruptRecord``.

Paths are any Hadoop-FS URI (``file:/``, ``s3a://``, ``hdfs://``) — the
S3-vs-local distinction of the reference disappears behind the
filesystem connector.

Schema: ``schema=`` short-circuits inference everywhere. At the 100 TB
design point schema inference on CSV/JSON is a full extra pass over the
input; explicit schemas (or sampling via ``samplingRatio``) are the
scale path, inference is the convenience path (reference behavior).
"""

from __future__ import annotations

import glob as _glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from harness_aws_etl_pipeline_spark.session import local_frame

SUPPORTED_FORMATS = ("csv", "json", "jsonl", "parquet", "orc")

_EXT_TO_FORMAT = {
    ".csv": "csv",
    ".json": "json",
    ".jsonl": "json",
    ".parquet": "parquet",
    ".pq": "parquet",
    ".orc": "orc",
    ".avro": "avro",
}


class UnsupportedFormatError(ValueError):
    pass


def detect_format(path: str) -> str:
    """S4 — format from lowercased file extension; unknown → raise
    (reference extractor.py:165-184 + :86-87 reject)."""
    _, ext = os.path.splitext(path.lower())
    try:
        return _EXT_TO_FORMAT[ext]
    except KeyError:
        raise UnsupportedFormatError(
            f"unsupported file format {ext!r} for {path!r}; supported: {sorted(set(_EXT_TO_FORMAT))}"
        ) from None


def _reader(spark: SparkSession, fmt: str, schema: StructType | None, infer_schema: bool):
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    if fmt == "csv":
        r = r.option("header", True)
        if schema is None and infer_schema:
            r = r.option("inferSchema", True)
        return lambda paths: r.csv(paths)
    if fmt == "json":
        return lambda paths: r.json(paths)
    if fmt == "parquet":
        return lambda paths: r.parquet(*paths) if isinstance(paths, list) else r.parquet(paths)
    if fmt == "orc":
        return lambda paths: r.orc(*paths) if isinstance(paths, list) else r.orc(paths)
    if fmt == "avro":
        # spark-avro isn't shipped here — the engine's own
        # open-spec OCF reader (sources/avroread.py). Avro carries
        # its schema; an explicit schema param is rejected upstream
        # of this (the reader pins the first file's schema).
        from harness_aws_etl_pipeline_spark.sources.avroread import (
            read_avro,
        )

        def _avro(paths):
            ps = paths if isinstance(paths, list) else [paths]
            out = None
            for p in ps:
                df = read_avro(spark, p)
                out = df if out is None else out.unionByName(df)
            return out

        return _avro
    raise UnsupportedFormatError(f"unsupported format {fmt!r}")


def read_file(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    schema: StructType | None = None,
    infer_schema: bool = True,
) -> DataFrame:
    """S1/S2/S3 — read one file, format from extension unless given."""
    fmt = fmt or detect_format(path)
    return _reader(spark, fmt, schema, infer_schema)(path)


def read_with_corrupt_capture(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str | None = None,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Malformed-ROW isolation (the row-level complement to S6's
    per-file isolation): PERMISSIVE mode parses what it can and lands
    the raw text of unparseable rows in ``corrupt_col``.

    Requires an explicit schema (the 100 TB default anyway) with the
    corrupt column appended. Split downstream with
    ``df.filter(col(corrupt_col).isNull())`` /
    ``.isNotNull()`` — the quarantine pattern that replaces the
    reference's whole-file try/except with per-row granularity.

    Spark caveat: a query referencing ONLY the corrupt column on raw
    files is rejected (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — persist or
    select data columns alongside it before filtering on it.
    """
    from pyspark.sql.types import StringType

    fmt = fmt or detect_format(path)
    if fmt == "parquet":
        raise ValueError("corrupt-record capture applies to csv/json sources")
    full_schema = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    reader = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
    )
    if fmt == "csv":
        reader = reader.option("header", True)
    return reader.format("json" if fmt == "json" else fmt).load(path)


def read_paths(
    spark: SparkSession,
    paths: list[str],
    fmt: str,
    schema: StructType | None = None,
    infer_schema: bool = True,
) -> DataFrame:
    """Multi-path single-job read (the scale path for S6): Spark plans
    one scan over all files, merging schemas for parquet / unioning
    columns for csv+json inference."""
    if not paths:
        return local_frame(spark, [], schema or StructType([]))
    return _reader(spark, fmt, schema, infer_schema)(paths)


def list_supported_files(prefix: str, formats: tuple[str, ...] = SUPPORTED_FORMATS) -> list[str]:
    """S5 — enumerate files under a local/posix prefix, keep supported
    extensions, sorted for determinism (reference extractor.py:142-163).

    For object stores, prefer letting Spark's own file source do the
    listing (``pathGlobFilter``) — this helper exists for the explicit
    list-then-isolate batch mode.
    """
    root = prefix if os.path.isdir(prefix) else os.path.dirname(prefix) or "."
    pattern = os.path.join(root, "**", "*") if os.path.isdir(prefix) else prefix + "*"
    out = []
    for p in sorted(_glob.glob(pattern, recursive=True)):
        if not os.path.isfile(p):
            continue
        try:
            detect_format(p)
        except UnsupportedFormatError:
            continue
        out.append(p)
    return out


def _union_by_name(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


def _size_guard(paths: list[str], max_file_size_mb: int, stats: dict) -> list[str]:
    """Optional input-size guardrail (reference config.yaml:79 —
    ``etl.extract.max_file_size_mb``; there it protected a 256 MB
    Lambda, here it is a data-quality tripwire). Oversized LOCAL files
    are skipped and recorded; 0 disables."""
    if not max_file_size_mb:
        return paths
    cap = max_file_size_mb * 1024 * 1024
    kept = []
    for p in paths:
        local = p.removeprefix("file:")
        try:
            if os.path.isfile(local) and os.path.getsize(local) > cap:
                stats.setdefault("oversized_files", []).append(p)
                continue
        except OSError:
            pass
        kept.append(p)
    return kept


def read_batch(
    spark: SparkSession,
    prefix: str,
    schema: StructType | None = None,
    infer_schema: bool = True,
    isolate_errors: bool = True,
    max_file_size_mb: int = 0,
) -> tuple[DataFrame | None, dict]:
    """S6 — read every supported file under ``prefix`` and union rows.

    ``isolate_errors=True`` reproduces the reference's per-file skip
    (extractor.py:126-131): each file is opened independently; a file
    whose read *plan* fails (corrupt footer, bad header) is recorded in
    ``stats['failed_files']`` and skipped. Files are grouped by format
    and read as one multi-path scan per format, so the common case is
    still O(formats) Spark jobs, not O(files).

    Returns ``(df | None, stats)`` — None for an empty batch (the
    reference's empty-DataFrame sentinel, extractor.py:122,134).
    """
    files = list_supported_files(prefix)
    stats: dict = {"files_listed": len(files), "failed_files": []}
    files = _size_guard(files, max_file_size_mb, stats)
    if not files:
        return None, stats

    by_fmt: dict[str, list[str]] = {}
    for p in files:
        by_fmt.setdefault(detect_format(p), []).append(p)

    parts: list[DataFrame] = []
    for fmt, paths in sorted(by_fmt.items()):
        if not isolate_errors:
            parts.append(read_paths(spark, paths, fmt, schema, infer_schema))
            continue
        good: list[DataFrame] = []
        for p in paths:
            try:
                df = read_file(spark, p, fmt, schema, infer_schema)
                df.schema  # force plan analysis so bad files fail here
                good.append(df)
            except Exception as exc:  # noqa: BLE001 - per-file isolation
                stats["failed_files"].append({"path": p, "error": str(exc)[:500]})
        if good:
            parts.append(_union_by_name(good))

    if not parts:
        return None, stats
    df = _union_by_name(parts) if len(parts) > 1 else parts[0]
    # count from the post-guard file list: listed − oversized − failed
    stats["files_read"] = len(files) - len(stats["failed_files"])
    return df, stats


def parse_event(event: dict, default_prefix: str = "") -> dict:
    """Raw trigger payload → ``source_info`` for :func:`extract` —
    the reference's event parse (lambda_handler.py:155-197), with
    object-store coordinates mapped to paths.

    Accepted shapes, in the reference's precedence order:

    - storage-event records (``{"Records": [{"s3": {...}}]}``) →
      ``{"type": "s3", "path": "s3a://<bucket>/<key>", "size": n}``
    - scheduler events (``{"source": "aws.events", ...}``) →
      ``{"type": "scheduled", "prefix": default_prefix, "rule": ...,
      "time": ...}``
    - direct invocation (``{"source_bucket": ..., "source_key": ...}``)
      → ``{"type": "direct", "path": "s3a://<bucket>/<key>"}``; a
      plain ``{"path": ...}`` or ``{"prefix": ...}`` passes through as
      direct/batch for filesystem callers
    - anything else → the reference's default full-prefix batch sweep
    """
    records = event.get("Records")
    if records:
        record = records[0]
        if "s3" in record:
            from urllib.parse import unquote_plus

            bucket = record["s3"]["bucket"]["name"]
            # storage-event notifications URL-encode the object key
            # (space → '+', specials → %XX); decode it or keys with
            # spaces resolve to nonexistent paths
            key = unquote_plus(record["s3"]["object"]["key"])
            return {
                "type": "s3",
                "path": f"s3a://{bucket}/{key}",
                "size": record["s3"]["object"].get("size", 0),
            }
    if event.get("source") == "aws.events":
        return {
            "type": "scheduled",
            "prefix": event.get("prefix", default_prefix),
            # `or` guard: an explicit empty resources list must not
            # IndexError the whole trigger parse
            "rule": (event.get("resources") or ["unknown"])[0],
            "time": event.get("time"),
        }
    if "source_bucket" in event and "source_key" in event:
        return {
            "type": "direct",
            "path": f"s3a://{event['source_bucket']}/{event['source_key']}",
        }
    if "path" in event:
        return {"type": event.get("type", "direct"), "path": event["path"]}
    if "prefix" in event:
        return {"type": event.get("type", "batch"), "prefix": event["prefix"]}
    return {"type": "batch", "prefix": default_prefix}


def extract(
    spark: SparkSession,
    source_info: dict,
    schema: StructType | None = None,
    infer_schema: bool = True,
    isolate_errors: bool = True,
    max_file_size_mb: int = 0,
) -> tuple[DataFrame | None, dict]:
    """S7 — trigger-driven routing (reference extractor.py:42-69 +
    lambda_handler.py:155-197 event parse).

    ``source_info``: ``{"type": "s3"|"direct", "path": ...}`` →
    single-file read; ``{"type": "batch"|"scheduled", "prefix": ...}``
    → batch read. The ``scheduled`` sweep also has a Structured
    Streaming equivalent (streaming/ingest.py) which replaces
    list-and-sweep with an incremental file-source log.
    """
    kind = source_info.get("type", "direct")
    if kind in ("s3", "direct"):
        path = source_info["path"]
        stats: dict = {"files_listed": 1, "failed_files": []}
        if not _size_guard([path], max_file_size_mb, stats):
            stats["files_read"] = 0
            return None, stats
        df = read_file(spark, path, schema=schema, infer_schema=infer_schema)
        stats["files_read"] = 1
        return df, stats
    if kind in ("batch", "scheduled"):
        return read_batch(
            spark,
            source_info["prefix"],
            schema=schema,
            infer_schema=infer_schema,
            isolate_errors=isolate_errors,
            max_file_size_mb=max_file_size_mb,
        )
    raise ValueError(f"unknown source type: {kind!r}")
