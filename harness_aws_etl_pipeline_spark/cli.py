"""Command-line entry point — the engine's equivalent of the
reference's local harness (scripts/run_local.py:127-246: parse args,
invoke the handler in-process, print the result).

    python -m harness_aws_etl_pipeline_spark.cli <command> [options]
    python -m harness_aws_etl_pipeline_spark.cli <command> --help

Dispatch contract: every subcommand has one handler, registered on its
subparser with ``set_defaults(func=...)``; ``main`` builds the parser
(:func:`build_parser`), parses, and calls ``args.func(args)``.

- A handler returns the JSON-able dict the command reports; ``main``
  prints it as one JSON line and exits 0.
- A handler that must exit non-zero returns ``(dict, code)``.
- A handler that prints its own output (``sql`` rows, the ``explain``
  plan) returns None.
- A bad flag combination raises :class:`UsageError`, which ``main``
  reports through the parser (usage on stderr, exit 2).

Handlers open the Spark session themselves (:func:`_spark`), so the
commands that need none — both ``clean`` modes, ``video``, ``--help``
— never start a JVM.
"""

from __future__ import annotations

import argparse
import functools
import importlib
import json
import sys
from typing import NamedTuple

from harness_aws_etl_pipeline_spark.operators import dedup_api


class UsageError(Exception):
    """A flag combination argparse cannot reject by itself."""


def main(argv: list[str] | None = None) -> int:
    parser = build_parser()
    args = parser.parse_args(argv)
    try:
        out = args.func(args)
    except UsageError as exc:
        parser.error(str(exc))
    payload, code = out if isinstance(out, tuple) else (out, 0)
    if payload is not None:
        print(json.dumps(payload, default=str))
    return code


def _command(sub, func, name: str, **kwargs) -> argparse.ArgumentParser:
    sp = sub.add_parser(name, **kwargs)
    sp.set_defaults(func=func)
    return sp


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="harness_aws_etl_pipeline_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    for name, func, source, help in (
        ("run", _run, "--source", "E→T→L one source file"),
        ("sweep", _sweep, "--prefix", "E→T→L every pending file under a prefix"),
    ):
        etl = _command(sub, func, name, help=help)
        etl.add_argument(source, required=True)
        etl.add_argument("--output", required=True)
        etl.add_argument("--format", default="parquet", choices=["parquet", "csv", "json", "snaptable"])
        etl.add_argument("--null-handling", default=None, choices=["drop", "fill", "flag"])
        etl.add_argument("--job-runs", default=None, help="job_runs table path")

    sql = _command(sub, _sql, "sql", help="ad-hoc SQL over the test tables")
    sql.add_argument("--sf-dir", required=True)
    sql.add_argument("--query", required=True)
    sql.add_argument("--limit", type=int, default=20)

    # reference scripts/status_check.py: recent jobs + per-status
    # counts from the metadata table, storage footprint of the sinks
    status = _command(sub, _status, "status", help="job + storage health report")
    status.add_argument("--job-runs", required=True, help="job_runs table path")
    status.add_argument("--output", default=None, help="sink path to size")
    status.add_argument("--recent", type=int, default=10)

    # reference scripts/cleanup.py: tear down pipeline outputs
    # (explicit --force, like cleanup.py's confirmation prompt);
    # --expired is the lifecycle-rule equivalent (config.yaml:35-37):
    # age-based per-file expiry instead of whole-path delete
    clean = _command(
        sub, _clean, "clean", help="delete a pipeline output path, or expire old files"
    )
    clean.add_argument("--path", default=None)
    clean.add_argument("--force", action="store_true")
    clean.add_argument(
        "--expired",
        action="store_true",
        help="retention sweep: delete only files older than the tier's "
        "configured day budget (dry run without --force)",
    )
    clean.add_argument(
        "--days", type=int, default=None, help="day budget for --path mode"
    )
    clean.add_argument("--raw", default=None, help="raw-tier root (30 d default)")
    clean.add_argument(
        "--processed", default=None, help="processed-tier root (90 d default)"
    )
    clean.add_argument(
        "--archive", default=None, help="archive-tier root (365 d default)"
    )

    # snaptable maintenance — the transactional-table ops surface
    # (history/compact/vacuum/expire), Delta-utilities-shaped
    snap = _command(
        sub, _snap, "snap",
        help="snapshot-table maintenance (history/compact/vacuum/expire)",
    )
    snap.add_argument(
        "action",
        choices=[
            "history", "compact", "vacuum", "expire", "restore",
            "changes", "optimize", "delete", "update", "export-delta",
        ],
    )
    snap.add_argument("--path", required=True, help="snaptable root")
    snap.add_argument(
        "--format", default="parquet", choices=["parquet", "orc"],
        dest="snap_format", help="table data-file format",
    )
    snap.add_argument(
        "--target-file-mb", type=int, default=128, help="compact bin size"
    )
    snap.add_argument(
        "--min-age-hours",
        type=float,
        default=24.0,
        help="vacuum in-flight-writer guard: only unreferenced txn "
        "dirs older than this are removed",
    )
    snap.add_argument(
        "--keep-last", type=int, default=2, help="snapshots retained by expire"
    )
    snap.add_argument(
        "--force",
        action="store_true",
        help="vacuum actually deletes (dry run without it)",
    )
    snap.add_argument(
        "--to-version", type=int, default=None,
        help="restore target / changes upper bound",
    )
    snap.add_argument(
        "--since", type=int, default=None, help="changes lower bound (exclusive)"
    )
    snap.add_argument(
        "--zorder-by", default=None,
        help="comma-separated columns for optimize",
    )
    snap.add_argument(
        "--where", default=None,
        help="SQL predicate for delete/update (3VL: NULL rows kept)",
    )
    snap.add_argument(
        "--set", action="append", default=None, dest="set_exprs",
        metavar="COL=EXPR",
        help="update assignment (repeatable), e.g. --set \"v=v+1\"",
    )

    # training-corpus toolkit: the dedup/decontam/filter/tokenize ops
    # as batch jobs over a parquet corpus (text column contract:
    # doc_id + text, embedding tables: vec_id + embedding)
    corpus = _command(
        sub, _corpus, "corpus", help="corpus prep: dedup / decontam / filter / tokenize"
    )
    corpus.add_argument(
        "action",
        choices=[
            "dedup", "span-dedup", "decontam", "filter", "tokenize", "report",
            "prepare", "train-scorer", "score", "takedown",
        ],
    )
    corpus.add_argument("--input", required=True, help="input parquet path")
    corpus.add_argument("--output", default=None, help="output parquet path")
    corpus.add_argument(
        "--method", default="exact",
        help="dedup method (" + "/".join(dedup_api.METHODS) + ")",
    )
    corpus.add_argument("--threshold", type=float, default=0.8)
    corpus.add_argument("--benchmark", default=None, help="decontam benchmark parquet")
    corpus.add_argument("--ngram", type=int, default=13, help="decontam n-gram width")
    corpus.add_argument(
        "--preset", default="gopher", help="filter preset (gopher/c4)"
    )
    corpus.add_argument(
        "--merges", type=int, default=8000, help="tokenize: BPE merges to learn"
    )
    corpus.add_argument("--id-col", default="doc_id")
    corpus.add_argument("--text-col", default="text")
    corpus.add_argument(
        "--model", default=None,
        help="train-scorer: output model JSON path; score: model to apply",
    )
    corpus.add_argument(
        "--label-col", default=None,
        help="train-scorer: 0/1 label column (default: gopher-gate labels)",
    )
    corpus.add_argument(
        "--normalize", default=None,
        help="prepare: unicode form (NFKC/NFC/...) for the normalize stage",
    )
    corpus.add_argument(
        "--gate", action="store_true",
        help="prepare: enable the quality-filter stage (--preset)",
    )
    corpus.add_argument(
        "--line-min", type=int, default=None,
        help="prepare: line-dedup min corpus count (stage off when unset)",
    )
    corpus.add_argument(
        "--span-k", type=int, default=None,
        help="prepare: duplicated-span window width (stage off when unset)",
    )
    corpus.add_argument(
        "--url-col", default=None,
        help="prepare: URL column — enables canonical-URL dedup first",
    )
    corpus.add_argument(
        "--max-docs-per-host", type=int, default=None,
        help="prepare: per-host cap (needs --url-col)",
    )
    corpus.add_argument(
        "--suffix-list", default=None,
        help="prepare: publicsuffix.org data file for eTLD+1 "
        "(adds url_* columns)",
    )
    corpus.add_argument(
        "--html-col", default=None,
        help="prepare: HTML column - extract text into --text-col first",
    )
    corpus.add_argument(
        "--pdf-col", default=None,
        help="prepare: binary PDF column - extract text into --text-col "
        "first (malformed payloads become NULL text)",
    )
    corpus.add_argument(
        "--office-col", default=None,
        help="prepare: binary docx/pptx/xlsx column - extract text into "
        "--text-col first (malformed payloads become NULL text)",
    )
    corpus.add_argument(
        "--block-ids", default=None,
        help="takedown: comma-separated literal doc ids (string ids "
        "welcome; all-digit ids compare as ints). Legacy: a parquet "
        "path also works here, but prefer --block-ids-path",
    )
    corpus.add_argument(
        "--block-ids-path", default=None,
        help="takedown: parquet path whose first column is the "
        "blocklist (bulk anti-join path) - explicit, no heuristics",
    )
    corpus.add_argument(
        "--block-url-pattern", action="append", default=[],
        help="takedown: URL regex rule (repeatable; needs --url-col)",
    )
    corpus.add_argument(
        "--block-hash", action="append", default=[],
        help="takedown: md5(text) content-hash rule (repeatable)",
    )

    warc = _command(
        sub, _warc, "warc", help="ingest WARC crawl files into a documents parquet"
    )
    warc.add_argument("--input", required=True, help="WARC file/dir")
    warc.add_argument("--output", required=True, help="documents parquet path")
    warc.add_argument(
        "--glob", default=None, help="pathGlobFilter, e.g. *.warc.gz"
    )
    warc.add_argument(
        "--all-records", action="store_true",
        help="keep every record type (default: response only)",
    )
    warc.add_argument(
        "--extract-text", action="store_true",
        help="add a text column via the HTML extraction chain",
    )

    probe = _command(
        sub, _probe, "probe",
        help="media container metadata (mp4/mp3/wav/images), no decode",
    )
    probe.add_argument("--input", required=True, help="media parquet path")
    probe.add_argument("--output", default=None, help="metadata parquet path")
    probe.add_argument("--id-col", default="media_id")
    probe.add_argument("--payload-col", default="payload")

    rank = _command(
        sub, _rank, "rank", help="PageRank/HITS over a link graph (edges or docs+links)"
    )
    rank.add_argument("--input", required=True, help="input parquet path")
    rank.add_argument(
        "--algo", default="pagerank", choices=("pagerank", "hits"),
        help="pagerank (rank vector) or hits (hub+authority vectors; "
        "top-N is by authority)",
    )
    rank.add_argument("--output", default=None, help="ranks parquet path")
    rank.add_argument(
        "--from-links", action="store_true",
        help="input is docs with url+links columns: build the host "
        "graph first (default: input already is src/dst edges)",
    )
    rank.add_argument("--url-col", default="url")
    rank.add_argument("--links-col", default="links")
    rank.add_argument("--src-col", default="src")
    rank.add_argument("--dst-col", default="dst")
    rank.add_argument(
        "--weight-col", default=None,
        help="integer edge-weight column (host-graph input weights "
        "automatically)",
    )
    rank.add_argument("--iterations", type=int, default=10)
    rank.add_argument("--damping-pct", type=int, default=85)
    rank.add_argument(
        "--seed", action="append", default=None, metavar="NODE",
        help="personalized PageRank: teleport only to these nodes "
        "(repeatable)",
    )
    rank.add_argument("--top", type=int, default=10,
                      help="top-N nodes echoed in the report")

    topk = _command(
        sub, _topk, "topk",
        help="space-saving heavy hitters over a column (bounded shuffle)",
    )
    topk.add_argument("--input", required=True, help="input parquet path")
    topk.add_argument("--col", required=True, help="key column")
    topk.add_argument("--k", type=int, default=10)
    topk.add_argument(
        "--capacity", type=int, default=None,
        help="per-partition summary size (default max(16k, 256))",
    )
    topk.add_argument(
        "--weight-col", default=None, help="integer weight column"
    )
    topk.add_argument(
        "--by", default=None,
        help="group column: per-group top-k instead of global",
    )

    overlap = _command(
        sub, _overlap, "overlap",
        help="KMV sketch overlap/cardinality estimate between two tables",
    )
    overlap.add_argument("--a", required=True, help="first parquet path")
    overlap.add_argument("--b", required=True, help="second parquet path")
    overlap.add_argument("--col", required=True, help="key column (both tables)")
    overlap.add_argument(
        "--col-b", default=None, help="key column in --b when named differently"
    )
    overlap.add_argument("--k", type=int, default=1024, help="sketch size")

    layout = _command(
        sub, _layout, "layout",
        help="re-cluster a table along the Z-order (Morton) curve",
    )
    layout.add_argument("--input", required=True, help="input parquet path")
    layout.add_argument("--output", required=True, help="re-clustered parquet path")
    layout.add_argument(
        "--by", required=True,
        help="comma-separated columns to cluster (2+ typical)",
    )
    layout.add_argument("--bits", type=int, default=10, help="bits per dimension")
    layout.add_argument(
        "--partitions", type=int, default=None,
        help="output file count (default: session shuffle parallelism)",
    )

    ann = _command(
        sub, _ann, "ann", help="similarity search over an embedding table"
    )
    ann.add_argument("--input", required=True, help="candidates parquet")
    ann.add_argument("--queries", required=True, help="query-vectors parquet")
    ann.add_argument("--output", default=None, help="results parquet path")
    ann.add_argument(
        "--method", default="brute_arrow",
        help="brute/brute_arrow/lsh/ivf/pq/ivfpq",
    )
    ann.add_argument("--k", type=int, default=10)
    ann.add_argument("--id-col", default="vec_id")
    ann.add_argument("--vec-col", default="embedding")
    ann.add_argument(
        "--rerank", action="store_true",
        help="pq/ivfpq: exact-cosine rerank of the ADC shortlist",
    )
    ann.add_argument(
        "--nprobe", type=int, default=4,
        help="ivfpq: inverted lists probed per query",
    )
    ann.add_argument(
        "--model", default=None,
        help="pq/ivf: model JSON (codebooks / coarse centroids) — "
        "loaded when it exists, else trained and saved there",
    )

    anx = _command(
        sub, _annindex, "annindex",
        help="incrementally maintained IVF-PQ index over a state dir",
    )
    anx.add_argument("--state", required=True, help="snapshot-state path")
    anx.add_argument(
        "--build", default=None,
        help="parquet path: train frozen quantizers + write the seed index",
    )
    anx.add_argument(
        "--add-batch", default=None,
        help="parquet path: encode against the frozen quantizers, append",
    )
    anx.add_argument("--nlist", type=int, default=16)
    anx.add_argument("--m", type=int, default=8)
    anx.add_argument("--k-codes", type=int, default=256)
    anx.add_argument("--id-col", default="vec_id")
    anx.add_argument("--vec-col", default="embedding")
    _ledger_flags(anx, "cli-annindex", "--build/--add-batch")
    anx.add_argument(
        "--queries", default=None,
        help="parquet path: run a top-k search (calibrated nprobe default)",
    )
    anx.add_argument("--topk", type=int, default=10)
    anx.add_argument(
        "--rerank-with", default=None,
        help="parquet path of raw vectors for exact rerank",
    )
    anx.add_argument(
        "--recalibrate", default=None,
        help="parquet path of sample queries: re-derive + persist nprobe "
        "(requires --corpus)",
    )
    anx.add_argument(
        "--corpus", default=None,
        help="raw-vector parquet backing recalibration's exact top-k",
    )
    anx.add_argument(
        "--target-recall", type=float, default=0.9,
        help="recalibration coverage target",
    )
    anx.add_argument("--output", default=None, help="search results parquet")
    anx.add_argument("--show", type=int, default=5, help="print first N rows")

    bj = _command(
        sub, _bloomjoin, "bloomjoin",
        help="join with the big side Bloom-pruned before the shuffle",
    )
    bj.add_argument("--big", required=True, help="fact-side parquet path")
    bj.add_argument("--small", required=True, help="dim-side parquet path")
    bj.add_argument("--on", required=True, help="join key (shared name)")
    bj.add_argument(
        "--small-on", default=None, help="dim-side key when named differently"
    )
    bj.add_argument(
        "--how", default="inner", help="inner / left_semi / right"
    )
    bj.add_argument("--output", default=None, help="result parquet path")
    bj.add_argument("--num-hashes", type=int, default=5)
    bj.add_argument(
        "--num-bits", type=int, default=None,
        help="bitmap size (default 10x dim rows, ~0.9%% fp)",
    )

    prof = _command(
        sub, _profile, "profile",
        help="distribution profile of a numeric parquet column",
    )
    prof.add_argument("--input", required=True, help="parquet path")
    prof.add_argument("--col", required=True, help="numeric column")
    prof.add_argument("--bins", type=int, default=10)
    prof.add_argument(
        "--corr-with", default=None,
        help="second column: also report exact Pearson r",
    )

    drift = _command(
        sub, _drift, "drift", help="distribution drift between two parquet snapshots"
    )
    drift.add_argument("--reference", required=True, help="reference parquet")
    drift.add_argument("--current", required=True, help="current parquet")
    drift.add_argument("--col", required=True, help="column to compare")
    drift.add_argument(
        "--kind", choices=("numeric", "categorical"), default="numeric",
        help="numeric: KS + PSI over bins; categorical: TVD + chi-square",
    )
    drift.add_argument("--bins", type=int, default=10, help="PSI bin count")

    tdiff = _command(
        sub, _diff, "diff", help="keyed reconciliation of two parquet snapshots"
    )
    tdiff.add_argument("--reference", required=True, help="reference parquet")
    tdiff.add_argument("--current", required=True, help="current parquet")
    tdiff.add_argument(
        "--keys", required=True, help="comma-separated candidate-key columns"
    )
    tdiff.add_argument(
        "--compare-cols", default=None,
        help="comma-separated columns to compare (default: all shared non-key)",
    )
    tdiff.add_argument(
        "--float-tolerance", type=float, default=None,
        help="treat |a-b| <= tol as equal for float/double columns",
    )
    tdiff.add_argument(
        "--output", default=None,
        help="optional parquet path for the per-row diff frame",
    )

    outl = _command(
        sub, _outliers, "outliers", help="robust outlier flags over a parquet column"
    )
    outl.add_argument("--input", required=True, help="parquet path")
    outl.add_argument("--col", required=True, help="numeric value column")
    outl.add_argument(
        "--method", choices=("zscore", "mad", "iqr"), default="mad"
    )
    outl.add_argument(
        "--group-by", default=None,
        help="comma-separated group columns (default: whole table)",
    )
    outl.add_argument(
        "--order-by", default=None,
        help="ordering column (required for --method zscore)",
    )
    outl.add_argument("--window", type=int, default=7, help="zscore window")
    outl.add_argument(
        "--k", type=int, default=3,
        help="zscore/MAD threshold multiplier; IQR half-IQR count (3 = 1.5×)",
    )
    outl.add_argument(
        "--output", default=None,
        help="optional parquet path for the flagged rows",
    )

    tri = _command(
        sub, _triangles, "triangles",
        help="triangle counts + clustering coefficients of an edge list",
    )
    tri.add_argument("--input", required=True, help="edge-list parquet")
    tri.add_argument("--src", default="src", help="source column")
    tri.add_argument("--dst", default="dst", help="destination column")
    tri.add_argument(
        "--top", type=int, default=10,
        help="report the N highest-triangle nodes",
    )
    tri.add_argument(
        "--output", default=None,
        help="optional parquet path for the per-node frame",
    )

    trn = _command(
        sub, _transitions, "transitions",
        help="event transition matrix / path n-grams per actor",
    )
    trn.add_argument("--input", required=True, help="event parquet")
    trn.add_argument("--key", required=True, help="actor column")
    trn.add_argument("--order-by", required=True, help="ordering column")
    trn.add_argument("--state", required=True, help="event-type column")
    trn.add_argument(
        "--tie", default=None, help="comma-separated tie-break columns"
    )
    trn.add_argument(
        "--n", type=int, default=2,
        help="chain length: 2 = transition matrix, >2 = path n-grams",
    )
    trn.add_argument("--top", type=int, default=10, help="report top N")
    trn.add_argument(
        "--output", default=None,
        help="optional parquet path for the full matrix/gram frame",
    )

    smp = _command(
        sub, _sample, "sample", help="deterministic hash-based sampling"
    )
    smp.add_argument("--input", required=True, help="parquet path")
    smp.add_argument("--key", required=True, help="stable row key column")
    smp.add_argument(
        "--method", choices=("fraction", "exact", "weighted"),
        default="fraction",
    )
    smp.add_argument("--fraction", type=float, default=0.1)
    smp.add_argument("--n", type=int, default=1000, help="exact/weighted n")
    smp.add_argument(
        "--weight-col", default=None, help="weight column (weighted only)"
    )
    smp.add_argument(
        "--group-by", default=None,
        help="comma-separated group columns (weighted: n PER group)",
    )
    smp.add_argument("--salt", type=int, default=0)
    smp.add_argument("--output", required=True, help="sample parquet path")

    bfs = _command(
        sub, _bfs, "bfs", help="minimum hop distances from a seed set over an edge list"
    )
    bfs.add_argument("--input", required=True, help="edge-list parquet")
    bfs.add_argument(
        "--seeds", required=True, help="comma-separated seed node ids"
    )
    bfs.add_argument("--src", default="src", help="source column")
    bfs.add_argument("--dst", default="dst", help="destination column")
    bfs.add_argument("--max-hops", type=int, default=6)
    bfs.add_argument(
        "--undirected", action="store_true",
        help="treat edges as undirected",
    )
    bfs.add_argument(
        "--output", default=None,
        help="optional parquet path for the (node, hop) frame",
    )

    smo = _command(
        sub, _smooth, "smooth", help="exponential smoothing over an ordered series"
    )
    smo.add_argument("--input", required=True, help="parquet path")
    smo.add_argument("--order-by", required=True, help="ordering column")
    smo.add_argument("--value", required=True, help="value column")
    smo.add_argument(
        "--group-by", default=None,
        help="comma-separated series-key columns",
    )
    smo.add_argument(
        "--method", choices=("ewma", "holt"), default="ewma"
    )
    smo.add_argument("--alpha", type=float, default=0.3)
    smo.add_argument("--beta", type=float, default=0.2, help="holt trend gain")
    smo.add_argument("--output", required=True, help="smoothed parquet path")

    sess = _command(
        sub, _sessionize, "sessionize",
        help="gap-based session ids over an event parquet",
    )
    sess.add_argument("--input", required=True, help="event parquet")
    sess.add_argument("--key", required=True, help="actor column")
    sess.add_argument("--ts", required=True, help="timestamp column")
    sess.add_argument("--gap", type=int, default=1800, help="gap seconds")
    sess.add_argument(
        "--tie", default=None, help="comma-separated tie-break columns"
    )
    sess.add_argument("--output", required=True, help="output parquet path")

    feat = _command(
        sub, _features, "features", help="ML feature prep: encode / scale / bucket"
    )
    feat.add_argument("--input", required=True, help="parquet path")
    feat.add_argument(
        "--op",
        choices=("onehot", "hash", "scale", "minmax", "bucket"),
        required=True,
    )
    feat.add_argument(
        "--cols", required=True,
        help="comma-separated columns to encode/scale",
    )
    feat.add_argument(
        "--group-by", default=None,
        help="comma-separated group columns (scale/minmax only)",
    )
    feat.add_argument("--dims", type=int, default=1024, help="hash slots")
    feat.add_argument("--buckets", type=int, default=4)
    feat.add_argument("--output", required=True, help="output parquet path")

    explain = _command(
        sub, _explain, "explain", help="print the physical plan of a catalog query"
    )
    explain.add_argument("--query", required=True, help="catalog query name")
    explain.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001",
        help="directory with the star-schema parquet tables",
    )
    explain.add_argument(
        "--mode", default="formatted",
        help="explain mode: simple/extended/codegen/cost/formatted",
    )

    evolve = _command(
        sub, _evolve, "evolve",
        help="read a parquet dir whose files span schema versions",
    )
    evolve.add_argument("--input", required=True, help="parquet table path")
    evolve.add_argument(
        "--output", default=None,
        help="write the widened/normalized table here (else report only)",
    )

    tpch = _command(
        sub, _tpch, "tpch", help="run the TPC-H parity-pack queries over an sf dir"
    )
    tpch.add_argument(
        "--sf-dir", default="/root/testdata/sf0.01",
        help="directory with the star-schema parquet tables",
    )
    tpch.add_argument(
        "--query", default=None,
        help="one of q2,q4,q6-q22 (the pack derives from _PACK, so new"
             " queries appear automatically; q1/q3/q5 live in the main"
             " catalog)"
             " (default: all)",
    )
    tpch.add_argument(
        "--show", type=int, default=0,
        help="print the first N result rows per query",
    )

    lat = _command(
        sub, _lattice, "lattice",
        help="multi-level aggregation: rollup / cube / grouping sets",
    )
    lat.add_argument("--input", required=True, help="parquet path")
    lat.add_argument(
        "--keys", required=True, help="comma-separated grouping keys"
    )
    lat.add_argument(
        "--mode", choices=("rollup", "cube", "sets"), default="rollup"
    )
    lat.add_argument(
        "--sets", default=None,
        help='mode=sets: semicolon-separated key lists, e.g. "a,b;a;b"',
    )
    lat.add_argument(
        "--sum", dest="sum_col", default=None,
        help="optional numeric column to SUM per level (exact decimal)",
    )
    lat.add_argument(
        "--show", type=int, default=20, help="print first N level rows"
    )

    vid = _command(
        sub, _video, "video", help="probe an MJPG AVI and sample decoded frames"
    )
    vid.add_argument("--input", required=True, help="AVI file path")
    vid.add_argument(
        "--sample-every", type=int, default=1, help="decode every Nth frame"
    )
    vid.add_argument(
        "--max-frames", type=int, default=8, help="cap on decoded frames"
    )

    dmon = _command(
        sub, _driftmon, "driftmon", help="incremental drift monitor over a state dir"
    )
    dmon.add_argument("--state", required=True, help="snapshot-state path")
    dmon.add_argument("--col", required=True, help="category column")
    dmon.add_argument(
        "--set-reference", default=None,
        help="parquet path: pin this as the reference (resets current)",
    )
    dmon.add_argument(
        "--batch", default=None, help="parquet path: fold one current batch"
    )
    _ledger_flags(dmon, "cli-driftmon", "--batch/--set-reference")

    kj = _command(
        sub, _knnjoin, "knnjoin", help="distributed kNN join of two embedding parquets"
    )
    kj.add_argument("--left", required=True, help="left parquet (queries)")
    kj.add_argument("--right", required=True, help="right parquet (corpus)")
    kj.add_argument("--k", type=int, default=10)
    kj.add_argument("--n-centroids", type=int, default=16)
    kj.add_argument("--nprobe", type=int, default=4)
    kj.add_argument("--id-col", default="vec_id")
    kj.add_argument("--vec-col", default="embedding")
    kj.add_argument("--output", default=None, help="optional parquet sink")
    kj.add_argument("--show", type=int, default=5, help="print first N rows")

    dl = _lake_table_parser(
        sub, "delta",
        "read a Delta Lake table via the open log protocol (no jar)",
        commit="commit", since="version", since_type=int, time_travel=True,
    )
    dl.add_argument(
        "--version", type=int, default=None, help="time-travel version"
    )
    dl.add_argument(
        "--history", action="store_true", help="print the commit history"
    )
    dl.add_argument(
        "--delete-where", default=None,
        help="DELETE matching rows via deletion vectors (no rewrite)",
    )
    dl.add_argument(
        "--update-where", default=None,
        help="UPDATE matching rows (needs --set); DV old rows + append "
             "updated copies in one commit",
    )
    dl.add_argument(
        "--set", action="append", default=None, metavar="COL=EXPR",
        help="SET clause for --update-where (repeatable)",
    )
    dl.add_argument(
        "--merge", default=None,
        help="parquet path: keyed MERGE (upsert) into the table "
             "(needs --keys)",
    )
    dl.add_argument(
        "--keys", default=None,
        help="comma-separated merge key columns for --merge",
    )
    dl.add_argument(
        "--cdf", action="store_true",
        help="with --delete-where: also write the change data feed; "
             "with --changes-since: replay cdc actions as row-level "
             "changes (_change_type/_commit_version)",
    )
    dl.add_argument(
        "--optimize", action="store_true",
        help="bin-pack small files and purge deletion vectors",
    )
    dl.add_argument(
        "--vacuum-hours", type=float, default=None,
        help="VACUUM files unreferenced by the current snapshot and "
             "older than this many hours",
    )

    ib = _lake_table_parser(
        sub, "iceberg",
        "read an Apache Iceberg table via the open spec (no jar)",
        commit="snapshot", since="snapshot id", since_type=int,
        partition="identity partition", time_travel=True, change_rows=True,
    )
    ib.add_argument(
        "--snapshot-id", type=int, default=None, help="time-travel snapshot"
    )
    ib.add_argument(
        "--snapshots", action="store_true", help="print the snapshot log"
    )
    ib.add_argument(
        "--delete-where", default=None,
        help="DELETE matching rows via v2 position deletes (no rewrite)",
    )
    ib.add_argument(
        "--compact", action="store_true",
        help="major compaction: rewrite live rows, drop delete files",
    )
    ib.add_argument(
        "--expire-keep-last", type=int, default=None,
        help="expire all but the newest N snapshots and reclaim files",
    )
    ib.add_argument(
        "--upsert", default=None,
        help="parquet path: keyed upsert via equality deletes "
             "(needs --keys)",
    )
    ib.add_argument(
        "--keys", default=None,
        help="comma-separated upsert key columns for --upsert",
    )

    hu = _lake_table_parser(
        sub, "hudi",
        "read an Apache Hudi CoW table via the open layout (no jar)",
        commit="CoW commit", since="instant", change_rows=True,
    )
    hu.add_argument(
        "--as-of", default=None, help="time-travel instant (yyyyMMddHHmmss)"
    )
    hu.add_argument(
        "--timeline", action="store_true", help="print completed instants"
    )
    hu.add_argument(
        "--compact", action="store_true",
        help="MOR compaction: merge delta logs into new base slices",
    )
    hu.add_argument(
        "--clean-keep-last", type=int, default=None,
        help="delete all but the newest N slices per file group",
    )
    hu.add_argument(
        "--drop-meta", action="store_true", help="strip _hoodie_* columns"
    )
    hu.add_argument(
        "--upsert", default=None,
        help="parquet path: keyed upsert (MOR log blocks) "
             "(needs --key-col)",
    )
    hu.add_argument(
        "--key-col", default=None,
        help="record key column for --upsert",
    )

    pdfp = _command(
        sub, _pdf, "pdf", help="extract text from PDF payloads into a documents table"
    )
    pdfp.add_argument(
        "--input", required=True,
        help="parquet with (id, binary payload) columns",
    )
    pdfp.add_argument("--id-col", default="doc_id")
    pdfp.add_argument("--payload-col", default="payload")
    pdfp.add_argument("--output", default=None, help="documents parquet path")
    pdfp.add_argument("--show", type=int, default=3, help="preview rows")

    lgr = _command(
        sub, _linkgraph, "linkgraph",
        help="incremental link graph: fold edge batches, warm-start "
        "pagerank/hits refresh over a state dir",
    )
    lgr.add_argument("--state", required=True, help="snapshot-state path")
    lgr.add_argument(
        "--add-edges", default=None,
        help="parquet path: fold one batch of edges into the state",
    )
    lgr.add_argument("--src", default="src", help="source column")
    lgr.add_argument("--dst", default="dst", help="destination column")
    lgr.add_argument(
        "--weight", default=None, help="optional integer edge-weight column"
    )
    _ledger_flags(lgr, "cli-linkgraph", "--add-edges")
    lgr.add_argument(
        "--pagerank", action="store_true",
        help="refresh PageRank (warm-started from the stored vector)",
    )
    lgr.add_argument(
        "--hits", action="store_true",
        help="refresh HITS hubs/authorities (warm-started)",
    )
    lgr.add_argument("--iterations", type=int, default=30)
    lgr.add_argument(
        "--tol", type=float, default=1e-7,
        help="early-stop L1 tolerance (0 disables)",
    )
    lgr.add_argument(
        "--cold", action="store_true",
        help="ignore the stored vector (cold start)",
    )
    lgr.add_argument(
        "--maintain", action="store_true",
        help="compact state + rewrite the edge fold",
    )
    lgr.add_argument("--show", type=int, default=10, help="print top-N nodes")

    lk = _command(
        sub, _lake, "lake",
        help="format-agnostic lake table access: detect the layout "
        "(snaptable/delta/iceberg/hudi/avro/parquet) and read, "
        "consume changes, or write",
    )
    lk.add_argument("--path", required=True, help="table root")
    lk.add_argument(
        "--changes-since", default=None,
        help="incremental read from this cursor (version / snapshot "
             "id / instant, per the detected format)",
    )
    lk.add_argument(
        "--change-rows", action="store_true",
        help="with --changes-since: labeled change rows "
             "(_change_type/_commit_version)",
    )
    lk.add_argument(
        "--write", default=None,
        help="parquet path: write it INTO the table (format detected; "
             "new paths need --format)",
    )
    lk.add_argument(
        "--format", default=None,
        choices=["snaptable", "delta", "iceberg", "hudi", "parquet"],
        help="target format when --write creates a NEW table",
    )
    lk.add_argument(
        "--mode", default="append", choices=["append", "overwrite"],
    )
    lk.add_argument("--output", default=None, help="export parquet path")
    lk.add_argument("--show", type=int, default=5, help="preview rows")

    lvw = _command(
        sub, _lakeview, "lakeview",
        help="incrementally-maintained rollup over any lake table "
        "(snaptable/delta/iceberg/hudi) via its change feed",
    )
    lvw.add_argument("--source", required=True, help="lake table root")
    lvw.add_argument("--view", required=True, help="view snaptable path")
    lvw.add_argument("--name", default="view", help="ledger view name")
    lvw.add_argument(
        "--group-cols", required=True,
        help="comma-separated group-by columns",
    )
    lvw.add_argument(
        "--agg", action="append", required=True, metavar="OUT=KIND:EXPR",
        help="aggregate spec, repeatable: OUT=sum:EXPR / OUT=count:1 "
             "/ OUT=min:EXPR / OUT=max:EXPR",
    )
    lvw.add_argument(
        "--change-rows", action="store_true",
        help="fold the change-row stream with retraction "
             "(sum/count only; exact through updates and deletes)",
    )
    lvw.add_argument("--show", type=int, default=5, help="preview rows")

    return p


def _ledger_flags(sp, app: str, flags: str) -> None:
    """``--txn-id`` / ``--batch-id``: the exactly-once ledger key that
    :func:`_txn` reads for the incremental state-dir commands."""
    sp.add_argument("--txn-id", default=app, help="ledger app id")
    sp.add_argument(
        "--batch-id", type=int, default=None,
        help=f"ledger batch number (required with {flags})",
    )


def _lake_table_parser(
    sub, name: str, help: str, *, commit: str, since: str, since_type=None,
    partition: str = "partition", time_travel: bool = False,
    change_rows: bool = False,
) -> argparse.ArgumentParser:
    """The ``delta`` / ``iceberg`` / ``hudi`` subparser with the flags
    the three share; the caller adds the format's own flags."""
    sp = _command(sub, functools.partial(_lake_table, name), name, help=help)
    sp.add_argument(
        "--path", required=True, help=f"{name.capitalize()} table root"
    )
    sp.add_argument(
        "--write", default=None,
        help=f"parquet path: write it INTO the table as one {commit}",
    )
    sp.add_argument(
        "--mode", default="append", choices=["append", "overwrite"],
        help="write mode for --write",
    )
    sp.add_argument(
        "--partition-by", default=None,
        help=f"comma-separated {partition} columns for --write",
    )
    sp.add_argument(
        "--changes-since", type=since_type, default=None,
        help=f"incremental read: rows changed after this {since}",
    )
    if time_travel:
        sp.add_argument(
            "--timestamp-ms", type=int, default=None,
            help=f"time travel to the newest {commit} at or before this "
                 "epoch ms",
        )
    if change_rows:
        sp.add_argument(
            "--change-rows", action="store_true",
            help="with --changes-since: replay upserts/deletes as labeled "
                 "change rows (_change_type/_commit_version)",
        )
    sp.add_argument("--output", default=None, help="export snapshot parquet")
    sp.add_argument("--show", type=int, default=5, help="preview rows")
    return sp


# ---------------------------------------------------------------------
# Shared handler helpers
# ---------------------------------------------------------------------


def _spark():
    from harness_aws_etl_pipeline_spark.session import get_spark

    return get_spark("etl-cli")


def _split(csv: str | None) -> list[str] | None:
    return csv.split(",") if csv else None


def _save(df, path: str | None, reread: bool = False):
    """Overwrite ``path`` with ``df`` as parquet when a path is given.
    With ``reread``, return the frame read back from the sink, so the
    caller's counts come from the written files, not a recompute."""
    if not path:
        return df
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path) if reread else df


def _rows(df, n: int) -> list[dict]:
    return [r.asDict() for r in df.limit(n).collect()]


def _preview(df, n: int) -> dict:
    return {"rows": df.count(), "preview": _rows(df, n)}


def _counts(df, col: str) -> dict:
    """Row count per value of ``col``."""
    return {r[col]: r["count"] for r in df.groupBy(col).count().collect()}


def _read_report(df, args, **head) -> dict:
    """Report of a table read: export to ``--output``, count, and
    preview ``--show`` rows."""
    _save(df, args.output)
    return {
        "status": "success", **head, **_preview(df, args.show),
        "output": args.output,
    }


def _txn(args, flag: str, suffix: str = "") -> tuple[str, int]:
    """Ledger ``(app id, batch id)`` for a ``flag`` that folds a batch
    into an incremental state dir; ``--batch-id`` is required."""
    if args.batch_id is None:
        raise UsageError(f"{flag} requires --batch-id")
    return f"{args.txn_id}{suffix}", args.batch_id


def _assignments(clauses: list[str]) -> dict[str, str]:
    """``COL=EXPR`` clauses (``snap update --set``, ``delta --set``)
    as ``{col: expr}``; a clause without its column or expression is a
    usage error, caught before any table is touched."""
    sets = {}
    for s in clauses:
        col, eq, expr = s.partition("=")
        if not eq or not col.strip() or not expr.strip():
            raise UsageError(f"--set needs COL=EXPR, got {s!r}")
        sets[col.strip()] = expr.strip()
    return sets


# ---------------------------------------------------------------------
# Handlers, in parser order
# ---------------------------------------------------------------------


def _etl(args, source_info: dict):
    from harness_aws_etl_pipeline_spark.config import EngineConfig
    from harness_aws_etl_pipeline_spark.meta import JobRuns
    from harness_aws_etl_pipeline_spark.pipeline import run_job

    spark = _spark()
    overrides: dict = {"etl": {"load": {"format": args.format}}}
    if args.null_handling:
        overrides["etl"]["transform"] = {"null_handling": args.null_handling}
    cfg = EngineConfig(overrides)
    job_runs = JobRuns(spark, args.job_runs) if args.job_runs else None
    try:
        result = run_job(spark, source_info, args.output, cfg, job_runs=job_runs)
    except Exception as exc:  # noqa: BLE001 - CLI boundary
        return {"status": "failed", "error": str(exc)[:2000]}, 1
    return result, 0 if result.get("status") in ("success", "skipped") else 1


def _run(args):
    return _etl(args, {"type": "direct", "path": args.source})


def _sweep(args):
    return _etl(args, {"type": "batch", "prefix": args.prefix})


def _sql(args):
    from harness_aws_etl_pipeline_spark.plans.sqlapi import sql as run_sql

    df = run_sql(_spark(), args.sf_dir, args.query)
    for row in df.limit(args.limit).collect():
        print(json.dumps(row.asDict(), default=str))


def _status(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.meta import JobRuns
    from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

    spark = _spark()
    latest = JobRuns(spark, args.job_runs).latest()
    by_status = _counts(latest, "status")
    recent = [
        {
            "job_id": r["job_id"],
            "status": r["status"],
            "ts": str(r["ts"]),
            "duration_seconds": float(r["duration_seconds"])
            if r["duration_seconds"] is not None
            else None,
        }
        for r in latest.orderBy(F.col("ts").desc()).limit(args.recent).collect()
    ]
    report = {"jobs_by_status": by_status, "recent_jobs": recent}
    if args.output:
        fs = get_fs(args.output, spark)
        report["output"] = {
            "path": args.output,
            "exists": fs.exists(args.output),
            "bytes": fs.tree_size(args.output) if fs.exists(args.output) else 0,
        }
    return report


def _clean(args):
    # no Spark session needed — pure FS metadata ops
    if args.expired:
        from harness_aws_etl_pipeline_spark.config import EngineConfig
        from harness_aws_etl_pipeline_spark.sinks.retention import (
            sweep_expired,
            sweep_lifecycle,
        )

        dry = not args.force
        roots = {
            t: getattr(args, t)
            for t in ("raw", "processed", "archive")
            if getattr(args, t)
        }
        if roots:
            report: dict = sweep_lifecycle(roots, EngineConfig(), dry_run=dry)
        elif args.path:
            if args.days is None:
                raise UsageError("clean --expired --path requires --days")
            report = sweep_expired(args.path, args.days, dry_run=dry)
        else:
            raise UsageError(
                "clean --expired needs --path or tier roots (--raw/...)"
            )
        if dry:
            report = {"hint": "dry run; re-run with --force to delete", **report}
        return report
    if not args.path:
        raise UsageError("clean requires --path")
    from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

    fs = get_fs(args.path)
    if not fs.exists(args.path):
        return {"path": args.path, "status": "absent"}
    if not args.force:
        return {
            "path": args.path,
            "status": "would_delete",
            "bytes": fs.tree_size(args.path),
            "hint": "re-run with --force to delete",
        }, 1
    fs.delete(args.path, recursive=True)
    return {"path": args.path, "status": "deleted"}


def _snap(args):
    from harness_aws_etl_pipeline_spark.sinks.snaptable import SnapTable

    spark = _spark()
    t = SnapTable(spark, args.path, fmt=args.snap_format)
    if args.action == "history":
        return {"history": t.history()}
    if args.action == "compact":
        return t.compact(args.target_file_mb * 1024 * 1024)
    if args.action == "vacuum":
        return t.vacuum(
            dry_run=not args.force,
            min_age_seconds=args.min_age_hours * 3600,
        )
    if args.action == "optimize":
        if not args.zorder_by:
            raise UsageError("snap optimize requires --zorder-by")
        return t.optimize(args.zorder_by.split(","))
    if args.action == "restore":
        if args.to_version is None:
            raise UsageError("snap restore requires --to-version")
        return t.restore(args.to_version)
    if args.action == "changes":
        if args.since is None:
            raise UsageError("snap changes requires --since")
        ch = t.read_changes(
            args.since, to_version=args.to_version, on_rewrite="error"
        )
        return {
            "since": args.since,
            "to": args.to_version
            if args.to_version is not None
            else t.current_version(),
            "rows_added": ch.count(),
        }
    if args.action == "export-delta":
        from harness_aws_etl_pipeline_spark.sinks.deltaexport import (
            export_delta_log,
        )

        return export_delta_log(spark, args.path)
    if args.action == "delete":
        if not args.where:
            raise UsageError("snap delete requires --where")
        return t.delete_where(args.where)
    if args.action == "update":
        if not args.where or not args.set_exprs:
            raise UsageError("snap update requires --where and --set")
        return t.update_where(_assignments(args.set_exprs), args.where)
    return t.expire_snapshots(keep_last=args.keep_last)


def _corpus(args):
    spark = _spark()
    df = spark.read.parquet(args.input)
    if args.action == "dedup":
        from harness_aws_etl_pipeline_spark.operators.dedup_api import (
            deduplicate,
        )

        # corpus semantics: exact/hash dedup keys on CONTENT, not
        # the whole row (doc ids differ between duplicate docs)
        subset = (
            [args.text_col] if args.method in ("exact", "hash") else None
        )
        out = deduplicate(
            df, method=args.method, id_col=args.id_col,
            text_col=args.text_col, threshold=args.threshold,
            subset=subset,
        )
    elif args.action == "decontam":
        if not args.benchmark:
            return {"status": "failed", "error": "--benchmark required"}, 1
        from harness_aws_etl_pipeline_spark.operators.decontam import (
            decontaminate,
        )

        bench = spark.read.parquet(args.benchmark)
        out = decontaminate(
            df, bench, n=args.ngram, id_col=args.id_col,
            text_col=args.text_col,
        )
    elif args.action == "span-dedup":
        from harness_aws_etl_pipeline_spark.operators.spandedup import (
            remove_duplicated_spans,
        )

        out = remove_duplicated_spans(
            df, k=args.ngram, id_col=args.id_col, text_col=args.text_col
        )
    elif args.action == "filter":
        from harness_aws_etl_pipeline_spark.operators.filters import (
            apply_quality_filters,
        )

        out = apply_quality_filters(
            df, args.preset, text_col=args.text_col, mode="filter"
        )
    elif args.action == "train-scorer":
        return _corpus_train_scorer(spark, df, args)
    elif args.action == "score":
        from harness_aws_etl_pipeline_spark.operators.classifier import (
            load_model,
            score_quality,
        )

        if not args.model:
            return {"status": "failed", "error": "--model required"}, 1
        out = score_quality(
            df, load_model(args.model, spark), text_col=args.text_col
        )
    elif args.action == "tokenize":
        from harness_aws_etl_pipeline_spark.operators.bpe import (
            apply_bpe,
            train_bpe,
        )

        merges = train_bpe(df, num_merges=args.merges, text_col=args.text_col)
        out = apply_bpe(df, merges, text_col=args.text_col)
    elif args.action == "prepare":
        return _corpus_prepare(spark, df, args)
    elif args.action == "takedown":
        return _corpus_takedown(spark, df, args)
    else:  # report: corpus summary + per-rule gate counts, no write
        from harness_aws_etl_pipeline_spark.operators.corpus_report import (
            corpus_report,
        )
        from harness_aws_etl_pipeline_spark.operators.filters import (
            quality_filter_report,
        )

        row = quality_filter_report(
            df, args.preset, text_col=args.text_col
        ).collect()[0]
        summary = corpus_report(
            df, text_col=args.text_col, filter_preset=None
        )
        return {"status": "success", **summary, **row.asDict()}
    rows_in = df.count()
    rows_out = _save(out, args.output, reread=True).count()
    return {
        "status": "success", "action": args.action,
        "rows_in": rows_in, "rows_out": rows_out,
        "rows_removed": rows_in - rows_out,
        "output": args.output,
    }


def _corpus_train_scorer(spark, df, args):
    from harness_aws_etl_pipeline_spark.operators.classifier import (
        save_model,
        train_quality_classifier,
    )

    if not args.model:
        return {"status": "failed", "error": "--model required"}, 1
    labeled = df
    label_col = args.label_col
    if label_col is None:
        from pyspark.sql import functions as SF

        from harness_aws_etl_pipeline_spark.operators.filters import (
            apply_quality_filters,
        )

        labeled = apply_quality_filters(
            df, args.preset, text_col=args.text_col
        ).withColumn("__label", SF.col("_qf_pass").cast("int"))
        label_col = "__label"
    m = train_quality_classifier(
        labeled, label_col, text_col=args.text_col, id_col=args.id_col
    )
    save_model(m, args.model, spark)
    return {
        "status": "success", "model": args.model,
        "n": m["n"], "final_loss": m["losses"][-1],
        "iterations": len(m["losses"]),
    }


def _corpus_prepare(spark, df, args):
    from harness_aws_etl_pipeline_spark.operators.corpus_pipeline import (
        prepare_corpus,
    )

    bench_df = (
        spark.read.parquet(args.benchmark) if args.benchmark else None
    )
    rules = None
    if args.suffix_list:
        from harness_aws_etl_pipeline_spark.operators.urlops import (
            load_suffix_list,
        )

        rules = load_suffix_list(args.suffix_list, spark)
    out, stage_report = prepare_corpus(
        df,
        id_col=args.id_col,
        text_col=args.text_col,
        normalize=args.normalize,
        filter_preset=args.preset if args.gate else None,
        line_dedup_min_count=args.line_min,
        span_dedup_k=args.span_k,
        benchmark=bench_df,
        decontam_n=args.ngram,
        dedup_method=args.method if args.method != "none" else None,
        dedup_threshold=args.threshold,
        url_col=args.url_col,
        max_docs_per_host=args.max_docs_per_host,
        url_columns=args.suffix_list is not None,
        suffix_rules=rules,
        html_col=args.html_col,
        pdf_col=args.pdf_col,
        office_col=args.office_col,
    )
    rows_in = df.count()
    rows_out = _save(out, args.output, reread=True).count()
    return {
        "status": "success", "action": "prepare",
        "rows_in": rows_in, "rows_out": rows_out,
        "stages": stage_report, "output": args.output,
    }


def _corpus_takedown(spark, df, args):
    from harness_aws_etl_pipeline_spark.operators.takedown import (
        TakedownRules,
        apply_takedown,
        apply_takedown_ids,
        takedown_report,
    )

    def _literal_ids(raw: str) -> tuple:
        # string doc_ids are first-class: only an all-digit
        # token compares as int (back-compat with long id
        # columns), everything else stays a string
        toks = [t.strip() for t in raw.split(",") if t.strip()]
        return tuple(int(t) if t.isdigit() else t for t in toks)

    block_ids: tuple = ()
    out, report = df, {}
    if args.block_ids_path:
        # explicit parquet blocklist → bulk anti-join path;
        # regex/hash rules (if any) run as a second pass
        blocked = spark.read.parquet(args.block_ids_path)
        pre = out.count()
        out = apply_takedown_ids(out, blocked, id_col=args.id_col)
        report = {"matched_ids_bulk": pre - out.count()}
    if args.block_ids and not args.block_ids.replace(",", "").replace(
        "-", ""
    ).strip().isdigit():
        # legacy heuristic: non-digit --block-ids used to mean
        # "parquet path". Try that read, but fall back to the
        # literal-string-id path so corpora with string doc_ids
        # (e.g. 'abc123,def') are not misrouted to a
        # confusing path error.
        try:
            blocked = spark.read.parquet(args.block_ids)
        except Exception:
            block_ids = _literal_ids(args.block_ids)
        else:
            # per-pass count: snapshot BEFORE this apply so a
            # preceding --block-ids-path pass isn't re-counted
            pre = out.count()
            out = apply_takedown_ids(out, blocked, id_col=args.id_col)
            report["matched_ids_bulk"] = report.get(
                "matched_ids_bulk", 0
            ) + (pre - out.count())
    elif args.block_ids:
        block_ids = _literal_ids(args.block_ids)
    if block_ids or args.block_url_pattern or args.block_hash:
        rules = TakedownRules(
            ids=block_ids,
            url_patterns=tuple(args.block_url_pattern),
            content_hashes=tuple(args.block_hash),
        )
        report.update(
            takedown_report(
                out, rules, id_col=args.id_col,
                url_col=args.url_col, text_col=args.text_col,
            ).collect()[0].asDict()
        )
        out = apply_takedown(
            out, rules, id_col=args.id_col,
            url_col=args.url_col, text_col=args.text_col,
        )
    elif not report:
        return {"status": "failed", "error": "no takedown rules given"}, 1
    _save(out, args.output)
    return {
        "status": "success", "action": "takedown",
        "audit": report, "output": args.output,
    }


def _warc(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.sources.warc import read_warc

    df = read_warc(
        _spark(), args.input,
        record_types=() if args.all_records else ("response",),
        glob=args.glob,
    )
    if args.extract_text:
        from harness_aws_etl_pipeline_spark.operators.html import (
            html_to_text,
        )
        from harness_aws_etl_pipeline_spark.operators.textclean import (
            decode_text,
        )

        # charset-aware decode (BOM/header/meta-sniff chain), then
        # markup -> text for text/* payloads only
        df = decode_text(df, out_col="_decoded")
        df = df.withColumn(
            "text",
            F.when(
                F.col("content_type").startswith("text/"),
                html_to_text(F.col("_decoded")),
            ),
        ).drop("_decoded")
    got = _save(df, args.output, reread=True)
    by_type = _counts(got, "record_type")
    return {
        "status": "success", "action": "warc",
        "rows": sum(by_type.values()), "record_types": by_type,
        "output": args.output,
    }


def _probe(args):
    from harness_aws_etl_pipeline_spark.operators.containers import (
        probe_media_containers,
    )

    meta = probe_media_containers(
        _spark().read.parquet(args.input),
        payload_col=args.payload_col,
        id_col=args.id_col,
    )
    meta = _save(meta, args.output, reread=True)
    by_kind = _counts(meta, "container")
    return {
        "status": "success", "action": "probe",
        "rows": sum(by_kind.values()), "containers": by_kind,
        "output": args.output,
    }


def _rank(args):
    from harness_aws_etl_pipeline_spark.operators.linkgraph import (
        hits,
        host_graph,
        pagerank,
    )

    df = _spark().read.parquet(args.input)
    if args.from_links:
        edges = host_graph(df, url_col=args.url_col, links_col=args.links_col)
        wcol = "weight"
    else:
        edges = df.withColumnsRenamed(
            {args.src_col: "src", args.dst_col: "dst"}
        )
        wcol = args.weight_col
    if args.algo == "hits":
        if args.seed:
            raise SystemExit("--seed is pagerank-only (personalized PR)")
        ranks = hits(edges, weight=wcol, iterations=args.iterations)
    else:
        ranks = pagerank(
            edges, weight=wcol,
            iterations=args.iterations, damping_pct=args.damping_pct,
            seeds=args.seed,
        )
    top = _top_nodes(ranks, args.algo, args.top)
    _save(ranks, args.output)
    return {
        "status": "success", "action": "rank", "algo": args.algo,
        "nodes": ranks.count(), "top": top, "output": args.output,
    }


# per rank algorithm: the ordering column and the reported columns
_TOP_NODES = {
    "pagerank": ("rank_scaled", ("node", "rank")),
    "hits": ("auth_scaled", ("node", "hub", "auth")),
}


def _top_nodes(ranks, algo: str, n: int) -> list[dict]:
    from pyspark.sql import functions as F

    by, cols = _TOP_NODES[algo]
    return [
        {c: r[c] for c in cols}
        for r in ranks.orderBy(F.desc(by), "node").limit(n).collect()
    ]


def _topk(args):
    from harness_aws_etl_pipeline_spark.operators.sketches import (
        heavy_hitters,
        heavy_hitters_by,
    )

    df = _spark().read.parquet(args.input)
    kw = {"k": args.k, "capacity": args.capacity, "weight": args.weight_col}
    if args.by:
        hits_df = heavy_hitters_by(df, args.by, args.col, **kw)
    else:
        hits_df = heavy_hitters(df, args.col, **kw)
    return {
        "status": "success", "action": "topk", "col": args.col,
        "by": args.by,
        "top": [
            {
                **({"group": r["grp"]} if args.by else {}),
                "rank": r["rank"], "key": r["key"],
                "count_min": r["count_min"], "count_max": r["count_max"],
                "guaranteed": r["guaranteed"],
            }
            for r in hits_df.collect()
        ],
    }


def _overlap(args):
    from harness_aws_etl_pipeline_spark.operators.kmv import (
        kmv_distinct_estimate,
        kmv_jaccard,
        kmv_sketch,
    )

    spark = _spark()
    sk_a = kmv_sketch(spark.read.parquet(args.a), args.col, k=args.k)
    sk_b = kmv_sketch(
        spark.read.parquet(args.b), args.col_b or args.col, k=args.k
    )
    jac = kmv_jaccard(sk_a, sk_b, k=args.k).first()
    est_a = kmv_distinct_estimate(sk_a, k=args.k).first()
    est_b = kmv_distinct_estimate(sk_b, k=args.k).first()
    return {
        "status": "success", "action": "overlap", "k": args.k,
        "jaccard_est": jac["jaccard_est"],
        "union_basis": jac["union_basis"],
        "inter_cnt": jac["inter_cnt"],
        "distinct_a": {"est": est_a["distinct_est"], "exact": est_a["exact"]},
        "distinct_b": {"est": est_b["distinct_est"], "exact": est_b["exact"]},
    }


def _layout(args):
    from harness_aws_etl_pipeline_spark.operators.zorder import (
        layout_stats,
        zorder_by,
    )

    cols = [c.strip() for c in args.by.split(",") if c.strip()]
    z = zorder_by(
        _spark().read.parquet(args.input), cols,
        bits=args.bits, partitions=args.partitions,
    ).persist()  # write + stats read the shuffled layout once
    _save(z, args.output)
    # stats on the WRITE-side partitions (1 file each) — a re-read
    # would pack small files together and inflate the boxes
    srows = layout_stats(z, cols).collect()
    z.unpersist()
    spans = {
        c: round(
            sum(r[f"{c}_max"] - r[f"{c}_min"] for r in srows)
            / max(len(srows), 1), 2,
        )
        for c in cols
    }
    return {
        "status": "success", "action": "layout", "by": cols,
        "rows": sum(r["rows"] for r in srows),
        "avg_partition_span": spans, "output": args.output,
    }


def _ann(args):
    from harness_aws_etl_pipeline_spark.operators.dedup_api import (
        similarity_search,
    )

    spark = _spark()
    cands = spark.read.parquet(args.input)
    queries = spark.read.parquet(args.queries)
    kw = (
        {"rerank": True}
        if (args.rerank and args.method in ("pq", "ivfpq"))
        else {}
    )
    if args.method == "ivfpq":
        kw["nprobe"] = args.nprobe
    if args.model and args.method in ("ivf", "pq"):
        from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

        if args.method == "ivf":
            from harness_aws_etl_pipeline_spark.operators.similarity import (
                ivf_centroids as train,
                load_ivf as load,
                save_ivf as save,
            )

            key = "centroids"
        else:
            from harness_aws_etl_pipeline_spark.operators.pq import (
                load_pq as load,
                save_pq as save,
                train_pq as train,
            )

            key = "model"
        if get_fs(args.model, spark).exists(args.model):
            kw[key] = load(args.model, spark)
        else:
            kw[key] = train(cands, id_col=args.id_col, vec_col=args.vec_col)
            save(kw[key], args.model, spark)
    out = similarity_search(
        cands, queries, method=args.method, k=args.k,
        id_col=args.id_col, vec_col=args.vec_col, **kw,
    )
    n = out.count()
    _save(out, args.output)
    return {
        "status": "success", "method": args.method, "k": args.k,
        "result_rows": n, "output": args.output,
    }


def _annindex(args):
    from harness_aws_etl_pipeline_spark.operators.incremental import (
        IncrementalAnnIndex,
    )

    spark = _spark()
    ann = IncrementalAnnIndex(
        spark, args.state, id_col=args.id_col, vec_col=args.vec_col
    )
    steps = []
    if args.build:
        txn = _txn(args, "--build", "-build")
        steps.append(("build", ann.build(
            spark.read.parquet(args.build),
            nlist=args.nlist, m=args.m, k=args.k_codes,
            txn=txn,
        )))
    if args.add_batch:
        txn = _txn(args, "--add-batch")
        steps.append(("add_batch", ann.add_batch(
            spark.read.parquet(args.add_batch),
            txn=txn,
        )))
    if args.recalibrate:
        if not args.corpus:
            raise UsageError("--recalibrate requires --corpus (raw vectors)")
        cal = ann.recalibrate(
            spark.read.parquet(args.recalibrate),
            spark.read.parquet(args.corpus),
            target_recall=args.target_recall,
            topk=args.topk,
        )
        steps.append(("recalibrate", {
            "nprobe": cal["nprobe"],
            "scan_fraction": round(cal["scan_fraction"], 4),
            "queries": cal["queries"],
        }))
    rows = None
    if args.queries:
        res = ann.search(
            spark.read.parquet(args.queries),
            topk=args.topk,
            rerank_with=(
                spark.read.parquet(args.rerank_with)
                if args.rerank_with else None
            ),
        )
        rows = _rows(_save(res, args.output), args.show)
    return {
        "status": "success", "action": "annindex",
        "steps": [{"step": n, **r} for n, r in steps],
        "stats": ann.stats()
        if ann.table.current_version() is not None else None,
        "search_preview": rows, "output": args.output,
    }


def _bloomjoin(args):
    from harness_aws_etl_pipeline_spark.operators.bloomjoin import (
        bloom_build,
        bloom_join,
        bloom_prune,
    )

    spark = _spark()
    big = spark.read.parquet(args.big)
    small = spark.read.parquet(args.small)
    on = (args.on, args.small_on) if args.small_on else args.on
    sizing = {"num_hashes": args.num_hashes, "num_bits": args.num_bits}
    bloom = bloom_build(small, args.small_on or args.on, **sizing)
    kept = bloom_prune(big, args.on, bloom).count()
    out = bloom_join(big, small, on, how=args.how, **sizing)
    joined = _save(out, args.output, reread=True).count()
    big_rows = big.count()
    return {
        "status": "success", "action": "bloomjoin", "how": args.how,
        "big_rows": big_rows, "kept_after_prune": kept,
        "shuffle_reduction": round(1 - kept / max(big_rows, 1), 4),
        "join_rows": joined, "num_bits": bloom.num_bits,
        "output": args.output,
    }


def _profile(args):
    from pyspark.sql import functions as SF

    from harness_aws_etl_pipeline_spark.operators.histogram import (
        corr_exact,
        histogram,
    )

    df = _spark().read.parquet(args.input)
    stats = df.agg(
        SF.count(SF.col(args.col)).alias("n"),
        SF.min(args.col).alias("min"),
        SF.max(args.col).alias("max"),
        SF.avg(args.col).alias("mean"),
        SF.expr(f"percentile(`{args.col}`, 0.5)").alias("p50"),
    ).first()
    hist = [
        {"bin": r["bin"], "lo": r["lo"], "hi": r["hi"], "cnt": r["cnt"]}
        for r in histogram(df, args.col, bins=args.bins).collect()
    ]
    out = {
        "status": "success", "action": "profile", "col": args.col,
        "n": stats["n"], "min": stats["min"], "max": stats["max"],
        "mean": stats["mean"], "p50": stats["p50"], "histogram": hist,
    }
    if args.corr_with:
        c = corr_exact(df, args.col, args.corr_with).first()
        out["corr"] = {"with": args.corr_with, "n": c["n"], "r": c["corr"]}
    return out


def _drift(args):
    from harness_aws_etl_pipeline_spark.operators.drift import (
        chi2_drift,
        ks_statistic,
        psi,
        psi_report,
        tvd_drift,
    )

    spark = _spark()
    ref = spark.read.parquet(args.reference)
    cur = spark.read.parquet(args.current)
    out = {"status": "success", "action": "drift", "col": args.col,
           "kind": args.kind}
    if args.kind == "numeric":
        k = ks_statistic(ref, cur, args.col).first()
        p = psi(ref, cur, args.col, bins=args.bins).first()
        rep = psi_report(ref, cur, args.col, bins=args.bins).collect()
        out.update(
            n_ref=k["n_ref"], n_cur=k["n_cur"],
            ks=k["ks"], ks_num=str(k["ks_num"]),
            psi=p["psi"],
            bins=[
                {"bin": r["bin"], "lo": r["lo"], "hi": r["hi"],
                 "ref_cnt": r["ref_cnt"], "cur_cnt": r["cur_cnt"]}
                for r in rep
            ],
        )
    else:
        t = tvd_drift(ref, cur, args.col).first()
        c = chi2_drift(ref, cur, args.col).first()
        out.update(
            n_ref=t["n_ref"], n_cur=t["n_cur"],
            tvd=t["tvd"], tvd_num=str(t["tvd_num"]),
            chi2=c["chi2"], dof=c["dof"], categories=c["categories"],
        )
    return out


def _diff(args):
    from harness_aws_etl_pipeline_spark.operators.diffing import (
        diff_summary,
        table_diff,
    )

    spark = _spark()
    ref = spark.read.parquet(args.reference)
    cur = spark.read.parquet(args.current)
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    cmp_cols = (
        [c.strip() for c in args.compare_cols.split(",") if c.strip()]
        if args.compare_cols
        else None
    )
    kw = {"compare_cols": cmp_cols, "float_tolerance": args.float_tolerance}
    s = diff_summary(ref, cur, keys, **kw).first()
    if args.output:
        _save(table_diff(ref, cur, keys, **kw), args.output)
    return {
        "status": "success", "action": "diff", "keys": keys,
        **s.asDict(), "output": args.output,
    }


def _outliers(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.operators.outliers import (
        iqr_outliers,
        mad_outliers,
        rolling_zscore,
    )

    df = _spark().read.parquet(args.input)
    groups = _split(args.group_by)
    if args.method == "zscore":
        if not args.order_by:
            return {"status": "error",
                    "message": "--method zscore requires --order-by"}, 2
        flagged = rolling_zscore(
            df, args.order_by, args.col, groups,
            window=args.window, k=args.k,
        )
    elif args.method == "mad":
        flagged = mad_outliers(df, args.col, groups, k=args.k)
    else:
        flagged = iqr_outliers(df, args.col, groups, k_halves=args.k)
    agg = flagged.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("is_outlier").cast("long")).alias("flagged"),
    ).first()
    _save(flagged.filter(F.col("is_outlier")), args.output)
    return {
        "status": "success", "action": "outliers",
        "method": args.method, "col": args.col,
        "rows": agg["rows"], "flagged": agg["flagged"],
        "output": args.output,
    }


def _triangles(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.operators.linkgraph import (
        clustering_coefficient,
    )

    edges = _spark().read.parquet(args.input)
    nodes = clustering_coefficient(edges, args.src, args.dst)
    nodes = nodes.localCheckpoint(eager=True)
    summary = nodes.agg(
        F.count(F.lit(1)).alias("nodes"),
        (F.sum("tri_cnt") / 3).cast("long").alias("triangles"),
        F.avg("lcc").alias("avg_lcc"),
    ).first()
    top = [
        {"node": str(r["node"]), "deg": r["deg"],
         "tri_cnt": r["tri_cnt"], "lcc": r["lcc"]}
        for r in nodes.orderBy(
            F.desc("tri_cnt"), F.col("node")
        ).limit(args.top).collect()
    ]
    _save(nodes, args.output)
    return {
        "status": "success", "action": "triangles",
        "nodes": summary["nodes"], "triangles": summary["triangles"],
        "avg_lcc": summary["avg_lcc"], "top": top,
        "output": args.output,
    }


def _transitions(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.operators.eventseq import (
        event_ngrams,
        transition_counts,
    )

    df = _spark().read.parquet(args.input)
    ties = _split(args.tie)
    if args.n == 2:
        out = transition_counts(
            df, args.key, args.order_by, args.state, tie_cols=ties
        )
        label = F.concat_ws(">", "prev_state", "state")
        ordered = out.orderBy(F.desc("cnt"), label)
        top = [
            {"gram": r[0], "cnt": r["cnt"], "p": r["p"]}
            for r in ordered.select(
                label.alias("g"), "cnt", "p"
            ).limit(args.top).collect()
        ]
    else:
        out = event_ngrams(
            df, args.key, args.order_by, args.state,
            n=args.n, tie_cols=ties,
        )
        top = [
            {"gram": r["gram"], "cnt": r["cnt"]}
            for r in out.orderBy(
                F.desc("cnt"), "gram"
            ).limit(args.top).collect()
        ]
    _save(out, args.output)
    total = out.agg(F.count(F.lit(1))).first()[0]
    return {
        "status": "success", "action": "transitions", "n": args.n,
        "distinct": total, "top": top, "output": args.output,
    }


def _sample(args):
    from harness_aws_etl_pipeline_spark.operators.sampling import (
        sample_exact_n,
        sample_fraction,
        sample_weighted_n,
    )

    df = _spark().read.parquet(args.input)
    if args.method == "fraction":
        out = sample_fraction(df, args.key, args.fraction, salt=args.salt)
    elif args.method == "exact":
        out = sample_exact_n(df, args.n, args.key, salt=args.salt)
    else:
        if not args.weight_col:
            return {
                "status": "error",
                "message": "--method weighted requires --weight-col",
            }, 2
        out = sample_weighted_n(
            df, args.n, args.weight_col, args.key,
            salt=args.salt, group_cols=_split(args.group_by),
        )
    kept = _save(out, args.output, reread=True).count()
    return {
        "status": "success", "action": "sample",
        "method": args.method, "rows": kept, "output": args.output,
    }


def _bfs(args):
    from harness_aws_etl_pipeline_spark.operators.linkgraph import (
        bfs_distances,
    )

    spark = _spark()
    edges = spark.read.parquet(args.input)
    seed_type = dict(edges.dtypes)[args.src]
    seeds = spark.createDataFrame(
        [(s.strip(),) for s in args.seeds.split(",")], "node string"
    ).selectExpr(f"CAST(node AS {seed_type}) AS node")
    dist = bfs_distances(
        edges, seeds, src=args.src, dst=args.dst,
        max_hops=args.max_hops, directed=not args.undirected,
    )
    dist = dist.localCheckpoint(eager=True)
    per_hop = _counts(dist, "hop")
    _save(dist, args.output)
    return {
        "status": "success", "action": "bfs",
        "reached": sum(per_hop.values()),
        "per_hop": {str(k): per_hop[k] for k in sorted(per_hop)},
        "output": args.output,
    }


def _smooth(args):
    from harness_aws_etl_pipeline_spark.operators.timeseries import (
        ewma,
        holt_linear,
    )

    df = _spark().read.parquet(args.input)
    groups = _split(args.group_by)
    if args.method == "ewma":
        out = ewma(
            df, args.order_by, args.value, groups, alpha=args.alpha
        )
    else:
        out = holt_linear(
            df, args.order_by, args.value, groups,
            alpha=args.alpha, beta=args.beta,
        )
    rows = _save(out, args.output, reread=True).count()
    return {
        "status": "success", "action": "smooth",
        "method": args.method, "rows": rows, "output": args.output,
    }


def _sessionize(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.operators.eventseq import (
        sessionize,
    )

    df = _spark().read.parquet(args.input)
    out = sessionize(df, args.key, args.ts, args.gap, tie_cols=_split(args.tie))
    back = _save(out, args.output, reread=True)
    stats = back.groupBy(args.key).agg(
        F.max("session_id").alias("n")
    ).agg(
        F.count(F.lit(1)).alias("actors"),
        F.sum("n").alias("sessions"),
        F.max("n").alias("max_sessions_per_actor"),
    ).first()
    return {
        "status": "success", "action": "sessionize",
        "rows": back.count(), "actors": stats["actors"],
        "sessions": stats["sessions"],
        "max_sessions_per_actor": stats["max_sessions_per_actor"],
        "output": args.output,
    }


def _features(args):
    from harness_aws_etl_pipeline_spark.operators.features import (
        hash_features,
        minmax_scale,
        one_hot,
        standard_scale,
    )
    from harness_aws_etl_pipeline_spark.operators.quantiles import (
        quantile_bucket,
    )

    df = _spark().read.parquet(args.input)
    cols = args.cols.split(",")
    groups = _split(args.group_by)
    if args.op == "onehot":
        out = df
        for c in cols:
            out = one_hot(out, c)
    elif args.op == "hash":
        out = hash_features(df, cols, dims=args.dims)
    elif args.op == "scale":
        out = standard_scale(df, cols, groups)
    elif args.op == "minmax":
        out = minmax_scale(df, cols, groups)
    else:
        out = df
        for c in cols:
            out = quantile_bucket(out, c, buckets=args.buckets)
    back = _save(out, args.output, reread=True)
    return {
        "status": "success", "action": "features", "op": args.op,
        "rows": back.count(),
        "added_cols": sorted(set(back.columns) - set(df.columns)),
        "output": args.output,
    }


def _explain(args):
    from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG

    if args.query not in CATALOG:
        return {
            "status": "failed",
            "error": f"unknown query {args.query!r}; see COVERAGE.md",
            "available": sorted(CATALOG),
        }, 1
    CATALOG[args.query].builder(_spark(), args.sf_dir).explain(args.mode)


def _evolve(args):
    from harness_aws_etl_pipeline_spark.sinks.fs import get_fs, join_path
    from harness_aws_etl_pipeline_spark.sources.evolve import (
        read_parquet_evolved,
        scan_parquet_schemas,
    )

    spark = _spark()
    fs = get_fs(args.input, spark)
    files = [
        join_path(args.input, rel)
        for rel, _m, size in fs.list_files(args.input)
        if rel.endswith(".parquet") and size > 0
    ]
    if not files:
        return {"status": "failed",
                "error": f"no parquet files under {args.input}"}, 1
    distinct = {
        sch.simpleString() for _p, sch in scan_parquet_schemas(spark, files)
    }
    try:
        df = read_parquet_evolved(spark, files)
    except ValueError as exc:
        return {"status": "failed", "error": str(exc),
                "files": len(files), "schema_versions": len(distinct)}, 1
    rows = df.count()
    _save(df, args.output)
    return {
        "status": "success", "action": "evolve",
        "files": len(files), "schema_versions": len(distinct),
        "rows": rows,
        "evolved_schema": {c: t for c, t in df.dtypes},
        "output": args.output,
    }


def _tpch(args):
    import time

    from harness_aws_etl_pipeline_spark.plans import catalog_tpch as _T

    spark = _spark()
    builders = {
        tag.replace("tq", "q"): fn for tag, fn, _sql, _cols in _T._PACK
    }
    names = (
        [args.query] if args.query else sorted(builders, key=lambda n: int(n[1:]))
    )
    report = {}
    for name in names:
        if name not in builders:
            return {
                "status": "failed",
                "error": f"unknown query {name!r}; choose from "
                f"{sorted(builders)}",
            }, 1
        start = time.perf_counter()
        rows = builders[name](spark, args.sf_dir).collect()
        report[name] = {
            "rows": len(rows),
            "sec": round(time.perf_counter() - start, 3),
        }
        if args.show:
            report[name]["head"] = [
                {k: str(v) for k, v in r.asDict().items()}
                for r in rows[: args.show]
            ]
    return {
        "status": "success", "action": "tpch", "sf_dir": args.sf_dir,
        "queries": report,
    }


def _lattice(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.operators.grouping import (
        cube_agg,
        grouping_sets_agg,
        rollup_agg,
    )

    df = _spark().read.parquet(args.input)
    keys = [k for k in args.keys.split(",") if k]
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if args.sum_col:
        aggs.append(
            F.sum(
                F.round(F.col(args.sum_col).cast("double") * 10000)
                .cast("decimal(38,0)")
            ).alias(f"{args.sum_col}_sum_scaled")
        )
    if args.mode == "rollup":
        out_df = rollup_agg(df, keys, *aggs)
    elif args.mode == "cube":
        out_df = cube_agg(df, keys, *aggs)
    else:
        if not args.sets:
            raise UsageError("mode=sets requires --sets")
        sets = [
            [k for k in s.split(",") if k]
            for s in args.sets.split(";")
        ]
        out_df = grouping_sets_agg(df, sets, *aggs)
    rows = out_df.orderBy("_gid", *keys).limit(args.show).collect()
    return {
        "status": "success", "action": "lattice", "mode": args.mode,
        "levels": out_df.count(),
        "rows": [r.asDict() for r in rows],
    }


def _video(args):
    # pure-Python decode of a local file: no Spark session
    from harness_aws_etl_pipeline_spark.operators.video import (
        decode_avi_frames,
        probe_avi,
    )

    with open(args.input, "rb") as fh:
        payload = fh.read()
    meta = probe_avi(payload)
    frames = decode_avi_frames(
        payload, every_n=args.sample_every, max_frames=args.max_frames
    )
    return {
        "status": "success", "action": "video", "probe": meta,
        "sampled_frames": [
            {"frame_index": i * args.sample_every,
             "width": int(a.shape[1]), "height": int(a.shape[0]),
             "mean": round(float(a.mean()), 4)}
            for i, a in enumerate(frames)
        ],
    }


def _driftmon(args):
    from harness_aws_etl_pipeline_spark.operators.incremental import (
        IncrementalDrift,
    )

    spark = _spark()
    mon = IncrementalDrift(spark, args.state, args.col)
    actions = []
    if args.set_reference:
        # own ledger namespace: one invocation may pin the
        # reference AND fold a batch under the same --batch-id
        txn = _txn(args, "--set-reference", "-ref")
        actions.append(("set_reference", mon.set_reference(
            spark.read.parquet(args.set_reference),
            txn=txn,
        )))
    if args.batch:
        txn = _txn(args, "--batch")
        actions.append(("process_batch", mon.process_batch(
            spark.read.parquet(args.batch),
            txn=txn,
        )))
    rep = mon.report().first() if mon.state_summary() is not None else None
    return {
        "status": "success", "action": "driftmon",
        "steps": [{"step": n, **r} for n, r in actions],
        "report": None if rep is None else {
            "n_ref": rep["n_ref"], "n_cur": rep["n_cur"],
            "categories": rep["categories"],
            "tvd_num": str(rep["tvd_num"]), "tvd": rep["tvd"],
            "chi2": rep["chi2"],
        },
    }


def _knnjoin(args):
    from harness_aws_etl_pipeline_spark.operators.similarity import (
        knn_join,
    )

    spark = _spark()
    out_df = knn_join(
        spark.read.parquet(args.left),
        spark.read.parquet(args.right),
        k=args.k,
        n_centroids=args.n_centroids,
        nprobe=args.nprobe,
        id_col=args.id_col,
        vec_col=args.vec_col,
    )
    _save(out_df, args.output)
    head = _rows(out_df, args.show)
    return {
        "status": "success", "action": "knnjoin", "pairs": out_df.count(),
        "k": args.k, "nprobe": args.nprobe, "head": head,
        "output": args.output,
    }


class _LakeFormat(NamedTuple):
    """What the ``delta`` / ``iceberg`` / ``hudi`` commands need to know
    about one format. Library functions are ``"module:function"`` refs
    under the package, imported on use."""

    # (shape, flag dest, report action, function, shape kwarg), in the
    # order the flags win when several are given
    ops: tuple
    cursor: str  # flag dest of the time-travel cursor
    cursor_at: str | None  # --timestamp-ms → cursor; None: no such flag
    snapshot: str
    read: str
    summary: tuple  # snapshot fields the read report keeps


_LAKE_FORMATS = {
    "delta": _LakeFormat(
        ops=(
            ("write", "write", "delta_write",
             "sinks.deltawrite:write_delta", None),
            ("delete", "delete_where", "delta_delete",
             "sinks.deltadml:delta_delete_where", None),
            ("update", "update_where", "delta_update",
             "sinks.deltadml:delta_update_where", None),
            ("upsert", "merge", "delta_merge",
             "sinks.deltadml:delta_merge", "keys"),
            ("changes", "changes_since", "delta_changes",
             "sources.deltaread:delta_changes", "cdf"),
            ("compact", "optimize", "delta_optimize",
             "sinks.compact:delta_optimize", None),
            ("retention", "vacuum_hours", "delta_vacuum",
             "sinks.compact:delta_vacuum", "retain_hours"),
            ("history", "history", "delta",
             "sources.deltaread:delta_history", None),
        ),
        cursor="version",
        cursor_at="sources.deltaread:delta_version_at",
        snapshot="sources.deltaread:delta_snapshot",
        read="sources.deltaread:read_delta",
        summary=("version", "live_files", "partition_columns"),
    ),
    "iceberg": _LakeFormat(
        ops=(
            ("write", "write", "iceberg_write",
             "sinks.icebergwrite:write_iceberg", None),
            ("delete", "delete_where", "iceberg_delete",
             "sinks.icebergdml:iceberg_delete_where", None),
            ("upsert", "upsert", "iceberg_upsert",
             "sinks.icebergdml:iceberg_upsert", "keys"),
            ("changes", "changes_since", "iceberg_changes",
             "sources.icebergread:iceberg_changes", "change_rows"),
            ("compact", "compact", "iceberg_compact",
             "sinks.compact:iceberg_compact", None),
            ("retention", "expire_keep_last", "iceberg_expire",
             "sinks.compact:iceberg_expire_snapshots", "keep_last"),
            ("history", "snapshots", "iceberg",
             "sources.icebergread:iceberg_snapshots", None),
        ),
        cursor="snapshot_id",
        cursor_at="sources.icebergread:iceberg_snapshot_at",
        snapshot="sources.icebergread:iceberg_snapshot",
        read="sources.icebergread:read_iceberg",
        summary=("snapshot_id", "format_version", "live_files"),
    ),
    "hudi": _LakeFormat(
        ops=(
            ("write", "write", "hudi_write",
             "sinks.hudiwrite:write_hudi", None),
            ("compact", "compact", "hudi_compact",
             "sinks.compact:hudi_compact", None),
            ("retention", "clean_keep_last", "hudi_clean",
             "sinks.compact:hudi_clean", "keep_last"),
            ("upsert", "upsert", "hudi_upsert",
             "sinks.hudiwrite:hudi_upsert", "key_col"),
            ("changes", "changes_since", "hudi_changes",
             "sources.hudiread:hudi_changes", "change_rows"),
            ("history", "timeline", "hudi",
             "sources.hudiread:hudi_timeline", None),
        ),
        cursor="as_of",
        cursor_at=None,
        snapshot="sources.hudiread:hudi_snapshot",
        read="sources.hudiread:read_hudi",
        summary=("instant", "file_groups"),
    ),
}


def _lib(ref: str):
    module, _, name = ref.partition(":")
    return getattr(
        importlib.import_module(f"harness_aws_etl_pipeline_spark.{module}"),
        name,
    )


def _lake_table(name: str, args):
    """``delta`` / ``iceberg`` / ``hudi``: run the first command shape
    whose flag was given, else read (and preview) a snapshot."""
    fmt = _LAKE_FORMATS[name]
    spark = _spark()
    # only delta has --cdf: its DML then also writes the change feed
    cdc = {"change_data": True} if getattr(args, "cdf", False) else {}
    for shape, flag, action, ref, kw in fmt.ops:
        given = getattr(args, flag)
        # a cursor or a retention count may be 0
        if shape in ("changes", "retention"):
            if given is None:
                continue
        elif not given:
            continue
        fn = _lib(ref)
        if shape == "write":
            rep = fn(
                spark, spark.read.parquet(given), args.path, mode=args.mode,
                partition_by=_split(args.partition_by),
            )
        elif shape == "delete":
            rep = fn(spark, args.path, given, **cdc)
        elif shape == "update":
            if not args.set:
                raise SystemExit("--update-where needs at least one --set")
            rep = fn(spark, args.path, given, _assignments(args.set), **cdc)
        elif shape == "upsert":
            keys = getattr(args, kw)
            if not keys:
                raise SystemExit(f"--{flag} needs --{kw.replace('_', '-')}")
            if kw == "keys":  # delta/iceberg: a key list; hudi: one column
                keys = keys.split(",")
            rep = fn(
                spark, df=spark.read.parquet(given), path=args.path,
                **{kw: keys}, **cdc,
            )
        elif shape == "changes":
            df = fn(spark, args.path, given, **{kw: getattr(args, kw)})
            return {
                "status": "success", "action": action,
                kw: bool(getattr(args, kw)), **_preview(df, args.show),
            }
        elif shape == "compact":
            rep = fn(spark, args.path)
        elif shape == "retention":
            rep = fn(spark, args.path, **{kw: given})
            rep.pop("candidates", None)
        else:  # history
            return {
                "status": "success", "action": action,
                flag: fn(spark, args.path),
            }
        # write_hudi reports its timeline action; the command's wins
        rep.pop("action", None)
        return {"status": "success", "action": action, **rep}
    cursor = getattr(args, fmt.cursor)
    if fmt.cursor_at and args.timestamp_ms is not None:
        cursor = _lib(fmt.cursor_at)(spark, args.path, args.timestamp_ms)
    snap = _lib(fmt.snapshot)(spark, args.path, cursor)
    extra = {"drop_meta": args.drop_meta} if "drop_meta" in args else {}
    df = _lib(fmt.read)(spark, args.path, cursor, **extra)
    return _read_report(df, args, action=name, **{
        k: len(snap["files"]) if k == "live_files" else snap[k]
        for k in fmt.summary
    })


def _pdf(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.operators.pdf import (
        pdf_to_documents,
    )

    src = _spark().read.parquet(args.input)
    docs = pdf_to_documents(
        src, id_col=args.id_col, payload_col=args.payload_col
    )
    docs = _save(docs, args.output, reread=True)
    n = docs.count()
    failed = docs.filter(
        F.col("text").isNull() & (F.col("page") == 0)
    ).count()
    preview = [
        {"doc_id": r[args.id_col], "page": r["page"],
         "text": (r["text"] or "")[:80]}
        for r in docs.orderBy(args.id_col, "page")
        .limit(args.show).collect()
    ]
    return {
        "status": "success", "action": "pdf",
        "pages": n - failed, "failed_docs": failed,
        "preview": preview, "output": args.output,
    }


def _linkgraph(args):
    from harness_aws_etl_pipeline_spark.operators.incremental import (
        IncrementalLinkGraph,
    )

    spark = _spark()
    g = IncrementalLinkGraph(
        spark, args.state, src=args.src, dst=args.dst, weight=args.weight
    )
    steps = []
    if args.add_edges:
        txn = _txn(args, "--add-edges")
        steps.append(("add_edges", g.add_edges(
            spark.read.parquet(args.add_edges),
            txn=txn,
        )))
    tol = args.tol if args.tol and args.tol > 0 else None
    ranks = []
    if args.pagerank:
        pr = g.pagerank(
            iterations=args.iterations, tol=tol,
            warm_start=not args.cold,
        )
        top = _top_nodes(pr, "pagerank", args.show)
        steps.append(("pagerank", {
            "iterations_run": getattr(pr, "_pr_iterations", None),
            "nodes": pr.count(),
        }))
        ranks.append(("pagerank_top", top))
    if args.hits:
        h = g.hits(
            iterations=args.iterations, tol=tol,
            warm_start=not args.cold,
        )
        top = _top_nodes(h, "hits", args.show)
        steps.append(("hits", {
            "iterations_run": getattr(h, "_hits_iterations", None),
            "nodes": h.count(),
        }))
        ranks.append(("hits_top_auth", top))
    if args.maintain:
        steps.append(("maintain", g.maintain()))
    return {
        "status": "success", "action": "linkgraph",
        "steps": [{"step": n, **r} for n, r in steps],
        **dict(ranks),
    }


def _lake(args):
    from harness_aws_etl_pipeline_spark.sources.lakeread import (
        detect_lake_format,
        lake_changes,
        read_lake,
        write_lake,
    )

    spark = _spark()
    if args.write:
        kind = args.format
        if kind is None:
            try:
                kind = detect_lake_format(spark, args.path)
            except ValueError:
                raise SystemExit(
                    "--write into a new path needs --format"
                )
        rep = write_lake(
            spark,
            spark.read.parquet(args.write),
            args.path,
            format=kind,
            mode=args.mode,
        )
        return {"status": "success", "action": "lake_write", **rep}
    kind = detect_lake_format(spark, args.path)
    if args.changes_since is not None:
        df = lake_changes(
            spark, args.path, args.changes_since,
            change_rows=args.change_rows,
        )
    else:
        df = read_lake(spark, args.path)
    return _read_report(df, args, action="lake", format=kind)


def _lakeview(args):
    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.plans.lakeview import LakeRollup

    aggs = {}
    for spec in args.agg:
        out_name, _, rest = spec.partition("=")
        kind, _, expr = rest.partition(":")
        if not out_name.strip() or not kind.strip() or not expr:
            raise SystemExit(f"bad --agg spec {spec!r} (OUT=KIND:EXPR)")
        aggs[out_name.strip()] = (kind.strip(), F.expr(expr))
    v = LakeRollup(
        _spark(),
        args.source,
        args.view,
        args.name,
        group_cols=args.group_cols.split(","),
        aggs=aggs,
        change_rows=args.change_rows,
    )
    rep = v.refresh()
    view = v.read()
    return {
        "status": "success", "action": "lakeview",
        **{k: rep[k] for k in ("folded_to", "skipped") if k in rep},
        "rows": view.count(),
        "preview": _rows(view.orderBy(*v.group_cols), args.show),
    }


if __name__ == "__main__":
    sys.exit(main())
