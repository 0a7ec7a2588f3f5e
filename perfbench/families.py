"""The four op families the workloads are built from.

Each family makes its inputs through ``gen`` (the engine only ever sees
the generated files), makes one call into the engine's public API,
makes the same call with a span around each layer it goes through,
and checks a call's output against the generator's truth.
"""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field

import gen


@dataclass(eq=False)
class Call:
    family: str
    index: int  # the family's own call counter
    inp: dict  # what the generator wrote, plus its truth
    seconds: float = 0.0
    result: object = None
    ok: bool = False
    error: str | None = None
    stats: dict = field(default_factory=dict)


def _span_s(tracer, name: str) -> float:
    """Median over ops of the time one op spent in spans called ``name``."""
    per_op: dict[int, float] = {}
    for s in tracer.named(name):
        per_op[s["op"]] = per_op.get(s["op"], 0.0) + s["end"] - s["start"]
    return statistics.median(per_op.values()) if per_op else 0.0


def _per_call(tracer, name: str, key: str, calls: int) -> float:
    """Mean per call of ``key`` over spans called ``name``."""
    return sum(s[key] for s in tracer.named(name)) / max(calls, 1)


class Family:
    name = ""
    LAYERS: tuple[str, ...] = ()  # metric prefixes this family reports

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed

    def prepare(self) -> None:
        """Write the inputs every call shares."""

    def begin_pass(self) -> None:
        """Called before each run of consecutive calls."""

    def warm_up(self, calls: int) -> None:
        self.begin_pass()
        for i in range(calls):
            self.call(Call(self.name, i, self.make_input(gen.WARMUP, i)))

    def make_input(self, stream: int, i: int) -> dict:
        raise NotImplementedError

    def call(self, c: Call) -> None:
        raise NotImplementedError

    def traced_call(self, c: Call, tr, opid: int) -> None:
        raise NotImplementedError

    def check(self, calls: list[Call]) -> None:
        """Set ``ok`` on each call."""
        raise NotImplementedError

    def layer_metrics(self, tr, calls: list[Call]) -> dict:
        raise NotImplementedError


# --------------------------------------------------------------- etl_batch


class EtlBatch(Family):
    """``pipeline.run_job`` on a fresh CSV batch, appending to a
    partitioned Silver table with the ``JobRuns`` ledger on. The
    table and ledger rotate every ``BATCHES_PER_TABLE`` batches, so
    the k-th batch of every table sees the same tree on any commit."""

    name = "etl_batch"
    LAYERS = ("sources", "operators", "sinks", "meta")
    ROWS = 20_000
    BATCHES_PER_TABLE = 4

    def __init__(self, spark, work: str, seed: int):
        from harness_aws_etl_pipeline_spark.config import EngineConfig

        super().__init__(spark, work, seed)
        self.cfg = EngineConfig()
        self._table_seq = 0
        self._in_table = self.BATCHES_PER_TABLE

    def begin_pass(self) -> None:
        self._in_table = self.BATCHES_PER_TABLE

    def make_input(self, stream: int, i: int) -> dict:
        path = os.path.join(self.work, f"etl-{stream}-{i}.csv")
        truth = gen.etl_batch(path, self.seed, stream, i, self.ROWS)
        return {"path": path, "rows": truth["rows_in"], **truth}

    def _target(self, c: Call) -> tuple[str, str]:
        """(table, ledger) paths for ``c``; records them and its job id."""
        if self._in_table == self.BATCHES_PER_TABLE:
            self._table_seq += 1
            self._in_table = 0
        self._in_table += 1
        base = os.path.join(self.work, f"silver-{self._table_seq}")
        c.stats["table"] = base
        c.stats["job_id"] = f"etl-{self.seed}-{self._table_seq}-{c.index}"
        return base + "/table", base + "/job_runs"

    def call(self, c: Call) -> None:
        from harness_aws_etl_pipeline_spark.meta.jobruns import JobRuns
        from harness_aws_etl_pipeline_spark.pipeline import run_job

        table, ledger = self._target(c)
        c.result = run_job(
            self.spark,
            {"type": "direct", "path": c.inp["path"]},
            table,
            config=self.cfg,
            job_runs=JobRuns(self.spark, ledger),
            job_id=c.stats["job_id"],
        )

    def traced_call(self, c: Call, tr, opid: int) -> None:
        """``run_job``'s layer calls in its own order, one span each."""
        from harness_aws_etl_pipeline_spark.meta.jobruns import JobRuns
        from harness_aws_etl_pipeline_spark.meta.metrics import JobMetrics
        from harness_aws_etl_pipeline_spark.pipeline import transform
        from harness_aws_etl_pipeline_spark.sinks import load
        from harness_aws_etl_pipeline_spark.sources import extract

        cfg = self.cfg
        table, ledger = self._target(c)
        jr = JobRuns(self.spark, ledger)
        job_id = c.stats["job_id"]
        source = {"type": "direct", "path": c.inp["path"]}
        with tr.span("meta.ledger", opid):
            jr.start(job_id, trigger=source)
        with tr.span("sources.extract", opid):
            df, _ = extract(
                self.spark,
                source,
                infer_schema=cfg.get("etl.extract.infer_schema", True),
                isolate_errors=cfg.get("etl.extract.per_file_error_isolation", True),
                max_file_size_mb=cfg.get("etl.extract.max_file_size_mb", 0),
            )
        jm = JobMetrics()
        with tr.span("operators.transform", opid):
            out, _ = transform(jm.observe_input(df), cfg, collect_stats=False)
        out = jm.observe_output(out)
        files_before = _files(table)
        with tr.span("sinks.load", opid) as sp:
            loaded = load(
                out,
                table,
                fmt=cfg.get("etl.load.format", "parquet"),
                mode=cfg.get("etl.load.mode", "append"),
                partition_by=cfg.get("etl.load.partition_by"),
                compression=cfg.get("etl.load.compression", "snappy"),
                assume_nonempty=True,
            )
        sp["files_written"] = _files(table) - files_before
        m = jm.collect()
        rows_in, rows_out = m["input"]["row_count"], m["output"]["row_count"]
        c.result = {
            "job_id": job_id,
            "status": "success",
            "load": loaded,
            "transform": {
                "rows_in": rows_in,
                "rows_out": rows_out,
                "rows_removed": rows_in - rows_out,
            },
        }
        with tr.span("meta.ledger", opid):
            jr.complete(job_id, c.result)

    def check(self, calls: list[Call]) -> None:
        """Row accounting per job, then per table: the ledger shows
        SUCCESS for every job and the table holds every kept row."""
        from pyspark.sql import functions as F

        from harness_aws_etl_pipeline_spark.meta.jobruns import JobRuns

        for c in calls:
            t = c.result.get("transform", {})
            c.ok = (
                c.result.get("status") == "success"
                and t.get("rows_in") == c.inp["rows_in"]
                and t.get("rows_out") == c.inp["rows_out"]
            )
        for base, mine in _by_table(calls).items():
            status = {
                r["job_id"]: r["status"]
                for r in JobRuns(self.spark, base + "/job_runs").latest().collect()
            }
            rows = self.spark.read.parquet(base + "/table").agg(F.count("*")).first()[0]
            whole = rows == sum(c.inp["rows_out"] for c in mine)
            for c in mine:
                c.ok = c.ok and whole and status.get(c.stats["job_id"]) == "SUCCESS"

    def layer_metrics(self, tr, calls: list[Call]) -> dict:
        n = len(calls)
        written = sum(_tree_bytes(base + "/table") for base in _by_table(calls))
        return {
            "sources.extract_s": _span_s(tr, "sources.extract"),
            "sources.extract_jobs": _per_call(tr, "sources.extract", "jobs", n),
            "operators.transform_s": _span_s(tr, "operators.transform"),
            "operators.transform_jobs": _per_call(tr, "operators.transform", "jobs", n),
            "operators.rows_removed": sum(
                c.result["transform"]["rows_removed"] for c in calls
            ) / max(n, 1),
            "sinks.load_s": _span_s(tr, "sinks.load"),
            "sinks.load_jobs": _per_call(tr, "sinks.load", "jobs", n),
            "sinks.load_tasks": _per_call(tr, "sinks.load", "tasks", n),
            "sinks.files_written": _per_call(tr, "sinks.load", "files_written", n),
            "sinks.bytes_written": written / max(n, 1),
            "sinks.bytes_per_input_byte": written / sum(c.inp["bytes"] for c in calls),
            "meta.ledger_s": _span_s(tr, "meta.ledger"),
            "meta.ledger_jobs": _per_call(tr, "meta.ledger", "jobs", n),
        }


def _by_table(calls: list[Call]) -> dict[str, list[Call]]:
    out: dict[str, list[Call]] = {}
    for c in calls:
        out.setdefault(c.stats["table"], []).append(c)
    return out


def _data_files(path: str):
    for root, _, names in os.walk(path):
        for nm in names:
            if nm.endswith(".parquet"):
                yield os.path.join(root, nm)


def _files(path: str) -> int:
    return sum(1 for _ in _data_files(path))


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _data_files(path))


# ------------------------------------------------------------- corpus_dedup


class CorpusDedup(Family):
    """``dedup_api.deduplicate(method="minhash")`` on a fresh shard with
    planted near-duplicates; no shard is timed twice, so the engine's
    plan memo misses on every call."""

    name = "corpus_dedup"
    LAYERS = ("dedup_fuzzy",)
    DOCS = 5_000
    MIN_RECALL = MIN_PRECISION = 0.95

    def make_input(self, stream: int, i: int) -> dict:
        path = os.path.join(self.work, f"shard-{stream}-{i}.parquet")
        truth = gen.corpus_shard(path, self.seed, stream, i, self.DOCS)
        return {"path": path, "rows": truth["docs"], **truth}

    def call(self, c: Call) -> None:
        from harness_aws_etl_pipeline_spark.operators.dedup_api import deduplicate

        df = self.spark.read.parquet(c.inp["path"])
        kept = deduplicate(df, method="minhash").select("doc_id").collect()
        c.result = {r[0] for r in kept}

    def traced_call(self, c: Call, tr, opid: int) -> None:
        """``deduplicate``'s stages one span each: signatures (held in
        the memo the engine itself uses for them), LSH candidates,
        candidate verification (which bands again), then connected
        components and the anti-join."""
        from harness_aws_etl_pipeline_spark.operators import dedup_fuzzy as dfz

        df = self.spark.read.parquet(c.inp["path"])
        with tr.span("dedup_fuzzy.signatures", opid):
            sigs = dfz._SIG_MEMO.get_or_persist(dfz.minhash_signatures(df))
            sigs.count()
        with tr.span("dedup_fuzzy.candidates", opid) as sp:
            sp["pairs"] = dfz.minhash_lsh_candidates(sigs).count()
        with tr.span("dedup_fuzzy.verify", opid) as sp:
            pairs = dfz.minhash_dedup_pairs(df, threshold=0.8).select("doc_a", "doc_b")
            rows = pairs.collect()
            sp["pairs"] = len(rows)
        with tr.span("dedup_fuzzy.cluster", opid):
            local = self.spark.createDataFrame(rows, pairs.schema)
            kept = dfz.deduplicate_near(df, local).select("doc_id").collect()
        c.result = {r[0] for r in kept}

    @staticmethod
    def _hits(c: Call) -> tuple[int, int, int]:
        """(planted duplicates removed, docs removed, planted duplicates)."""
        removed = set(c.inp["ids"]) - c.result
        truth = set(c.inp["remove"])
        return len(removed & truth), len(removed), len(truth)

    def check(self, calls: list[Call]) -> None:
        for c in calls:
            hit, removed, truth = self._hits(c)
            c.ok = hit >= self.MIN_RECALL * truth and hit >= self.MIN_PRECISION * removed

    def layer_metrics(self, tr, calls: list[Call]) -> dict:
        n = len(calls)
        hit, removed, truth = (sum(x) for x in zip(*map(self._hits, calls)))
        cand = sum(s["pairs"] for s in tr.named("dedup_fuzzy.candidates"))
        ver = sum(s["pairs"] for s in tr.named("dedup_fuzzy.verify"))
        stages = ("signatures", "candidates", "verify", "cluster")
        return {
            **{f"dedup_fuzzy.{s}_s": _span_s(tr, f"dedup_fuzzy.{s}") for s in stages},
            "dedup_fuzzy.candidate_pairs": cand / n,
            "dedup_fuzzy.verified_pairs": ver / n,
            "dedup_fuzzy.pair_yield": ver / cand if cand else 0.0,
            "dedup_fuzzy.jobs": sum(
                _per_call(tr, f"dedup_fuzzy.{s}", "jobs", n) for s in stages
            ),
            "dedup_fuzzy.dup_recall": hit / max(truth, 1),
            "dedup_fuzzy.dup_precision": hit / max(removed, 1),
        }


# ------------------------------------------------------------------ gold_bi

GOLD_QUERIES = (
    "g1_pricing_summary",
    "g2_revenue_rollup",
    "g4_kpis",
    "q3_shipping_priority",
    "q5_region_revenue",
)
# the tables each query scans, for the input-row count
GOLD_SCANS = {
    "g1_pricing_summary": ("lineitem",),
    "g2_revenue_rollup": ("lineitem", "orders"),
    "g4_kpis": ("orders", "customer", "nation", "region"),
    "q3_shipping_priority": ("lineitem", "orders", "customer"),
    "q5_region_revenue": ("lineitem", "orders", "supplier", "customer", "nation", "region"),
}


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    return repr(v)


def _norm_rows(cols: list[str], rows) -> tuple:
    """Order-insensitive result form, as ``tools/verify_local.py``
    compares: columns sorted by name, floats rounded to 9 dp, rows
    sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        tuple(sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)),
    )


class GoldBI(Family):
    """The Gold BI queries round-robin through
    ``CATALOG[q].builder(...).collect()`` over TPC-H-shaped parquet."""

    name = "gold_bi"
    LAYERS = ("plans",)
    SF = 0.1

    def prepare(self) -> None:
        self.dirs: dict[int, str] = {}
        self.counts: dict[int, dict[str, int]] = {}
        for stream in (gen.TIMED, gen.WARMUP):
            d = os.path.join(self.work, f"tpch-{stream}")
            self.counts[stream] = gen.tpch(d, self.seed, stream, self.SF)
            self.dirs[stream] = d

    def make_input(self, stream: int, i: int) -> dict:
        q = GOLD_QUERIES[i % len(GOLD_QUERIES)]
        rows = sum(self.counts[stream][t] for t in GOLD_SCANS[q])
        return {"query": q, "dir": self.dirs[stream], "rows": rows}

    def call(self, c: Call) -> None:
        from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG

        sdf = CATALOG[c.inp["query"]].builder(self.spark, c.inp["dir"])
        c.result = (sdf.columns, sdf.collect())

    def traced_call(self, c: Call, tr, opid: int) -> None:
        from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG

        q = c.inp["query"]
        with tr.span(f"plans.{q}.build", opid):
            sdf = CATALOG[q].builder(self.spark, c.inp["dir"])
        with tr.span(f"plans.{q}.execute", opid):
            c.result = (sdf.columns, sdf.collect())

    def check(self, calls: list[Call]) -> None:
        """Each result against DuckDB running the catalog's oracle SQL
        over the same parquet files."""
        import duckdb

        from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG

        expected: dict[tuple, tuple] = {}
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for c in calls:
                key = (c.inp["dir"], c.inp["query"])
                if key not in expected:
                    for t in gen.TPCH_TABLES:
                        con.execute(
                            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{c.inp['dir']}/{t}.parquet')"
                        )
                    cur = con.execute(CATALOG[c.inp["query"]].oracle)
                    cols = [d[0] for d in cur.description]
                    expected[key] = _norm_rows(cols, cur.fetchall())
                cols, rows = c.result
                c.ok = _norm_rows(cols, [tuple(r) for r in rows]) == expected[key]
        finally:
            con.close()

    def layer_metrics(self, tr, calls: list[Call]) -> dict:
        out = {}
        for q in GOLD_QUERIES:
            n = sum(1 for c in calls if c.inp["query"] == q)
            for step in ("build", "execute"):
                out[f"plans.{q}.{step}_s"] = _span_s(tr, f"plans.{q}.{step}")
            for key in ("jobs", "tasks"):
                out[f"plans.{q}.{key}"] = sum(
                    _per_call(tr, f"plans.{q}.{step}", key, n) for step in ("build", "execute")
                )
        return out


# --------------------------------------------------------------- ann_search


class AnnSearch(Family):
    """``similarity.ivf_topk`` for a fresh batch of query vectors
    against one corpus and one set of IVF centroids trained once, at
    set-up (the train/add split)."""

    name = "ann_search"
    LAYERS = ("similarity",)
    CORPUS = 10_000
    QUERIES = 20
    K, CENTROIDS, NPROBE = 10, 16, 4
    MIN_RECALL = 0.9

    def prepare(self) -> None:
        self.corpus_path = os.path.join(self.work, "ann-corpus.parquet")
        self.vectors = gen.ann_corpus(self.corpus_path, self.seed, self.CORPUS)

    def warm_up(self, calls: int) -> None:
        import time

        from harness_aws_etl_pipeline_spark.operators.similarity import ivf_centroids

        t = time.perf_counter()
        self.corpus = self.spark.read.parquet(self.corpus_path)
        self.centroids = ivf_centroids(self.corpus, k=self.CENTROIDS)
        self.centroids_s = time.perf_counter() - t
        super().warm_up(calls)

    def make_input(self, stream: int, i: int) -> dict:
        path = os.path.join(self.work, f"ann-q-{stream}-{i}.parquet")
        truth = gen.ann_queries(path, self.seed, stream, i, self.QUERIES, self.vectors, self.K)
        return {"path": path, "rows": truth["queries"], **truth}

    def call(self, c: Call) -> None:
        from harness_aws_etl_pipeline_spark.operators.similarity import ivf_topk

        q = self.spark.read.parquet(c.inp["path"])
        c.result = ivf_topk(
            self.corpus,
            q,
            k=self.K,
            n_centroids=self.CENTROIDS,
            nprobe=self.NPROBE,
            centroids=self.centroids,
        ).collect()

    def traced_call(self, c: Call, tr, opid: int) -> None:
        with tr.span("similarity.topk", opid):
            self.call(c)

    def _recall(self, c: Call) -> float:
        got: dict[int, set] = {}
        for r in c.result:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        truth = c.inp["topk"]
        return sum(len(got.get(q, set()) & t) for q, t in truth.items()) / (
            self.K * len(truth)
        )

    def check(self, calls: list[Call]) -> None:
        for c in calls:
            c.ok = self._recall(c) >= self.MIN_RECALL

    def layer_metrics(self, tr, calls: list[Call]) -> dict:
        n = len(calls)
        return {
            "similarity.centroids_s": self.centroids_s,
            "similarity.topk_s": _span_s(tr, "similarity.topk"),
            "similarity.topk_jobs": _per_call(tr, "similarity.topk", "jobs", n),
            "similarity.topk_tasks": _per_call(tr, "similarity.topk", "tasks", n),
            "similarity.recall_at_10": statistics.fmean(map(self._recall, calls)),
        }


FAMILIES = {f.name: f for f in (EtlBatch, CorpusDedup, GoldBI, AnnSearch)}
