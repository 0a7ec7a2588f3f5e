"""Run one benchmark workload and print its metrics as JSON.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 0

A run sets up (Spark session, generated inputs, an untimed warm-up on
inputs of its own), then either times a closed-loop window of
``--seconds`` (``--trace 0``: the end-to-end metrics of
``BENCHMARK.json``) or runs a fixed number of ops twice, untraced and
then with a span around every layer call (``--trace 1``: its
per-layer metrics). Output checks run once, after the timed part; an
op that raised or fails its check counts as failed. The last line of
stdout is the JSON result; a readable table goes to stderr, and the
run's per-op record and spans to ``.perfbench_work/`` at the root of
the checkout. See DESIGN.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "harness_aws_etl_pipeline_spark"
CORES = min(4, os.cpu_count() or 1)
HEAP_MB = 2048

# one op of a workload makes these families' calls, in this order
WORKLOADS = {
    "ingest": ("etl_batch", "corpus_dedup"),
    "serve": ("gold_bi",) * 5 + ("ann_search",),
}
WARMUP_OPS = 2  # ops run at set-up, on inputs of the warm-up stream
TRACE_OPS = 2  # ops in each pass of a --trace 1 run


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def start_spark(work: str):
    """The engine's own session factory on ``local[CORES]``, with every
    scratch directory inside the checkout and the package on the
    Python workers' path."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    # a fixed, pre-touched driver heap: peak RSS then does not hinge
    # on when the collector chose to grow the heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{HEAP_MB}m"
    # no JVM of the run writes its perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from harness_aws_etl_pipeline_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Xms{HEAP_MB}m -XX:+AlwaysPreTouch -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark() -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/status") as f:
        jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least 10 ops beyond it, and its
    value (nearest rank; the fastest op when there are 10 or fewer)."""
    xs = sorted(latencies)
    rank = max(len(xs) - 10, 1)
    return 100.0 * rank / len(xs), xs[rank - 1]


def op_seconds(op: list) -> float:
    return sum(c.seconds for c in op)


def op_ok(op: list) -> bool:
    return all(c.ok for c in op)


class Bench:
    """One workload on one Spark session: set-up, ops, checks."""

    def __init__(self, workload: str, seed: int, work: str):
        import families

        self.cycle = WORKLOADS[workload]
        self.setup: dict[str, float] = {}
        t0 = time.perf_counter()
        self.spark = start_spark(work)
        self.setup["session_s"] = time.perf_counter() - t0

        t0 = time.perf_counter()
        self.families = {
            n: families.FAMILIES[n](self.spark, work, seed) for n in dict.fromkeys(self.cycle)
        }
        for fam in self.families.values():
            fam.prepare()
        self.setup["inputs_s"] = time.perf_counter() - t0

        # the families warm up side by side, one thread each
        self.warmup: dict[str, float] = {}

        def warm(name: str) -> None:
            t = time.perf_counter()
            self.families[name].warm_up(WARMUP_OPS * self.cycle.count(name))
            self.warmup[name] = time.perf_counter() - t

        t0 = time.perf_counter()
        with ThreadPoolExecutor(len(self.families)) as pool:
            for f in [pool.submit(warm, n) for n in self.families]:
                f.result()
        self.setup["warmup_s"] = time.perf_counter() - t0

    def counters(self) -> dict:
        return dict.fromkeys([*self.families, "ops"], 0)

    def _run(self, c, fn) -> None:
        t0 = time.perf_counter()
        try:
            fn(c)
        except Exception:  # a failed call fails its op; the run goes on
            c.error = traceback.format_exc(limit=3)[-1000:]
            log(f"{c.family}[{c.index}] failed:\n{c.error}")
        c.seconds = time.perf_counter() - t0

    def _op(self, counters: dict, tracer=None) -> list:
        """One op: each family's call, in cycle order. Making a call's
        input is the caller's think time and is not counted in its
        latency."""
        import families
        import gen

        opid = counters["ops"]
        counters["ops"] += 1
        calls = []
        for name in self.cycle:
            fam = self.families[name]
            i = counters[name]
            counters[name] += 1
            c = families.Call(name, i, fam.make_input(gen.TIMED, i))
            if tracer is None:
                self._run(c, fam.call)
            else:
                with tracer.span(name, opid):
                    self._run(c, lambda c, fam=fam: fam.traced_call(c, tracer, opid))
            calls.append(c)
        return calls

    def _begin_pass(self) -> None:
        for fam in self.families.values():
            fam.begin_pass()

    def window(self, seconds: float) -> list[list]:
        """Closed loop, one caller: the next op starts when the last
        one ends. An op starts only while the ops so far plus half a
        mean op fit in ``seconds``, so the window ends near
        ``seconds`` on average instead of always past it."""
        self._begin_pass()
        counters, ops, busy = self.counters(), [], 0.0
        while not ops or busy + busy / len(ops) / 2 < seconds:
            ops.append(self._op(counters))
            busy += op_seconds(ops[-1])
        return ops

    def fixed_pass(self, counters: dict, tracer=None) -> list[list]:
        """``TRACE_OPS`` ops, traced when a tracer is given. Passes that
        share ``counters`` run on distinct inputs, so no pass is served
        from the plan memos an earlier pass filled."""
        self._begin_pass()
        return [self._op(counters, tracer) for _ in range(TRACE_OPS)]

    def check(self, ops: list[list]) -> None:
        calls = [c for op in ops for c in op if c.error is None]
        for name, fam in self.families.items():
            mine = [c for c in calls if c.family == name]
            try:
                fam.check(mine)
            except Exception:  # the check itself broke: its calls fail
                log(f"check {name} failed:\n{traceback.format_exc(limit=3)}")
                for c in mine:
                    c.ok = False


def end_to_end(b: Bench, ops: list[list], rss: float) -> tuple[dict, dict]:
    lat = [op_seconds(op) for op in ops]
    window = sum(lat)
    pct, tail_s = tail(lat)
    rows = sum(c.inp["rows"] for op in ops if op_ok(op) for c in op)
    metrics = {
        "setup_s": sum(b.setup.values()),
        "input_rows_per_s": rows / window,
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail_s,
        "peak_rss_mb": rss,
    }
    return metrics, {"tail_percentile": pct, "ops": len(ops), "window_s": window}


def per_layer(
    b: Bench, tracer, ops: list[list], untraced_s: float, traced_s: float
) -> tuple[dict, set]:
    """The per-layer values, and the layers this workload never calls."""
    import families

    out = {f"setup.{k}": v for k, v in b.setup.items()}
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"spark.{key}"] = sum(tracer.tree(s)[key] for s in tracer.roots()) / len(ops)
    calls = [c for op in ops for c in op]
    for name, fam in b.families.items():
        out.update(fam.layer_metrics(tracer, [c for c in calls if c.family == name]))
    out["trace.overhead_s"] = traced_s - untraced_s
    absent = {p for n, f in families.FAMILIES.items() if n not in b.families for p in f.LAYERS}
    return out, absent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        log(f"{PACKAGE}/ not found next to perfbench/: nothing to benchmark")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    sys.path[:0] = [HERE, ROOT]

    # a terminated run still stops its JVM, in the finally clause below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    runs = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run
    os.makedirs(work)
    try:
        bench = Bench(args.workload, args.seed, work)
        log(f"set-up {bench.setup}, warm-up by family {bench.warmup}")
        extra = {}
        if args.trace:
            from spans import Tracer

            counters = bench.counters()
            untraced_s = sum(map(op_seconds, bench.fixed_pass(counters)))
            tracer = Tracer(bench.spark)
            ops = bench.fixed_pass(counters, tracer)
            bench.check(ops)
            values, absent = per_layer(
                bench, tracer, ops, untraced_s, sum(map(op_seconds, ops))
            )
            tracer.write(os.path.join(runs, f"trace-{args.workload}-{args.seed}.jsonl"))
        else:
            ops = bench.window(args.seconds)
            bench.check(ops)
            values, extra = end_to_end(bench, ops, peak_rss_mb(bench.spark))
            absent = set()
        metrics = {}
        for m in spec:
            name = m["name"]
            # a layer this workload never calls reads 0
            if name not in values and name.split(".")[0] not in absent:
                raise KeyError(f"metric {name} was not measured")
            metrics[name] = {"value": values.get(name, 0.0), "unit": m["unit"]}
        failed = sum(1 for op in ops if not op_ok(op))
        result = {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        }
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "setup": bench.setup,
            "warmup": bench.warmup,
            **extra,
            "ops": [[[c.family, c.index, c.seconds, c.ok, c.error] for c in op] for op in ops],
            "result": result,
        }
        name = f"run-{args.workload}-{args.seed}-{args.trace}.json"
        with open(os.path.join(runs, name), "w") as f:
            json.dump(record, f, indent=1)
        for k, m in metrics.items():
            log(f"{k:40s} {m['value']:16.4f} {m['unit']}")
        if extra:
            log(f"op_tail_s is p{extra['tail_percentile']:.1f} of {extra['ops']} ops")
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
