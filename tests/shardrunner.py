"""File-level parallel runner for FULL suite invocations.

`pytest tests/` is the per-round health gate; at ~1000 sequential
Spark tests the wall time is dominated by per-action driver latency
(~0.3 s/job on this VM), not compute — the suite saturates 4 of 32
cores. pytest-xdist is not installed in this container, so this
plugin implements the same idea at FILE granularity: the parent
collects as usual, greedy-LPT-packs the test files into N bins by
measured cost, and runs each bin as an ordinary sequential pytest
subprocess with its own session-scoped SparkSession (4 local threads
each) and its own spark-warehouse dir (managed-table tests must not
collide). Failures propagate: child output is replayed on failure,
`-x` terminates the other shards, and the parent's exit code
aggregates the children's.

Scope guards — all of these run IN-PROCESS exactly as before:
- targeted runs (single file / node ids, fewer than _MIN_ITEMS items)
- keyword / marker filtered runs (-k / -m)
- collection-only runs
- the shard children themselves (env guard)
- SPARK_GRAFT_PAR=0 (and =N pins the worker count)

File granularity keeps within-file execution order and per-file
fixtures exactly as in a sequential run; the only sharing between
files is the session SparkSession, which each child rebuilds — the
same isolation a developer gets running one file at a time.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
import time
from pathlib import Path

_CHILD_ENV = "SPARK_GRAFT_SHARD_CHILD"
_MIN_ITEMS = int(os.environ.get("SPARK_GRAFT_SHARD_MIN", "400"))

# Measured wall seconds per file (round-9 sequential profile) used as
# bin-packing weights; files not listed estimate from their test count.
_FILE_SECONDS = {
    "test_ext_operators.py": 120.0,
    "test_catalog.py": 100.0,
    "test_streaming_corpus.py": 70.0,
    "test_cli.py": 60.0,
    "test_incremental.py": 50.0,
    "test_pagerank.py": 48.0,
    "test_incremental_quantiles.py": 38.0,
    "test_pq.py": 38.0,
    "test_fuzzyjoin.py": 32.0,
    "test_incremental_transitions.py": 30.0,
    "test_semdedup.py": 28.0,
    "test_snaptable.py": 28.0,
    "test_streaming.py": 26.0,
    "test_stateful_streaming.py": 24.0,
    "test_corpus_pipeline.py": 24.0,
    "test_sources_sinks.py": 22.0,
    "test_scale_fast.py": 22.0,
    "test_pipeline.py": 20.0,
}


def _workers() -> int:
    par = os.environ.get("SPARK_GRAFT_PAR", "")
    if par.isdigit() and int(par) > 0:
        return int(par)
    cpus = os.cpu_count() or 8
    return min(7, max(2, cpus // 4))


def _driver_mem(workers: int, meminfo: str = "/proc/meminfo") -> str | None:
    """Per-shard ``spark.driver.memory`` so that ``workers`` JVM heaps
    together stay under 60 % of MemTotal (each JVM's RSS runs past its
    heap; at the session default of 8g, two shards on a 16 GB host
    lost a JVM mid-run). Never above that 8g default, never below 1g;
    ``None`` when MemTotal cannot be read."""
    try:
        with open(meminfo) as fh:
            kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return None
    mb = int(kb / 1024 * 0.6 / workers)
    return f"{min(8192, max(1024, mb))}m"


def _shard_env(base, warehouse: str, workers: int) -> dict:
    """A shard child's environment: ``base`` plus the child guard, its
    own warehouse dir and, unless the caller set one, a driver heap
    from :func:`_driver_mem`."""
    env = dict(base)
    env[_CHILD_ENV] = "1"
    env["SPARK_GRAFT_WAREHOUSE"] = warehouse
    if "SPARK_GRAFT_DRIVER_MEM" not in env:
        mem = _driver_mem(workers)
        if mem:
            env["SPARK_GRAFT_DRIVER_MEM"] = mem
    return env


def pytest_runtestloop(session):
    if os.environ.get(_CHILD_ENV):
        return None
    par = os.environ.get("SPARK_GRAFT_PAR", "")
    if par == "0":
        return None
    config = session.config
    try:
        if config.getoption("collectonly"):
            return None
        if config.getoption("keyword") or config.getoption("markexpr"):
            return None
        # -x registers as maxfail=1 in pytest 8
        exitfirst = bool(config.getoption("maxfail", 0))
    except (ValueError, KeyError):
        return None
    if len(session.items) < _MIN_ITEMS:
        return None

    # group collected items by file, preserving collection order
    files: dict[str, int] = {}
    for item in session.items:
        files[str(item.path)] = files.get(str(item.path), 0) + 1

    nworkers = min(_workers(), len(files))
    if nworkers < 2:
        return None

    def weight(path: str, ntests: int) -> float:
        return max(_FILE_SECONDS.get(Path(path).name, 0.0), ntests * 1.2)

    # greedy LPT: heaviest file into the lightest bin
    bins: list[list[str]] = [[] for _ in range(nworkers)]
    loads = [0.0] * nworkers
    for path, n in sorted(
        files.items(), key=lambda kv: -weight(kv[0], kv[1])
    ):
        i = loads.index(min(loads))
        bins[i].append(path)
        loads[i] += weight(path, n)
    bins = [b for b in bins if b]

    tr = config.pluginmanager.get_plugin("terminalreporter")

    def line(msg: str) -> None:
        if tr is not None:
            tr.write_line(msg)
        else:
            print(msg)

    line(
        f"shardrunner: {len(session.items)} tests in {len(files)} files "
        f"across {len(bins)} workers (SPARK_GRAFT_PAR=0 to disable)"
    )
    t0 = time.time()
    procs = []
    tmproot = tempfile.mkdtemp(prefix="shardrun_")
    for i, b in enumerate(bins):
        with open(os.path.join(tmproot, f"shard_{i}.files"), "w") as fh:
            fh.write("\n".join(Path(p).name for p in b) + "\n")
    line(f"shardrunner: bin composition under {tmproot}/shard_N.files")
    for i, b in enumerate(bins):
        env = _shard_env(os.environ, os.path.join(tmproot, f"wh_{i}"), len(bins))
        cmd = [
            sys.executable, "-m", "pytest", "-q", "--no-header",
            "-p", "no:cacheprovider",
        ]
        if exitfirst:
            cmd.append("-x")
        cmd += b
        out = open(os.path.join(tmproot, f"shard_{i}.out"), "w+b")
        procs.append(
            (
                i,
                subprocess.Popen(
                    cmd, stdout=out, stderr=subprocess.STDOUT, env=env
                ),
                out,
            )
        )

    failed_shard = False
    pending = {i for i, _, _ in procs}
    while pending:
        for i, p, _ in procs:
            if i not in pending:
                continue
            rc = p.poll()
            if rc is None:
                continue
            pending.discard(i)
            if rc != 0:
                failed_shard = True
                if exitfirst:
                    for j, q, _ in procs:
                        if j in pending:
                            q.terminate()
        time.sleep(0.2)

    counts: dict[str, int] = {}
    for i, p, out in procs:
        out.seek(0)
        text = out.read().decode("utf-8", "replace")
        out.close()
        tail = text.strip().splitlines()[-1] if text.strip() else ""
        got = dict(
            (k, int(v)) for v, k in re.findall(r"(\d+) (\w+)", tail)
        )
        if p.returncode in (-15, -9) and exitfirst:
            line(f"shard {i}: terminated after first failure elsewhere (-x)")
        elif p.returncode != 0 or got.get("failed") or got.get("error"):
            line(f"--- shard {i} output (exit {p.returncode}) ---")
            for ln in text.splitlines():
                line(ln)
        else:
            line(f"shard {i}: {tail}")
        if not got and p.returncode not in (0, -15, -9):
            counts["failed"] = counts.get("failed", 0) + 1
        for k, v in got.items():
            if k in ("passed", "failed", "skipped", "error", "errors",
                     "xfailed", "xpassed", "deselected", "warnings"):
                counts[k] = counts.get(k, 0) + v

    dur = time.time() - t0
    summary = ", ".join(
        f"{v} {k}" for k, v in sorted(counts.items()) if k != "warnings"
    )
    line(f"shardrunner total: {summary} in {dur:.1f}s "
         f"({len(bins)} workers)")
    session.testsfailed = counts.get("failed", 0) + counts.get(
        "error", counts.get("errors", 0)
    )
    if failed_shard and session.testsfailed == 0:
        session.testsfailed = 1
    # feed the aggregated counts into the parent's terminal reporter so
    # its closing summary line reads "996 passed, 41 skipped …", not
    # "no tests ran" — drivers parse that line

    class _ShardRep:
        """Minimal stand-in satisfying the terminal reporter's summary
        paths (head_line/longrepr/sections/toterminal); the real
        failure detail was already replayed from the shard output."""

        count_towards_summary = True
        sections = ()

        def __init__(self, head: str) -> None:
            self.head_line = head
            self.longrepr = head
            self.nodeid = head

        def toterminal(self, tw) -> None:
            tw.line(self.head_line)

        def _get_verbose_word_with_markup(self, *args, **kwargs):
            return "FAILED", {"red": True}

    if tr is not None:
        for key in ("passed", "failed", "skipped", "error", "xfailed",
                    "xpassed"):
            n = counts.get(key, 0)
            if n:
                tr.stats.setdefault(key, []).extend(
                    _ShardRep(f"{key} in shard (see shard output above)")
                    for _ in range(n)
                )
    return True
