"""Shard runner (tests/shardrunner.py): pure-python pins for the
pieces the full-suite gate depends on — LPT packing, activation
guards, and child-summary aggregation. (The end-to-end behavior is
exercised by every full `pytest tests/` invocation itself.)"""

from __future__ import annotations

import os
import re
from pathlib import Path

import shardrunner as sr


class TestPacking:
    def test_lpt_balances_by_weight(self):
        files = {f"/x/t{i}.py": 10 for i in range(8)}
        files["/x/test_catalog.py"] = 5  # weight table overrides count
        nbins = 3

        def weight(path, ntests):
            return max(
                sr._FILE_SECONDS.get(Path(path).name, 0.0), ntests * 1.2
            )

        bins = [[] for _ in range(nbins)]
        loads = [0.0] * nbins
        for path, n in sorted(
            files.items(), key=lambda kv: -weight(kv[0], kv[1])
        ):
            i = loads.index(min(loads))
            bins[i].append(path)
            loads[i] += weight(path, n)
        assert sum(len(b) for b in bins) == len(files)
        # the heavy measured file dominates its bin: it lands alone or
        # nearly alone while the light files spread over the others
        heavy_bin = next(
            b for b in bins if any("test_catalog" in p for p in b)
        )
        assert len(heavy_bin) <= 3
        assert max(loads) / min(loads) < 2.5

    def test_weight_prefers_measured_seconds(self):
        assert sr._FILE_SECONDS["test_catalog.py"] >= 90
        w_known = max(sr._FILE_SECONDS.get("test_catalog.py", 0), 5 * 1.2)
        w_unknown = max(sr._FILE_SECONDS.get("test_new.py", 0), 5 * 1.2)
        assert w_known > w_unknown


class TestGuards:
    def test_child_env_short_circuits(self, monkeypatch):
        monkeypatch.setenv(sr._CHILD_ENV, "1")
        assert sr.pytest_runtestloop(object()) is None

    def test_par_zero_disables(self, monkeypatch):
        monkeypatch.delenv(sr._CHILD_ENV, raising=False)
        monkeypatch.setenv("SPARK_GRAFT_PAR", "0")
        assert sr.pytest_runtestloop(object()) is None

    def test_worker_count_env(self, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_PAR", "3")
        assert sr._workers() == 3
        monkeypatch.setenv("SPARK_GRAFT_PAR", "")
        cpus = os.cpu_count() or 8
        assert sr._workers() == min(7, max(2, cpus // 4))


class TestSummaryParsing:
    def test_tail_regex(self):
        tail = "996 passed, 41 skipped, 2 deselected in 1251.85s (0:20:51)"
        got = dict(
            (k, int(v)) for v, k in re.findall(r"(\d+) (\w+)", tail)
        )
        assert got["passed"] == 996
        assert got["skipped"] == 41
        assert got["deselected"] == 2


class TestDriverMem:
    @staticmethod
    def _meminfo(tmp_path, kb):
        p = tmp_path / "meminfo"
        p.write_text(f"MemTotal:       {kb} kB\nMemFree:        1000 kB\n")
        return str(p)

    def test_heaps_fit_sixty_percent_of_memtotal(self, tmp_path):
        # 16 GB host, 2 shards: 16384 MB * 0.6 / 2 = 4915 MB each
        mi = self._meminfo(tmp_path, 16 * 1024 * 1024)
        assert sr._driver_mem(2, mi) == "4915m"
        assert sr._driver_mem(3, mi) == "3276m"

    def test_clamped_to_session_default_and_floor(self, tmp_path):
        assert sr._driver_mem(2, self._meminfo(tmp_path, 64 * 1024 * 1024)) == "8192m"
        assert sr._driver_mem(7, self._meminfo(tmp_path, 4 * 1024 * 1024)) == "1024m"

    def test_unreadable_meminfo_sets_nothing(self, tmp_path, monkeypatch):
        assert sr._driver_mem(2, str(tmp_path / "missing")) is None
        monkeypatch.setattr(sr, "_driver_mem", lambda workers: None)
        env = sr._shard_env({}, "/wh", 2)
        assert "SPARK_GRAFT_DRIVER_MEM" not in env
        assert env["SPARK_GRAFT_WAREHOUSE"] == "/wh"
        assert env[sr._CHILD_ENV] == "1"

    def test_shard_env_sets_heap_unless_caller_did(self, monkeypatch):
        monkeypatch.setattr(sr, "_driver_mem", lambda workers: f"{workers}000m")
        assert sr._shard_env({}, "/wh", 3)["SPARK_GRAFT_DRIVER_MEM"] == "3000m"
        env = sr._shard_env({"SPARK_GRAFT_DRIVER_MEM": "6g"}, "/wh", 3)
        assert env["SPARK_GRAFT_DRIVER_MEM"] == "6g"
