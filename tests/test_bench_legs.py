"""bench.py runs its demonstration legs from one ``LEGS`` table: pin the
run order and BENCH_DETAIL key set, the error record of a raising leg,
and the compact final stdout line — with every leg and the headline
set stubbed, so no Spark work runs."""

from __future__ import annotations

import json

import bench
from harness_aws_etl_pipeline_spark.plans.catalog import QuerySpec

LEG_KEYS = [
    "bucketed", "snaptable", "incremental_dedup", "corpus_prep",
    "drift_legs", "skew_join", "pq", "lake", "writers", "web_prep",
    "pagerank", "bloom_join", "tpch_pack", "fuzzy_join", "lattice",
    "transitions", "bfs", "sq", "maintenance", "streaming", "sf1",
    "scaling", "cold_sf01",
]


class _Frame:
    def collect(self):
        return [1, 2]


def test_legs_run_in_order_and_a_raising_leg_records_its_error(
    monkeypatch, tmp_path, capsys
):
    assert [key for key, _ in bench.LEGS] == LEG_KEYS
    ran, seen_timings = [], {}

    def stub(key):
        def leg(spark, sf_dir, *rest):
            ran.append(key)
            if key == "sf1":
                seen_timings.update(rest[0])
            if key == "lake":
                raise RuntimeError("boom")
            return {"leg": key}

        return leg

    monkeypatch.setattr(bench, "LEGS", [(k, stub(k)) for k, _ in bench.LEGS])
    monkeypatch.setattr(bench, "get_spark", lambda name: None)
    monkeypatch.setattr(bench, "CATALOG", {
        "h1": QuerySpec("h1", lambda s, d: _Frame(), None, headline=True),
        "x": QuerySpec("x", lambda s, d: _Frame(), None),
    })
    monkeypatch.setattr(bench, "__file__", str(tmp_path / "bench.py"))
    bench.main()

    assert ran == LEG_KEYS
    assert set(seen_timings) == {"h1"}  # sf1 gets the headline timings
    detail = json.loads((tmp_path / "BENCH_DETAIL.json").read_text())
    legs = [k for k in detail if k in set(LEG_KEYS)]
    assert legs == LEG_KEYS
    assert detail["lake"] == {"error": "boom"}
    assert detail["pq"] == {"leg": "pq"}
    assert len(detail["runs"]["h1"]) == 5
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(last) == {"metric", "value", "unit", "queries", "value_p50", "sf"}
    assert list(last["queries"]) == ["h1"]
