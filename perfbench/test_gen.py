"""The generator is a pure function of its seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow.csv as pacsv
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def _digest(d: str) -> dict[str, str]:
    out = {}
    for root, _, names in os.walk(d):
        for n in names:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = hashlib.sha256(f.read()).hexdigest()
    return out


def _write_all(d: str, seed: int, stream: int = gen.TIMED) -> dict:
    os.makedirs(d, exist_ok=True)
    truth = {
        "etl": gen.etl_batch(f"{d}/b.csv", seed, stream, 3, 2000),
        "tpch": gen.tpch(f"{d}/tpch", seed, stream, 0.002),
        "shard": gen.corpus_shard(f"{d}/s.parquet", seed, stream, 3, 300),
    }
    corpus = gen.ann_corpus(f"{d}/c.parquet", seed, 500)
    truth["ann"] = gen.ann_queries(f"{d}/q.parquet", seed, stream, 3, 5, corpus)
    return truth


def test_same_seed_same_files(tmp_path):
    t1 = _write_all(str(tmp_path / "a"), 7)
    t2 = _write_all(str(tmp_path / "b"), 7)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert t1 == t2


def test_other_seed_and_warmup_stream_differ(tmp_path):
    _write_all(str(tmp_path / "a"), 7)
    _write_all(str(tmp_path / "b"), 8)
    _write_all(str(tmp_path / "w"), 7, gen.WARMUP)
    a, b, w = (_digest(str(tmp_path / x)) for x in "abw")
    for other in (b, w):
        assert all(a[k] != other[k] for k in ("b.csv", "s.parquet", "q.parquet"))


def test_etl_truth_matches_file(tmp_path):
    p = str(tmp_path / "b.csv")
    t = gen.etl_batch(p, 1, gen.TIMED, 0, 5000)
    # an empty field is a null, as Spark's CSV reader takes it
    opts = pacsv.ConvertOptions(strings_can_be_null=True)
    rows = pacsv.read_csv(p, convert_options=opts).to_pylist()
    assert len(rows) == t["rows_in"]
    full = [r for r in rows if all(v is not None for v in r.values())]
    assert len(rows) - len(full) == t["null_rows"]
    distinct = {tuple(r.values()) for r in full}
    assert len(full) - len(distinct) == t["dup_rows"]
    assert len(distinct) == t["rows_out"]


def test_dedup_truth_is_non_min_cluster_members(tmp_path):
    p = str(tmp_path / "s.parquet")
    t = gen.corpus_shard(p, 1, gen.TIMED, 0, 1000)
    ids = pq.read_table(p).column("doc_id").to_pylist()
    assert sorted(ids) == sorted(t["ids"]) and len(set(ids)) == 1000
    assert set(t["remove"]) <= set(ids)
    assert len(t["remove"]) == 100  # one planted copy per tenth of the shard
