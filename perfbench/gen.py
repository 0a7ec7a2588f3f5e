"""Seeded input generator for the benchmark: numpy + pyarrow, one
process, no Spark.

Every file is a pure function of ``(seed, stream, index)``: the same
seed writes byte-identical files, and the warm-up stream never shares
an input with the timed stream. Each writer returns the ground truth
the output checks compare against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TIMED, WARMUP = 0, 1  # input streams


def rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *key]))


def _write_parquet(table: pa.Table, path: str, row_group: int = 65536) -> None:
    pq.write_table(table, path, row_group_size=row_group, compression="snappy")


# ------------------------------------------------------------ etl_batch

ETL_HEADERS = [
    "Order ID",
    "Customer ID",
    "Product Name",
    "Quantity",
    "Unit Price ($)",
    "Order Date",
    "Shipping Address",
    "Status",
]
_PRODUCTS = np.array(
    ["Laptop Pro 15", "Wireless Mouse", "USB-C Hub", "Monitor 27", "Desk Lamp",
     "Keyboard", "Webcam HD", "Headset", "Docking Station", "SSD 1TB"]
)
_STATUSES = np.array(["completed", "shipped", "processing"])
_STREETS = np.array(["Main St", "Oak Ave", "Pine Rd", "Elm St", "Lake Dr"])
_CITIES = np.array(["New York NY", "Austin TX", "Denver CO", "Boston MA"])
ETL_DAYS = 30


def etl_batch(path: str, seed: int, stream: int, index: int, rows: int) -> dict:
    """One raw CSV batch: messy headers, scattered nulls and exact
    duplicate rows, order dates over ``ETL_DAYS`` days.

    Truth: rows in, rows the null-drop step removes, duplicate copies
    the dedup step removes, and the rows the Silver table must gain.
    """
    g = rng(seed, 1, stream, index)
    n_null = rows // 20
    n_dup = rows // 25
    n_base = rows - n_dup
    i = np.arange(n_base)
    cols = {
        "Order ID": np.char.add(f"ORD{seed}-{stream}-{index}-", i.astype(str)),
        "Customer ID": np.char.add("CUST", g.integers(0, 5000, n_base).astype(str)),
        "Product Name": _PRODUCTS[g.integers(0, len(_PRODUCTS), n_base)],
        "Quantity": g.integers(1, 20, n_base),
        "Unit Price ($)": np.round(g.uniform(1.0, 2000.0, n_base), 2),
        "Order Date": (
            np.datetime64("2024-03-01") + g.integers(0, ETL_DAYS, n_base)
        ).astype(str),
        "Shipping Address": np.char.add(
            np.char.add(g.integers(1, 999, n_base).astype(str), " "),
            np.char.add(
                np.char.add(_STREETS[g.integers(0, 5, n_base)], " "),
                _CITIES[g.integers(0, 4, n_base)],
            ),
        ),
        "Status": _STATUSES[g.integers(0, 3, n_base)],
    }
    # nulls in the columns the reference fixture nulls (FIXTURES.md §2)
    null_rows = g.choice(n_base, n_null, replace=False)
    null_cols = np.array(["Customer ID", "Quantity", "Unit Price ($)", "Status"])[
        g.integers(0, 4, n_null)
    ]
    masks = {c: np.zeros(n_base, dtype=bool) for c in ETL_HEADERS}
    for r, c in zip(null_rows, null_cols):
        masks[c][r] = True
    # exact duplicates copy rows that survive the null drop
    clean = np.setdiff1d(i, null_rows)
    dup_src = g.choice(clean, n_dup, replace=True)
    order = g.permutation(np.concatenate([i, dup_src]))
    arrays = [
        pa.array(np.asarray(cols[h])[order], mask=masks[h][order]) for h in ETL_HEADERS
    ]
    table = pa.Table.from_arrays(arrays, names=ETL_HEADERS)
    pacsv.write_csv(table, path)
    return {
        "rows_in": rows,
        "null_rows": n_null,
        "dup_rows": n_dup,
        "rows_out": rows - n_null - n_dup,
        "bytes": os.path.getsize(path),
    }


# -------------------------------------------------------------- gold_bi

TPCH_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem")
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def tpch(out_dir: str, seed: int, stream: int, sf: float) -> dict[str, int]:
    """TPC-H-shaped star schema at scale factor ``sf`` (``lineitem``
    about 6M rows per unit), one parquet file per table, laid out the
    way ``plans.catalog.load_table`` reads them. Returns row counts."""
    g = rng(seed, 2, stream)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 100)
    n_supp = max(int(10_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 1000)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int64)),
        "r_name": pa.array(_REGIONS),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int64)),
        "n_name": pa.array([f"NATION_{k:02d}" for k in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int64) % 5),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": pa.array(np.char.add("Customer#", np.arange(1, n_cust + 1).astype(str))),
        "c_nationkey": pa.array(g.integers(0, 25, n_cust)),
        "c_mktsegment": pa.array(_SEGMENTS[g.integers(0, 5, n_cust)]),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1, dtype=np.int64)),
        "s_nationkey": pa.array(g.integers(0, 25, n_supp)),
    })
    day0 = np.datetime64("1992-01-01T00:00:00", "us")
    span_days = 6 * 365 + 200
    o_date = day0 + (g.integers(0, span_days, n_ord) * 86_400_000_000).astype("timedelta64[us]")
    orders_keys = np.arange(1, n_ord + 1, dtype=np.int64)
    lines_per = g.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_ok = np.repeat(orders_keys, lines_per)
    l_odate = np.repeat(o_date, lines_per)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * g.uniform(900.0, 2100.0, n_li), 2)
    disc = np.round(g.integers(0, 11, n_li) / 100.0, 2)
    ship = l_odate + (g.integers(1, 122, n_li) * 86_400_000_000).astype("timedelta64[us]")
    cutoff = np.datetime64("1995-06-17T00:00:00", "us")
    flag = np.where(ship <= cutoff, np.array(["R", "A"])[g.integers(0, 2, n_li)], "N")
    status = np.where(ship > cutoff, "O", "F")
    total = np.bincount(np.repeat(np.arange(n_ord), lines_per), weights=price, minlength=n_ord)
    orders = pa.table({
        "o_orderkey": pa.array(orders_keys),
        "o_custkey": pa.array(g.integers(1, n_cust + 1, n_ord)),
        "o_orderdate": pa.array(o_date),
        "o_totalprice": pa.array(np.round(total, 2)),
        "o_orderpriority": pa.array(_PRIORITIES[g.integers(0, 5, n_ord)]),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(l_ok),
        "l_suppkey": pa.array(g.integers(1, n_supp + 1, n_li)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(disc),
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(status),
        "l_shipdate": pa.array(ship),
    })
    tables = dict(zip(TPCH_TABLES, (region, nation, customer, supplier, orders, lineitem)))
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------- corpus_dedup

VOCAB = np.array([f"w{k:04d}" for k in range(8000)])
DOC_WORDS = (100, 140)


def corpus_shard(path: str, seed: int, stream: int, index: int, docs: int) -> dict:
    """One shard of ``docs`` documents, a tenth of them near-duplicate
    copies (one word replaced, or none) of an original in the same
    shard. Truth: the ids a min-id-per-cluster dedup must remove."""
    g = rng(seed, 3, stream, index)
    n_dup = docs // 10
    n_orig = docs - n_dup
    lengths = g.integers(*DOC_WORDS, n_orig)
    toks = [g.integers(0, len(VOCAB), k) for k in lengths]
    src = g.integers(0, n_orig, n_dup)
    for s in src:
        t = toks[s].copy()
        if g.random() < 0.7:
            t[g.integers(0, len(t))] = g.integers(0, len(VOCAB))
        toks.append(t)
    ids = index * 1_000_000 + g.permutation(docs).astype(np.int64)
    texts = [" ".join(VOCAB[t]) for t in toks]
    _write_parquet(
        pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}), path
    )
    # clusters: each original with its copies; every member but the
    # smallest id is a duplicate to remove
    members: dict[int, list[int]] = {}
    for j, s in enumerate(src):
        members.setdefault(int(s), [int(ids[s])]).append(int(ids[n_orig + j]))
    remove = sorted(i for m in members.values() for i in m if i != min(m))
    return {"docs": docs, "ids": ids.tolist(), "remove": remove}


# ----------------------------------------------------------- ann_search

ANN_DIM = 64
_ANN_CLUSTERS = 48


def _ann_points(g: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    pick = g.integers(0, len(centers), n)
    return centers[pick] + g.normal(0.0, 0.35, (n, centers.shape[1]))


def _ann_centers(seed: int) -> np.ndarray:
    return rng(seed, 4, 0).normal(0.0, 1.0, (_ANN_CLUSTERS, ANN_DIM))


def _vec_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float64).ravel())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat
    )
    return pa.table({"vec_id": pa.array(ids.astype(np.int64)), "embedding": emb})


def ann_corpus(path: str, seed: int, n: int) -> np.ndarray:
    """The shared corpus: ``n`` clustered ``ANN_DIM``-d vectors, ids
    0..n-1. Returns the vectors for exact-truth computation."""
    vecs = _ann_points(rng(seed, 4, 1), _ann_centers(seed), n)
    _write_parquet(_vec_table(np.arange(n), vecs), path)
    return vecs


def ann_queries(
    path: str, seed: int, stream: int, index: int, n: int, corpus: np.ndarray, k: int = 10
) -> dict:
    """One batch of ``n`` query vectors (ids disjoint from the corpus)
    and its exact cosine top-``k`` by numpy brute force."""
    g = rng(seed, 4, 2, stream, index)
    q = _ann_points(g, _ann_centers(seed), n)
    ids = (1 + stream) * 1_000_000_000 + index * 1000 + np.arange(n)
    _write_parquet(_vec_table(ids, q), path)
    cu = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qu = q / np.linalg.norm(q, axis=1, keepdims=True)
    top = np.argsort(-(qu @ cu.T), axis=1, kind="stable")[:, :k]
    return {"queries": n, "topk": {int(i): set(map(int, t)) for i, t in zip(ids, top)}}
