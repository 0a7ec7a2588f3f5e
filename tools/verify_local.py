"""Local stand-in for the driver's correctness gate.

Runs every catalog query through Spark AND its DuckDB oracle on the
same parquet tables, then compares row count, column names, RESULT
TYPES (both sides exported to Arrow — catches e.g. DuckDB HUGEINT vs
Spark BIGINT, which the driver's type-aware value hash rejects even
when the values are equal), and order-insensitive values (columns
sorted by name, rows sorted by their stringified tuple) — stricter
than a hash: mismatching cells are printed.

Usage: python tools/verify_local.py [--vanilla] [sf_dir] [query ...]

``--vanilla`` reproduces the driver's exact shape: a PLAIN
SparkSession (none of the engine session factory's confs) running the
``__spark_entry__.queries()`` callables — catches any query that
silently depends on a conf only ``get_spark`` sets (the
nanosAsLong/timezone class of bug must be handled inside
``load_table``, not the session).
"""

from __future__ import annotations

import math
import os
import sys

# the checkout this script lives in, not whatever copy is on the path
# — for this process and for the Python workers Spark starts
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb
import pyarrow as pa

from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG, TABLE_NAMES
from harness_aws_etl_pipeline_spark.session import get_spark


def _norm_type(t: pa.DataType) -> str:
    """Canonical spelling of an Arrow type for cross-engine compare.

    Collapses equivalences that the driver's hash treats as equal
    (string vs large_string, timestamp unit, list vs large_list) while
    keeping the distinctions that broke round 1 (decimal128(38,0) from
    a DuckDB HUGEINT SUM vs int64 from Spark).
    """
    if pa.types.is_large_string(t) or pa.types.is_string(t):
        return "string"
    if pa.types.is_large_binary(t) or pa.types.is_binary(t):
        return "binary"
    if pa.types.is_timestamp(t):
        return f"timestamp[tz={t.tz}]"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_norm_type(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_norm_type(f.type)}" for f in t)
        return f"struct<{inner}>"
    return str(t)


def _arrow_types(tbl: pa.Table) -> dict[str, str]:
    return {f.name: _norm_type(f.type) for f in tbl.schema}


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def _norm_result(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, out


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--vanilla"]
    vanilla = "--vanilla" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    names = args[1:] or list(CATALOG)

    if vanilla:
        import os

        from pyspark.sql import SparkSession

        import __spark_entry__ as entry_mod

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
        spark = (
            SparkSession.builder.appName("verify-vanilla")
            .master(f"local[{cpus}]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        flagship = entry_mod.entry(spark)
        print(f"entry(): {len(flagship.collect())} rows, schema ok")
        queries = entry_mod.queries()
        oracles = entry_mod.oracle_sql()
        assert set(oracles) <= set(queries)

        def build(name):
            return queries[name](spark, sf_dir)

        def oracle_of(name):
            return oracles.get(name)

    else:
        spark = get_spark("verify-local")

        def build(name):
            return CATALOG[name].builder(spark, sf_dir)

        def oracle_of(name):
            return CATALOG[name].oracle

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    failures = []
    for name in names:
        try:
            sdf = build(name)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            s_types = _arrow_types(sdf.limit(0).toArrow())
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: spark error: {exc}")
            continue
        oracle = oracle_of(name)
        if oracle is None:
            print(f"ok    {name}: rows-only ({len(s_rows)} rows)")
            continue
        try:
            cur = con.execute(oracle)
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
            d_types = _arrow_types(con.execute(oracle).arrow())
        except Exception as exc:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error: {exc}")
            continue

        sc, sr = _norm_result(s_cols, s_rows)
        dc, dr = _norm_result(d_cols, d_rows)
        if sc != dc:
            failures.append(name)
            print(f"FAIL  {name}: columns differ spark={sc} duckdb={dc}")
            continue
        type_bad = {
            c: (s_types.get(c), d_types.get(c))
            for c in sc
            if s_types.get(c) != d_types.get(c)
        }
        if type_bad:
            failures.append(name)
            print(f"FAIL  {name}: result types differ (spark, duckdb): {type_bad}")
            continue
        if len(sr) != len(dr):
            failures.append(name)
            print(f"FAIL  {name}: row count spark={len(sr)} duckdb={len(dr)}")
            continue
        bad = [(a, b) for a, b in zip(sr, dr) if a != b]
        if bad:
            failures.append(name)
            print(f"FAIL  {name}: {len(bad)} mismatched rows; first 3:")
            for a, b in bad[:3]:
                print(f"        spark : {a}")
                print(f"        duckdb: {b}")
            continue
        print(f"ok    {name}: {len(sr)} rows, values equal")

    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
