"""Capture executed (AQE-final) formatted plans for the headline
queries into plans/<round>/<query>_<tag>.txt.

    python tools/capture_plans.py r15 before
    python tools/capture_plans.py r15 after g1_pricing_summary

Methodology: build the query at sf0.1 ($SPARK_GRAFT_SF_DIR, as in
bench.py), collect() once so AQE finalizes and memoized subtrees warm,
then explain("formatted") on a fresh build. Pass query names after the
tag to restrict the capture (default: all headline queries).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG  # noqa: E402
from harness_aws_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit("usage: capture_plans.py <round> <tag> [query...]")
    rnd, tag, only = sys.argv[1], sys.argv[2], set(sys.argv[3:])
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("capture-plans")
    for spec in CATALOG.values():
        if not spec.headline or (only and spec.name not in only):
            continue
        df = spec.builder(spark, SF_DIR)
        df.collect()
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{spec.name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
