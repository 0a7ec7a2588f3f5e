"""Generate PLANS.md: formatted physical plans + plan-health summary
for the headline queries. Run after plan-affecting changes:

    python tools/explain_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from harness_aws_etl_pipeline_spark.plans.catalog import CATALOG
from harness_aws_etl_pipeline_spark.session import get_spark

# every headline (benched) query whose plan is a pure DataFrame graph,
# plus the merged panels that changed shape in the catalog reorder —
# derived from the catalog so the audit tracks reorders automatically
AUDITED = [
    s.name
    for s in CATALOG.values()
    if s.headline and s.name not in ("pipeline_e2e", "minhash_lsh", "near_dup_clusters")
    # pipeline_e2e/minhash_lsh/near_dup_clusters run imperative steps
    # (tempdir writes, persisted subtrees, iterative checkpoints) whose
    # final explain() doesn't reflect the executed stages
] + ["normalize_names", "scan_count", "relalg_counts", "grouping_sets",
     "orderby_limit", "doc_fingerprint", "corpus_mix",
     "semantic_dedup", "quality_score"]
# (r10 fusions: null_audit rides normalize_names, profile_stats rides
# scan_count, line_dedup + seq_packing ride doc_fingerprint)


def main() -> None:
    spark = get_spark("explain-audit", master="local[8]")
    sf = "/root/testdata/sf0.01"
    out = [
        "# PLANS — physical-plan audit of headline queries (sf0.01)",
        "",
        "Generated by tools/explain_audit.py. Health criteria: filters",
        "pushed to the scan, ReadSchema pruned to referenced columns,",
        "dimensions broadcast, aggregates partial (map-side combine),",
        "top-k as TakeOrdered — the plan you'd want at 100 TB.",
        "",
    ]
    for name in AUDITED:
        df = CATALOG[name].builder(spark, sf)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()

        pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
        schemas = re.findall(r"ReadSchema: [^\n]*", plan)
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan)
        nagg = len(re.findall(r"HashAggregate", plan))
        nex = len(re.findall(r"Exchange", plan))
        takeordered = "TakeOrderedAndProject" in plan

        out.append(f"## {name}")
        out.append("")
        out.append(f"- joins: {joins or 'none'}; HashAggregates: {nagg}; "
                   f"Exchanges: {nex}; TakeOrdered: {takeordered}")
        for s in pushed:
            out.append(f"- {s[:160]}")
        for s in schemas:
            out.append(f"- {s[:160]}")
        out.append("")
        out.append("<details><summary>full plan</summary>")
        out.append("")
        out.append("```")
        out.append(plan.strip()[:6000])
        out.append("```")
        out.append("</details>")
        out.append("")

    out.extend(_bucketed_section(spark, sf))
    out.extend(_snaptable_section(spark))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


def _snaptable_section(spark) -> list[str]:
    """Snapshot-table read path — the plan-health claims behind the
    bench's transactional-merge leg: a ``where=`` read prunes FILES at
    planning time from manifest stats (shown by the scan's file
    count) AND pushes the row predicate into the parquet scan
    (PushedFilters), so pruning is exact regardless of stats
    coverage."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from harness_aws_etl_pipeline_spark.sinks.snaptable import SnapTable

    tmp = tempfile.mkdtemp(prefix="audit_snap_")
    try:
        t = SnapTable(spark, f"{tmp}/tbl")
        t.write(
            spark.range(100_000).withColumn("v", F.col("id") % 97),
            mode="overwrite",
            cluster_by=["id"],
            target_files=16,
        )
        kept, total = t.pruned_file_count([("id", ">=", 10_000), ("id", "<", 15_000)])
        df = t.read(where=[("id", ">=", 10_000), ("id", "<", 15_000)])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        pushed = re.findall(r"PushedFilters: \[[^\]]*\]", plan)
        return [
            "## snaptable pruned read (bench extra leg, not a catalog entry)",
            "",
            f"- manifest stats pruned the scan to {kept}/{total} files"
            " BEFORE Spark planned it (planning-time file skipping from"
            " per-file min/max — the mechanism the merge leg's 1/32"
            " rewrite fraction rests on)",
            f"- row predicate also pushed to the parquet scan: "
            f"{pushed[:1] or 'NOT PUSHED'} (exactness does not depend"
            " on stats coverage)",
            "",
            "<details><summary>pruned read plan</summary>",
            "",
            "```",
            plan.strip()[:3000],
            "```",
            "</details>",
            "",
        ]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bucketed_section(spark, sf: str) -> list[str]:
    """Bucketed fact⋈fact join — the SAME harness bench.py times
    (plans/bucketing.py:bucketed_g2_demo), so the documented plan is
    the measured layout: both sides bucketed+sorted on the join key →
    the sort-merge join plans with ZERO Exchange below the join;
    broadcast disabled so the twin is the real shuffle join."""
    import contextlib
    import io

    from harness_aws_etl_pipeline_spark.plans.bucketing import (
        bucketed_g2_demo,
        plan_has_shuffle,
    )

    with bucketed_g2_demo(spark, sf, "audit_b") as (joined_b, joined_p):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined_b.explain("formatted")
        plan_b = buf.getvalue()
        n_sorts = len(re.findall(r"^\(\d+\) Sort", plan_b, re.M))
        return [
            "## g2 bucketed fact join (bench extra leg, not a catalog entry)",
            "",
            f"- bucketed join subtree has shuffle: {plan_has_shuffle(joined_b)}"
            " (required: False — co-located storage layout)",
            f"- plain sort-merge twin has shuffle: {plan_has_shuffle(joined_p)}"
            " (the Exchange bucketing eliminates)",
            f"- Exchanges in bucketed join plan: {plan_b.count('Exchange')};"
            f" Sorts: {n_sorts}"
            " (in-partition Sorts with NO Exchange beneath them:"
            " Spark 3+ re-sorts bucketed scans for the merge join"
            " regardless of sortBy; the shuffle — the cost that grows"
            " with cluster size — is gone)",
            "",
            "<details><summary>bucketed join plan</summary>",
            "",
            "```",
            plan_b.strip()[:4000],
            "```",
            "</details>",
            "",
        ]


if __name__ == "__main__":
    main()
