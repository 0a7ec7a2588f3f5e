"""Query catalog: every checkable operator as (Spark plan, DuckDB oracle).

This is the engine's correctness contract (SURVEY.md §2.13): each entry
pairs a DataFrame-API implementation with an equivalent ANSI-SQL string
the driver runs through DuckDB on the same parquet tables. Column names
are aliased identically on both sides; floating aggregates go through
exact decimal sums cast back to double so both engines produce
bit-identical values regardless of accumulation order.

Core relational entries live here; [EXT] text/vector/multimodal entries
in plans/catalog_ext.py. ``CATALOG`` merges both.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.operators import (
    deduplicate_exact,
    drop_null_rows,
    flag_nulls,
    normalize_column_names,
)
from harness_aws_etl_pipeline_spark.operators.casts import numeric_parse_ratios
from harness_aws_etl_pipeline_spark.operators.memo import PlanMemo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (applicationId, sf_dir, name) → analyzed reader DataFrame. Reader
#: construction (file listing + JVM footer/schema read) costs ~90 ms
#: per table; a 6-table join paid ~0.55 s of it on EVERY build — the
#: named cause of the r10 bench drift on q5/g4. The key includes the
#: application id so a restarted session never sees a stale JVM
#: handle; a rewritten table is re-read after ``clear_all_memos()``.
_TABLE_MEMO = PlanMemo(capacity=64)
#: Build-time collects (keyed with applicationId + sf_dir) and the
#: sf-independent planted-fixture rows — apart from the readers, so
#: reader churn over many sf dirs never evicts a fixture row.
_VALUE_MEMO = PlanMemo(capacity=64)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One test table, with nanosecond-timestamp normalization.

    Some test parquet carries INT64 TIMESTAMP(NANOS) columns which
    Spark only reads via the legacy nanos flag (runtime-settable, so it
    applies to whatever session the caller brings) — those come back as
    LongType nanos and are converted to timestamps with an exact
    integer ``div 1000`` (a double division would lose precision above
    2^53 ns). Micro/milli timestamps read natively as usual.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # pin UTC so the nanos→ntz conversion below is host-tz independent
    # (re-pinned on every call even on memo hits — catalog queries
    # rely on load_table leaving the session zone UTC)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    return _TABLE_MEMO.get_or_key(key, lambda: _read_table(spark, sf_dir, name))


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    local = path.removeprefix("file:")
    try:  # the footer probe for TIMESTAMP(NANOS) columns
        import pyarrow.parquet as pq
        import pyarrow.types as pat

        schema = pq.read_schema(local) if os.path.exists(local) else []
    except Exception:
        return df
    for f in schema:
        if pat.is_timestamp(f.type) and f.type.unit == "ns":
            df = df.withColumn(
                f.name,
                F.timestamp_micros(F.expr(f"`{f.name}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


class _LazyTables(dict):
    """Dict-like table registry that defers the Spark reader (file
    listing + footer read) until a table is actually used — a builder
    touching 2 of 10 tables pays 2 scans' planning cost, not 10."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        super().__init__()
        self._spark = spark
        self._sf_dir = sf_dir

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self:
            if name not in TABLE_NAMES:
                raise KeyError(name)
            self[name] = load_table(self._spark, self._sf_dir, name)
        return super().__getitem__(name)


def tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Lazy handles on the test tables."""
    return _LazyTables(spark, sf_dir)


_DSUM_SCALE = 10_000


def dsum(col: Column | str, alias: str) -> Column:
    """Deterministic cross-engine double sum: fixed-point accumulate in
    longs (scale 1e4), divide once at the end.

    A plain double sum depends on partition/accumulation order, so
    Spark and DuckDB drift in the last bits and hash-mismatch. Integer
    addition is exact and associative — both engines produce the same
    long, and the single final division is deterministic IEEE. Long
    sums are also ~2-4× faster than the decimal-typed alternative
    (no per-row BigDecimal). Capacity: |Σ x·1e4| < 2^63 → sums up to
    ~9.2e14 units; for wider ranges swap the scale or fall back to
    ``sum(cast(c as decimal))`` — same technique, same determinism.
    """
    c = F.col(col) if isinstance(col, str) else col
    scaled = F.round(c.cast("double") * _DSUM_SCALE).cast("long")
    return (F.sum(scaled).cast("double") / F.lit(float(_DSUM_SCALE))).alias(alias)


def davg(col: Column | str, alias: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    scaled = F.round(c.cast("double") * _DSUM_SCALE).cast("long")
    return (
        F.sum(scaled).cast("double") / F.lit(float(_DSUM_SCALE)) / F.count(F.lit(1))
    ).alias(alias)


# SQL fragments mirroring dsum/davg exactly (DuckDB SUM(BIGINT) is
# HUGEINT — cast back to DOUBLE before dividing, like Spark's long).
def sql_dsum(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(ROUND(CAST(({expr}) AS DOUBLE) * {_DSUM_SCALE}) AS BIGINT)) AS DOUBLE)"
        f" / {_DSUM_SCALE}.0 AS {alias}"
    )


def sql_davg(expr: str, alias: str) -> str:
    return (
        f"CAST(SUM(CAST(ROUND(CAST(({expr}) AS DOUBLE) * {_DSUM_SCALE}) AS BIGINT)) AS DOUBLE)"
        f" / {_DSUM_SCALE}.0 / COUNT(*) AS {alias}"
    )


@dataclass
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver records rows-only check
    description: str = ""
    headline: bool = False  # include in bench.py
    tags: tuple[str, ...] = ()


# ---------------------------------------------------------------- scans


def q_scan_count(spark: SparkSession, sf: str) -> DataFrame:
    """S1/S3/A1 + S6 — scan + count + exact distinct (reference
    extractor.py:94-99; transformer.py:53-56) fused with the
    multi-source row-wise union leg (extractor.py:137; formerly the
    standalone ``union_all`` entry — two 1-row panels share one slot
    of the driver's 50-entry correctness window).

    Fused (round 8): the TABLE-DIFF leg (operators/diffing.py) —
    orders reconciled against a planted migration copy (keys %1009
    removed, o_totalprice bumped on keys %97) through the keyed
    full-outer diff; status counts + per-column change attribution +
    the identical gate re-derived by the oracle from the same planted
    predicates."""
    from harness_aws_etl_pipeline_spark.operators.diffing import diff_summary

    li = tables(spark, sf)["lineitem"]
    o = tables(spark, sf)["orders"]
    scan = li.agg(
        F.count(F.lit(1)).alias("row_cnt"),
        F.countDistinct("l_orderkey").alias("distinct_orders"),
    )
    union = o.unionByName(o).agg(F.count(F.lit(1)).alias("union_row_cnt"))
    migrated = o.where(F.col("o_orderkey") % 1009 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + F.lit(1.0)
        ).otherwise(F.col("o_totalprice")),
    )
    diff_leg = diff_summary(
        o, migrated, "o_orderkey", compare_cols=["o_totalprice", "o_orderstatus"]
    ).select(
        F.col("added").alias("diff_added"),
        F.col("removed").alias("diff_removed"),
        F.col("changed").alias("diff_changed"),
        F.col("unchanged").alias("diff_unchanged"),
        F.col("changed_o_totalprice").alias("diff_changed_price"),
        F.col("changed_o_orderstatus").alias("diff_changed_status"),
        F.col("identical").alias("diff_identical"),
    )
    return scan.crossJoin(F.broadcast(union)).crossJoin(F.broadcast(diff_leg))


def q_normalize_names(spark: SparkSession, sf: str) -> DataFrame:
    """T1 — column-name normalization on a messy-aliased scan
    (reference transformer.py:95-112)."""
    li = tables(spark, sf)["lineitem"]
    messy = li.select(
        F.col("l_orderkey").alias(" L_OrderKey "),
        F.col("l_quantity").alias("Quantity (Units)"),
        F.col("l_shipdate").alias("Ship  Date!!"),
        F.col("l_returnflag").alias("return__flag"),
    )
    normalized = normalize_column_names(messy)
    rows = [(c,) for c in normalized.columns]
    return spark.createDataFrame(rows, "col_name string")


ORACLE_NORMALIZE = """
SELECT * FROM (VALUES ('l_orderkey'), ('quantity_units'),
                      ('ship_date'), ('return_flag')) AS t(col_name)
"""


def q_normalize_names_fused(spark: SparkSession, sf: str) -> DataFrame:
    """T1 + T2a/T2b/T2c/A2 — column-name normalization base (4 rows)
    carrying the null-audit legs as broadcast 1-row crossJoins.
    Fused round 10 to free a slot in the driver's 50-entry correctness
    window for the per-leg ni_* split (both components green r1-r9)."""
    return q_normalize_names(spark, sf).crossJoin(
        F.broadcast(q_null_audit(spark, sf))
    )


# ---------------------------------------------------------------- nulls


def q_null_drop(spark: SparkSession, sf: str) -> DataFrame:
    """T2a — drop rows with any null (reference transformer.py:127-129)."""
    ev = tables(spark, sf)["events"]
    return drop_null_rows(ev).agg(F.count(F.lit(1)).alias("row_cnt"))


def q_null_fill(spark: SparkSession, sf: str) -> DataFrame:
    """T2b — numeric nulls → 0 then aggregate (transformer.py:130-136).
    Nulls are injected (value < 1.0 → null) so the fill is exercised
    even on a null-free input table."""
    ev = tables(spark, sf)["events"]
    with_nulls = ev.withColumn(
        "value", F.when(F.col("value") < 1.0, None).otherwise(F.col("value"))
    )
    filled = with_nulls.na.fill(0.0, subset=["value"])
    return filled.agg(
        dsum("value", "value_sum"),
        F.sum((F.col("value") == 0.0).cast("long")).alias("zero_cnt"),
    )


ORACLE_NULL_FILL = f"""
SELECT {sql_dsum("CASE WHEN value < 1.0 THEN 0.0 ELSE value END", "value_sum")},
       CAST(SUM(CASE WHEN COALESCE(CASE WHEN value < 1.0 THEN NULL ELSE value END, 0.0) = 0.0
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_cnt
FROM events
"""


def q_null_flag(spark: SparkSession, sf: str) -> DataFrame:
    """T2c — per-column null flag columns (transformer.py:137-141)."""
    ev = tables(spark, sf)["events"]
    with_nulls = ev.withColumn(
        "value", F.when(F.col("value") < 1.0, None).otherwise(F.col("value"))
    )
    flagged = flag_nulls(with_nulls)
    return flagged.agg(
        F.sum(F.col("value_is_null").cast("long")).alias("flagged_cnt"),
        F.count(F.lit(1)).alias("row_cnt"),
    )


ORACLE_NULL_FLAG = """
SELECT CAST(SUM(CASE WHEN value < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_cnt,
       COUNT(*) AS row_cnt
FROM events
"""


def q_null_counts(spark: SparkSession, sf: str) -> DataFrame:
    """A2 — per-column null counts, single aggregate pass
    (transformer.py:124-125,143-147)."""
    ev = tables(spark, sf)["events"].withColumn(
        "props", F.when(F.col("event_type") == "error", None).otherwise(F.col("props"))
    )
    return ev.agg(
        *[
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls")
            for c in ev.columns
        ]
    )


ORACLE_NULL_COUNTS = """
SELECT CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_id_nulls,
       CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ts_nulls,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type_nulls,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS props_nulls
FROM events
"""


def q_null_audit(spark: SparkSession, sf: str) -> DataFrame:
    """T2a/T2b/T2c/A2 — the full null-handling surface in one
    verification row: drop (q_null_drop), fill (q_null_fill), flag
    (q_null_flag), and single-pass per-column counts (q_null_counts),
    crossJoined as four 1-row aggregates. One catalog entry covers
    four SURVEY rows (the sink_roundtrip pattern), keeping every
    oracle-backed query inside the driver's 50-entry correctness
    window."""
    dropped = q_null_drop(spark, sf).withColumnRenamed(
        "row_cnt", "nonnull_row_cnt"
    )
    return (
        q_null_fill(spark, sf)
        .crossJoin(F.broadcast(q_null_flag(spark, sf)))
        .crossJoin(F.broadcast(q_null_counts(spark, sf)))
        .crossJoin(F.broadcast(dropped))
    )


ORACLE_NULL_AUDIT = f"""
SELECT (SELECT COUNT(*) FROM events
        WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
          AND event_type IS NOT NULL AND value IS NOT NULL AND props IS NOT NULL)
         AS nonnull_row_cnt,
       {sql_dsum("CASE WHEN value < 1.0 THEN 0.0 ELSE value END", "value_sum")},
       CAST(SUM(CASE WHEN COALESCE(CASE WHEN value < 1.0 THEN NULL ELSE value END, 0.0) = 0.0
                THEN 1 ELSE 0 END) AS BIGINT) AS zero_cnt,
       CAST(SUM(CASE WHEN value < 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS flagged_cnt,
       COUNT(*) AS row_cnt,
       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_id_nulls,
       CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ts_nulls,
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
       CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS event_type_nulls,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS props_nulls
FROM events
"""


# ---------------------------------------------------------------- dedup


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """T3/A3 — exact dedup over a doubled input (transformer.py:151-171),
    in both shapes: whole-row distinct on orders, and content-hash
    (md5 fingerprint, the 8-16-byte-shuffle-key pattern from
    operators/dedup.py) on documents. Two 1-row aggregates crossJoined
    — one window slot covers both dedup entry points."""
    from harness_aws_etl_pipeline_spark.operators.textops import exact_fingerprint

    o = tables(spark, sf)["orders"]
    doubled = o.unionByName(o)
    rowwise = deduplicate_exact(doubled).agg(
        F.count(F.lit(1)).alias("distinct_cnt")
    )
    docs = tables(spark, sf)["documents"]
    docs_doubled = docs.unionByName(docs)
    by_hash = (
        docs_doubled.withColumn("fp", exact_fingerprint("text"))
        .dropDuplicates(["fp"])
        .agg(F.count(F.lit(1)).alias("distinct_docs"))
    )
    return rowwise.crossJoin(F.broadcast(by_hash))


_KMV_K = 128


ORACLE_DEDUP = """
SELECT (SELECT COUNT(*) FROM (
          SELECT DISTINCT * FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders)
        )) AS distinct_cnt,
       (SELECT COUNT(DISTINCT md5(text)) FROM documents) AS distinct_docs
"""

ORACLE_KMV = f"""
WITH ka AS (SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h
            FROM orders WHERE o_custkey IS NOT NULL ORDER BY h LIMIT {_KMV_K}),
kb AS (SELECT DISTINCT md5(CAST(c_custkey AS VARCHAR)) AS h
       FROM customer WHERE c_custkey IS NOT NULL ORDER BY h LIMIT {_KMV_K}),
kk AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       ORDER BY h LIMIT {_KMV_K}),
j AS (SELECT COUNT(*) AS ub,
             COUNT(CASE WHEN h IN (SELECT h FROM ka)
                         AND h IN (SELECT h FROM kb) THEN 1 END) AS ic
      FROM kk),
ea AS (SELECT COUNT(*) AS cnt, MAX(h) AS mx FROM ka)
SELECT CAST(j.ub AS BIGINT) AS kmv_union_basis,
       CAST(j.ic AS BIGINT) AS kmv_inter_cnt,
       CAST(ea.cnt AS BIGINT) AS kmv_sketch_rows,
       (ea.cnt < {_KMV_K}) AS kmv_exact,
       CAST('0x' || SUBSTR(ea.mx, 1, 15) AS BIGINT) AS kmv_mx60
FROM j, ea
"""


# ---------------------------------------------------------------- casts


def q_date_parts(spark: SparkSession, sf: str) -> DataFrame:
    """T4/T8 — date parsing + year/month/day partition keys
    (transformer.py:182-188, 217-222). The string→timestamp cast is
    exercised by round-tripping o_orderdate through a string column."""
    o = tables(spark, sf)["orders"]
    as_str = o.withColumn("o_orderdate_str", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss"))
    parsed = as_str.withColumn("o_orderdate_parsed", F.to_timestamp("o_orderdate_str"))
    return (
        parsed.groupBy(
            F.year("o_orderdate_parsed").alias("yr"),
            F.month("o_orderdate_parsed").alias("mo"),
            F.dayofmonth("o_orderdate_parsed").alias("dy"),
        )
        .agg(F.count(F.lit(1)).alias("order_cnt"))
        .orderBy("yr", "mo", "dy")
    )


ORACLE_DATE_PARTS = """
SELECT CAST(EXTRACT(year FROM ts2) AS INT) AS yr,
       CAST(EXTRACT(month FROM ts2) AS INT) AS mo,
       CAST(EXTRACT(day FROM ts2) AS INT) AS dy,
       COUNT(*) AS order_cnt
FROM (SELECT CAST(STRFTIME(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS ts2 FROM orders)
GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""


def q_ni_parse_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """T5/A6 — numeric parse-ratio profiling as EXACT INTEGER
    sufficient statistics (transformer.py:190-197).

    Round-10 split: r8 and r9 both recorded driver hash_match:false on
    the 21-column `numeric_inference` mega-panel while local vanilla
    differential runs matched bit-for-bit (56/56) — the one-bit panel
    signal could not localize the diverging leg. The panel is now one
    catalog entry PER LEG (`ni_*`), and this entry — the only one that
    ever carried a double — now emits the ratio as exact longs
    (`parsed_cnt`, `nonnull_cnt`) plus the T5 threshold decision as
    integer arithmetic (5·parsed > 4·nonnull ≡ ratio > 0.8). Zero
    doubles ride any ni_* hash.
    """
    from harness_aws_etl_pipeline_spark.operators.casts import (
        numeric_parse_counts,
    )

    ev = tables(spark, sf)["events"]
    probe = ev.select(
        F.col("event_type"),
        F.col("value").cast("string").alias("value_str"),
        F.col("props"),
    )
    return numeric_parse_counts(probe).orderBy("col_name")


def q_ni_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram leg (operators/histogram.py) — 8 bins of
    l_extendedprice; the fixed IEEE bin-assignment chain (green r5-r9),
    bin counts md5'd as exact integers."""
    from harness_aws_etl_pipeline_spark.operators.histogram import histogram

    li = tables(spark, sf)["lineitem"]
    h = histogram(li, "l_extendedprice", bins=8)
    return h.agg(
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            F.col("bin").cast("string"),
                            F.col("cnt").cast("string"),
                        )
                    )
                ),
            )
        ).alias("hist_md5"),
        F.sum("cnt").cast("long").alias("hist_total"),
    )


def q_ni_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson moments leg (operators/histogram.py:corr_exact /
    corr_matrix) — md5 of the exact decimal(38,0) moment sums
    (n,sx,sy,sxx,syy,sxy) for the (l_quantity, l_extendedprice) pair
    and for every pair of three lineitem measures. The derived float r
    stays pinned by in-repo numpy tests; the oracle pins the
    sufficient statistics, bit-exact under any partitioning/libm."""
    from harness_aws_etl_pipeline_spark.operators.histogram import (
        corr_exact,
        corr_matrix,
    )

    li = tables(spark, sf)["lineitem"]
    corr_leg = corr_exact(
        li, "l_quantity", "l_extendedprice", include_moments=True
    ).select(
        F.col("n").alias("corr_n"),
        F.md5(
            F.concat_ws(":", "n", "sx", "sy", "sxx", "syy", "sxy")
        ).alias("corr_md5"),
    )
    cmat = corr_matrix(
        li,
        ["l_quantity", "l_extendedprice", "l_discount"],
        include_moments=True,
    )
    cs = F.concat_ws(
        ":",
        "x",
        "y",
        F.col("n").cast("string"),
        F.col("sx").cast("string"),
        F.col("sy").cast("string"),
        F.col("sxx").cast("string"),
        F.col("syy").cast("string"),
        F.col("sxy").cast("string"),
    )
    cm_leg = cmat.agg(
        F.count(F.lit(1)).alias("cm_pairs"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(cs)))).alias(
            "cm_md5"
        ),
    )
    return corr_leg.crossJoin(F.broadcast(cm_leg))


def q_ni_ks(spark: SparkSession, sf: str) -> DataFrame:
    """KS two-sample drift leg (operators/drift.py:ks_statistic) —
    integer numerator max|cum_ref·n_cur − cum_cur·n_ref| plus the
    exact-integer drift decision (ks > 0.05 as 20·num > n_ref·n_cur).
    The float KS statistic never rides the hash."""
    from harness_aws_etl_pipeline_spark.operators.drift import ks_statistic

    li = tables(spark, sf)["lineitem"]
    return ks_statistic(
        li, li.filter(F.col("l_returnflag") == "R"), "l_quantity"
    ).select(
        F.col("n_ref").alias("ks_n_ref"),
        F.col("n_cur").alias("ks_n_cur"),
        # BIGINT on the oracle wire: the numerator fits a long at every
        # test SF (<= n_ref*n_cur ~ 9e8 at sf0.01); the operator keeps
        # its internal decimal(38,0) for 100 TB overflow safety.
        F.col("ks_num").cast("long").alias("ks_num"),
        # exact-integer drift decision (values fit longs at test SF;
        # the operator's internal statistic stays decimal for 100 TB)
        (F.col("ks_num").cast("long") * 20 > F.col("n_ref") * F.col("n_cur"))
        .alias("ks_drifted"),
    )


def q_ni_tvd(spark: SparkSession, sf: str) -> DataFrame:
    """Total-variation drift leg (operators/drift.py:tvd_drift) —
    integer numerator Σ|c_ref·n_cur − c_cur·n_ref| over
    o_orderpriority, all orders vs the 1997+ slice."""
    from harness_aws_etl_pipeline_spark.operators.drift import tvd_drift

    o = tables(spark, sf)["orders"]
    return tvd_drift(
        o, o.filter(F.col("o_orderdate") >= "1997-01-01"), "o_orderpriority"
    ).select(
        F.col("n_ref").alias("tvd_n_ref"),
        F.col("n_cur").alias("tvd_n_cur"),
        F.col("tvd_num").cast("long").alias("tvd_num"),
    )


def q_ni_psi(spark: SparkSession, sf: str) -> DataFrame:
    """PSI leg (operators/drift.py:psi_report) — per-bin (ref_cnt,
    cur_cnt) over the reference-defined 10-bin grid of
    l_extendedprice vs the returnflag='R' slice, exact counts md5'd.
    The float PSI score is ln-based and tests-only."""
    from harness_aws_etl_pipeline_spark.operators.drift import psi_report

    li = tables(spark, sf)["lineitem"]
    rep = psi_report(
        li, li.filter(F.col("l_returnflag") == "R"), "l_extendedprice",
        bins=10,
    )
    return rep.agg(
        F.count(F.lit(1)).cast("long").alias("psi_bins"),
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            F.col("bin").cast("string"),
                            F.col("ref_cnt").cast("string"),
                            F.col("cur_cnt").cast("string"),
                        )
                    )
                ),
            )
        ).alias("psi_md5"),
    )


def q_ni_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """χ² leg (operators/drift.py:drift_cells) — the exact contingency
    table of l_linestatus between all lineitem and the 1997+ ship
    slice; the χ² sufficient statistic, no floats."""
    from harness_aws_etl_pipeline_spark.operators.drift import drift_cells

    li = tables(spark, sf)["lineitem"]
    cells = drift_cells(
        li, li.filter(F.col("l_shipdate") >= "1997-01-01"), "l_linestatus"
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("chi2_cats"),
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            "value",
                            F.col("ref_cnt").cast("string"),
                            F.col("cur_cnt").cast("string"),
                        )
                    )
                ),
            )
        ).alias("chi2_md5"),
    )


def q_ni_scale(spark: SparkSession, sf: str) -> DataFrame:
    """Scaling leg (operators/features.py:scale_outlier_counts) — the
    scalers' defining inequalities pushed to exact decimal arithmetic:
    counts of z>1 / z<−1 / minmax>½ via d=n·xₛ−s1, d²>n·s2−s1²,
    2·xₛ>mnₛ+mxₛ."""
    from harness_aws_etl_pipeline_spark.operators.features import (
        scale_outlier_counts,
    )

    li = tables(spark, sf)["lineitem"]
    return scale_outlier_counts(
        li.select("l_returnflag", "l_discount"),
        "l_discount",
        ["l_returnflag"],
    )


ORACLE_NI_PARSE_RATIO = """
SELECT col_name, parsed_cnt, nonnull_cnt,
       parsed_cnt * 5 > nonnull_cnt * 4 AS inferred
FROM (
  SELECT 'event_type' AS col_name,
         CAST(SUM(CASE WHEN event_type IS NOT NULL
                        AND TRY_CAST(event_type AS DOUBLE) IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS parsed_cnt,
         CAST(SUM(CASE WHEN event_type IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS nonnull_cnt
  FROM events
  UNION ALL
  SELECT 'props',
         CAST(SUM(CASE WHEN props IS NOT NULL
                        AND TRY_CAST(props AS DOUBLE) IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN props IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'value_str',
         CAST(SUM(CASE WHEN CAST(value AS VARCHAR) IS NOT NULL
                        AND TRY_CAST(CAST(value AS VARCHAR) AS DOUBLE) IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT),
         CAST(SUM(CASE WHEN CAST(value AS VARCHAR) IS NOT NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
) ORDER BY col_name
"""


ORACLE_NI_HISTOGRAM = """
WITH b AS (SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
                  MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
           FROM lineitem),
cells AS (SELECT CAST(
            CASE WHEN hi = lo THEN 0
                 ELSE GREATEST(LEAST(FLOOR(((CAST(l_extendedprice AS DOUBLE) - lo) * 8.0)
                                           / (hi - lo)), 7), 0) END AS INT) AS bin
          FROM lineitem, b WHERE l_extendedprice IS NOT NULL),
counts AS (SELECT bin, COUNT(*) AS cnt FROM cells GROUP BY 1),
spine AS (SELECT UNNEST(generate_series(0, 7)) AS bin),
hrows AS (SELECT CAST(spine.bin AS VARCHAR) || ':'
                 || CAST(COALESCE(counts.cnt, 0) AS VARCHAR) AS s,
                 COALESCE(counts.cnt, 0) AS cnt
          FROM spine LEFT JOIN counts ON spine.bin = counts.bin)
SELECT md5(string_agg(s, '|' ORDER BY s)) AS hist_md5,
       CAST(SUM(cnt) AS BIGINT) AS hist_total
FROM hrows
"""


ORACLE_NI_CORR = """
SELECT * FROM (
  WITH m AS (
    SELECT COUNT(*) AS n,
           SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE) * 10000) AS HUGEINT)) AS sx,
           SUM(CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 10000) AS HUGEINT)) AS sy,
           SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE) * 10000) AS HUGEINT)
               * CAST(ROUND(CAST(l_quantity AS DOUBLE) * 10000) AS HUGEINT)) AS sxx,
           SUM(CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 10000) AS HUGEINT)
               * CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 10000) AS HUGEINT)) AS syy,
           SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE) * 10000) AS HUGEINT)
               * CAST(ROUND(CAST(l_extendedprice AS DOUBLE) * 10000) AS HUGEINT)) AS sxy
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
  SELECT CAST(n AS BIGINT) AS corr_n,
         md5(CAST(n AS VARCHAR) || ':' || CAST(sx AS VARCHAR) || ':'
             || CAST(sy AS VARCHAR) || ':' || CAST(sxx AS VARCHAR) || ':'
             || CAST(syy AS VARCHAR) || ':' || CAST(sxy AS VARCHAR))
           AS corr_md5
  FROM m
) corr_arm CROSS JOIN (
__CM_ARM__
) cm_arm
"""


ORACLE_NI_KS = """
WITH vals AS (
  SELECT CAST(l_quantity AS DOUBLE) AS v, 1 AS s FROM lineitem
  WHERE l_quantity IS NOT NULL
  UNION ALL
  SELECT CAST(l_quantity AS DOUBLE), 2 FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_returnflag = 'R'),
d AS (SELECT v, SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS c2
      FROM vals GROUP BY 1),
n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM d),
c AS (SELECT SUM(c1) OVER (ORDER BY v) AS cum1,
             SUM(c2) OVER (ORDER BY v) AS cum2 FROM d)
SELECT CAST(n1 AS BIGINT) AS ks_n_ref,
       CAST(n2 AS BIGINT) AS ks_n_cur,
       CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
       CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) * 20
         > CAST(n1 AS BIGINT) * CAST(n2 AS BIGINT) AS ks_drifted
FROM c, n GROUP BY n1, n2
"""


ORACLE_NI_TVD = """
WITH vals AS (
  SELECT o_orderpriority AS v, 1 AS s FROM orders
  WHERE o_orderpriority IS NOT NULL
  UNION ALL
  SELECT o_orderpriority, 2 FROM orders
  WHERE o_orderpriority IS NOT NULL
    AND o_orderdate >= TIMESTAMP '1997-01-01'),
d AS (SELECT v, SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS c1,
             SUM(CASE WHEN s = 2 THEN 1 ELSE 0 END) AS c2
      FROM vals GROUP BY 1),
n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM d)
SELECT CAST(n1 AS BIGINT) AS tvd_n_ref,
       CAST(n2 AS BIGINT) AS tvd_n_cur,
       CAST(SUM(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS tvd_num
FROM d, n GROUP BY n1, n2
"""


ORACLE_NI_PSI = """
WITH b AS (SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS lo,
                  MAX(CAST(l_extendedprice AS DOUBLE)) AS hi
           FROM lineitem),
cells AS (SELECT CAST(
            CASE WHEN hi = lo THEN 0
                 ELSE GREATEST(LEAST(FLOOR(((CAST(l_extendedprice AS DOUBLE) - lo) * 10.0)
                                           / (hi - lo)), 9), 0) END AS INT) AS bin,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is_cur
          FROM lineitem, b WHERE l_extendedprice IS NOT NULL),
counts AS (SELECT bin, COUNT(*) AS rc, SUM(is_cur) AS cc
           FROM cells GROUP BY 1),
spine AS (SELECT UNNEST(generate_series(0, 9)) AS bin),
prows AS (SELECT CAST(spine.bin AS VARCHAR) || ':'
                 || CAST(COALESCE(counts.rc, 0) AS VARCHAR) || ':'
                 || CAST(COALESCE(counts.cc, 0) AS VARCHAR) AS s
          FROM spine LEFT JOIN counts ON spine.bin = counts.bin)
SELECT CAST(COUNT(*) AS BIGINT) AS psi_bins,
       md5(string_agg(s, '|' ORDER BY s)) AS psi_md5
FROM prows
"""


ORACLE_NI_CHI2 = """
WITH d AS (
  SELECT CAST(l_linestatus AS VARCHAR) AS v,
         COUNT(*) AS c1,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                  THEN 1 ELSE 0 END) AS c2
  FROM lineitem WHERE l_linestatus IS NOT NULL GROUP BY 1)
SELECT CAST(COUNT(*) AS BIGINT) AS chi2_cats,
       md5(string_agg(v || ':' || CAST(c1 AS VARCHAR) || ':'
                      || CAST(c2 AS VARCHAR), '|'
                      ORDER BY v || ':' || CAST(c1 AS VARCHAR) || ':'
                      || CAST(c2 AS VARCHAR))) AS chi2_md5
FROM d
"""


ORACLE_NI_SCALE = """
WITH mo AS (
  SELECT l_returnflag AS g, CAST(COUNT(l_discount) AS HUGEINT) AS n,
         SUM(CAST(ROUND(CAST(l_discount AS DOUBLE) * 10000) AS HUGEINT)) AS s1,
         SUM(CAST(ROUND(CAST(l_discount AS DOUBLE) * 10000) AS HUGEINT)
             * CAST(ROUND(CAST(l_discount AS DOUBLE) * 10000) AS HUGEINT)) AS s2,
         MIN(CAST(ROUND(CAST(l_discount AS DOUBLE) * 10000) AS HUGEINT)) AS mn,
         MAX(CAST(ROUND(CAST(l_discount AS DOUBLE) * 10000) AS HUGEINT)) AS mx
  FROM lineitem GROUP BY 1),
ineq AS (
  SELECT CASE WHEN l.l_discount IS NOT NULL AND mo.n >= 2
               AND mo.n * mo.s2 - mo.s1 * mo.s1 > 0
              THEN 1 ELSE 0 END AS z_ok,
         mo.n * CAST(ROUND(CAST(l.l_discount AS DOUBLE) * 10000) AS HUGEINT)
           - mo.s1 AS d,
         mo.n * mo.s2 - mo.s1 * mo.s1 AS spread,
         CASE WHEN l.l_discount IS NOT NULL AND mo.mx > mo.mn
              THEN 1 ELSE 0 END AS mm_ok,
         CASE WHEN l.l_discount IS NOT NULL AND mo.mx > mo.mn
               AND 2 * CAST(ROUND(CAST(l.l_discount AS DOUBLE) * 10000) AS HUGEINT)
                   > mo.mn + mo.mx
              THEN 1 ELSE 0 END AS mm_hi
  FROM lineitem l JOIN mo ON l.l_returnflag = mo.g)
SELECT CAST(SUM(z_ok) AS BIGINT) AS z_rows,
       CAST(SUM(CASE WHEN z_ok = 1 AND d > 0 AND d * d > spread
                     THEN 1 ELSE 0 END) AS BIGINT) AS z_hi_cnt,
       CAST(SUM(CASE WHEN z_ok = 1 AND d < 0 AND d * d > spread
                     THEN 1 ELSE 0 END) AS BIGINT) AS z_lo_cnt,
       CAST(SUM(mm_ok) AS BIGINT) AS mm_rows,
       CAST(SUM(mm_hi) AS BIGINT) AS mm_hi_cnt
FROM ineq
"""


def _sql_cm_pair(a: str, b: str) -> str:
    xa = f"CAST(ROUND(CAST({a} AS DOUBLE) * 10000) AS HUGEINT)"
    xb = f"CAST(ROUND(CAST({b} AS DOUBLE) * 10000) AS HUGEINT)"
    both = f"{a} IS NOT NULL AND {b} IS NOT NULL"
    return f"""
    SELECT '{a}' AS x, '{b}' AS y, n,
           COALESCE(sx, 0) AS sx, COALESCE(sy, 0) AS sy,
           COALESCE(sxx, 0) AS sxx, COALESCE(syy, 0) AS syy,
           COALESCE(sxy, 0) AS sxy
    FROM (
        SELECT SUM(CASE WHEN {both} THEN 1 ELSE 0 END) AS n,
               SUM(CASE WHEN {both} THEN {xa} END) AS sx,
               SUM(CASE WHEN {both} THEN {xb} END) AS sy,
               SUM(CASE WHEN {both} THEN {xa} * {xa} END) AS sxx,
               SUM(CASE WHEN {both} THEN {xb} * {xb} END) AS syy,
               SUM(CASE WHEN {both} THEN {xa} * {xb} END) AS sxy
        FROM lineitem)"""


def _cm_arm_sql() -> str:
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    legs = [
        _sql_cm_pair(a, b)
        for i, a in enumerate(cols)
        for b in cols[i:]
    ]
    union = "\n    UNION ALL\n".join(legs)
    return f"""
  SELECT CAST(COUNT(*) AS BIGINT) AS cm_pairs,
         md5(string_agg(s, '|' ORDER BY s)) AS cm_md5
  FROM (
    SELECT x || ':' || y || ':' || CAST(n AS VARCHAR) || ':'
           || CAST(sx AS VARCHAR) || ':' || CAST(sy AS VARCHAR) || ':'
           || CAST(sxx AS VARCHAR) || ':' || CAST(syy AS VARCHAR) || ':'
           || CAST(sxy AS VARCHAR) AS s
    FROM ({union}))"""


ORACLE_NI_CORR = ORACLE_NI_CORR.replace("__CM_ARM__", _cm_arm_sql())


def q_distinct_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """A4 — exact distinct-ratio profiling (transformer.py:243-246)."""
    c = tables(spark, sf)["customer"]
    return c.agg(
        (F.countDistinct("c_name").cast("double") / F.count(F.lit(1))).alias(
            "name_distinct_ratio"
        ),
        (F.countDistinct("c_mktsegment").cast("double") / F.count(F.lit(1))).alias(
            "segment_distinct_ratio"
        ),
    )


ORACLE_DISTINCT_RATIO = """
SELECT CAST(COUNT(DISTINCT c_name) AS DOUBLE) / COUNT(*) AS name_distinct_ratio,
       CAST(COUNT(DISTINCT c_mktsegment) AS DOUBLE) / COUNT(*) AS segment_distinct_ratio
FROM customer
"""


# ------------------------------------------------------------ gold tier


def q_g1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """G1 — grouped sum/avg/count rollup, TPC-H Q1 shape (reference
    etl/README.md:116-123 gold aggregation). Partial (map-side)
    aggregation + single shuffle on the two low-cardinality keys."""
    li = tables(spark, sf)["lineitem"]
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_G1 = f"""
SELECT l_returnflag, l_linestatus,
       {sql_dsum("l_quantity", "sum_qty")},
       {sql_dsum("l_extendedprice", "sum_base_price")},
       {sql_davg("l_quantity", "avg_qty")},
       {sql_davg("l_extendedprice", "avg_price")},
       COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_g2_revenue_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """G2 — fact⋈fact join + revenue rollup by order date (reference
    etl/README.md:679-685 Athena SQL). Join key is l_orderkey /
    o_orderkey; AQE picks broadcast at small SF and sort-merge at
    scale. Revenue = quantity × extendedprice per the reference DDL."""
    t = tables(spark, sf)
    joined = t["lineitem"].join(
        t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey, "inner"
    )
    return (
        joined.groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            dsum(F.col("l_quantity") * F.col("l_extendedprice"), "revenue"),
        )
        .orderBy("order_date")
    )


ORACLE_G2 = f"""
SELECT CAST(o_orderdate AS DATE) AS order_date,
       COUNT(*) AS line_cnt,
       {sql_dsum("l_quantity * l_extendedprice", "revenue")}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY 1
"""


def q_g4_kpis(spark: SparkSession, sf: str) -> DataFrame:
    """G4 — BI KPIs: revenue by region/nation through the dimension
    chain (reference etl/README.md:688-695 dashboard spec). Dimensions
    are broadcast (they are small by construction); the only shuffle is
    the final rollup."""
    t = tables(spark, sf)
    dims = (
        t["customer"]
        .join(F.broadcast(t["nation"]), t["customer"].c_nationkey == t["nation"].n_nationkey)
        .join(F.broadcast(t["region"]), t["nation"].n_regionkey == t["region"].r_regionkey)
        .select("c_custkey", "n_name", "r_name")
    )
    return (
        t["orders"]
        .join(F.broadcast(dims), t["orders"].o_custkey == dims.c_custkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            dsum("o_totalprice", "revenue"),
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_G4 = f"""
SELECT r_name, n_name, COUNT(*) AS order_cnt,
       {sql_dsum("o_totalprice", "revenue")}
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name ORDER BY r_name, n_name
"""


# ---------------------------------------------------------------- joins


def q_join_counts(spark: SparkSession, sf: str) -> DataFrame:
    """§2.7 — inner/left/semi/anti join cardinalities on
    customer⋈orders. Customer is the broadcast side everywhere."""
    t = tables(spark, sf)
    c, o = t["customer"], t["orders"]

    def cnt(df: DataFrame, kind: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("row_cnt")).select(
            F.lit(kind).alias("join_kind"), "row_cnt"
        )

    inner = cnt(o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner"), "inner")
    left = cnt(c.join(o, c.c_custkey == o.o_custkey, "left"), "left")
    semi = cnt(c.join(o, c.c_custkey == o.o_custkey, "left_semi"), "semi")
    anti = cnt(c.join(o, c.c_custkey == o.o_custkey, "left_anti"), "anti")
    return inner.unionByName(left).unionByName(semi).unionByName(anti).orderBy("join_kind")


ORACLE_JOIN_COUNTS = """
SELECT * FROM (
  SELECT 'inner' AS join_kind, COUNT(*) AS row_cnt
  FROM orders JOIN customer ON o_custkey = c_custkey
  UNION ALL
  SELECT 'left', COUNT(*) FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  UNION ALL
  SELECT 'semi', COUNT(*) FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
  UNION ALL
  SELECT 'anti', COUNT(*) FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
) ORDER BY join_kind
"""


# --------------------------------------------------------- sort / limit


def q_orderby_limit(spark: SparkSession, sf: str) -> DataFrame:
    """O1/O2 — global sort + limit (reference etl/README.md:685;
    metadata.py:226-228). Spark plans TakeOrderedAndProject — a
    per-partition top-k + driver merge, never a full global sort.

    Fused (round 6): the Z-ORDER leg — Morton codes of every lineitem
    row over (l_partkey, l_suppkey) at 8 bits/dim
    (operators/zorder.py). The cell scaling is one fixed IEEE-double
    expression and the interleave pure integer shifts/ors, so DuckDB
    re-derives every row's code bit-for-bit (md5 of the sorted
    key:code list + total)."""
    from harness_aws_etl_pipeline_spark.operators.zorder import morton_code

    n = tables(spark, sf)["nation"]
    base = n.orderBy("n_name").limit(5)
    mz = morton_code(
        tables(spark, sf)["lineitem"], ["l_partkey", "l_suppkey"], bits=8
    )
    s = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("_morton").cast("string"),
    )
    leg = mz.agg(
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(s)))).alias("mz_md5"),
        F.sum("_morton").cast("long").alias("mz_sum"),
    )
    return base.crossJoin(F.broadcast(leg))


def _morton_oracle_sql(bits: int = 8) -> str:
    """The zorder leg's DuckDB twin: cell scaling spelled with the
    SAME arithmetic order as operators/zorder.py:_cell (subtract →
    cast double → multiply → divide → floor), interleave unrolled to
    shifts/ors (dim 0 = l_partkey at even positions)."""
    m = (1 << bits) - 1

    def cell(col: str, mn: str, mx: str) -> str:
        return (
            f"CASE WHEN {col} IS NULL OR {mx} = {mn} THEN 0 "
            f"ELSE LEAST(CAST(FLOOR((CAST({col} - {mn} AS DOUBLE) * {float(m)}) "
            f"/ CAST({mx} - {mn} AS DOUBLE)) AS BIGINT), {m}) END"
        )

    terms = []
    for d, c in enumerate(("cp", "cs")):
        terms += [f"((({c} >> {b}) & 1) << {b * 2 + d})" for b in range(bits)]
    interleave = " | ".join(terms)
    return f"""
WITH st AS (SELECT MIN(l_partkey) AS mn_p, MAX(l_partkey) AS mx_p,
                   MIN(l_suppkey) AS mn_s, MAX(l_suppkey) AS mx_s
            FROM lineitem),
cells AS (SELECT l_orderkey, l_linenumber,
                 {cell('l_partkey', 'mn_p', 'mx_p')} AS cp,
                 {cell('l_suppkey', 'mn_s', 'mx_s')} AS cs
          FROM lineitem, st),
mz AS (SELECT CAST(l_orderkey AS VARCHAR) || ':'
              || CAST(l_linenumber AS VARCHAR) || ':'
              || CAST({interleave} AS VARCHAR) AS s,
              ({interleave}) AS m
       FROM cells)
SELECT md5(string_agg(s, '|' ORDER BY s)) AS mz_md5,
       CAST(SUM(m) AS BIGINT) AS mz_sum
FROM mz"""


ORACLE_ORDERBY_LIMIT = f"""
SELECT * FROM (SELECT * FROM nation ORDER BY n_name LIMIT 5)
CROSS JOIN ({_morton_oracle_sql()})
"""


# ------------------------------------------------------------- windows


def q_window_topk(spark: SparkSession, sf: str) -> DataFrame:
    """§2.8 — ranked top-k per group (top-3 orders by price per
    priority). Single shuffle on the partition key; rank + filter
    prunes before any further stage."""
    o = tables(spark, sf)["orders"]
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rnk")
    )


ORACLE_WINDOW_TOPK = """
SELECT o_orderpriority, rnk, o_orderkey, o_totalprice FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rnk
  FROM orders
) WHERE rnk <= 3 ORDER BY o_orderpriority, rnk
"""


def q_window_trend(spark: SparkSession, sf: str) -> DataFrame:
    """G4 trend — daily order counts with lag delta + 7-row moving
    average (reference etl/README.md:692 'daily trends'). Aggregate
    first (shuffle on date), window over the tiny aggregate.

    Fused (round 7): the SCD-2 leg — the full version history of each
    customer's (priority, status) observation stream derived from
    orders (operators/scd.py:scd2_history), reduced to version/current
    counts + an md5 over every (key, attrs, valid_from, valid_to) row.
    Run-collapse, NULL-safe change detection, and the tie-broken LEAD
    chain are re-derived verbatim in DuckDB.

    Fused (round 8): the SMOOTHING leg — per-event-type EWMA and Holt
    level/trend over the daily mean-value series
    (operators/timeseries.py:ewma/holt_linear). The folds are fixed
    IEEE chains, so DuckDB reproduces the final state bit-for-bit:
    list_reduce for EWMA, a recursive CTE (same expression order) for
    Holt; finals hashed as floor-scaled longs."""
    from harness_aws_etl_pipeline_spark.operators.scd import scd2_history
    from harness_aws_etl_pipeline_spark.operators.timeseries import (
        ewma,
        holt_linear,
    )

    o = tables(spark, sf)["orders"]
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("order_cnt")
    )
    w = Window.orderBy("d")
    base = (
        daily.withColumn("prev_cnt", F.lag("order_cnt").over(w))
        .withColumn(
            "delta", F.col("order_cnt") - F.coalesce(F.col("prev_cnt"), F.lit(0))
        )
        .withColumn(
            "ma7",
            (
                F.sum("order_cnt").over(w.rowsBetween(-6, 0)).cast("double")
                / F.least(
                    F.row_number().over(w).cast("double"), F.lit(7.0)
                )
            ),
        )
        .select("d", "order_cnt", "prev_cnt", "delta", F.round("ma7", 6).alias("ma7"))
        .orderBy("d")
    )
    obs = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderpriority").alias("a1"),
        F.col("o_orderstatus").alias("a2"),
    )
    hist = scd2_history(obs, "k", "ts", ["a1", "a2"])
    s = F.concat_ws(
        ":",
        F.col("k").cast("string"),
        "a1",
        "a2",
        F.col("valid_from").cast("date").cast("string"),
        F.coalesce(F.col("valid_to").cast("date").cast("string"), F.lit("open")),
    )
    scd_leg = hist.agg(
        F.count(F.lit(1)).alias("scd_versions"),
        F.sum(F.col("is_current").cast("long")).alias("scd_current"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(s)))).alias("scd_md5"),
    )
    ev = tables(spark, sf)["events"]
    daily_ev = ev.groupBy(
        "event_type", F.to_date("ts").alias("ed")
    ).agg(davg("value", "v"))
    ew_fin = (
        ewma(daily_ev, "ed", "v", ["event_type"], alpha=0.3)
        .groupBy("event_type")
        .agg(F.max_by("ewma", "ed").alias("ew"))
    )
    hl_fin = (
        holt_linear(daily_ev, "ed", "v", ["event_type"], alpha=0.3, beta=0.2)
        .groupBy("event_type")
        .agg(
            F.max_by("level", "ed").alias("lvl"),
            F.max_by("trend", "ed").alias("tr"),
        )
    )
    ss = F.concat_ws(
        ":",
        "event_type",
        F.floor(F.col("ew") * F.lit(1e6)).cast("long").cast("string"),
        F.floor(F.col("lvl") * F.lit(1e6)).cast("long").cast("string"),
        F.floor(F.col("tr") * F.lit(1e6)).cast("long").cast("string"),
    )
    smooth_leg = ew_fin.join(hl_fin, "event_type").agg(
        F.count(F.lit(1)).alias("smooth_groups"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(ss)))).alias(
            "smooth_md5"
        ),
    )
    # RANGE-frame leg (round 9): 7-DAY range moving sum vs 7-ROW
    # moving sum over a SPARSE daily series (modulo slice leaves day
    # holes, so the two frames provably diverge — rng_divergent > 0
    # rides the oracle). All integers: exact under any partitioning.
    sparse = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .groupBy(F.to_date("o_orderdate").alias("d2"))
        .agg(F.count(F.lit(1)).alias("cnt2"))
    )
    day_axis = F.datediff(F.col("d2"), F.lit("1992-01-01").cast("date"))
    w_rng = Window.orderBy(day_axis).rangeBetween(-6, 0)
    w_rows = Window.orderBy("d2").rowsBetween(-6, 0)
    framed = sparse.select(
        "d2",
        "cnt2",
        F.sum("cnt2").over(w_rng).cast("long").alias("rng7"),
        F.sum("cnt2").over(w_rows).cast("long").alias("rows7"),
    )
    rs = F.concat_ws(
        ":",
        F.col("d2").cast("string"),
        F.col("cnt2").cast("string"),
        F.col("rng7").cast("string"),
        F.col("rows7").cast("string"),
    )
    rng_leg = framed.agg(
        F.count(F.lit(1)).cast("long").alias("rng_days"),
        F.sum((F.col("rng7") != F.col("rows7")).cast("long"))
        .cast("long")
        .alias("rng_divergent"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(rs)))).alias(
            "rng_md5"
        ),
    )
    return (
        base.crossJoin(F.broadcast(scd_leg))
        .crossJoin(F.broadcast(smooth_leg))
        .crossJoin(F.broadcast(rng_leg))
    )


ORACLE_WINDOW_TREND = f"""
SELECT * FROM (
SELECT d, order_cnt, prev_cnt, order_cnt - COALESCE(prev_cnt, 0) AS delta,
       ROUND(CAST(SUM(order_cnt) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / LEAST(CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE), 7.0), 6) AS ma7
FROM (
  SELECT d, order_cnt, LAG(order_cnt) OVER (ORDER BY d) AS prev_cnt FROM (
    SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS order_cnt
    FROM orders GROUP BY 1
  )
)
) base CROSS JOIN (
  -- SCD-2 rebuild re-derived: run-collapse via cumulative change
  -- marks (RANGE frame, so tied observations share a version),
  -- version start = MIN(ts) per run, valid_to = tie-broken LEAD
  WITH obs AS (SELECT o_custkey AS k, o_orderdate AS ts,
                      o_orderpriority AS a1, o_orderstatus AS a2
               FROM orders),
  marks AS (
    SELECT k, ts, a1, a2,
           CASE WHEN ROW_NUMBER() OVER win = 1
                  OR LAG(a1) OVER win IS DISTINCT FROM a1
                  OR LAG(a2) OVER win IS DISTINCT FROM a2
                THEN 1 ELSE 0 END AS chg
    FROM obs WINDOW win AS (PARTITION BY k ORDER BY ts, a1, a2)),
  runs AS (SELECT k, a1, a2, ts,
                  SUM(chg) OVER (PARTITION BY k ORDER BY ts, a1, a2) AS ver
           FROM marks),
  vers AS (SELECT k, ver, a1, a2, MIN(ts) AS valid_from
           FROM runs GROUP BY 1, 2, 3, 4),
  hist AS (SELECT k, a1, a2, valid_from,
                  LEAD(valid_from) OVER (PARTITION BY k
                                         ORDER BY valid_from, a1, a2) AS valid_to
           FROM vers)
  SELECT COUNT(*) AS scd_versions,
         CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS scd_current,
         md5(string_agg(
           CAST(k AS VARCHAR) || ':' || a1 || ':' || a2 || ':'
           || CAST(CAST(valid_from AS DATE) AS VARCHAR) || ':'
           || COALESCE(CAST(CAST(valid_to AS DATE) AS VARCHAR), 'open'),
           '|' ORDER BY CAST(k AS VARCHAR) || ':' || a1 || ':' || a2 || ':'
           || CAST(CAST(valid_from AS DATE) AS VARCHAR) || ':'
           || COALESCE(CAST(CAST(valid_to AS DATE) AS VARCHAR), 'open')
         )) AS scd_md5
  FROM hist
) scd_arm CROSS JOIN (
  -- exponential-smoothing leg: EWMA final via list_reduce (init =
  -- first element, fold = 0.3*x + 0.7*s — the operator's exact IEEE
  -- chain), Holt level/trend via a recursive CTE spelling the same
  -- expressions in the same order
  WITH RECURSIVE dly AS (
    SELECT event_type AS g, CAST(ts AS DATE) AS ed, {sql_davg("value", "v")}
    FROM events GROUP BY 1, 2),
  idx AS (SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY ed) AS i
          FROM dly),
  ew AS (SELECT g, list_reduce(list(v ORDER BY ed),
                  (s, x) -> CAST(0.3 AS DOUBLE)*x + CAST(0.7 AS DOUBLE)*s)
                AS ew
         FROM dly GROUP BY g),
  rec AS (
    SELECT g, i, v AS l, CAST(0 AS DOUBLE) AS b FROM idx WHERE i = 1
    UNION ALL
    SELECT r.g, x.i,
           CAST(0.3 AS DOUBLE)*x.v + CAST(0.7 AS DOUBLE)*(r.l + r.b),
           CAST(0.2 AS DOUBLE)*((CAST(0.3 AS DOUBLE)*x.v
                                 + CAST(0.7 AS DOUBLE)*(r.l + r.b)) - r.l)
             + CAST(0.8 AS DOUBLE)*r.b
    FROM rec r JOIN idx x ON x.g = r.g AND x.i = r.i + 1),
  hl AS (SELECT g, l, b FROM (
           SELECT g, l, b,
                  ROW_NUMBER() OVER (PARTITION BY g ORDER BY i DESC) AS rn
           FROM rec) WHERE rn = 1)
  SELECT COUNT(*) AS smooth_groups,
         md5(string_agg(s, '|' ORDER BY s)) AS smooth_md5
  FROM (
    SELECT ew.g || ':'
           || CAST(CAST(FLOOR(ew.ew * 1e6) AS BIGINT) AS VARCHAR) || ':'
           || CAST(CAST(FLOOR(hl.l * 1e6) AS BIGINT) AS VARCHAR) || ':'
           || CAST(CAST(FLOOR(hl.b * 1e6) AS BIGINT) AS VARCHAR) AS s
    FROM ew JOIN hl ON ew.g = hl.g) strs
) smooth_arm CROSS JOIN (
  -- RANGE-frame arm: 7-DAY range vs 7-ROW frames over the sparse
  -- modulo-slice daily series; integer sums, divergence proven
  WITH sp AS (SELECT CAST(o_orderdate AS DATE) AS d2, COUNT(*) AS cnt2
              FROM orders WHERE o_orderkey % 13 = 0 GROUP BY 1),
  fr AS (SELECT d2, cnt2,
                SUM(cnt2) OVER (ORDER BY DATEDIFF('day', DATE '1992-01-01', d2)
                                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS rng7,
                SUM(cnt2) OVER (ORDER BY d2
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS rows7
         FROM sp),
  strs AS (SELECT CAST(d2 AS VARCHAR) || ':' || CAST(cnt2 AS VARCHAR) || ':'
                  || CAST(rng7 AS VARCHAR) || ':' || CAST(rows7 AS VARCHAR) AS s,
                  rng7, rows7
           FROM fr)
  SELECT CAST(COUNT(*) AS BIGINT) AS rng_days,
         CAST(SUM(CASE WHEN rng7 <> rows7 THEN 1 ELSE 0 END) AS BIGINT)
           AS rng_divergent,
         md5(string_agg(s, '|' ORDER BY s)) AS rng_md5
  FROM strs
) rng_arm
ORDER BY d
"""


def q_events_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """§2.11 [EXT] — tumbling 1-hour window aggregation over the event
    stream table (batch form; the streaming form with watermarks lives
    in streaming/windows.py with identical semantics). Headline bench
    query — keep it leg-free (round-6 rule) so per-query drift stays
    attributable; the round-8 outlier legs live on
    ``events_sessionize``."""
    ev = tables(spark, sf)["events"]
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("event_cnt"), dsum("value", "value_sum"))
        .orderBy("window_start", "event_type")
    )


ORACLE_EVENTS_TUMBLING = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       COUNT(*) AS event_cnt, {sql_dsum("value", "value_sum")}
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


_ORACLE_OUTLIER_ARMS = """(
  -- rolling z-score flags over hourly per-type counts: the exact
  -- integer inequality (x·n − s)² > k²·(n·q − s²), k=2, 24 h window
  WITH hr AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
                     event_type AS et, COUNT(*) AS cnt
              FROM events GROUP BY 1, 2),
  sc AS (SELECT et, ws, CAST(cnt * 10000 AS HUGEINT) AS xs FROM hr),
  win AS (SELECT et, ws, xs,
                 CAST(COUNT(*) OVER w AS HUGEINT) AS n,
                 SUM(xs) OVER w AS s,
                 SUM(xs * xs) OVER w AS q
          FROM sc
          WINDOW w AS (PARTITION BY et ORDER BY ws
                       ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
  fl AS (SELECT et || ':' || CAST(CAST(epoch(ws) AS BIGINT) AS VARCHAR) AS s
         FROM win
         WHERE n >= 3 AND (xs*n - s)*(xs*n - s) > 4*(n*q - s*s))
  SELECT COUNT(*) AS rz_flags,
         md5(COALESCE(string_agg(s, '|' ORDER BY s), '')) AS rz_md5
  FROM fl
) rz_arm CROSS JOIN (
  -- groupwise MAD flags: 2·|2x − med2| > k·mad4 on scaled longs
  WITH xs AS (SELECT event_type AS et,
                     CAST(ROUND(CAST(value AS DOUBLE) * 10000) AS BIGINT) AS x
              FROM events),
  med AS (SELECT et, CAST(ROUND(quantile_cont(CAST(x AS DOUBLE), 0.5) * 2) AS BIGINT) AS med2
          FROM xs GROUP BY 1),
  dev AS (SELECT xs.et, ABS(2 * x - med2) AS d
          FROM xs JOIN med ON xs.et = med.et),
  mad AS (SELECT et, CAST(ROUND(quantile_cont(CAST(d AS DOUBLE), 0.5) * 2) AS BIGINT) AS mad4
          FROM dev GROUP BY 1)
  SELECT CAST(SUM(CASE WHEN 2 * d > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT) AS mad_flags
  FROM dev JOIN mad ON dev.et = mad.et
) mad_arm CROSS JOIN (
  -- Tukey fences: 8x outside [2·q1₄ − 3·iqr₄, 2·q3₄ + 3·iqr₄]
  WITH xs AS (SELECT event_type AS et,
                     CAST(ROUND(CAST(value AS DOUBLE) * 10000) AS BIGINT) AS x
              FROM events),
  qu AS (SELECT et,
                CAST(ROUND(quantile_cont(CAST(x AS DOUBLE), 0.25) * 4) AS BIGINT) AS q1_4,
                CAST(ROUND(quantile_cont(CAST(x AS DOUBLE), 0.75) * 4) AS BIGINT) AS q3_4
         FROM xs GROUP BY 1)
  SELECT CAST(SUM(CASE WHEN 8 * x < 2 * q1_4 - 3 * (q3_4 - q1_4)
                         OR 8 * x > 2 * q3_4 + 3 * (q3_4 - q1_4)
                       THEN 1 ELSE 0 END) AS BIGINT) AS iqr_flags
  FROM xs JOIN qu ON xs.et = qu.et
) iqr_arm"""


# BFS fixture: 1→2→3→4→5→1 cycle, 2→6→7 branch, 8→9 its own component;
# seeds {1, 9}. Expected hops: 1:0 9:0 2:1 3:2 6:2 4:3 7:3 5:4; 8 absent.
_BFS_EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (2, 6), (6, 7), (8, 9)]
_BFS_SEEDS = (1, 9)


def q_events_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """[EXT] sessionization — gap-based sessions (30 min) per user via
    lag + cumulative sum, the deterministic batch equivalent of
    ``session_window``. One shuffle on user_id.

    Fused (round 8): the ROBUST-OUTLIER legs (operators/outliers.py).
    Rolling z-score over the hourly per-type counts (trailing 24 h,
    k=2) — the flag is the exact integer inequality
    ``(x·n − s)² > k²·(n·q − s²)`` so the flagged set md5-matches the
    DuckDB re-derivation; groupwise MAD and Tukey-IQR flag counts
    over the raw event values (exact 2×-median / 4×-quartile integer
    fences). On THIS panel, not events_tumbling — that one is a
    headline bench query and stays leg-free.

    Fused (round 8): the BFS leg — seed-set hop distances over a
    planted digraph (chain + cycle + branch + unreachable component,
    two seeds) through operators/linkgraph.py:bfs_distances; the
    oracle walks the same VALUES with a recursive CTE and takes
    MIN(hop)."""
    from harness_aws_etl_pipeline_spark.operators.linkgraph import (
        bfs_distances,
    )
    from harness_aws_etl_pipeline_spark.operators.outliers import (
        iqr_outliers,
        mad_outliers,
        rolling_zscore,
    )

    ev = tables(spark, sf)["events"]
    hourly = ev.groupBy(
        F.window("ts", "1 hour").getField("start").alias("window_start"),
        "event_type",
    ).agg(F.count(F.lit(1)).alias("event_cnt"))
    rz = rolling_zscore(
        hourly,
        "window_start",
        "event_cnt",
        ["event_type"],
        window=24,
        k=2,
        min_periods=3,
    )
    # window_start is TIMESTAMP_NTZ; session tz is pinned UTC by
    # load_table, so the ltz hop renders the same epoch second DuckDB's
    # epoch() does
    rs = F.concat_ws(
        ":",
        "event_type",
        F.col("window_start").cast("timestamp_ltz").cast("long"),
    )
    rz_leg = rz.filter(F.col("is_outlier")).agg(
        F.count(F.lit(1)).alias("rz_flags"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(rs)))).alias(
            "rz_md5"
        ),
    )
    vals = ev.select("event_type", "value")
    mad_leg = mad_outliers(vals, "value", ["event_type"], k=3).agg(
        F.sum(F.col("is_outlier").cast("long")).alias("mad_flags")
    )
    iqr_leg = iqr_outliers(vals, "value", ["event_type"], k_halves=3).agg(
        F.sum(F.col("is_outlier").cast("long")).alias("iqr_flags")
    )
    def _bfs_row() -> tuple:
        bfs_edges = spark.createDataFrame(_BFS_EDGES, "src long, dst long")
        bfs_seeds = spark.createDataFrame(
            [(s,) for s in _BFS_SEEDS], "node long"
        )
        bs = F.concat_ws(
            ":", F.col("node").cast("string"), F.col("hop").cast("string")
        )
        brow = (
            bfs_distances(bfs_edges, bfs_seeds, max_hops=4)
            .agg(
                F.count(F.lit(1)).alias("bfs_nodes"),
                F.md5(
                    F.concat_ws("|", F.array_sort(F.collect_list(bs)))
                ).alias("bfs_md5"),
            )
            .first()
        )
        return (brow["bfs_nodes"], brow["bfs_md5"])

    # the BFS arm is a planted fixture whose frontier loop runs eager
    # jobs at BUILD time — memoized so repeated builds don't re-walk
    bfs_leg = spark.createDataFrame(
        [_VALUE_MEMO.get_or_key("bfs_row", _bfs_row)],
        "bfs_nodes long, bfs_md5 string",
    )
    outlier_arms = (
        rz_leg.crossJoin(F.broadcast(mad_leg))
        .crossJoin(F.broadcast(iqr_leg))
        .crossJoin(F.broadcast(bfs_leg))
    )
    # the gap-session logic is the OPERATOR now
    # (operators/eventseq.py:sessionize, round 8) — oracle unchanged,
    # so the refactor is value-pinned
    from harness_aws_etl_pipeline_spark.operators.eventseq import (
        sessionize,
    )

    sessions = sessionize(
        ev, "user_id", "ts", gap_seconds=1800, tie_cols=["event_id"]
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("event_cnt"))
        .groupBy("user_id")
        .agg(
            F.max("session_id").alias("session_cnt"),
            F.max("event_cnt").alias("max_session_events"),
        )
        .orderBy("user_id")
        .crossJoin(F.broadcast(outlier_arms))
    )


ORACLE_EVENTS_SESSIONIZE = """
SELECT * FROM (
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS session_cnt, MAX(event_cnt) AS max_session_events
FROM (
  SELECT user_id, session_id, COUNT(*) AS event_cnt FROM (
    SELECT user_id,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR date_diff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    )
  ) GROUP BY user_id, session_id
) GROUP BY user_id
) sess CROSS JOIN __OUTLIER_ARMS__
CROSS JOIN (
  -- BFS leg: recursive walk over the planted digraph, MIN(hop) per
  -- node == the operator's first-entry frontier semantics
  WITH RECURSIVE ed(s, d) AS (VALUES __BFS_EDGES__),
  walk(node, hop) AS (
    SELECT * FROM (VALUES __BFS_SEEDS__) t(node, hop)
    UNION ALL
    SELECT ed.d, w.hop + 1 FROM walk w JOIN ed ON ed.s = w.node
    WHERE w.hop < 4
  ),
  bfs AS (SELECT node, MIN(hop) AS hop FROM walk GROUP BY node)
  SELECT COUNT(*) AS bfs_nodes,
         md5(string_agg(CAST(node AS VARCHAR) || ':' || CAST(hop AS VARCHAR),
             '|' ORDER BY CAST(node AS VARCHAR) || ':' || CAST(hop AS VARCHAR)
         )) AS bfs_md5
  FROM bfs
) bfs_arm
ORDER BY user_id
""".replace("__OUTLIER_ARMS__", _ORACLE_OUTLIER_ARMS).replace(
    "__BFS_EDGES__",
    ", ".join(f"({s}, {d})" for s, d in _BFS_EDGES),
).replace(
    "__BFS_SEEDS__",
    ", ".join(f"({s}, 0)" for s in _BFS_SEEDS),
)


# ------------------------------------------------------------ pipeline


def q_pipeline_e2e(spark: SparkSession, sf: str) -> DataFrame:
    """Full T1→T8 transform pipeline on events: row/column counts after
    normalize → null-drop → dedup → casts → derived fields (reference
    transformer.py:39-93). Values of nondeterministic columns
    (_processed_at, _row_hash) are excluded; shape is checked."""
    from harness_aws_etl_pipeline_spark.pipeline import transform

    ev = tables(spark, sf)["events"]
    out, _stats = transform(ev, collect_stats=False)
    n_cols = len(out.columns)
    return out.agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.lit(n_cols).alias("cols_out"),
        F.countDistinct("_row_hash").alias("distinct_hashes"),
    )


ORACLE_PIPELINE_E2E = """
SELECT COUNT(*) AS rows_out, 11 AS cols_out, COUNT(*) AS distinct_hashes
FROM (SELECT DISTINCT * FROM events)
"""


def q_sink_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """L1/L2/L3 — write parquet/csv/json/orc, re-read, verify counts
    and a content checksum survive the round trip (reference
    loader.py:104-127; orc is a Spark-native format beyond the
    reference's three).

    Round-10 legs: the no-jar INTEROP WRITERS under the same checksum
    — ``write_delta``→``read_delta`` (put-if-absent commit, log fold)
    and ``write_iceberg``→``read_iceberg`` (avro manifests, CAS
    metadata rename) — so both writer tiers sit under the driver's
    value gate, not just their own suites.

    Round-11 legs: the no-rewrite DML — ``delta_delete_where``
    (deletion vectors) and ``iceberg_delete_where`` (v2 position
    deletes) checksum the SURVIVORS of ``l_orderkey % 100 = 0``
    against the oracle's complement aggregate; then
    ``iceberg_upsert`` re-inserts ONE row per deleted key through an
    EQUALITY delete + data file commit, so the reader's
    position+equality composition and the strict sequence scoping are
    value-gated too (expected: complement rows + one row per distinct
    deleted key)."""
    import tempfile

    from harness_aws_etl_pipeline_spark.sinks import write_table
    from harness_aws_etl_pipeline_spark.sinks.deltadml import (
        delta_delete_where,
    )
    from harness_aws_etl_pipeline_spark.sinks.deltawrite import write_delta
    from harness_aws_etl_pipeline_spark.sinks.icebergdml import (
        iceberg_delete_where,
    )
    from harness_aws_etl_pipeline_spark.sinks.icebergwrite import (
        write_iceberg,
    )
    from harness_aws_etl_pipeline_spark.sources.deltaread import read_delta
    from harness_aws_etl_pipeline_spark.sources.icebergread import (
        read_iceberg,
    )

    li = tables(spark, sf)["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )

    def _checksum(back) -> tuple[int, int]:
        row = back.agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("l_orderkey").alias("key_sum"),
        ).first()
        return (int(row["cnt"]), int(row["key_sum"]))

    with tempfile.TemporaryDirectory(prefix="sink_roundtrip_") as tmp:
        results = {}
        for fmt in ("parquet", "csv", "json", "orc"):
            path = f"{tmp}/{fmt}"
            write_table(li, path, fmt=fmt, mode="overwrite")
            back = (
                spark.read.schema(li.schema).option("header", True).format(fmt).load(path)
            )
            results[fmt] = _checksum(back)
        write_delta(
            spark, li, f"{tmp}/delta", stats=False, checkpoint_interval=None
        )
        results["delta"] = _checksum(read_delta(spark, f"{tmp}/delta"))
        write_iceberg(spark, li, f"{tmp}/iceberg")
        results["iceberg"] = _checksum(read_iceberg(spark, f"{tmp}/iceberg"))
        delta_delete_where(spark, f"{tmp}/delta", "l_orderkey % 100 = 0")
        results["delta_deleted"] = _checksum(
            read_delta(spark, f"{tmp}/delta")
        )
        iceberg_delete_where(
            spark, f"{tmp}/iceberg", "l_orderkey % 100 = 0"
        )
        results["iceberg_deleted"] = _checksum(
            read_iceberg(spark, f"{tmp}/iceberg")
        )
        from harness_aws_etl_pipeline_spark.sinks.icebergdml import (
            iceberg_upsert,
        )

        upsert_df = (
            li.where("l_orderkey % 100 = 0")
            .groupBy("l_orderkey")
            .agg(
                F.min("l_linenumber").alias("l_linenumber"),
                F.min("l_quantity").alias("l_quantity"),
                F.min("l_returnflag").alias("l_returnflag"),
            )
            .select(*li.columns)
        )
        iceberg_upsert(
            spark, f"{tmp}/iceberg", upsert_df, keys=["l_orderkey"]
        )
        results["iceberg_upserted"] = _checksum(
            read_iceberg(spark, f"{tmp}/iceberg")
        )
        # round 12: delta_merge under the same gate — one incoming row
        # per key for keys %100==50 (REPLACES every live row carrying
        # the key: the multi-row-key replace-all semantics) and per
        # deleted key %100==0 (pure re-insert past the DVs)
        from harness_aws_etl_pipeline_spark.sinks.deltadml import (
            delta_merge,
        )

        merge_df = (
            li.where("l_orderkey % 100 = 50 or l_orderkey % 100 = 0")
            .groupBy("l_orderkey")
            .agg(
                F.min("l_linenumber").alias("l_linenumber"),
                F.min("l_quantity").alias("l_quantity"),
                F.min("l_returnflag").alias("l_returnflag"),
            )
            .select(*li.columns)
        )
        delta_merge(
            spark, merge_df, f"{tmp}/delta", keys=["l_orderkey"]
        )
        results["delta_merged"] = _checksum(
            read_delta(spark, f"{tmp}/delta")
        )
    rows = [(fmt, c, s) for fmt, (c, s) in sorted(results.items())]
    return spark.createDataFrame(rows, "format string, row_cnt bigint, key_sum bigint")


ORACLE_SINK_ROUNDTRIP = """
WITH full_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
                       CAST(SUM(l_orderkey) AS BIGINT) AS s FROM lineitem),
     del_t AS (SELECT CAST(COUNT(*) AS BIGINT) AS c,
                      CAST(SUM(l_orderkey) AS BIGINT) AS s FROM lineitem
               WHERE l_orderkey % 100 <> 0),
     ups_t AS (SELECT (SELECT c FROM del_t)
                      + CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS c,
                      (SELECT s FROM del_t)
                      + CAST(SUM(DISTINCT l_orderkey) AS BIGINT) AS s
               FROM lineitem WHERE l_orderkey % 100 = 0),
     -- merge on the DV-deleted delta table: keys %100==50 replace ALL
     -- their live rows with ONE row each; keys %100==0 re-insert
     mrg_t AS (SELECT (SELECT c FROM del_t)
                      - (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                         WHERE l_orderkey % 100 = 50)
                      + (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                         FROM lineitem WHERE l_orderkey % 100 = 50)
                      + (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
                         FROM lineitem WHERE l_orderkey % 100 = 0) AS c,
                      (SELECT s FROM del_t)
                      - (SELECT CAST(COALESCE(SUM(l_orderkey), 0) AS BIGINT)
                         FROM lineitem WHERE l_orderkey % 100 = 50)
                      + (SELECT CAST(COALESCE(SUM(DISTINCT l_orderkey), 0)
                              AS BIGINT)
                         FROM lineitem WHERE l_orderkey % 100 = 50)
                      + (SELECT CAST(COALESCE(SUM(DISTINCT l_orderkey), 0)
                              AS BIGINT)
                         FROM lineitem WHERE l_orderkey % 100 = 0) AS s)
SELECT fmt AS format,
       CASE WHEN fmt = 'delta_merged' THEN (SELECT c FROM mrg_t)
            WHEN fmt LIKE '%upserted' THEN (SELECT c FROM ups_t)
            WHEN fmt LIKE '%deleted' THEN (SELECT c FROM del_t)
            ELSE (SELECT c FROM full_t)
       END AS row_cnt,
       CASE WHEN fmt = 'delta_merged' THEN (SELECT s FROM mrg_t)
            WHEN fmt LIKE '%upserted' THEN (SELECT s FROM ups_t)
            WHEN fmt LIKE '%deleted' THEN (SELECT s FROM del_t)
            ELSE (SELECT s FROM full_t)
       END AS key_sum
FROM (VALUES ('csv'), ('delta'), ('delta_deleted'), ('delta_merged'),
             ('iceberg'), ('iceberg_deleted'), ('iceberg_upserted'),
             ('json'), ('orc'), ('parquet')) AS t(fmt)
ORDER BY fmt
"""


def q_inference_scan(spark: SparkSession, sf: str) -> DataFrame:
    """S1/S2 — schema-INFERENCE scan parity (reference
    etl/src/extract/extractor.py:94-97): write csv + jsonl fixtures
    from lineitem, re-read through ``read_file`` with NO explicit
    schema (``inferSchema=True``), and verify both the inferred dtypes
    (``schema_sig``) and the round-tripped values. This is the path
    ``sink_roundtrip`` does not cover — that query re-reads with an
    explicit schema.

    Inference expectations pinned by the oracle: CSV integral columns
    that fit int32 infer as ``int`` (Spark tries Integer before Long),
    JSON integers always infer as ``bigint``; doubles and strings
    infer natively in both.

    Fused (round 7): the SCHEMA-EVOLUTION leg — three planted parquet
    generations of one table (int→long + float→double widening, a
    column added, a column dropped) read back through
    ``read_parquet_evolved`` (sources/evolve.py). The evolved dtypes
    ride ``schema_sig`` and the aggregates map onto this panel's
    columns; the oracle re-derives them from the SAME planted VALUES
    with the widened types stated explicitly."""
    import tempfile

    from harness_aws_etl_pipeline_spark.sinks import write_table
    from harness_aws_etl_pipeline_spark.sources.evolve import (
        read_parquet_evolved,
    )
    from harness_aws_etl_pipeline_spark.sources.readers import read_file

    li = tables(spark, sf)["lineitem"].select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    rows = []
    with tempfile.TemporaryDirectory(prefix="inference_scan_") as tmp:
        for fmt in ("csv", "json"):
            path = f"{tmp}/{fmt}"
            write_table(li, path, fmt=fmt, mode="overwrite")
            back = read_file(spark, path, fmt=fmt, infer_schema=True)
            # JSON readers order columns alphabetically — normalize
            back = back.select("l_orderkey", "l_quantity", "l_returnflag")
            sig = ",".join(f"{c}:{t}" for c, t in back.dtypes)
            row = back.agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum("l_orderkey").cast("long").alias("key_sum"),
                F.sum(
                    F.round(F.col("l_quantity").cast("double") * 10000).cast("long")
                ).alias("qty_scaled"),
                F.countDistinct("l_returnflag").alias("flag_cnt"),
            ).first()
            rows.append(
                (
                    fmt,
                    sig,
                    int(row["cnt"]),
                    int(row["key_sum"]),
                    float(row["qty_scaled"]) / 10000.0,
                    int(row["flag_cnt"]),
                )
            )
        # schema-evolution leg: three generations, one logical table,
        # each generation under a hive partition dir (g=1/2/3) so the
        # r8 partition-column recovery is value-pinned too
        ev_root = f"{tmp}/evolved"
        spark.createDataFrame(
            [(1, 1.5), (2, 2.5)], "id int, v float"
        ).coalesce(1).write.mode("append").parquet(f"{ev_root}/g=1")
        spark.createDataFrame(
            [(3, 3.5, "x")], "id long, v double, tag string"
        ).coalesce(1).write.mode("append").parquet(f"{ev_root}/g=2")
        spark.createDataFrame(
            [(4, "y", 40)], "id int, tag string, n long"
        ).coalesce(1).write.mode("append").parquet(f"{ev_root}/g=3")
        ev = read_parquet_evolved(spark, ev_root)
        # order-independent signature: the evolved column ORDER is a
        # deterministic function of the schema set, but the oracle pins
        # the column:type SET — sorted so neither side depends on it
        sig = ",".join(sorted(f"{c}:{t}" for c, t in ev.dtypes))
        row = ev.agg(
            F.count(F.lit(1)).alias("cnt"),
            # + 100·g folds the RECOVERED partition values into the
            # pinned sum — a wrong/missing partition column breaks it
            F.sum(F.col("id") + 100 * F.col("g")).cast("long").alias("key_sum"),
            F.sum(
                F.round(F.col("v").cast("double") * 10000).cast("long")
            ).alias("qty_scaled"),
            F.countDistinct("tag").alias("flag_cnt"),
        ).first()
        rows.append(
            (
                "evolved_parquet",
                sig,
                int(row["cnt"]),
                int(row["key_sum"]),
                float(row["qty_scaled"]) / 10000.0,
                int(row["flag_cnt"]),
            )
        )
    return spark.createDataFrame(
        rows,
        "format string, schema_sig string, row_cnt bigint, key_sum bigint,"
        " qty_sum double, flag_cnt bigint",
    ).orderBy("format")


ORACLE_INFERENCE_SCAN = """
SELECT fmt AS format,
       CASE fmt WHEN 'csv' THEN 'l_orderkey:int,l_quantity:double,l_returnflag:string'
                ELSE 'l_orderkey:bigint,l_quantity:double,l_returnflag:string'
       END AS schema_sig,
       (SELECT COUNT(*) FROM lineitem) AS row_cnt,
       (SELECT CAST(SUM(l_orderkey) AS BIGINT) FROM lineitem) AS key_sum,
       (SELECT CAST(SUM(CAST(ROUND(CAST(l_quantity AS DOUBLE) * 10000) AS BIGINT)) AS DOUBLE)
               / 10000.0 FROM lineitem) AS qty_sum,
       (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem) AS flag_cnt
FROM (VALUES ('csv'), ('json')) AS t(fmt)
UNION ALL
-- the schema-evolution leg: the widened read of the three planted
-- generations must equal this recomputation over the same literals
-- (gen1: id int, v float; gen2: id long, v double, +tag; gen3: -v,
-- +n; each generation hive-partitioned under g=1/2/3 — the recovered
-- partition values ride key_sum as +100·g)
SELECT 'evolved_parquet' AS format,
       'g:bigint,id:bigint,n:bigint,tag:string,v:double' AS schema_sig,
       COUNT(*) AS row_cnt,
       CAST(SUM(id + 100 * g) AS BIGINT) AS key_sum,
       CAST(SUM(CAST(ROUND(v * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS qty_sum,
       COUNT(DISTINCT tag) AS flag_cnt
FROM (VALUES (1, CAST(1.5 AS DOUBLE), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 1),
             (2, 2.5, NULL, NULL, 1),
             (3, 3.5, 'x', NULL, 2),
             (4, NULL, 'y', 40, 3)) AS ev(id, v, tag, n, g)
ORDER BY format
"""


CHAT_FIXTURE = [
    (1, '[{"role":"system","content":"be nice"},{"role":"user","content":"hi"},{"role":"assistant","content":"yo"}]'),
    (2, '[{"role":"user","content":"hi"},{"role":"assistant","content":"yo"}]'),
    (3, '[{"role":"assistant","content":"yo"},{"role":"user","content":"hi"}]'),
    (4, 'not json'),
    (5, '[{"role":"system","content":"other sys"},{"role":"user","content":"hi"},{"role":"assistant","content":"yo"}]'),
]


def q_json_props(spark: SparkSession, sf: str) -> DataFrame:
    """§2.9 JSON decode — extract a field from the JSON props column,
    aggregate it per event type (reference parses JSON at the edges:
    extractor.py:96, lambda_handler.py:61).

    Fused (round 9): the CHAT leg (operators/chatops.py) — the planted
    conversation fixtures run through from_json parsing, per-turn
    counts, and the SEQUENCE-sensitive dedup signatures (md5 over
    role:md5(content) turns, with and without system turns); DuckDB
    re-derives every per-doc fact from the same literals with its JSON
    functions + list transforms. The alternation validator stays
    pytest-pinned (its SQL twin would re-test SQL, not the operator)."""
    from harness_aws_etl_pipeline_spark.operators.chatops import (
        conversation_signature,
        conversation_stats,
        flatten_conversations,
    )

    ev = tables(spark, sf)["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    base = (
        ev.groupBy("event_type")
        .agg(
            F.sum(k).alias("k_sum"),
            F.count(k).alias("k_cnt"),
            F.max(k).alias("k_max"),
        )
        .orderBy("event_type")
    )
    chats = spark.createDataFrame(CHAT_FIXTURE, "doc_id long, messages string")
    stats = conversation_stats(chats)
    sigs = conversation_signature(chats)
    sigs_ns = conversation_signature(
        chats, include_system=False, out_col="conv_sig_ns"
    ).select("doc_id", "conv_sig_ns")
    joined = (
        stats.join(sigs.select("doc_id", "conv_sig"), "doc_id")
        .join(sigs_ns, "doc_id")
    )
    cs = F.concat_ws(
        ":",
        F.col("doc_id").cast("string"),
        F.col("parsed").cast("int").cast("string"),
        F.coalesce(F.col("n_turns").cast("string"), F.lit("_")),
        F.coalesce(F.col("n_user").cast("string"), F.lit("_")),
        F.coalesce(F.col("n_system").cast("string"), F.lit("_")),
        F.coalesce(F.col("total_chars").cast("string"), F.lit("_")),
        F.coalesce("conv_sig", F.lit("_")),
        F.coalesce("conv_sig_ns", F.lit("_")),
    )
    chat_leg = joined.agg(
        F.count(F.lit(1)).cast("long").alias("chat_docs"),
        F.sum(F.col("parsed").cast("long")).cast("long").alias("chat_parsed"),
        F.md5(F.concat_ws("|", F.array_sort(F.collect_list(cs)))).alias(
            "chat_md5"
        ),
    )
    turn_leg = flatten_conversations(chats).agg(
        F.count(F.lit(1)).cast("long").alias("chat_turns"),
        F.sum("n_chars").cast("long").alias("chat_chars"),
    )
    return base.crossJoin(F.broadcast(chat_leg)).crossJoin(
        F.broadcast(turn_leg)
    )


def _oracle_json_props() -> str:
    vals = ",\n    ".join(
        "({}, '{}')".format(i, j.replace("'", "''")) for i, j in CHAT_FIXTURE
    )
    return f"""
SELECT * FROM (
SELECT event_type,
       CAST(SUM(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_sum,
       COUNT(CAST(props->>'k' AS BIGINT)) AS k_cnt,
       MAX(CAST(props->>'k' AS BIGINT)) AS k_max
FROM events GROUP BY event_type
) base CROSS JOIN (
  -- chat leg: the same planted conversations re-derived with JSON
  -- functions + list transforms (role:md5(content) signature chain)
  WITH chats(doc_id, j) AS (VALUES
    {vals}),
  parsed AS (
    SELECT doc_id, j,
           CASE WHEN json_valid(j) THEN json_type(j) = 'ARRAY'
                ELSE FALSE END AS ok
    FROM chats),
  facts AS (
    SELECT doc_id, ok,
           CASE WHEN ok THEN CAST(json_array_length(j) AS BIGINT) END AS n_turns,
           CASE WHEN ok THEN
             list_transform(generate_series(0, CAST(json_array_length(j) AS INT) - 1),
               i -> json_extract_string(j, '$[' || i || '].role') || ':'
                    || md5(json_extract_string(j, '$[' || i || '].content')))
           END AS parts,
           CASE WHEN ok THEN
             list_transform(generate_series(0, CAST(json_array_length(j) AS INT) - 1),
               i -> CAST(length(json_extract_string(j, '$[' || i || '].content')) AS BIGINT))
           END AS lens
    FROM parsed),
  per AS (
    SELECT doc_id, ok, n_turns,
           CASE WHEN ok THEN CAST(len(list_filter(parts, p -> p LIKE 'user:%')) AS BIGINT) END AS n_user,
           CASE WHEN ok THEN CAST(len(list_filter(parts, p -> p LIKE 'system:%')) AS BIGINT) END AS n_system,
           CASE WHEN ok THEN CAST(list_sum(lens) AS BIGINT) END AS total_chars,
           CASE WHEN ok THEN md5(array_to_string(parts, '|')) END AS sig,
           CASE WHEN ok THEN md5(array_to_string(
             list_filter(parts, p -> p NOT LIKE 'system:%'), '|')) END AS sig_ns
    FROM facts),
  strs AS (
    SELECT CAST(doc_id AS VARCHAR) || ':' || CAST(CAST(ok AS INT) AS VARCHAR)
           || ':' || COALESCE(CAST(n_turns AS VARCHAR), '_')
           || ':' || COALESCE(CAST(n_user AS VARCHAR), '_')
           || ':' || COALESCE(CAST(n_system AS VARCHAR), '_')
           || ':' || COALESCE(CAST(total_chars AS VARCHAR), '_')
           || ':' || COALESCE(sig, '_')
           || ':' || COALESCE(sig_ns, '_') AS s,
           ok, n_turns, total_chars
    FROM per)
  SELECT CAST(COUNT(*) AS BIGINT) AS chat_docs,
         CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS chat_parsed,
         md5(string_agg(s, '|' ORDER BY s)) AS chat_md5
  FROM strs
) chat_arm CROSS JOIN (
  WITH chats(doc_id, j) AS (VALUES
    {vals}),
  ok_chats AS (SELECT doc_id, j FROM chats
               WHERE CASE WHEN json_valid(j)
                          THEN json_type(j) = 'ARRAY' ELSE FALSE END),
  lens AS (
    SELECT doc_id,
           CAST(json_array_length(j) AS BIGINT) AS n,
           list_sum(list_transform(
             generate_series(0, CAST(json_array_length(j) AS INT) - 1),
             i -> CAST(length(json_extract_string(j, '$[' || i || '].content')) AS BIGINT)
           )) AS chars
    FROM ok_chats)
  SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS chat_turns,
         CAST(COALESCE(SUM(chars), 0) AS BIGINT) AS chat_chars
  FROM lens
) turn_arm
ORDER BY event_type
"""


ORACLE_JSON_PROPS = _oracle_json_props()


def q_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (profiling tier) — both engines
    implement the standard linear-interpolation quantile, so values
    match bit-for-bit. At 100 TB swap ``percentile`` for
    ``percentile_approx`` (t-digest sketch, no sort) — the same
    exact-for-oracle / sketch-for-scale split as distinct_ratios."""
    ev = tables(spark, sf)["events"]
    return ev.agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
        F.percentile("value", 0.99).alias("p99"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )


ORACLE_PERCENTILES = """
SELECT quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99,
       MIN(value) AS vmin, MAX(value) AS vmax
FROM events
"""


def _ihh_trim_leg(spark: SparkSession) -> DataFrame:
    """Round 8: the incremental heavy hitters' CROSS-BATCH bounds under
    forced trim pressure (VERDICT r7 #8). A deterministic 3-batch
    stream over 40 keys (per batch: k00×200, k01×40, k02..k39×2 — the
    closed-form spec the oracle re-derives with ``range(40)``) folds
    into a capacity-8 summary via ``IncrementalHeavyHitters`` — every
    batch AND every state trim evicts, so the leg exercises exactly
    the algebra the one-shot oracle regime cannot reach. Checks (all
    theorems of the trim-floor algebra, so they hold under any
    partitioning; the fixed 4-way hash repartition just keeps the
    fixture honest about evictions):

    - ``ihh_bounds_ok``: every tracked key's count_min ≤ true ≤
      count_max, true counts from the spec;
    - ``ihh_floor_sound``: every UNTRACKED key's true count ≤ the
      state floor (the absent-key upper bound);
    - ``ihh_trimmed``: 40 distinct keys > capacity (trims really
      fired), tracked == capacity;
    - ``ihh_top1_key`` + ``ihh_top1_separated``: the dominant key
      surfaces as rank 1 with count_min clear of the true runner-up.

    The state read-back is capacity+1 rows — bounded metadata, the
    same collect budget as a model/manifest read. The stream is
    sf-independent: one fixture run per memo lifetime."""
    row = _VALUE_MEMO.get_or_key("ihh_row", lambda: _ihh_row(spark))
    return spark.createDataFrame([row], _IHH_SCHEMA)


def _ihh_row(spark: SparkSession) -> tuple:
    import tempfile

    from harness_aws_etl_pipeline_spark.operators.incremental import (
        IncrementalHeavyHitters,
    )

    cap, n_keys, batches = 8, 40, 3

    def _per_batch(i: int) -> int:
        return 200 if i == 0 else 40 if i == 1 else 2

    rows = [
        (f"k{i:02d}",) for i in range(n_keys) for _ in range(_per_batch(i))
    ]
    with tempfile.TemporaryDirectory(prefix="ihh_leg_") as tmp:
        ihh = IncrementalHeavyHitters(spark, f"{tmp}/state", capacity=cap)
        for b in range(batches):
            df = spark.createDataFrame(rows, "key string").repartition(4, "key")
            ihh.process_batch(df, "key", txn=("ihh_leg", b))
        state = ihh.state_summary().collect()
    tracked = [r for r in state if not r["is_floor"]]
    floor = next(r["cnt"] for r in state if r["is_floor"])
    true = {f"k{i:02d}": batches * _per_batch(i) for i in range(n_keys)}
    tracked_keys = {r["key"] for r in tracked}
    top1 = max(tracked, key=lambda r: (r["cnt"], r["key"]))
    second_true = sorted(true.values(), reverse=True)[1]
    return (
        len(tracked),
        all(r["cnt"] - r["err"] <= true[r["key"]] <= r["cnt"] for r in tracked),
        all(c <= floor for k, c in true.items() if k not in tracked_keys),
        n_keys > len(tracked) and len(tracked) == cap,
        top1["key"],
        bool(top1["cnt"] - top1["err"] >= second_true),
    )


_IHH_SCHEMA = (
    "ihh_tracked bigint, ihh_bounds_ok boolean, ihh_floor_sound boolean,"
    " ihh_trimmed boolean, ihh_top1_key string, ihh_top1_separated boolean"
)


def _iq_leg(spark: SparkSession) -> DataFrame:
    """Round 8: the incremental quantile summary's cross-batch rank
    windows (operators/incremental.py:IncrementalQuantiles) on a
    closed-form 3-batch stream (batch b: ``(i·37 + b·11) mod 199``,
    i < 100 — the multiset DuckDB re-derives with ``range()``
    arithmetic). Two instances:

    - ample capacity (no compression): ``err`` must be 0 and the
      reported p50 must equal the spec's exact 150th-smallest —
      ``iq_exact_p50`` is a genuine cross-engine VALUE check;
    - forced compression (capacity 16, batch_k 8): every decile's
      reported value must carry a sound rank window (true rank from
      the spec inside [rank_lo, rank_hi]) with the state capped at
      capacity rows — ``iq_sound``/``iq_compressed``;
    - a replayed middle batch (same txn) must short-circuit without
      double-counting — ``iq_replay_ok`` and ``iq_n``.

    The stream is sf-independent: one fixture run per memo lifetime."""
    row = _VALUE_MEMO.get_or_key("iq_row", lambda: _iq_row(spark))
    return spark.createDataFrame([row], _IQ_SCHEMA)


def _iq_row(spark: SparkSession) -> tuple:
    import tempfile

    from harness_aws_etl_pipeline_spark.operators.incremental import (
        IncrementalQuantiles,
    )

    batches = [
        [float((i * 37 + b * 11) % 199) for i in range(100)]
        for b in range(3)
    ]
    stream = sorted(v for vs in batches for v in vs)
    n = len(stream)

    def _fold(iq):
        for b, vals in enumerate(batches):
            df = spark.createDataFrame([(v,) for v in vals], "v double")
            iq.process_batch(df, "v", txn=("iq_leg", b))
            if b == 1:  # replay the middle batch — must short-circuit
                r = iq.process_batch(df, "v", txn=("iq_leg", b))
                assert r["skipped"]

    with tempfile.TemporaryDirectory(prefix="iq_leg_") as tmp:
        iqe = IncrementalQuantiles(
            spark, f"{tmp}/exact", capacity=512, batch_k=128
        )
        _fold(iqe)
        exact = iqe.quantiles([0.5])[0]
        iqc = IncrementalQuantiles(
            spark, f"{tmp}/comp", capacity=16, batch_k=8
        )
        _fold(iqc)
        comp = iqc.quantiles([0.1, 0.25, 0.5, 0.75, 0.9])
        last = iqc.process_batch(
            spark.createDataFrame([], "v double"), "v", txn=("iq_leg", 99)
        )
    sound = all(
        e["rank_lo"]
        <= sum(1 for x in stream if x <= e["value"])
        <= e["rank_hi"]
        for e in comp
    )
    return (
        exact["n"],
        int(exact["value"]),
        bool(exact["err"] == 0 and exact["n"] == n),
        sound,
        bool(last["err"] > 0 and last["rows"] <= 16),
        bool(comp[0]["n"] == n),
    )


_IQ_SCHEMA = (
    "iq_n bigint, iq_exact_p50 bigint, iq_exact_ok boolean,"
    " iq_sound boolean, iq_compressed boolean, iq_replay_ok boolean"
)


ORACLE_IQ = """
SELECT (SELECT COUNT(*) FROM range(100) i CROSS JOIN range(3) b) AS iq_n,
       (SELECT v FROM (SELECT (i.range * 37 + b.range * 11) % 199 AS v
                       FROM range(100) i CROSS JOIN range(3) b)
        ORDER BY v LIMIT 1 OFFSET 149) AS iq_exact_p50,
       TRUE AS iq_exact_ok,
       TRUE AS iq_sound,
       TRUE AS iq_compressed,
       TRUE AS iq_replay_ok
"""


ORACLE_IHH = """
SELECT CAST(LEAST(8, (SELECT COUNT(*) FROM range(40))) AS BIGINT) AS ihh_tracked,
       TRUE AS ihh_bounds_ok,
       TRUE AS ihh_floor_sound,
       (SELECT COUNT(*) FROM range(40)) > 8 AS ihh_trimmed,
       (SELECT 'k' || lpad(CAST(i AS VARCHAR), 2, '0')
        FROM (SELECT range AS i,
                     3 * (CASE WHEN range = 0 THEN 200
                               WHEN range = 1 THEN 40 ELSE 2 END) AS truec
              FROM range(40))
        ORDER BY truec DESC, i LIMIT 1) AS ihh_top1_key,
       TRUE AS ihh_top1_separated
"""


def q_profile_stats(spark: SparkSession, sf: str) -> DataFrame:
    """A4 + percentile + sketch profiling in one verification row:
    exact distinct ratios (customer) crossJoined with exact
    interpolated percentiles (events), the space-saving top-2 of
    ``l_returnflag`` (operators/sketches.py, fused round 6), and the
    KMV overlap/cardinality legs between the orders and customer key
    sets (operators/kmv.py, fused round 6) — the full profiling tier:
    exact, frequency-sketch, and distinct-sketch.

    The heavy-hitter leg runs in its provably-exact regime — the
    default capacity dwarfs the 3-value domain, so no partition ever
    evicts, bounds collapse to the exact counts, and the guaranteed
    flag reduces to "lower bound beats the 3rd candidate's count" —
    which DuckDB re-derives verbatim (eviction regimes are pinned by
    tests/test_sketches.py). The KMV legs are deterministic
    structurally (k smallest md5s are a set property; the 60-bit
    hash-fraction estimator runs in one fixed IEEE order): sf0.001
    exercises the exact branch, sf0.01 the estimator branch.

    The rank-selection legs (operators/quantiles.py, fused round 6)
    pin the 100 TB-shaped EXACT quantile path — two-level rank
    selection over l_extendedprice, no buffering aggregate — against
    DuckDB's ROW_NUMBER re-derivation with the same floor(q*(n-1))
    rank arithmetic, plus the percentile_approx-vs-exact accuracy
    band as a deterministic boolean."""
    from harness_aws_etl_pipeline_spark.operators.kmv import (
        kmv_jaccard,
        kmv_sketch,
    )
    from harness_aws_etl_pipeline_spark.operators.quantiles import (
        exact_quantiles,
        quantile_bucket,
        quantile_check,
    )
    from harness_aws_etl_pipeline_spark.operators.sketches import (
        heavy_hitters,
        heavy_hitters_by,
    )

    hh = heavy_hitters(tables(spark, sf)["lineitem"], "l_returnflag", k=2)
    hh_leg = hh.agg(
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            F.col("rank").cast("string"),
                            "key",
                            F.col("count_min").cast("string"),
                            F.col("count_max").cast("string"),
                            F.col("guaranteed").cast("string"),
                        )
                    )
                ),
            )
        ).alias("hh_md5")
    )
    # grouped twin (round 7): per-l_linestatus top-2 return flags in
    # the same provably-exact regime — group summaries never mix, so
    # DuckDB re-derives every group's bounds and guarantee verbatim
    hhg = heavy_hitters_by(
        tables(spark, sf)["lineitem"], "l_linestatus", "l_returnflag", k=2
    )
    hhg_leg = hhg.agg(
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            ":",
                            "grp",
                            F.col("rank").cast("string"),
                            "key",
                            F.col("count_min").cast("string"),
                            F.col("count_max").cast("string"),
                            F.col("guaranteed").cast("string"),
                        )
                    )
                ),
            )
        ).alias("hhg_md5")
    )
    # materialize each sketch ONCE (jaccard references both twice,
    # the estimate reuses sk_o) — the corpus scans run once per call
    sk_o = kmv_sketch(
        tables(spark, sf)["orders"], "o_custkey", k=_KMV_K
    ).localCheckpoint(eager=True)
    sk_c = kmv_sketch(
        tables(spark, sf)["customer"], "c_custkey", k=_KMV_K
    ).localCheckpoint(eager=True)
    # r9 hash-column audit: the derived FLOAT estimates (jaccard_est,
    # distinct_est — ROUND(chain, 4) doubles) no longer ride the
    # driver hash; the panel pins their SUFFICIENT STATISTICS instead
    # (union basis, intersection count, sketch occupancy, and the
    # exact 60-bit integer of the k-th hash — everything the float
    # estimates are a fixed IEEE chain of). Same rule as
    # numeric_inference: hash integers, keep floats in operators/tests.
    jac = kmv_jaccard(sk_o, sk_c, k=_KMV_K, inputs_materialized=True).select(
        F.col("union_basis").alias("kmv_union_basis"),
        F.col("inter_cnt").alias("kmv_inter_cnt"),
    )
    est = sk_o.agg(
        F.count(F.lit(1)).cast("long").alias("kmv_sketch_rows"),
        (F.count(F.lit(1)) < _KMV_K).alias("kmv_exact"),
        F.conv(F.substring(F.max("h"), 1, 15), 16, 10)
        .cast("long")
        .alias("kmv_mx60"),
    )
    li = tables(spark, sf)["lineitem"]
    rq = exact_quantiles(li, "l_extendedprice", [0.25, 0.5, 0.99]).agg(
        F.max(F.when(F.col("q") == 0.25, F.col("value"))).alias("oq25"),
        F.max(F.when(F.col("q") == 0.5, F.col("value"))).alias("oq50"),
        F.max(F.when(F.col("q") == 0.99, F.col("value"))).alias("oq99"),
    )
    qchk = quantile_check(li, "l_extendedprice", [0.5, 0.9], rel_err=1e-3)
    # equal-frequency discretization leg (round 8): exact-order-
    # statistic cuts, strict-greater assignment — per-bucket counts
    # re-derived by the oracle from the same rank arithmetic
    qb = quantile_bucket(li, "l_extendedprice", 4)
    qb_leg = qb.agg(
        *[
            F.sum((F.col("l_extendedprice_qb") == i).cast("long"))
            .cast("long")
            .alias(f"qb_c{i}")
            for i in range(4)
        ]
    )
    return (
        q_distinct_ratio(spark, sf)
        .crossJoin(F.broadcast(q_percentiles(spark, sf)))
        .crossJoin(F.broadcast(hh_leg))
        .crossJoin(F.broadcast(hhg_leg))
        .crossJoin(F.broadcast(jac))
        .crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(rq))
        .crossJoin(F.broadcast(qchk))
        .crossJoin(F.broadcast(qb_leg))
        .crossJoin(F.broadcast(_ihh_trim_leg(spark)))
        .crossJoin(F.broadcast(_iq_leg(spark)))
    )


ORACLE_HEAVY_HITTERS = """
SELECT md5(string_agg(
         CAST(rnk AS VARCHAR) || ':' || key || ':' || CAST(cnt AS VARCHAR)
         || ':' || CAST(cnt AS VARCHAR) || ':' || CAST(cnt > ob AS VARCHAR),
         '|' ORDER BY rnk)) AS hh_md5
FROM (SELECT key, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rnk
      FROM (SELECT l_returnflag AS key, COUNT(*) AS cnt
            FROM lineitem GROUP BY 1))
CROSS JOIN (SELECT COALESCE(MAX(cnt), 0) AS ob
            FROM (SELECT COUNT(*) AS cnt, ROW_NUMBER() OVER
                         (ORDER BY COUNT(*) DESC, l_returnflag) AS rnk
                  FROM lineitem GROUP BY l_returnflag)
            WHERE rnk > 2)
WHERE rnk <= 2
"""


ORACLE_GROUPED_HH = """
SELECT md5(string_agg(s, '|' ORDER BY s)) AS hhg_md5
FROM (
  SELECT grp || ':' || CAST(rnk AS VARCHAR) || ':' || key || ':'
         || CAST(cnt AS VARCHAR) || ':' || CAST(cnt AS VARCHAR) || ':'
         || CAST(cnt > COALESCE(ob, 0) AS VARCHAR) AS s
  FROM (SELECT grp, key, cnt,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cnt DESC, key) AS rnk
        FROM (SELECT l_linestatus AS grp, l_returnflag AS key, COUNT(*) AS cnt
              FROM lineitem GROUP BY 1, 2)) r
  LEFT JOIN (SELECT grp AS ogrp, MAX(cnt) AS ob FROM (
               SELECT l_linestatus AS grp, COUNT(*) AS cnt,
                      ROW_NUMBER() OVER (PARTITION BY l_linestatus
                                         ORDER BY COUNT(*) DESC, l_returnflag) AS rnk
               FROM lineitem GROUP BY l_linestatus, l_returnflag)
             WHERE rnk > 2 GROUP BY 1) o ON r.grp = o.ogrp
  WHERE rnk <= 2
)
"""


ORACLE_RANK_QUANTILES = """
WITH nn AS (SELECT l_extendedprice AS v FROM lineitem
            WHERE l_extendedprice IS NOT NULL),
n AS (SELECT COUNT(*) AS c FROM nn),
s AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS rk FROM nn)
SELECT MAX(CASE WHEN rk = CAST(FLOOR(0.25 * (c - 1)) AS BIGINT) THEN v END) AS oq25,
       MAX(CASE WHEN rk = CAST(FLOOR(0.5  * (c - 1)) AS BIGINT) THEN v END) AS oq50,
       MAX(CASE WHEN rk = CAST(FLOOR(0.99 * (c - 1)) AS BIGINT) THEN v END) AS oq99,
       CAST(2 AS BIGINT) AS quantiles_checked,
       TRUE AS approx_within_band
FROM s, n
"""


ORACLE_QUANTILE_BUCKETS = """
WITH nn2 AS (SELECT l_extendedprice AS v FROM lineitem
             WHERE l_extendedprice IS NOT NULL),
n2 AS (SELECT COUNT(*) AS c FROM nn2),
s2 AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) - 1 AS rk FROM nn2),
cuts AS (
  SELECT MAX(CASE WHEN rk = CAST(FLOOR(0.25 * (c - 1)) AS BIGINT) THEN v END) AS c1,
         MAX(CASE WHEN rk = CAST(FLOOR(0.5  * (c - 1)) AS BIGINT) THEN v END) AS c2,
         MAX(CASE WHEN rk = CAST(FLOOR(0.75 * (c - 1)) AS BIGINT) THEN v END) AS c3
  FROM s2, n2)
SELECT CAST(SUM(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS qb_c0,
       CAST(SUM(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS qb_c1,
       CAST(SUM(CASE WHEN b = 2 THEN 1 ELSE 0 END) AS BIGINT) AS qb_c2,
       CAST(SUM(CASE WHEN b = 3 THEN 1 ELSE 0 END) AS BIGINT) AS qb_c3
FROM (SELECT (CASE WHEN v > c1 THEN 1 ELSE 0 END
            + CASE WHEN v > c2 THEN 1 ELSE 0 END
            + CASE WHEN v > c3 THEN 1 ELSE 0 END) AS b
      FROM nn2, cuts)
"""


ORACLE_PROFILE_STATS = f"""
SELECT * FROM ({ORACLE_DISTINCT_RATIO}) CROSS JOIN ({ORACLE_PERCENTILES})
CROSS JOIN ({ORACLE_HEAVY_HITTERS}) CROSS JOIN ({ORACLE_GROUPED_HH})
CROSS JOIN ({ORACLE_KMV})
CROSS JOIN ({ORACLE_RANK_QUANTILES})
CROSS JOIN ({ORACLE_QUANTILE_BUCKETS})
CROSS JOIN ({ORACLE_IHH})
CROSS JOIN ({ORACLE_IQ})
"""


ORACLE_SCAN_COUNT = (
    "SELECT s.*, u.*, d.* FROM "
    "(SELECT COUNT(*) AS row_cnt, COUNT(DISTINCT l_orderkey) AS distinct_orders FROM lineitem) s, "
    "(SELECT COUNT(*) AS union_row_cnt FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders)) u, "
    # table-diff leg: the planted migration copy re-derived
    # from the same predicates (keys %1009 removed, price
    # bumped on surviving keys %97)
    "(SELECT CAST(0 AS BIGINT) AS diff_added, "
    " (SELECT COUNT(*) FROM orders WHERE o_orderkey % 1009 = 0) AS diff_removed, "
    " (SELECT COUNT(*) FROM orders WHERE o_orderkey % 1009 <> 0 AND o_orderkey % 97 = 0) AS diff_changed, "
    " (SELECT COUNT(*) FROM orders WHERE o_orderkey % 1009 <> 0 AND o_orderkey % 97 <> 0) AS diff_unchanged, "
    " (SELECT COUNT(*) FROM orders WHERE o_orderkey % 1009 <> 0 AND o_orderkey % 97 = 0) AS diff_changed_price, "
    " CAST(0 AS BIGINT) AS diff_changed_status, "
    " FALSE AS diff_identical) d"
)


def q_scan_count_fused(spark: SparkSession, sf: str) -> DataFrame:
    """S1/S3/A1/S6 scan panel + A4 profile panel — two 1-row panels
    sharing one slot of the driver's 50-entry correctness window
    (fused round 10 to make room for the per-leg ni_* split; both
    components green r1-r9)."""
    return q_scan_count(spark, sf).crossJoin(
        F.broadcast(q_profile_stats(spark, sf))
    )


ORACLE_SCAN_PROFILE = (
    f"SELECT * FROM ({ORACLE_SCAN_COUNT}) scan_panel "
    f"CROSS JOIN ({ORACLE_PROFILE_STATS}) profile_panel"
)


ORACLE_NORMALIZE_AUDIT = (
    f"SELECT * FROM ({ORACLE_NORMALIZE}) norm_panel "
    f"CROSS JOIN ({ORACLE_NULL_AUDIT}) audit_panel"
)


CORE_CATALOG: list[QuerySpec] = [
    QuerySpec("scan_count", q_scan_count_fused, ORACLE_SCAN_PROFILE,
              "S1/S3/A1 parquet scan + counts + S6 multi-file union + keyed "
              "table diff + A4 distinct/percentile/sketch profile panel",
              tags=("source", "agg", "profile")),
    QuerySpec("normalize_names", q_normalize_names_fused, ORACLE_NORMALIZE_AUDIT,
              "T1 column-name normalization + T2a/T2b/T2c/A2 null audit legs",
              tags=("transform", "profile")),
    QuerySpec("dedup_exact", q_dedup_exact, ORACLE_DEDUP,
              "T3/A3 exact dedup (row-distinct + content-hash)",
              headline=True, tags=("dedup",)),
    QuerySpec("date_parts", q_date_parts, ORACLE_DATE_PARTS,
              "T4/T8 date cast + partition keys", tags=("transform",)),
    QuerySpec("ni_parse_ratio", q_ni_parse_ratio, ORACLE_NI_PARSE_RATIO,
              "T5/A6 numeric parse-ratio profiling (exact integer form)",
              tags=("transform", "profile")),
    QuerySpec("ni_histogram", q_ni_histogram, ORACLE_NI_HISTOGRAM,
              "equi-width histogram sufficient statistics", tags=("profile",)),
    QuerySpec("ni_corr", q_ni_corr, ORACLE_NI_CORR,
              "Pearson pair + matrix exact moment sums", tags=("profile",)),
    QuerySpec("ni_ks", q_ni_ks, ORACLE_NI_KS,
              "KS two-sample drift, integer numerator", tags=("profile", "drift")),
    QuerySpec("ni_tvd", q_ni_tvd, ORACLE_NI_TVD,
              "total-variation drift, integer numerator", tags=("profile", "drift")),
    QuerySpec("ni_psi", q_ni_psi, ORACLE_NI_PSI,
              "PSI per-bin count table", tags=("profile", "drift")),
    QuerySpec("ni_chi2", q_ni_chi2, ORACLE_NI_CHI2,
              "chi-square contingency table", tags=("profile", "drift")),
    QuerySpec("ni_scale", q_ni_scale, ORACLE_NI_SCALE,
              "scaler outlier counts via exact inequalities", tags=("profile",)),
    QuerySpec("g1_pricing_summary", q_g1_pricing_summary, ORACLE_G1,
              "G1 grouped rollup (TPC-H Q1 shape)", headline=True, tags=("gold",)),
    QuerySpec("g2_revenue_rollup", q_g2_revenue_rollup, ORACLE_G2,
              "G2 join + revenue rollup", headline=True, tags=("gold", "join")),
    QuerySpec("g4_kpis", q_g4_kpis, ORACLE_G4, "G4 BI KPIs over dimension chain",
              headline=True, tags=("gold", "join")),
    QuerySpec("orderby_limit", q_orderby_limit, ORACLE_ORDERBY_LIMIT,
              "O1/O2 global sort + limit", tags=("sort",)),
    QuerySpec("window_topk", q_window_topk, ORACLE_WINDOW_TOPK,
              "ranked top-k per group", headline=True, tags=("window",)),
    QuerySpec("window_trend", q_window_trend, ORACLE_WINDOW_TREND,
              "lag/moving-average daily trend", tags=("window",)),
    QuerySpec("events_tumbling", q_events_tumbling, ORACLE_EVENTS_TUMBLING,
              "tumbling 1h window aggregation", headline=True, tags=("window", "streaming")),
    QuerySpec("events_sessionize", q_events_sessionize, ORACLE_EVENTS_SESSIONIZE,
              "gap-based sessionization", tags=("window", "streaming")),
    QuerySpec("json_props", q_json_props, ORACLE_JSON_PROPS,
              "JSON field extraction + aggregation", tags=("transform",)),
    QuerySpec("pipeline_e2e", q_pipeline_e2e, ORACLE_PIPELINE_E2E,
              "full T1-T8 transform pipeline", headline=True, tags=("pipeline",)),
    QuerySpec("sink_roundtrip", q_sink_roundtrip, ORACLE_SINK_ROUNDTRIP,
              "L1-L3 write/read round trip", tags=("sink",)),
    QuerySpec("inference_scan", q_inference_scan, ORACLE_INFERENCE_SCAN,
              "S1/S2 csv+jsonl schema-inference scan", tags=("source",)),
]


def _merged() -> dict[str, QuerySpec]:
    from harness_aws_etl_pipeline_spark.plans.catalog_ext import EXT_CATALOG
    from harness_aws_etl_pipeline_spark.plans.catalog_gold import GOLD_CATALOG

    specs = CORE_CATALOG + GOLD_CATALOG + EXT_CATALOG
    # The driver records correctness for (at most) the first 50 catalog
    # entries in iteration order. Keep every oracle-backed query inside
    # that window; the rows-only entries (engine-internal hashing —
    # can never be oracle-matched) go to the tail where a weaker
    # rows-only check is the intended signal anyway.
    ordered = [s for s in specs if s.oracle is not None] + [
        s for s in specs if s.oracle is None
    ]
    out: dict[str, QuerySpec] = {}
    for spec in ordered:
        if spec.name in out:
            raise ValueError(f"duplicate query name {spec.name!r}")
        out[spec.name] = spec
    return out


CATALOG: dict[str, QuerySpec] = _merged()
