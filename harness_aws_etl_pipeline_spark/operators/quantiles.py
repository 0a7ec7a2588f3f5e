"""[EXT] Exact distributed quantiles by rank selection — no buffering.

The engine's profiling tier already computes interpolated percentiles
with ``F.percentile`` (plans/catalog.py:q_percentiles), whose physical
aggregate buffers every value per group — fine at test scale, fatal at
100 TB, which is why that leg's docstring tells callers to swap in
``percentile_approx`` and accept sketch error.  This module removes
the trade-off: EXACT order statistics with bounded memory everywhere,
using the same two-level decomposition as sinks/shards.py:

1. ``repartitionByRange(col)`` — ordered, parallel partitions (the
   range exchange is the only shuffle, and it moves just the value
   column).
2. per-partition row counts — one tiny aggregate (#partitions rows
   collected, the bounded-collect convention).
3. driver-side prefix offsets map each requested quantile ``q`` to
   the partition holding global sorted rank ``floor(q * (n-1))`` and
   its local rank within that partition.
4. a ``row_number`` window PARTITIONED BY the range-partition id
   ranks every partition in parallel; an inner join against the tiny
   broadcast target list picks the selected rows.

No partition ever holds more than its range slice, no aggregate ever
buffers the column, and the result is the exact k-th order statistic
— a pure set property of the values, independent of partitioning and
engine (ties share a value, so any tie order yields the same answer).
The DuckDB oracle re-derives it verbatim with ROW_NUMBER + the same
``floor(q*(n-1))`` rank arithmetic.

Reference scope note: the reference profiles min/max/mean only
(etl/src/transform/transformer.py quality report); this extends the
profiling tier the same way the HLL/KMV/space-saving sketches do —
with the 100 TB-shaped version of the statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.session import local_frame

__all__ = ["exact_quantiles", "quantile_check", "quantile_bucket"]


def exact_quantiles(
    df: DataFrame,
    col: str,
    qs: list[float],
    num_range_parts: int | None = None,
) -> DataFrame:
    """The exact lower order statistics of ``df[col]`` at each quantile
    in ``qs``: a DataFrame ``(q double, rank bigint, value <coltype>)``
    ordered by ``q``, where ``rank = floor(q * (n-1))`` (0-based over
    the n non-NULL values) and ``value`` is the rank-th smallest.

    Deterministic: a pure function of the multiset of values.  Memory
    bound: one range-partition slice per task; driver state is one row
    per partition plus the quantile list.

    The ranged frame is evaluated by TWO jobs (partition counts, then
    the selection window) — pinned with an eager ``localCheckpoint``
    so a nondeterministic upstream cannot disagree between them (same
    contract as sinks/shards.py:assign_shards).
    """
    if not qs:
        raise ValueError("qs must be non-empty")
    for q in qs:
        if not (0.0 <= q <= 1.0):
            raise ValueError(f"quantile {q} outside [0, 1]")
    spark = df.sparkSession
    nparts = int(
        num_range_parts
        or spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    ranged = (
        df.select(F.col(col).alias("__v"))
        .where(F.col("__v").isNotNull())
        .repartitionByRange(nparts, F.col("__v"))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    # one row per range partition: (pid, count, min) — min orders the
    # partitions by their value range (the partitioner is monotone)
    pstats = (
        ranged.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min("__v").alias("__mn"))
        .collect()
    )
    total = sum(int(r["__cnt"]) for r in pstats)
    if total == 0:
        raise ValueError(f"no non-NULL values in column {col!r}")
    # prefix offsets in value order → (pid, local_rank, q) targets
    offsets: list[tuple[int, int]] = []  # (pid, start_rank) in value order
    run = 0
    for r in sorted(pstats, key=lambda r: (r["__mn"] is None, r["__mn"])):
        offsets.append((int(r["__pid"]), run))
        run += int(r["__cnt"])
    targets = []
    for q in sorted(set(qs)):
        k = int(q * (total - 1))  # floor for q in [0,1]
        # partition owning global rank k: last offset <= k
        pid, start = offsets[0]
        for p, s in offsets:
            if s <= k:
                pid, start = p, s
            else:
                break
        targets.append((float(q), k, pid, k - start))
    tdf = local_frame(spark, targets, "q double, rank long, __pid int, __lrank long")
    w = Window.partitionBy("__pid").orderBy("__v")
    picked = (
        ranged.withColumn("__lrank", F.row_number().over(w) - F.lit(1))
        .join(F.broadcast(tdf), ["__pid", "__lrank"])
        .select("q", "rank", F.col("__v").alias("value"))
        .orderBy("q")
    )
    return picked


def quantile_check(
    df: DataFrame,
    col: str,
    qs: list[float],
    rel_err: float = 1e-4,
) -> DataFrame:
    """Cross-validate ``percentile_approx`` (the sketch every 100 TB
    profile would actually run) against the exact rank selection: one
    row ``(quantiles_checked bigint, approx_within_band boolean)``
    where the band is the exact value at ``q ± rel_err`` quantile —
    the accuracy contract of Spark's Greenwald-Khanna sketch at
    ``accuracy = 1/rel_err``.  Returns a frame so the check can ride a
    catalog panel (the boolean is deterministically TRUE whenever the
    sketch honors its published bound)."""
    probe_qs = sorted({max(0.0, q - rel_err) for q in qs}
                      | {min(1.0, q + rel_err) for q in qs}
                      | set(qs))
    exact = {
        r["q"]: r["value"]
        for r in exact_quantiles(df, col, probe_qs).collect()
    }
    approx = df.agg(
        F.percentile_approx(
            col, list(sorted(set(qs))), int(round(1.0 / rel_err))
        ).alias("ap")
    ).collect()[0]["ap"]
    ok = True
    for q, a in zip(sorted(set(qs)), approx):
        lo = exact[max(0.0, q - rel_err)]
        hi = exact[min(1.0, q + rel_err)]
        ok = ok and (float(lo) <= float(a) <= float(hi))
    spark = df.sparkSession
    return local_frame(
        spark,
        [(len(set(qs)), bool(ok))],
        "quantiles_checked long, approx_within_band boolean",
    )


def quantile_bucket(
    df: DataFrame,
    col: str,
    buckets: int = 4,
    out_col: str | None = None,
) -> DataFrame:
    """Quantile discretization: append ``{col}_qb`` (int in
    [0, buckets)) assigning each row to its corpus quantile bucket —
    the third member of the scaling family (features.standard_scale /
    minmax_scale) and the standard equal-frequency binning for
    feature prep and stratified reporting.

    Cut points are the EXACT order statistics at i/buckets
    (:func:`exact_quantiles` — rank = floor(q·(n−1)), a pure function
    of the value multiset), collected as ``buckets − 1`` rows of
    bounded metadata and applied as a codegen'd comparison chain:
    ``bucket = Σᵢ [x > cutᵢ]`` — ties land in the LOWER bucket, so
    membership is deterministic and any engine with the same rank
    arithmetic re-derives every assignment. NULLs stay NULL. Heavy
    ties can make buckets unequal-sized (correctly — equal-frequency
    binning cannot split a tied value)."""
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2: {buckets}")
    name = out_col or f"{col}_qb"
    qs = [i / buckets for i in range(1, buckets)]
    cuts = [
        r["value"]
        for r in exact_quantiles(df, col, qs).orderBy("q").collect()
    ]
    x = F.col(col)
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + (x > F.lit(c)).cast("int")
    return df.withColumn(
        name, F.when(x.isNotNull(), bucket.cast("int"))
    )
