"""[EXT] Similarity search over embedding columns (array<float>).

Two tiers:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against every candidate row, rank per query. The baseline
  and the verifier for approximate methods. Cost O(|queries| × N);
  fine for thousands of queries, the scale path below for more.
- ``lsh_bucketed_topk`` — random-hyperplane LSH: deterministic
  hyperplanes from seeded xxhash64, candidates restricted to
  bucket-colliding rows (multi-probe via several independent tables),
  exact cosine only on candidates. At 100 TB the candidate join
  shuffles on a short (table, bucket) key and the per-bucket work is
  bounded; recall is tunable with tables × bits.

Vector math is zip_with/aggregate (JVM, codegen) — a deliberate choice
over Pandas-UDF matmul: at 64-dim the Arrow transfer cost dominates
the FLOPs, so built-ins win; for high dimensions / many queries use
``brute_force_topk_arrow`` (BLAS matmul per partition, local top-k,
global merge — identical results, shuffle bounded by partitions×k).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.functions.vectors import cosine_similarity, l2_norm
from harness_aws_etl_pipeline_spark.operators.memo import PlanMemo
from harness_aws_etl_pipeline_spark.session import local_frame

# bounded plan-keyed reuse of the expensive per-corpus intermediates —
# see operators/memo.py and dedup_fuzzy's memos for the rationale
_CENT_MEMO = PlanMemo()
_FLAT_MEMO = PlanMemo()
# r14 (r13-VERDICT #4, guide §6 read amortization): ONE projected
# (id, vec) frame shared by every IVF pass — the quantizer's sampling
# job, each Lloyd assignment, the final mean, and build_ivfpq's corpus
# assignment + residual-sample passes each re-derived (re-scanned /
# re-joined) the corpus otherwise. Persisted entries spill to disk per
# executor at scale — still strictly cheaper than re-deriving a wide
# source per pass, and the projection keeps the entry at id + vector
# width.
_IVF_SRC_MEMO = PlanMemo()
# the IVF "add" step: a corpus's inverted lists (id, vec, centroid_id)
# under one quantizer, built once and read by every search against the
# same (corpus, quantizer) — see ivf_topk
_LISTS_MEMO = PlanMemo()
# the collected (ids, unit rows) arrays of a centroid frame, per frame
# plan: a search reads its quantizer without a Spark job
_MODEL_MEMO = PlanMemo()


def _ivf_src(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The memoized (id, vec) projection every IVF pass reads."""
    return _IVF_SRC_MEMO.get_or_persist(df.select(id_col, vec_col))


def _vec_matrix(values, dim: int):
    """(n×dim float64 matrix, valid mask) from a sequence of embedding
    arrays. Rows that are NULL, the wrong length, or contain NaN get
    ``valid=False`` and a zero row — callers must exclude them from
    results (null bucket / null centroid / no neighbor), matching the
    tolerance of the expression paths. Raising here would fail the
    whole job for one bad row, which real corpora with missing
    embeddings can't afford.

    Fast path is one ``np.asarray`` over the batch; the per-row scan
    only runs when that fails (i.e. the batch actually contains a
    NULL/ragged row).
    """
    import numpy as np

    vals = list(values)
    try:
        mat = np.asarray(vals, dtype=np.float64)
        if mat.ndim == 2 and mat.shape[1] == dim:
            valid = ~np.isnan(mat).any(axis=1)
            if not valid.all():
                mat = np.where(valid[:, None], mat, 0.0)
            return mat, valid
    except (ValueError, TypeError):
        pass
    mat = np.zeros((len(vals), dim), dtype=np.float64)
    valid = np.zeros(len(vals), dtype=bool)
    for i, v in enumerate(vals):
        if v is None or len(v) != dim:
            continue
        row = np.asarray(v, dtype=np.float64)
        if np.isnan(row).any():
            continue
        mat[i] = row
        valid[i] = True
    return mat, valid


def _unit_rows(mat):
    import numpy as np

    n = np.linalg.norm(mat, axis=1)
    return mat / np.where(n == 0.0, 1.0, n)[:, None]


def _cent_arrays(centroids: DataFrame):
    """Collected, id-sorted, unit-normalized centroid arrays —
    the one coarse-quantizer representation every residual-path
    function shares (assignment, residual subtraction, query bias,
    probe order all use THIS normalization or the geometry silently
    drifts). An empty centroid set gives empty arrays. The k rows are
    sorted on the driver: a Spark ``orderBy`` would add a sampling job
    and a shuffle to every collect of the model."""
    import numpy as np

    crows = sorted(centroids.collect(), key=lambda r: r["centroid_id"])
    cids = np.array([r["centroid_id"] for r in crows], dtype=np.int64)
    if not crows:
        return cids, np.zeros((0, 0))
    cmat = np.asarray([r["centroid"] for r in crows], dtype=np.float64)
    return cids, _unit_rows(cmat)


def _probe_order(q_unit, cids, cunit):
    """One query's inverted lists in probe order: ``(sims, order)``,
    the query's cosine to every centroid and the list positions
    sorted by ``(-sim, centroid_id)``. Every IVF search picks its
    probes here, so plain IVF and IVF-PQ probe the same lists."""
    import numpy as np

    sims = cunit @ q_unit
    return sims, np.lexsort((cids, -sims))


def _query_batch(queries: DataFrame, id_col: str, vec_col: str, dim: int | None = None):
    """Collect the query batch — the small side of every search — as
    ``(ids, float64 matrix)``. NULL vectors and vectors whose length is
    not ``dim`` (default: the first non-NULL vector's) are dropped: they
    get no result rows."""
    import numpy as np

    rows = [
        r for r in queries.select(id_col, vec_col).collect() if r[vec_col] is not None
    ]
    if dim is None and rows:
        dim = len(rows[0][vec_col])
    rows = [r for r in rows if len(r[vec_col]) == dim]
    ids = np.array([r[id_col] for r in rows])
    mat = np.array([list(r[vec_col]) for r in rows], dtype=np.float64)
    return ids, mat.reshape(len(rows), dim or 0)


def _local_topk(q_ids, q_mat, k: int, id_col: str, vec_col: str, lists=None):
    """The Arrow top-k kernel (a ``mapInPandas`` function) behind the
    exact-cosine searches. Per candidate batch: one (batch × queries)
    cosine matrix by BLAS, then each query's LOCAL top-k by
    ``(-cosine, id)`` — the expression path's deterministic tie-break —
    with the query itself excluded. Only O(batches × queries × k) rows
    leave the kernel; :func:`_global_topk` merges them.

    ``lists = (cids, probed)`` restricts each query to the inverted
    lists it probes: ``probed`` is a (queries × lists) bool matrix over
    the sorted ``cids``, and batches carry ``centroid_id``."""
    from collections.abc import Iterator as _Iter

    import numpy as np
    import pandas as pd

    dim = q_mat.shape[1]
    q_norm = np.linalg.norm(q_mat, axis=1)
    q_norm[q_norm == 0] = 1.0

    def _score(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            if pdf.empty:
                continue
            c_mat, valid = _vec_matrix(pdf[vec_col], dim)
            c_ids = pdf[id_col].to_numpy()[valid]
            c_mat = c_mat[valid]
            if not len(c_mat):  # batch was all NULL/ragged vectors
                continue
            if lists is not None:
                cids, probed = lists
                pos = np.searchsorted(cids, pdf["centroid_id"].to_numpy()[valid])
                allowed = probed[:, pos]  # queries × batch rows
            c_norm = np.linalg.norm(c_mat, axis=1)
            c_norm[c_norm == 0] = 1.0
            sims = (c_mat @ q_mat.T) / c_norm[:, None] / q_norm[None, :]
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(q_ids):
                mask = c_ids != qid
                if lists is not None:
                    mask &= allowed[j]
                ids_j, sims_j = c_ids[mask], sims[mask, j]
                if not len(ids_j):
                    continue
                order = np.lexsort((ids_j, -sims_j))[:k]
                out_q.extend([qid] * len(order))
                out_n.extend(ids_j[order].tolist())
                out_s.extend(sims_j[order].tolist())
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_s}
            )

    return _score


def _global_topk(scored: DataFrame, k: int) -> DataFrame:
    """The final window every cosine top-k ends with: rank by
    ``(cosine desc, neighbor_id)`` per query, keep ``k``, round the
    cosine to 6 dp. Returns (query_id, rank, neighbor_id, cosine)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def _empty_topk(spark, id_type: str = "long") -> DataFrame:
    return local_frame(
        spark, [], f"query_id {id_type}, rank int, neighbor_id {id_type}, cosine double"
    )


def brute_force_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    ``queries`` is broadcast (it must be the small side); ranking uses
    row_number over (query) ordered by similarity desc with id
    tie-break, so results are fully deterministic.
    Returns (query_id, rank, neighbor_id, cosine).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    c = candidates.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_similarity("q_vec", "c_vec"))
    )
    return _global_topk(scored, k)


def brute_force_topk_arrow(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy matmul — the
    high-dimension scale path promised alongside the zip_with version.

    The query set is collected to a numpy matrix (it must be the small
    side — same constraint as the broadcast in brute_force_topk) and
    closed over in a mapInPandas pass: each partition computes one
    (batch × queries) cosine matrix with BLAS and emits only its LOCAL
    top-k per query; a final window keeps the global top-k. Shuffle
    volume is O(partitions × queries × k), never the full score
    matrix. Identical results to brute_force_topk (same ordering and
    tie-break).
    """
    q_ids, q_mat = _query_batch(queries, id_col, vec_col)
    if not len(q_ids):  # no (valid) queries → empty result, right schema
        return _empty_topk(candidates.sparkSession)
    local = candidates.select(id_col, vec_col).mapInPandas(
        _local_topk(q_ids, q_mat, k, id_col, vec_col),
        "query_id long, neighbor_id long, cosine double",
    )
    return _global_topk(local, k)


def _hyperplane(seed: int, dim: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane from a seeded LCG —
    reproducible across runs/engines without numpy RNG state."""
    vals = []
    state = (seed * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
    for _ in range(dim):
        state = (state * 6364136223846793005 + 1442695040888963407) & ((1 << 64) - 1)
        # map to (-1, 1)
        vals.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
    norm = math.sqrt(sum(v * v for v in vals)) or 1.0
    return [v / norm for v in vals]


def add_lsh_buckets(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    num_tables: int = 4,
    bits: int = 8,
    out_col: str = "buckets",
    arrow: bool = True,
) -> DataFrame:
    """Random-hyperplane LSH: per table, ``bits`` sign bits → one
    integer bucket id.

    Default path is Arrow-batched mapInPandas: ONE numpy matmul
    (batch × all hyperplanes) computes every sign bit — the
    expression path runs num_tables·bits interpreted array aggregates
    per row (HOFs are excluded from codegen), which dominates the ANN
    queries. ``arrow=False`` keeps the pure-expression fallback
    (identical hyperplanes; bucket ids can differ only for dots within
    float rounding of zero)."""
    if arrow:
        from collections.abc import Iterator as _Iter

        import numpy as np
        import pandas as pd

        from pyspark.sql.types import ArrayType, LongType, StructField, StructType

        planes = np.array(
            [
                _hyperplane(t * 1000 + b + 1, dim)
                for t in range(num_tables)
                for b in range(bits)
            ],
            dtype=np.float64,
        )  # (num_tables*bits, dim)
        pack = (1 << np.arange(bits - 1, -1, -1)).astype(np.int64)
        out_schema = StructType(
            list(df.schema.fields) + [StructField(out_col, ArrayType(LongType()))]
        )
        cols = df.columns

        def _buckets(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
            for pdf in batches:
                if len(pdf) == 0:
                    yield pdf.assign(**{out_col: []})
                    continue
                v, valid = _vec_matrix(pdf[vec_col], dim)
                signs = (v @ planes.T) >= 0  # n × (num_tables*bits)
                buckets = [
                    signs[:, t * bits : (t + 1) * bits].astype(np.int64) @ pack
                    for t in range(num_tables)
                ]
                stacked = np.stack(buckets, axis=1)  # n × num_tables
                # NULL/ragged vector → NULL bucket array (explodes to
                # zero candidate rows downstream) instead of raising
                out = [
                    row.tolist() if ok else None
                    for row, ok in zip(stacked, valid)
                ]
                yield pdf.assign(**{out_col: out})

        return df.mapInPandas(_buckets, out_schema).select(*cols, out_col)

    table_buckets = []
    for t in range(num_tables):
        bucket = F.lit(0).cast("long")
        for b in range(bits):
            plane = F.array(*[F.lit(w) for w in _hyperplane(t * 1000 + b + 1, dim)])
            dot = F.aggregate(
                F.zip_with(F.col(vec_col), plane, lambda x, w: x.cast("double") * w),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit = F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
            bucket = F.shiftleft(bucket, 1).bitwiseOR(bit)
        table_buckets.append(bucket)
    return df.withColumn(out_col, F.array(*table_buckets))


def lsh_bucketed_topk(
    candidates: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 4,
    bits: int = 8,
    arrow: bool = True,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to rows sharing
    an LSH bucket with the query in any table, then exact cosine +
    rank. Returns (query_id, rank, neighbor_id, cosine).

    ``arrow=False`` computes buckets with the pure-expression fold —
    bit-identical to a sequential-fold SQL reimplementation of the
    same hyperplanes (the differential-oracle path)."""
    cb = add_lsh_buckets(candidates, dim, vec_col, num_tables, bits, arrow=arrow)
    qb = add_lsh_buckets(queries, dim, vec_col, num_tables, bits, arrow=arrow)

    c_flat = cb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    q_flat = qb.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.posexplode("buckets").alias("tbl", "bucket"),
    )
    cands = (
        c_flat.join(F.broadcast(q_flat), ["tbl", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "q_vec", "neighbor_id", "c_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _global_topk(
        cands.withColumn("cosine", cosine_similarity("q_vec", "c_vec")), k
    )


def ivf_centroids(
    df: DataFrame,
    k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
) -> DataFrame:
    """Deterministic IVF coarse quantizer: sampled farthest-point
    seeding + ``iterations`` Lloyd steps.

    Seeding runs on a bounded deterministic sample — the
    ``max(64·k, 1024)`` vectors with the smallest ``xxhash64(id)``
    (ONE Spark job, hash order is data-placement-independent) — then
    farthest-point selection happens driver-side in numpy: first seed
    = lowest id, each next seed the sampled vector whose best cosine
    to the chosen set is lowest (ties by id). The k-means|| shape:
    sample once, seed locally. Spreads seeds like full farthest-point
    (the sample is i.i.d. across the corpus) without the k−1
    SEQUENTIAL full-scan jobs the exact version needs — at 1000
    executors that serialization dominates; one job + a k×N BLAS loop
    doesn't.

    Each Lloyd step: assign every vector to its nearest centroid
    (Arrow matmul against the centroid set in the task closure), then
    average per cluster. Everything over the data stays distributed.

    EAGER: the call runs Spark jobs before it returns — the sampling
    collect, each Lloyd step's collect of the current centroids, and
    one collect of the final centroids. The returned frame is built
    from those driver-side rows: the k×dim model (k rows of ``dim``
    doubles) stays on the driver for the frame's life, so k×dim must
    fit driver memory. Returns (centroid_id, centroid array<double>).
    """
    import numpy as np

    # project FIRST: every downstream pass (sampling job + each Lloyd
    # assignment) goes through mapInPandas, which blocks column
    # pruning — without this, a wide corpus frame would ship all its
    # columns through Arrow on every iteration. r14: the projection is
    # memoized (_IVF_SRC_MEMO) so the sampling job, every Lloyd
    # assignment, the final mean, and any caller-side pass over the
    # same corpus (build_ivfpq) share ONE derivation instead of
    # re-scanning/re-deriving the source per pass.
    df = _ivf_src(df, id_col, vec_col)

    as_double = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sample_n = max(64 * k, 1024)
    sample = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("__id"), as_double.alias("__v"))
        .orderBy(F.xxhash64(F.col("__id")), F.col("__id"))
        .limit(sample_n)
        .collect()
    )
    if not sample:  # empty candidate set → empty quantizer
        return local_frame(df.sparkSession, [], "centroid_id long, centroid array<double>")
    # tolerate ragged corpora: seed from the first-seen dimension only
    dim0 = len(sample[0]["__v"])
    sample = [r for r in sample if len(r["__v"]) == dim0]
    ids = np.array([r["__id"] for r in sample])
    vecs = np.array([r["__v"] for r in sample], dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    unit = vecs / np.where(norms == 0.0, 1.0, norms)[:, None]
    order = np.argsort(ids)
    chosen = [int(order[0])]  # first seed = lowest id
    best_sim = unit @ unit[chosen[0]]
    for _ in range(1, min(k, len(ids))):
        lo = best_sim.min()
        cands = np.flatnonzero(best_sim == lo)
        pick = int(cands[np.argmin(ids[cands])])  # tie-break by id
        chosen.append(pick)
        np.maximum(best_sim, unit @ unit[pick], out=best_sim)
    seed_rows = [(j, [float(x) for x in vecs[i]]) for j, i in enumerate(chosen)]
    centroids = local_frame(
        df.sparkSession, seed_rows, "centroid_id long, centroid array<double>"
    )

    # cluster mean via applyInPandas: Arrow-batched numpy per cluster
    # (the expression fold over collect_list is interpreted per
    # element — O(cluster·dim) scalar ops single-threaded). Rows are
    # lexsorted before summing so the mean is bit-deterministic
    # regardless of partition arrival order.
    def _mean(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        v = v[np.lexsort(v.T[::-1])]
        return pd.DataFrame(
            {
                "centroid_id": [int(pdf["centroid_id"].iloc[0])],
                "centroid": [(v.sum(axis=0) / len(v)).tolist()],
            }
        )

    import pandas as pd  # noqa: F401 - typing reference for _mean

    for _ in range(iterations):
        assigned = _assign_nearest(df, centroids, id_col, vec_col)
        centroids = (
            # NULL centroid_id marks rows whose vector was NULL/ragged
            # — they carry no position and must not form a group
            assigned.filter(F.col("centroid_id").isNotNull())
            .select("centroid_id", vec_col)
            .groupBy("centroid_id")
            .applyInPandas(_mean, "centroid_id long, centroid array<double>")
        )
    # r14 (guide §5: the model is driver-resident by design; §6 read
    # amortization): return the FINAL centroids materialized as a
    # local relation. Every consumer collects this frame at least once
    # (_assign_nearest / _cent_arrays embed the model in task
    # closures) and several collect it more than once (build_ivfpq:
    # _cent_arrays + the corpus assignment; semdedup centroid_far:
    # assignment + a broadcast join) — each such collect re-executed
    # the whole Lloyd chain, i.e. ``iterations`` extra full corpus
    # scans + mean shuffles per extra consumer. Materializing here
    # runs the final mean pass exactly once; values are identical
    # (collected doubles round-trip exactly through Arrow). The frame is
    # a LocalRelation (session.local_frame), so collecting it runs no
    # Spark job — pinned by tests/test_local_frame.py
    # (test_ivf_centroids_collect_runs_no_job).
    rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()
    ]
    return local_frame(df.sparkSession, rows, "centroid_id long, centroid array<double>")


def _dim_of(df: DataFrame, vec_col: str) -> int:
    return (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()["d"]
    )


def _assign_nearest(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment, Arrow-batched: the centroid set is
    a model (k×dim — the same driver-resident object the seeding
    built), so each executor gets it in the task closure and computes
    one normalized matmul + argmax per batch. ZERO shuffles and no k×
    crossJoin row explosion — strictly better than the scored-join +
    row_number formulation at any scale (ties broken toward the
    smallest centroid_id, matching the join version's ordering)."""
    from collections.abc import Iterator as _Iter

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    cids, cunit = _cent_arrays(centroids)
    out_schema = StructType(
        list(df.schema.fields) + [StructField("centroid_id", LongType())]
    )
    if not len(cids):
        return df.limit(0).withColumn("centroid_id", F.lit(None).cast("long"))
    dim = cunit.shape[1]

    def _assign(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(centroid_id=np.array([], dtype=np.int64))
                continue
            v, valid = _vec_matrix(pdf[vec_col], dim)
            vn = np.linalg.norm(v, axis=1)
            vu = v / np.where(vn == 0.0, 1.0, vn)[:, None]
            sims = vu @ cunit.T  # n × k
            # argmax returns the FIRST max; rows are centroid_id-sorted,
            # so equal similarities resolve to the smallest id.
            # NULL/ragged vectors get a NULL centroid_id (nullable
            # Int64) instead of raising.
            nearest = cids[np.argmax(sims, axis=1)]
            col = pd.array(
                [int(c) if ok else None for c, ok in zip(nearest, valid)],
                dtype="Int64",
            )
            yield pdf.assign(centroid_id=col)

    return df.mapInPandas(_assign, out_schema)


def _assign_nearest_expr(
    df: DataFrame, centroids: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """Expression-only nearest-centroid assignment (scored broadcast
    join + row_number, ties toward the smallest centroid_id — the same
    ordering :func:`_assign_nearest` resolves to). The Arrow matmul is
    the fast path; this variant exists because its sequential cosine
    fold is bit-reproducible by a SQL oracle (list_reduce), which a
    numpy matmul is not (different summation order)."""
    w = Window.partitionBy(id_col).orderBy(
        F.col("__sim").desc(), F.col("centroid_id")
    )
    return (
        df.crossJoin(F.broadcast(centroids))
        .withColumn("__sim", cosine_similarity(vec_col, "centroid"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__sim", "__rn", "centroid")
    )


def ivf_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    assign_arrow: bool = True,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize candidates into
    ``n_centroids`` inverted lists, probe the ``nprobe`` nearest lists
    per query, exact cosine only within probed lists. Returns
    (query_id, rank, neighbor_id, cosine).

    ``centroids`` injects a pretrained quantizer — (centroid_id,
    centroid array<double>) — skipping the k-means training; without
    it the quantizer is trained once per corpus plan and memoized.

    The default path is train / add / search:

    - **add**, once per (corpus, quantizer): the corpus's ``(id, vec)``
      projection is assigned to its nearest centroids and held as
      inverted lists ``(id, vec, centroid_id)`` in a plan memo keyed on
      the corpus plan, the column names and a SHA-256 digest of the
      collected centroid arrays — a different quantizer never reads
      another quantizer's lists. Invalid vectors are in no list.
    - **search**, per call: the query batch is COLLECTED to the driver
      at call time (it must be the small side, as in
      :func:`brute_force_topk_arrow`); each query's ``nprobe`` lists are
      picked there by ``(-cosine, centroid_id)``; one ``mapInPandas``
      pass over the probed lists only computes every query's local
      top-k (:func:`_local_topk`) and a window keeps the global top-k.
      NULL/ragged query vectors get no rows. The collected centroid
      arrays are memoized per centroid-frame plan, so a repeated search
      runs no job to read its quantizer.

    Staleness: like every plan memo, the lists and the centroid arrays
    assume their inputs are immutable for the session — corpus (or
    centroid) files rewritten in place serve the old lists until
    :func:`clear_all_memos`.

    ``assign_arrow=False`` keeps the all-expression route: assignment
    by the cosine fold, probes by a broadcast cross join + window,
    cosine by zip_with/aggregate, nothing memoized — the route a SQL
    oracle reproduces bit-for-bit."""
    if centroids is not None:
        cents = centroids
    else:
        # k×dim model table — memoized on the INPUT corpus plan, so
        # repeated queries against the same corpus skip the seeding
        # collect + Lloyd steps entirely
        cents = _CENT_MEMO.get_or_compute(
            candidates,
            ("ivf_centroids", n_centroids, id_col, vec_col),
            lambda: ivf_centroids(candidates, n_centroids, id_col, vec_col),
        )
    if not assign_arrow:
        return _ivf_topk_expr(candidates, queries, cents, k, nprobe, id_col, vec_col)

    import hashlib

    import numpy as np

    id_type = candidates.schema[id_col].dataType.simpleString()
    cids, cunit = _MODEL_MEMO.get_or_value(
        cents, "cent_arrays", lambda: _cent_arrays(cents)
    )
    if not len(cids):  # empty corpus → empty quantizer → no neighbors
        return _empty_topk(candidates.sparkSession, id_type)
    q_ids, q_mat = _query_batch(queries, id_col, vec_col, dim=cunit.shape[1])
    if not len(q_ids):
        return _empty_topk(candidates.sparkSession, id_type)

    digest = hashlib.sha256(cids.tobytes() + cunit.tobytes()).hexdigest()
    lists = _LISTS_MEMO.get_or_compute(
        candidates,
        ("ivf_lists", id_col, vec_col, digest),
        lambda: _assign_nearest(
            _ivf_src(candidates, id_col, vec_col), cents, id_col, vec_col
        ).filter(F.col("centroid_id").isNotNull()),
    )

    probed = np.zeros((len(q_ids), len(cids)), dtype=bool)
    for j, q in enumerate(_unit_rows(q_mat)):
        probed[j, _probe_order(q, cids, cunit)[1][:nprobe]] = True
    scan = lists.filter(
        F.col("centroid_id").isin([int(c) for c in cids[probed.any(axis=0)]])
    )
    local = scan.mapInPandas(
        _local_topk(q_ids, q_mat, k, id_col, vec_col, lists=(cids, probed)),
        f"query_id {id_type}, neighbor_id {id_type}, cosine double",
    )
    return _global_topk(local, k)


def _ivf_topk_expr(
    candidates: DataFrame,
    queries: DataFrame,
    cents: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """:func:`ivf_topk` in expressions only (``assign_arrow=False``)."""
    c_assigned = _assign_nearest_expr(
        candidates.select(id_col, vec_col), cents, id_col, vec_col
    )
    q_scored = (
        queries.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine_similarity(vec_col, "centroid"))
    )
    wq = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("centroid_id"))
    q_probes = (
        q_scored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            "centroid_id",
        )
    )
    cands = c_assigned.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"), "centroid_id"
    )
    return _global_topk(
        cands.join(F.broadcast(q_probes), "centroid_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_similarity("q_vec", "c_vec")),
        k,
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    num_tables: int = 6,
    bits: int = 10,
    max_bucket_size: int = 2000,
    arrow: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection — the vector-space
    member of the dedup family (exact / n-gram / MinHash / SimHash /
    embedding-cosine).

    Same blocking shape as MinHash-LSH: random-hyperplane buckets
    generate candidates (short (table, bucket) shuffle key, degenerate
    buckets capped), exact cosine verifies. High thresholds (~0.95)
    pair naturally with sign-LSH: near-identical vectors agree on
    almost every hyperplane, so recall stays high with few tables.
    Returns (id_a, id_b, cosine) with id_a < id_b.

    ``threshold`` applies to the 6dp-ROUNDED cosine — deliberately, and
    the DuckDB oracle must mirror it (``ROUND(cos, 6) >= t``, never the
    raw value): rounding first absorbs the float-summation-order noise
    between engines, so a pair sitting within 5e-7 of the threshold is
    in (or out) on BOTH sides instead of flaking.

    ``arrow=False`` → expression-fold buckets, bit-reproducible by a
    sequential-fold SQL oracle over the same hyperplanes.
    """
    if dim is None:
        dim = _dim_of(df, vec_col)
    bucketed = add_lsh_buckets(df, dim, vec_col, num_tables, bits, arrow=arrow)
    # feeds the bucket-size profile and both join sides — memoized
    # (see dedup_fuzzy.ngram_jaccard_pairs)
    flat = _FLAT_MEMO.get_or_persist(
        bucketed.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("vec"),
            F.posexplode("buckets").alias("tbl", "bucket"),
        )
    )

    # r13 round-2 (guide §2.4): bucket-size gate + inverted-index
    # lookup in ONE groupBy(tbl, bucket) via _bucket_pairs instead of
    # a size profile + re-join + self-join (three shuffles of the flat
    # bucket rows). Same pair set: buckets gated to 2..max members,
    # id_a < id_b via the sorted member array.
    from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
        _bucket_pairs,
    )

    return (
        _bucket_pairs(
            flat,
            "id",
            "vec",
            key_cols=("tbl", "bucket"),
            max_bucket_size=max_bucket_size,
        )
        .select(
            F.col("p.a.id").alias("id_a"),
            F.col("p.b.id").alias("id_b"),
            F.col("p.a.vec").alias("vec_a"),
            F.col("p.b.vec").alias("vec_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("cosine", F.round(cosine_similarity("vec_a", "vec_b"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    num_tables: int = 6,
    bits: int = 10,
    max_bucket_size: int = 2000,
    arrow: bool = True,
) -> DataFrame:
    """Cross-corpus cosine similarity JOIN — the vector-space twin of
    :func:`dedup_fuzzy.minhash_join` (embedding-level contamination
    check / entity resolution between two corpora). Returns
    (left_id, right_id, cosine ≥ threshold), cosine 6dp-rounded before
    thresholding (same boundary semantics as
    :func:`embedding_near_dup_pairs`).

    Blocking is the same sign-LSH as the self-join — identical seeded
    hyperplanes on both sides, so near-identical vectors agree on
    almost every bucket — but the bucket join pairs only LEFT×RIGHT
    rows and each side's bucket occupancy is capped independently
    (a degenerate bucket costs at most cap² per table, never corpus²,
    and no within-side pairs are generated just to be discarded).
    """
    from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import cap_groups

    if dim is None:
        dim = _dim_of(left, vec_col)

    def flat_side(df: DataFrame, out_id: str, vec_out: str) -> DataFrame:
        bucketed = add_lsh_buckets(df, dim, vec_col, num_tables, bits, arrow=arrow)
        f = _FLAT_MEMO.get_or_persist(
            bucketed.select(
                F.col(id_col).alias("id"),
                F.col(vec_col).alias("vec"),
                F.posexplode("buckets").alias("tbl", "bucket"),
            )
        )
        # r14 (guide §2.4, cap_groups): occupancy gate as a
        # window count over the SAME (tbl, bucket) key the downstream
        # cross join shuffles on — one pass on a shared exchange
        # instead of a size profile + re-join that shuffled the flat
        # bucket rows twice per side. No n > 1 floor: a singleton
        # bucket still pairs with the OTHER side's occupants. Row
        # retention identical (the inner cross join below drops
        # NULL-key rows in both shapes).
        f = cap_groups(f, ("tbl", "bucket"), max_bucket_size)
        return f.select(
            "tbl", "bucket", F.col("id").alias(out_id), F.col("vec").alias(vec_out)
        )

    fl = flat_side(left, "left_id", "vec_a")
    fr = flat_side(right, "right_id", "vec_b")
    return (
        fl.join(fr, ["tbl", "bucket"])
        .select("left_id", "right_id", "vec_a", "vec_b")
        .dropDuplicates(["left_id", "right_id"])
        .withColumn("cosine", F.round(cosine_similarity("vec_a", "vec_b"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("left_id", "right_id", "cosine")
    )


def save_ivf(centroids: DataFrame, path: str, spark=None) -> None:
    """Persist a trained IVF coarse quantizer — (centroid_id,
    centroid) rows, model-sized by contract (k × dim) — as versioned
    JSON through the FS adapter (the save_pq artifact convention).
    Completes the FAISS-style train/add split for plain IVF:
    ``ivf_centroids`` once, ``save_ivf``, then
    ``ivf_topk(..., centroids=load_ivf(path, spark))`` on every
    incremental load with no retrain."""
    import json

    from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

    rows = sorted(
        (int(r["centroid_id"]), [float(x) for x in r["centroid"]])
        for r in centroids.collect()
    )
    payload = json.dumps(
        {"format": "ivf-model-v1", "centroids": rows}, ensure_ascii=False
    ).encode("utf-8")
    get_fs(path, spark or centroids.sparkSession).write_bytes(path, payload)


def load_ivf(path: str, spark) -> DataFrame:
    """Inverse of :func:`save_ivf` (validates the format tag); returns
    the (centroid_id, centroid) frame ``ivf_topk`` consumes."""
    import json

    from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

    doc = json.loads(get_fs(path, spark).read_bytes(path).decode("utf-8"))
    if doc.get("format") != "ivf-model-v1":
        raise ValueError(f"not an ivf model file: {path}")
    return local_frame(
        spark,
        [(cid, vec) for cid, vec in doc["centroids"]],
        "centroid_id int, centroid array<double>",
    )


def embedding_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Profiling for embedding columns: dimension + L2 norm per row."""
    return df.withColumn("dim", F.size(vec_col)).withColumn(
        "l2_norm", F.round(l2_norm(vec_col), 6)
    )


def _assign_probe_cells(
    df: DataFrame,
    centroids: DataFrame,
    vec_col: str,
    nprobe: int,
) -> DataFrame:
    """Append ``probe_cells array<long>`` — the ``nprobe`` nearest
    centroid ids per row (similarity-descending, ties toward the
    smaller id), Arrow-batched like :func:`_assign_nearest`.
    NULL/ragged vectors get an empty list (they probe nothing)."""
    from collections.abc import Iterator as _Iter

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    rows = centroids.orderBy("centroid_id").collect()
    out_schema = StructType(
        list(df.schema.fields)
        + [StructField("probe_cells", ArrayType(LongType()))]
    )
    if not rows:
        return df.limit(0).withColumn(
            "probe_cells", F.lit(None).cast("array<long>")
        )
    cids = np.array([r["centroid_id"] for r in rows], dtype=np.int64)
    cmat = np.array([r["centroid"] for r in rows], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    cunit = cmat / np.where(cnorm == 0.0, 1.0, cnorm)[:, None]
    dim = cmat.shape[1]
    p = min(nprobe, len(rows))

    def _assign(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(probe_cells=pd.Series([], dtype="object"))
                continue
            v, valid = _vec_matrix(pdf[vec_col], dim)
            vn = np.linalg.norm(v, axis=1)
            vu = v / np.where(vn == 0.0, 1.0, vn)[:, None]
            sims = vu @ cunit.T
            # stable argsort on (-sim, cid): rows are centroid_id
            # sorted, so ties resolve toward the smaller id
            order = np.argsort(-sims, axis=1, kind="stable")[:, :p]
            cells = [
                [int(cids[j]) for j in row] if ok else []
                for row, ok in zip(order, valid)
            ]
            yield pdf.assign(probe_cells=pd.Series(cells, dtype="object"))

    return df.mapInPandas(_assign, out_schema)


def _cell_splits(r: DataFrame, max_cell_size: int) -> dict[int, int]:
    """Per-cell split factors for :func:`knn_join`'s hot-cell guard:
    ``ceil(occupancy / max_cell_size)`` for every cell over the cap.
    One bounded aggregate (≤ n_centroids rows collected)."""
    sizes = r.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    return {
        int(row["cell"]): -(-int(row["n"]) // max_cell_size)
        for row in sizes
        if int(row["n"]) > max_cell_size
    }


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """Distributed kNN JOIN: for EVERY left row, the ``k`` nearest
    right rows by cosine — BOTH sides stay distributed (the existing
    top-k entry points collect the query side as a model; this is the
    operator for two fact-scale corpora, e.g. align every training
    document with its nearest references).

    Shape: the IVF co-partitioning trick — right rows land in their
    single nearest cell, left rows EXPLODE to their ``nprobe`` nearest
    cells, candidates meet on a plain cell equi-join (each right row
    lives in exactly one cell, so no cross-probe duplicates exist and
    no dedup shuffle is needed), and a per-left window keeps the top
    ``k`` (cosine desc, ties toward the smaller right id — fully
    deterministic). Only the k×dim centroid model is driver-resident.
    Shuffle volume is O(|left|·nprobe + |right|) join rows, never
    |left|×|right|.

    Exactness: ``nprobe == n_centroids`` probes every cell, so the
    result EQUALS the brute-force per-left top-k (test-pinned — the
    same identity the IVF top-k oracle rides). Left rows with NULL
    vectors probe nothing and are absent from the output; empty cells
    cost nothing.

    Hot-cell guard (round 10): a clustered right corpus can put most
    rows in ONE cell, making the cell equi-join a single hot task.
    ``max_cell_size`` caps per-task right-side occupancy the way the
    LSH family's bucket caps do — but LOSSLESSLY: cells over the cap
    split into ``ceil(n/cap)`` sub-cells on a secondary hash of the
    right id, and left probes of a split cell replicate to every
    sub-cell, so the candidate SET (and therefore the result) is
    bit-identical to the unsalted join while no join task holds more
    than ~``max_cell_size`` right rows. Cost: one bounded per-cell
    count (≤ n_centroids rows to the driver) plus the extra left
    replicas for split cells only.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1: {k}")
    if max_cell_size is not None and max_cell_size < 1:
        raise ValueError(f"max_cell_size must be >= 1: {max_cell_size}")
    if centroids is None:
        centroids = ivf_centroids(
            right, n_centroids, id_col=id_col, vec_col=vec_col
        )
    r = _assign_nearest(
        right.select(id_col, vec_col), centroids, id_col, vec_col
    ).select(
        F.col("centroid_id").alias("cell"),
        F.col(id_col).alias("right_id"),
        F.col(vec_col).alias("r_vec"),
    ).where(F.col("cell").isNotNull())
    l = (
        _assign_probe_cells(
            left.select(id_col, vec_col), centroids, vec_col, nprobe
        )
        .select(
            F.col(id_col).alias("left_id"),
            F.col(vec_col).alias("l_vec"),
            F.explode("probe_cells").alias("cell"),
        )
    )
    join_keys = ["cell"]
    if max_cell_size is not None:
        splits = _cell_splits(r, max_cell_size)
        if splits:
            # one map literal (≤ n_centroids entries) drives both sides
            split_map = F.create_map(
                *[F.lit(x) for kv in sorted(splits.items()) for x in kv]
            )
            s_r = F.coalesce(split_map[F.col("cell")], F.lit(1))
            # xxhash64 is TYPE-sensitive — canonical string widening
            r = r.withColumn(
                "sub",
                F.pmod(F.xxhash64(F.col("right_id").cast("string")), s_r)
                .cast("int"),
            )
            s_l = F.coalesce(split_map[F.col("cell")], F.lit(1))
            l = l.withColumn(
                "sub",
                F.explode(
                    F.sequence(F.lit(0), (s_l - F.lit(1)).cast("int"))
                ),
            )
            join_keys = ["cell", "sub"]
    w = Window.partitionBy("left_id").orderBy(
        F.col("cosine").desc(), F.col("right_id")
    )
    return (
        l.join(r, join_keys)
        .withColumn(
            "cosine", F.round(cosine_similarity("l_vec", "r_vec"), 6)
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("left_id", "rank", "right_id", "cosine")
    )


def knn_cell_stats(
    right: DataFrame,
    max_cell_size: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """1-row cap-hit panel for :func:`knn_join`'s hot-cell guard (the
    ``bucket_cap_stats`` observability convention): ``(cap,
    cells_total, cells_split, max_cell, split_tasks)`` where
    ``split_tasks`` is the total sub-cell count the salted join would
    run with. Unlike the LSH caps nothing is DROPPED — the stats size
    the extra left replication, not lost recall."""
    if centroids is None:
        centroids = ivf_centroids(
            right, n_centroids, id_col=id_col, vec_col=vec_col
        )
    sizes = (
        _assign_nearest(
            right.select(id_col, vec_col), centroids, id_col, vec_col
        )
        .where(F.col("centroid_id").isNotNull())
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cap = int(max_cell_size)
    splits = F.when(
        F.col("n") > cap, F.ceil(F.col("n") / F.lit(cap))
    ).otherwise(F.lit(1))
    return sizes.agg(
        F.lit(cap).cast("long").alias("cap"),
        F.count(F.lit(1)).cast("long").alias("cells_total"),
        F.coalesce(F.sum((F.col("n") > cap).cast("long")), F.lit(0))
        .cast("long")
        .alias("cells_split"),
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("max_cell"),
        F.coalesce(F.sum(splits), F.lit(0)).cast("long").alias("split_tasks"),
    )
