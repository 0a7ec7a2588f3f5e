"""[EXT] Product quantization (PQ) — memory-bounded approximate
nearest neighbor for embedding corpora.

At 100 TB the similarity family's real constraint is BYTES PER VECTOR:
a 64-dim float32 embedding is 256 B, and every ANN structure that
keeps raw vectors (LSH buckets, IVF inverted lists, brute-force
scans) pays it on every shuffle and every cache.  PQ (Jégou et al.
2011, the FAISS workhorse) stores ``m`` one-byte codes per vector —
32× smaller at m=8 — and scores candidates against a query with
per-subspace lookup tables (ADC: asymmetric distance computation), no
decompression.

Same "small model, distributed data" split as ``ivf_centroids`` /
``pca_fit`` / ``train_bpe``:

- **Training is driver-side numpy over a bounded sample** — per-
  subspace k-means on ``sample_exact_n`` rows (deterministic
  smallest-hash sample, so training is append-stable and
  reproducible).  The model is m × k × (d/m) floats — KBs.
- **Encoding is distributed** (``mapInPandas``): one argmin per
  subspace over the broadcast codebooks, vectorized across the batch.
- **Search is distributed ADC**: the query's m × k lookup table is
  built once per (query, task) and candidate scores are ``m`` table
  gathers + a sum — no per-candidate float math on raw vectors.
  Local top-k inside each task, global top-k via the same
  window-rank pattern as ``brute_force_topk``.

Scoring is INNER PRODUCT on unit-normalized vectors (= cosine), so
``pq_topk`` ranks approximate the exact cosine ranks; reconstruction
error is the tunable (more subspaces / larger codebooks → closer).
Like the rest of the float family this has no SQL value-oracle;
tests pin recall on separated fixtures, reconstruction-error
monotonicity, and determinism (see tests/test_pq.py).

Invalid vectors (NULL/ragged/NaN) encode to NULL codes and never
appear as neighbors — the tolerance contract of the family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.operators.similarity import (
    _cent_arrays,
    _dim_of,
    _probe_order,
    _unit_rows,
    _vec_matrix,
)
from harness_aws_etl_pipeline_spark.session import local_frame

__all__ = [
    "train_pq",
    "pq_encode",
    "pq_topk",
    "pq_reconstruction_mse",
    "ivfpq_index",
    "build_ivfpq",
    "ivfpq_topk",
    "save_pq",
    "load_pq",
    "sq_train",
    "sq_encode",
    "sq_decode",
]


def _kmeans_1sub(x, k: int, iters: int) -> "object":
    """Deterministic k-means for one subspace: farthest-point seeding
    from the centroid-of-mass, then Lloyd.  ``x`` is (n × dsub)."""
    import numpy as np

    n = x.shape[0]
    k = min(k, n)
    # deterministic farthest-point seeding (no RNG: reproducible
    # across runs and machines)
    seeds = [int(np.argmax(((x - x.mean(axis=0)) ** 2).sum(axis=1)))]
    d2 = ((x - x[seeds[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        nxt = int(np.argmax(d2))
        seeds.append(nxt)
        d2 = np.minimum(d2, ((x - x[nxt]) ** 2).sum(axis=1))
    cents = x[seeds].copy()
    for _ in range(iters):
        # (n × k) squared distances via the expansion trick
        d = ((x**2).sum(axis=1)[:, None]
             - 2.0 * x @ cents.T
             + (cents**2).sum(axis=1)[None, :])
        assign = d.argmin(axis=1)
        for j in range(k):
            sel = assign == j
            if sel.any():
                cents[j] = x[sel].mean(axis=0)
    return cents


def train_pq(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    vec_col: str = "embedding",
    dim: int | None = None,
    sample_n: int = 65_536,
    iters: int = 10,
    id_col: str = "vec_id",
) -> dict:
    """Train per-subspace codebooks on a bounded deterministic sample.

    Returns ``{"dim", "m", "dsub", "k", "codebooks": m × k × dsub
    nested lists}``.  ``dim`` must divide evenly by ``m``.  Vectors
    are unit-normalized before training (the IP-on-unit-vectors
    scoring contract).
    """
    import numpy as np

    from harness_aws_etl_pipeline_spark.operators.sampling import sample_exact_n

    if dim is None:
        dim = _dim_of(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m

    src = df.select(id_col, vec_col)
    sample = sample_exact_n(src, sample_n, key=id_col)
    rows = [r[0] for r in sample.select(vec_col).collect()]
    mat, valid = _vec_matrix(rows, dim)
    mat = _unit_rows(mat[valid])
    if mat.shape[0] == 0:
        raise ValueError("no valid vectors to train PQ on")

    codebooks = []
    for s in range(m):
        sub = mat[:, s * dsub : (s + 1) * dsub]
        codebooks.append(_kmeans_1sub(sub, k, iters).tolist())
    return {
        "dim": dim,
        "m": m,
        "dsub": dsub,
        "k": int(min(k, mat.shape[0])),
        "codebooks": codebooks,
    }


def pq_encode(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Add ``out_col`` — array<int> of ``m`` codebook indices per
    vector (NULL for invalid vectors).  Arrow-batched; the codebooks
    ride the task closure (model-sized)."""
    import numpy as np

    if model.get("residual"):
        raise ValueError(
            "residual model: encode with build_ivfpq (residual codebooks "
            "index v - centroid, not raw vectors)"
        )

    from collections.abc import Iterator as _Iter

    import pandas as pd

    dim, m, dsub = model["dim"], model["m"], model["dsub"]
    books = [np.asarray(b) for b in model["codebooks"]]
    fields = ", ".join(f"`{c}` {t}" for c, t in df.dtypes)
    out_schema = f"{fields}, `{out_col}` array<int>"

    def _enc(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{out_col: pd.Series([], dtype="object")})
                continue
            mat, valid = _vec_matrix(pdf[vec_col], dim)
            unit = _unit_rows(mat)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for s in range(m):
                sub = unit[:, s * dsub : (s + 1) * dsub]
                cb = books[s]
                d = ((sub**2).sum(axis=1)[:, None]
                     - 2.0 * sub @ cb.T
                     + (cb**2).sum(axis=1)[None, :])
                codes[:, s] = d.argmin(axis=1)
            vals = [
                [int(c) for c in row] if ok else None
                for row, ok in zip(codes, valid)
            ]
            yield pdf.assign(
                **{out_col: pd.Series(vals, index=pdf.index, dtype="object")}
            )

    return df.mapInPandas(_enc, out_schema)


def pq_topk(
    encoded: DataFrame,
    queries: DataFrame,
    model: dict,
    topk: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
    rerank_with: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k of each (raw) query vector over a
    PQ-ENCODED corpus: per-task ADC lookup-table scan + local top-k,
    global rank via window.  Returns (query_id, rank, neighbor_id,
    score) — ``score`` is the PQ inner-product approximation of the
    cosine, not the exact value.

    ``rerank_with`` enables the production PQ recipe — ADC SHORTLIST
    then exact rerank: the code scan keeps ``shortlist`` candidates
    per query (default 10·topk), their RAW vectors are fetched from
    ``rerank_with`` (an (id, vector) frame — typically the original
    corpus), and exact cosine re-ranks to ``topk``.  The expensive
    full scan still touches only m-byte codes; the raw-vector join is
    queries × shortlist rows.  On hard (near-random) embeddings this
    recovers most of the recall pure ADC loses to quantization noise.

    Contract: ``rerank_with`` must cover every id in the encoded
    corpus — the rerank stage inner-joins the shortlist to it, so a
    shortlist id with no raw vector is dropped (a query can then
    return fewer than ``topk`` rows).  Use the frame the codes were
    encoded from (the normal case) and the contract holds trivially.
    """
    import numpy as np

    from collections.abc import Iterator as _Iter

    import pandas as pd

    dim, m, dsub = model["dim"], model["m"], model["dsub"]
    books = [np.asarray(b) for b in model["codebooks"]]
    qrows = queries.select(id_col, vec_col).collect()
    qmat, qvalid = _vec_matrix([r[1] for r in qrows], dim)
    qids = [r[0] for r in qrows]
    qunit = _unit_rows(qmat)
    # m × k inner-product lookup tables per query, built ONCE on the
    # driver (queries are the small side by contract) and broadcast
    luts = []
    kept_qids = []
    for i, ok in enumerate(qvalid):
        if not ok:
            continue
        kept_qids.append(qids[i])
        luts.append(
            np.stack(
                [
                    books[s] @ qunit[i, s * dsub : (s + 1) * dsub]
                    for s in range(m)
                ]
            )
        )  # m × k
    if not luts:
        raise ValueError("no valid query vectors")
    lut_arr = np.stack(luts)  # q × m × k
    # per-task candidates kept: the final top-k, or the rerank
    # shortlist when the exact second stage will re-rank
    keep = topk if rerank_with is None else (shortlist or 10 * topk)

    def _scan(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        out_q, out_n, out_s = [], [], []
        for pdf in batches:
            rows = [
                (i, c)
                for i, c in zip(pdf[id_col], pdf[code_col])
                if c is not None
            ]
            if not rows:
                continue
            ids = [r[0] for r in rows]
            codes = np.asarray([r[1] for r in rows], dtype=np.int64)  # n × m
            n = codes.shape[0]
            # scores[q, n] = Σ_s lut[q, s, codes[n, s]]
            gathered = lut_arr[:, np.arange(m)[None, :], codes]  # q × n × m
            scores = gathered.sum(axis=2)  # q × n
            loc = min(keep, n)
            for qi, qid in enumerate(kept_qids):
                idx = np.argpartition(-scores[qi], loc - 1)[:loc]
                for j in idx:
                    out_q.append(qid)
                    out_n.append(ids[int(j)])
                    out_s.append(float(scores[qi, int(j)]))
        if out_q:
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score": out_s}
            )

    id_type = encoded.schema[id_col].dataType.simpleString()
    local = encoded.select(id_col, code_col).mapInPandas(
        _scan, f"query_id {id_type}, neighbor_id {id_type}, score double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    ranked = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
        .select("query_id", "rank", "neighbor_id", F.round("score", 6).alias("score"))
    )
    if rerank_with is None:
        return ranked

    from harness_aws_etl_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )

    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    nv = rerank_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    exact = (
        ranked.drop("rank", "score")
        .join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("score", F.round(cosine_similarity("__qv", "__nv"), 6))
        .drop("__qv", "__nv")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def pq_reconstruction_mse(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
) -> float:
    """Mean squared reconstruction error of the codebooks over the
    corpus (unit-normalized) — the quantization-quality diagnostic
    (decreases as k or m grows).  Distributed encode + per-task
    partial sums; driver sees one row per task."""
    import numpy as np

    from collections.abc import Iterator as _Iter

    import pandas as pd

    dim, m, dsub = model["dim"], model["m"], model["dsub"]
    books = [np.asarray(b) for b in model["codebooks"]]

    def _mse(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        tot = 0.0
        cnt = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat, valid = _vec_matrix(pdf[vec_col], dim)
            unit = _unit_rows(mat[valid])
            if unit.shape[0] == 0:
                continue
            recon = np.empty_like(unit)
            for s in range(m):
                sub = unit[:, s * dsub : (s + 1) * dsub]
                cb = books[s]
                d = ((sub**2).sum(axis=1)[:, None]
                     - 2.0 * sub @ cb.T
                     + (cb**2).sum(axis=1)[None, :])
                recon[:, s * dsub : (s + 1) * dsub] = cb[d.argmin(axis=1)]
            tot += float(((unit - recon) ** 2).sum())
            cnt += unit.shape[0] * dim
        if cnt:
            yield pd.DataFrame({"t": [tot], "n": [cnt]})

    rows = df.select(vec_col).mapInPandas(_mse, "t double, n long").collect()
    if not rows:
        raise ValueError("no valid vectors")
    return sum(r["t"] for r in rows) / sum(r["n"] for r in rows)


def ivfpq_index(
    df: DataFrame,
    model: dict,
    centroids: DataFrame | None = None,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> tuple[DataFrame, DataFrame]:
    """Build the IVF-PQ index frame: ``(id, centroid_id, code)`` —
    each vector coarse-assigned to its inverted list AND PQ-encoded.
    Returns ``(index_df, centroids)`` (the quantizer is trained with
    ``similarity.ivf_centroids`` when not supplied).  The index is
    what a 100 TB deployment persists: nlist-partitionable, m bytes
    + one long per vector, raw vectors not required at query time
    unless exact rerank is requested."""
    from harness_aws_etl_pipeline_spark.operators.similarity import (
        _assign_nearest,
        ivf_centroids,
    )

    if model.get("residual"):
        raise ValueError(
            "residual model: build the index with build_ivfpq (raw-vector "
            "encoding against residual codebooks would be meaningless)"
        )
    if centroids is None:
        centroids = ivf_centroids(df, k=nlist, id_col=id_col, vec_col=vec_col)
    assigned = _assign_nearest(
        df.select(id_col, vec_col), centroids, id_col, vec_col
    )
    enc = pq_encode(assigned, model, vec_col=vec_col)
    return (
        enc.filter(F.col("centroid_id").isNotNull())
        .select(id_col, "centroid_id", code_col),
        centroids,
    )


def _encode_residual(
    assigned: DataFrame,
    model: dict,
    cids,
    cunit,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """PQ-encode each vector's RESIDUAL against its assigned coarse
    centroid (``assigned`` carries ``centroid_id``): codes index the
    residual codebooks, NULL for invalid vectors / NULL assignment.
    Arrow-batched, model + centroids ride the task closure."""
    import numpy as np

    from collections.abc import Iterator as _Iter

    import pandas as pd

    dim, m, dsub = model["dim"], model["m"], model["dsub"]
    books = [np.asarray(b) for b in model["codebooks"]]
    cpos = {int(c): i for i, c in enumerate(cids)}
    fields = ", ".join(f"`{c}` {t}" for c, t in assigned.dtypes)
    out_schema = f"{fields}, `{code_col}` array<int>"

    def _enc(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(**{code_col: pd.Series([], dtype="object")})
                continue
            mat, valid = _vec_matrix(pdf[vec_col], dim)
            unit = _unit_rows(mat)
            ok = [
                bool(v) and c is not None and not pd.isna(c)
                for v, c in zip(valid, pdf["centroid_id"])
            ]
            rows = np.flatnonzero(ok)
            codes_out = [None] * len(pdf)
            if len(rows):
                cidx = np.array(
                    [cpos[int(pdf["centroid_id"].iloc[i])] for i in rows]
                )
                resid = unit[rows] - cunit[cidx]
                codes = np.empty((len(rows), m), dtype=np.int64)
                for s in range(m):
                    sub = resid[:, s * dsub : (s + 1) * dsub]
                    cb = books[s]
                    d = ((sub**2).sum(axis=1)[:, None]
                         - 2.0 * sub @ cb.T
                         + (cb**2).sum(axis=1)[None, :])
                    codes[:, s] = d.argmin(axis=1)
                for j, i in enumerate(rows):
                    codes_out[int(i)] = [int(c) for c in codes[j]]
            yield pdf.assign(
                **{code_col: pd.Series(codes_out, index=pdf.index, dtype="object")}
            )

    return assigned.mapInPandas(_enc, out_schema)


def build_ivfpq(
    df: DataFrame,
    nlist: int = 16,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    dim: int | None = None,
    sample_n: int = 65_536,
    iters: int = 10,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, dict]:
    """The standard IVF-PQ build (Jégou et al. 2011 §IV): coarse-
    quantize, then PQ the RESIDUAL ``unit(v) − c`` instead of the raw
    vector.  Residuals concentrate near the origin with far smaller
    spread than the vectors themselves, so the same (m, k) codebook
    budget quantizes them with much less error — this is what
    recovers the recall that raw-vector IVF-PQ (``ivfpq_index`` +
    ``train_pq``) gives up.

    Same distribution split as the rest of the family: coarse
    centroids and residual codebooks are driver-trained models on
    bounded deterministic samples; assignment and encoding are
    distributed Arrow passes.  Returns ``(index, centroids, model)``
    where the model carries ``residual: True`` so :func:`ivfpq_topk`
    scores ``q·c + q·r̂`` (per-probe bias + residual ADC) instead of
    plain ADC.  Persist all three (``save_pq`` handles the model) —
    that is the 100 TB deployment artifact.

    Honesty note on WHEN residual helps: the residual's squared norm
    is ``2 − 2·cos(v, c)``, so on near-isotropic corpora (best-
    centroid cosine < 0.5, e.g. this repo's synthetic embeddings at
    nlist=16, measured mean ``‖r‖² ≈ 1.45``) residuals are HARDER to
    quantize than the unit vectors themselves, and recall at partial
    probe is bounded by LIST COVERAGE, not encoding (bench measures
    this as ``coverage_at10``).  Residual encoding pays off when the
    coarse quantizer captures real variance — many clusters relative
    to the PQ codebook budget (see
    tests/test_pq.py::TestResidual::test_residual_beats_raw_on_clustered_vectors)
    — which is the regime real embedding corpora at 100 TB with
    nlist in the thousands sit in.  The exact q·c bias term also
    makes scores cross-list comparable, which raw-vector IVF-PQ ADC
    only approximates."""
    import numpy as np

    from harness_aws_etl_pipeline_spark.operators.sampling import sample_exact_n
    from harness_aws_etl_pipeline_spark.operators.similarity import (
        _assign_nearest,
        _ivf_src,
        ivf_centroids,
    )

    if dim is None:
        dim = _dim_of(df, vec_col)
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    # r14 (r13-VERDICT #4): the same memoized (id, vec) projection the
    # quantizer trains on also feeds the corpus assignment and the
    # residual-sample pass — one derivation of the source instead of
    # one per pass (guide §6 read amortization)
    src = _ivf_src(df, id_col, vec_col)
    if centroids is None:
        centroids = ivf_centroids(df, k=nlist, id_col=id_col, vec_col=vec_col)
    cids, cunit = _cent_arrays(centroids)

    assigned = _assign_nearest(src, centroids, id_col, vec_col)
    # residual training sample: bounded deterministic (smallest-hash)
    # sample of ASSIGNED vectors — residuals need the assignment
    sample = sample_exact_n(
        assigned.filter(F.col("centroid_id").isNotNull()), sample_n, key=id_col
    )
    srows = sample.select(vec_col, "centroid_id").collect()
    mat, valid = _vec_matrix([r[0] for r in srows], dim)
    cpos = {int(c): i for i, c in enumerate(cids)}
    sel = np.flatnonzero(valid)
    if len(sel) == 0:
        raise ValueError("no valid vectors to train IVF-PQ on")
    cidx = np.array([cpos[int(srows[int(i)][1])] for i in sel])
    resid = _unit_rows(mat)[sel] - cunit[cidx]

    codebooks = []
    for s in range(m):
        sub = resid[:, s * dsub : (s + 1) * dsub]
        codebooks.append(_kmeans_1sub(sub, k, iters).tolist())
    model = {
        "dim": dim,
        "m": m,
        "dsub": dsub,
        "k": int(min(k, resid.shape[0])),
        "codebooks": codebooks,
        "residual": True,
    }
    enc = _encode_residual(assigned, model, cids, cunit, vec_col, code_col)
    index = enc.filter(F.col("centroid_id").isNotNull()).select(
        id_col, "centroid_id", code_col
    )
    return index, centroids, model


def ivfpq_topk(
    index: DataFrame,
    queries: DataFrame,
    model: dict,
    centroids: DataFrame,
    nprobe: int = 4,
    topk: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_code",
    vec_col: str = "embedding",
    rerank_with: DataFrame | None = None,
    shortlist: int | None = None,
    min_candidates: int | None = None,
    nprobe_max: int | None = None,
) -> DataFrame:
    """IVF-PQ search: each query probes its ``nprobe`` nearest
    inverted lists and ADC-scores ONLY those lists' codes — the scan
    fraction is ~nprobe/nlist of the corpus per query, on m-byte
    codes.  (query, centroid) probe pairs are a broadcast-joined
    driver-built frame; scoring reuses the per-query lookup tables.
    For a residual model (:func:`build_ivfpq` — ``model["residual"]``)
    the probe pairs also carry the ``q·c`` bias and the lookup tables
    index the RESIDUAL codebooks, so the score is ``q·c + q·r̂`` —
    cross-list comparable and far less quantization noise than raw-
    vector ADC.
    Optional exact rerank as in :func:`pq_topk` — same coverage
    contract: ``rerank_with`` must cover every indexed id (the rerank
    inner-join silently drops shortlist ids it cannot find).  Returns
    (query_id, rank, neighbor_id, score).

    ``min_candidates`` switches to PER-QUERY ADAPTIVE probing (the
    multi-probe practice of Jégou et al. §IV): lists are probed in
    similarity order until their cumulative occupancy reaches
    ``min_candidates`` codes, capped at ``nprobe_max`` (default: all
    lists; ``nprobe`` is ignored). A query whose nearest list is huge
    probes one list; one landing between small lists probes several —
    candidate work per query is ~``min_candidates`` regardless of
    list imbalance. Occupancies are one nlist-row aggregate.
    Use :func:`calibrate_nprobe` to pick a FIXED nprobe from a recall
    target instead.
    """
    import numpy as np

    from collections.abc import Iterator as _Iter

    import pandas as pd

    dim, m, dsub = model["dim"], model["m"], model["dsub"]
    books = [np.asarray(b) for b in model["codebooks"]]

    qrows = queries.select(id_col, vec_col).collect()
    qmat, qvalid = _vec_matrix([r[1] for r in qrows], dim)
    qids = [r[0] for r in qrows]
    qunit = _unit_rows(qmat)

    cids, cunit = _cent_arrays(centroids)
    if not len(cids):
        raise ValueError("empty centroid set")

    residual = bool(model.get("residual"))
    occ: dict[int, int] | None = None
    if min_candidates is not None:
        # one nlist-row aggregate — the per-list occupancy that the
        # adaptive prefix expands against
        occ = {
            int(r["centroid_id"]): int(r["c"])
            for r in index.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
    kept_qids, luts, probes = [], [], []
    nprobe = min(nprobe, len(cids))
    cap = min(nprobe_max or len(cids), len(cids))
    for i, ok in enumerate(qvalid):
        if not ok:
            continue
        kept_qids.append(qids[i])
        luts.append(
            np.stack(
                [books[s] @ qunit[i, s * dsub : (s + 1) * dsub] for s in range(m)]
            )
        )
        sims, order = _probe_order(qunit[i], cids, cunit)
        if occ is None:
            order = order[:nprobe]
        else:
            cum, take = 0, []
            for j in order[:cap]:
                take.append(j)
                cum += occ.get(int(cids[j]), 0)
                if cum >= min_candidates:
                    break
            order = np.asarray(take, dtype=np.int64)
        # residual scoring: q·v̂ = q·c + q·r̂ — the q·c bias is a
        # per-(query, list) constant, so it rides the probe frame
        probes.extend(
            (qids[i], int(cids[j]), float(sims[j]) if residual else 0.0)
            for j in order
        )
    if not kept_qids:
        raise ValueError("no valid query vectors")
    lut_arr = np.stack(luts)
    qidx = {q: i for i, q in enumerate(kept_qids)}

    spark = index.sparkSession
    id_type = index.schema[id_col].dataType.simpleString()
    probe_df = local_frame(
        spark, probes, f"query_id {id_type}, centroid_id long, __bias double"
    )
    cand = index.join(F.broadcast(probe_df), "centroid_id")

    def _score(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            rows = [
                (q, i, c, b)
                for q, i, c, b in zip(
                    pdf["query_id"], pdf[id_col], pdf[code_col], pdf["__bias"]
                )
                if c is not None
            ]
            if not rows:
                continue
            codes = np.asarray([r[2] for r in rows], dtype=np.int64)
            qpos = np.asarray([qidx[r[0]] for r in rows], dtype=np.int64)
            bias = np.asarray([r[3] for r in rows], dtype=np.float64)
            # score[j] = bias[j] + Σ_s lut[qpos[j], s, codes[j, s]]
            scores = bias + lut_arr[
                qpos[:, None], np.arange(m)[None, :], codes
            ].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": [r[0] for r in rows],
                    "neighbor_id": [r[1] for r in rows],
                    "score": scores,
                }
            )

    local = cand.mapInPandas(
        _score, f"query_id {id_type}, neighbor_id {id_type}, score double"
    )
    keep = topk if rerank_with is None else (shortlist or 10 * topk)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    ranked = (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= keep)
        .select("query_id", "rank", "neighbor_id", F.round("score", 6).alias("score"))
    )
    if rerank_with is None:
        return ranked

    from harness_aws_etl_pipeline_spark.functions.vectors import (
        cosine_similarity,
    )

    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    nv = rerank_with.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    exact = (
        ranked.drop("rank", "score")
        .join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .withColumn("score", F.round(cosine_similarity("__qv", "__nv"), 6))
        .drop("__qv", "__nv")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
        .select("query_id", "rank", "neighbor_id", "score")
    )


def calibrate_nprobe(
    index: DataFrame,
    centroids: DataFrame,
    sample_queries: DataFrame,
    corpus: DataFrame,
    target_recall: float = 0.9,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Derive ``nprobe`` from a recall target instead of guessing it.

    Probed-list COVERAGE — the fraction of exact top-k neighbors whose
    inverted list is among the first ``p`` probed — is the recall
    CEILING at ``nprobe=p``: no encoding or rerank can recover a
    neighbor whose list was never scanned (with exact rerank, recall
    ≈ coverage). This measures that curve on a bounded query sample
    and returns the smallest ``p`` whose mean coverage meets
    ``target_recall``:

    1. exact top-k for the sample via the Arrow brute-force pass
       (one corpus scan — calibration cost, paid once per index);
    2. each true neighbor's list assignment (a semi-joined lookup on
       the index, |sample|·topk rows collected);
    3. for every query, the probe POSITION of each neighbor's list in
       that query's centroid-similarity order; ``coverage[p]`` is then
       the fraction of (query, neighbor) pairs with position < p.

    Returns ``{"nprobe", "coverage" (p → fraction, full curve),
    "scan_fraction" (mean fraction of corpus codes in the first
    ``nprobe`` lists), "target_recall", "queries"}``. On clustered
    data the curve saturates early (small nprobe, small scan
    fraction); on isotropic data it rises ~linearly and the returned
    nprobe is honestly large — the decision the round-8 bench left to
    a fixed default. Multi-probe selection per Jégou et al. §IV.
    """
    import numpy as np

    from harness_aws_etl_pipeline_spark.operators.similarity import (
        brute_force_topk_arrow,
    )

    if not 0 < target_recall <= 1:
        raise ValueError(f"target_recall must be in (0, 1]: {target_recall}")
    exact = brute_force_topk_arrow(
        corpus, sample_queries, k=topk, id_col=id_col, vec_col=vec_col
    ).collect()
    pairs = [(r["query_id"], r["neighbor_id"]) for r in exact]
    if not pairs:
        raise ValueError("calibration sample produced no exact neighbors")

    cids, cunit = _cent_arrays(centroids)
    if not len(cids):
        raise ValueError("empty centroid set")
    nlist = len(cids)

    need = sorted({n for _, n in pairs})
    assign = {
        r[id_col]: int(r["centroid_id"])
        for r in index.filter(F.col(id_col).isin(list(need)))
        .select(id_col, "centroid_id")
        .collect()
    }
    occ = {
        int(r["centroid_id"]): int(r["c"])
        for r in index.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n_codes = sum(occ.values()) or 1

    qrows = sample_queries.select(id_col, vec_col).collect()
    cpos = {int(c): i for i, c in enumerate(cids)}
    # probe position of every list, per query
    positions: dict = {}
    probe_order: dict = {}
    for r in qrows:
        v = np.asarray(r[vec_col], dtype=np.float64)
        nv = np.linalg.norm(v)
        if not np.isfinite(nv) or nv == 0:
            continue
        order = _probe_order(v / nv, cids, cunit)[1]
        probe_order[r[id_col]] = order
        positions[r[id_col]] = {int(cids[j]): p for p, j in enumerate(order)}

    # minimal probe depth per (query, neighbor); unplaceable neighbors
    # (NULL-coded) count as never covered
    depths = []
    for q, n in pairs:
        pos = positions.get(q)
        c = assign.get(n)
        depths.append(
            pos[c] + 1 if pos is not None and c in (pos or {}) else nlist + 1
        )
    total = len(depths)
    coverage = {}
    chosen = nlist
    for p in range(1, nlist + 1):
        coverage[p] = sum(1 for d in depths if d <= p) / total
        if coverage[p] >= target_recall and chosen == nlist:
            chosen = p
            if coverage[p] >= 1.0:
                break
    # mean scan fraction at the chosen depth over the sampled queries
    fracs = [
        sum(occ.get(int(cids[j]), 0) for j in order[:chosen]) / n_codes
        for order in probe_order.values()
    ]
    return {
        "nprobe": chosen,
        "coverage": coverage,
        "scan_fraction": (sum(fracs) / len(fracs)) if fracs else 1.0,
        "target_recall": target_recall,
        "queries": len(probe_order),
    }


def save_pq(model: dict, path: str, spark=None) -> None:
    """Persist PQ codebooks as versioned JSON through the FS adapter
    (same artifact convention as save_pca / save_merges / save_model)."""
    import json

    from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

    payload = json.dumps(
        {"format": "pq-model-v1", **model}, ensure_ascii=False
    ).encode("utf-8")
    get_fs(path, spark).write_bytes(path, payload)


def load_pq(path: str, spark=None) -> dict:
    """Inverse of :func:`save_pq` (validates the format tag)."""
    import json

    from harness_aws_etl_pipeline_spark.sinks.fs import get_fs

    doc = json.loads(get_fs(path, spark).read_bytes(path).decode("utf-8"))
    if doc.pop("format", None) != "pq-model-v1":
        raise ValueError(f"not a pq model file: {path}")
    return doc


# ------------------------------------------------- scalar quantization
#
# SQ (int8) is PQ's simpler sibling: per-DIMENSION affine codes
# instead of per-subspace codebooks — 4x smaller than float32 at far
# lower distortion than PQ's 32x, zero training beyond one exact
# min/max pass, and (unlike PQ) fully value-oracle-able: the code is
# the fixed IEEE chain round((x − mn)·levels/(mx − mn)) on exact
# per-dim bounds, so any engine reproduces every byte. The standard
# first step before shipping an embedding corpus to an ANN service.


def sq_train(df, vec_col: str = "embedding", levels: int = 255) -> dict:
    """Per-dimension (min, max) bounds — one distributed
    posexplode + groupBy(dim) pass; the only collect is ``dim`` rows.
    Returns ``{"mins": [...], "maxs": [...], "levels": levels}``."""
    from pyspark.sql import functions as F

    if levels < 1 or levels > 65535:
        raise ValueError(f"levels must be in [1, 65535]: {levels}")
    rows = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect()
    )
    if not rows:
        raise ValueError("sq_train: no vectors")
    dim = max(r["i"] for r in rows) + 1
    mins, maxs = [0.0] * dim, [0.0] * dim
    for r in rows:
        mins[r["i"]], maxs[r["i"]] = r["mn"], r["mx"]
    return {"mins": mins, "maxs": maxs, "levels": levels}


def _sq_bounds(model: dict):
    from pyspark.sql import functions as F

    mn = F.array(*[F.lit(float(v)) for v in model["mins"]])
    mx = F.array(*[F.lit(float(v)) for v in model["maxs"]])
    return mn, mx, float(model["levels"])


def sq_encode(
    df,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "sq_codes",
) -> "object":
    """Append ``out_col``: array<int> of per-dim affine codes in
    [0, levels] — ``round((x − mnᵢ)·levels/(mxᵢ − mnᵢ))`` clamped,
    constant dims code 0. Pure projection (one transform over the
    broadcast bound literals); NULL vectors code NULL."""
    from pyspark.sql import functions as F

    mn, mx, levels = _sq_bounds(model)

    def code(x, i):
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        q = F.round((x.cast("double") - lo) * F.lit(levels) / (hi - lo))
        return F.when(
            hi > lo,
            F.least(F.greatest(q, F.lit(0.0)), F.lit(levels)),
        ).otherwise(F.lit(0.0)).cast("int")

    return df.withColumn(out_col, F.transform(F.col(vec_col), code))


def sq_decode(
    df,
    model: dict,
    codes_col: str = "sq_codes",
    out_col: str = "sq_vec",
) -> "object":
    """Inverse projection: ``mnᵢ + code·(mxᵢ − mnᵢ)/levels`` as
    array<double> — the reconstruction an SQ-backed ANN scores
    against (max error (mx−mn)/(2·levels) per dim)."""
    from pyspark.sql import functions as F

    mn, mx, levels = _sq_bounds(model)

    def decode(c, i):
        lo = F.element_at(mn, i + 1)
        hi = F.element_at(mx, i + 1)
        return lo + c.cast("double") * (hi - lo) / F.lit(levels)

    return df.withColumn(out_col, F.transform(F.col(codes_col), decode))
