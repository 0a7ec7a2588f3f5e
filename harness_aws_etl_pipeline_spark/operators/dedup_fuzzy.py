"""[EXT] Fuzzy / near-duplicate deduplication at training-data scale.

Four strategies over a document table, in increasing
cost-per-candidate order:

1. exact content hash (md5 / xxhash64) — one shuffle on an 8-16 byte
   key (see operators/dedup.py:deduplicate_by_hash)
2. n-gram Jaccard with inverted-index blocking — explode distinct
   shingles, self-join on shingle, exact Jaccard on candidates only
3. MinHash + LSH banding — constant-size signature per doc, candidates
   from band-bucket collisions; the O(n²) pair space never materializes
4. SimHash — one 64-bit sketch per doc; near-dups collide on bands of
   bits / small Hamming distance

Scale design: every strategy is shuffle-bounded on *short keys*
(shingle hash, band hash, sketch), never on document text. The
pair-generation joins are self-equi-joins that AQE skew-handles when a
hot shingle/band appears (a stopword shingle at 100 TB can bucket
millions of docs — ``max_bucket_size`` caps that explicitly, the same
frequent-bucket cutoff used in production near-dup pipelines).

All hashing is ``xxhash64`` with integer seeds — deterministic across
runs and executors, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.functions.text import shingles, tokens
from harness_aws_etl_pipeline_spark.operators.memo import PlanMemo

# Bounded plan-keyed reuse of the expensive per-corpus intermediates
# (operators/memo.py): within one call they feed several consumers;
# across calls on the same input (verification panels, repeated
# service queries) the whole Arrow shingling/hashing pass is skipped.
# Eviction unpersists, so storage is bounded per family — the
# unbounded persist() this replaces leaked one CacheManager entry per
# distinct input forever.
_POSTING_MEMO = PlanMemo()
_SIG_MEMO = PlanMemo()
_SKETCH_MEMO = PlanMemo()


def hashed_shingle_sets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    arrow: bool = True,
) -> DataFrame:
    """(id, shingle hashes array<long>, set size) — shingles collapsed
    to 64-bit hashes immediately after shingling.

    Everything downstream (posting lists, joins, minhash) then moves
    8-byte longs instead of multi-word strings: smaller shuffles,
    cheaper comparisons. Collision risk at 2^64 is negligible for
    dedup (~1e-7 at 5M distinct shingles).

    ``arrow=True`` (default) shingles in an Arrow-batched mapInPandas
    pass: Spark's higher-order array functions (transform / filter /
    aggregate) are excluded from whole-stage codegen and evaluate
    interpreted per element, which makes expression-side shingling the
    hot spot; Python's C-speed string ops + blake2b beat it ~10×. The
    expression path (``arrow=False``) keeps a pure-JVM fallback with
    identical set semantics (hash values differ: xxhash64 vs blake2b —
    both engine-internal, never value-checked)."""
    if not arrow:
        return (
            df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__toks"))
            .select(
                "doc_id",
                F.transform(
                    shingles("__toks", n, pretokenized=True),
                    lambda s: F.xxhash64(s),
                ).alias("shingles"),
            )
            .withColumn("set_size", F.size("shingles"))
        )

    from collections.abc import Iterator

    import pandas as pd

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    id_type = src.schema["doc_id"].dataType.simpleString()

    def _shingle(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import blake2b

        for pdf in batches:
            out_ids, out_sh = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split() if text else []
                seen = {
                    int.from_bytes(
                        blake2b(
                            " ".join(toks[i : i + n]).encode(), digest_size=8
                        ).digest(),
                        "big",
                        signed=True,
                    )
                    for i in range(len(toks) - n + 1)
                }
                out_ids.append(doc_id)
                out_sh.append(list(seen))
            # object dtype: an all-short batch yields empty columns,
            # and pandas' float64 default breaks the array<long> cast
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_ids, dtype="object"),
                    "shingles": pd.Series(out_sh, dtype="object"),
                }
            )

    return src.mapInPandas(
        _shingle, f"doc_id {id_type}, shingles array<long>"
    ).withColumn("set_size", F.size("shingles"))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    arrow: bool = True,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard, blocked on shared
    shingles (inverted index).

    Plan: per-doc distinct shingles → explode → drop shingles shared by
    more than ``max_bucket_size`` docs (frequent-shingle cutoff: they
    generate quadratic candidates and carry no signal) → self-join on
    shingle (the inverted-index lookup) → per-pair intersection count
    via groupBy → Jaccard = |∩| / (|A|+|B|−|∩|) → threshold filter.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sets = hashed_shingle_sets(df, id_col, text_col, n, arrow=arrow).filter(
        F.col("set_size") > 0
    )
    # Memoize the posting list: it feeds the bucket-size profile AND
    # both sides of the self-join — without reuse the whole
    # tokenize→shingle→hash subtree is recomputed 4× per call, and
    # again on every repeated invocation. (At cluster scale the
    # persisted entry spills to disk per executor; still strictly
    # cheaper than re-shingling the corpus.)
    posting = _POSTING_MEMO.get_or_persist(
        sets.select("doc_id", "set_size", F.explode("shingles").alias("shingle"))
    )

    # r13 round-2 (guide §2.4, remove shuffles outright): frequent-
    # shingle cutoff + inverted-index lookup in ONE groupBy(shingle)
    # via _bucket_pairs instead of a window gate followed by a
    # self-join that shuffled the posting list twice. The old shape
    # kept singleton shingles through the gate and dropped them in the
    # join; _bucket_pairs drops them at the gate — same pair set.
    pairs = (
        _bucket_pairs(
            posting,
            "doc_id",
            "set_size",
            key_cols=("shingle",),
            max_bucket_size=max_bucket_size,
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.set_size").alias("size_a"),
            F.col("p.b.set_size").alias("size_b"),
        )
        .groupBy("doc_a", "doc_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return pairs


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    hash_fn: str = "blake2b",
) -> DataFrame:
    """(doc_id, signature) — MinHash signature over the distinct
    shingle set.

    ``hash_fn="blake2b"`` (default): k independent multiply-add
    (universal-hash) remixes of 64-bit blake2b shingle hashes, minimum
    per remix, as ``array<long>``. Computed in the same Arrow pass as
    shingling, vectorized with numpy: the (shingles × k) remix is one
    wrapping uint64 outer-product — ~100M ops/sec/core — where the
    equivalent expression-tree version (k array_min(transform(...))
    passes) runs interpreted per element.

    ``hash_fn="md5"``: component i = min over shingles of the 16-hex
    prefix of ``md5(f"{i}|{shingle}")``, as ``array<string>``. Slower
    (k md5 calls per shingle) but reproducible by ANY engine with md5
    — fixed-width hex strings compare in numeric order — so a DuckDB
    oracle can recompute the exact signatures, candidates, and
    estimated Jaccards. The differential-verification path; blake2b
    stays the scale default.

    Both are deterministic across runs, workers, and partition layouts
    (pure function of the text); signatures from different ``hash_fn``
    values are not comparable."""
    import numpy as np
    import pandas as pd
    from collections.abc import Iterator

    if hash_fn not in ("blake2b", "md5"):
        raise ValueError('hash_fn must be "blake2b" or "md5"')

    rng = np.random.default_rng(12345)  # fixed seed → fixed hash family
    A = rng.integers(1, 2**63 - 1, size=num_hashes, dtype=np.uint64) | np.uint64(1)
    B = rng.integers(0, 2**63 - 1, size=num_hashes, dtype=np.uint64)

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    id_type = src.schema["doc_id"].dataType.simpleString()

    def _sig(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import blake2b

        with np.errstate(over="ignore"):
            for pdf in batches:
                out_ids, out_sig = [], []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    toks = text.split() if text else []
                    if len(toks) < n:
                        continue
                    seen = {
                        blake2b(
                            " ".join(toks[i : i + n]).encode(), digest_size=8
                        ).digest()
                        for i in range(len(toks) - n + 1)
                    }
                    h = np.frombuffer(b"".join(sorted(seen)), dtype=">u8").astype(
                        np.uint64
                    )
                    # k universal-hash remixes, min over shingles
                    sig = (h[:, None] * A[None, :] + B[None, :]).min(axis=0)
                    out_ids.append(doc_id)
                    out_sig.append(sig.astype(np.int64).tolist())
                # explicit object dtype: a batch whose docs are ALL
                # shorter than n yields an empty frame, and pandas'
                # default float64 empty columns break Arrow's
                # list<long> conversion even at length 0
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(out_ids, dtype="object"),
                        "signature": pd.Series(out_sig, dtype="object"),
                    }
                )

    def _sig_md5(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from hashlib import md5

        # component i = min over shingles of the 16-hex prefix of
        # md5(f"{i}|{shingle}") — computed here as the min over the raw
        # 8-byte digest prefixes (hex is monotonic for equal-length
        # strings) with the "{i}|" prefixes pre-encoded and each shingle
        # encoded once, not num_hashes times; one hex conversion per
        # component instead of one per (component, shingle)
        prefixes = [b"%d|" % i for i in range(num_hashes)]
        for pdf in batches:
            out_ids, out_sig = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = text.split() if text else []
                if len(toks) < n:
                    continue
                enc = [
                    s.encode()
                    for s in {
                        " ".join(toks[i : i + n])
                        for i in range(len(toks) - n + 1)
                    }
                ]
                sig = [
                    min(md5(pre + sb).digest()[:8] for sb in enc).hex()
                    for pre in prefixes
                ]
                out_ids.append(doc_id)
                out_sig.append(sig)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_ids, dtype="object"),
                    "signature": pd.Series(out_sig, dtype="object"),
                }
            )

    if hash_fn == "md5":
        return src.mapInPandas(
            _sig_md5, f"doc_id {id_type}, signature array<string>"
        )
    return src.mapInPandas(_sig, f"doc_id {id_type}, signature array<long>")


def _bucket_pairs(
    banded: DataFrame,
    id_col: str,
    *payload_cols: str,
    key_cols: tuple[str, ...] = ("band", "key"),
    max_bucket_size: int | None = None,
) -> DataFrame:
    """All i<j member pairs within each bucket of ``banded``, generated
    inside ONE groupBy over the bucket key (r13 round-2, guide §2.4;
    r14 memory hardening, guide §2.5/§5).

    Returns rows with a single struct column ``p`` whose ``a``/``b``
    fields are member structs of ``(id_col, *payload_cols)`` with
    ``a.id < b.id`` — exactly the pairs the former bucket-key
    SELF-JOIN + ``id_a < id_b`` filter produced, for one wide shuffle
    instead of two. Singleton buckets generate nothing (the join
    dropped them too); NULL ids occupy their bucket (cap arithmetic
    unchanged) but never pair, and duplicate ids never self-pair —
    ``a.id < b.id`` is the join's filter applied verbatim.

    r14 (guide §2.5 skew / §5 memory): ``max_bucket_size`` is enforced
    BEFORE the wide ``collect_list``, by a window count over the SAME
    bucket key the aggregation groups on — the window rides the one
    existing exchange (same partitioning, no extra shuffle or job),
    its per-group buffer is disk-spillable
    (``ExternalAppendOnlyUnsafeRowArray``), and the ``<= cap`` filter
    drops every row of an over-cap bucket before the aggregation, so
    no ``collect_list`` buffer ever materializes more than ``cap``
    member structs. The r13 shape filtered on ``size(members)`` AFTER
    ``collect_list`` had buffered the whole bucket in one in-memory
    aggregation buffer — an executor OOM at 100 TB on a degenerate key
    (constant sketch, stopword-like shingle); now a degenerate key
    costs one spilling sort partition and is discarded. (The
    alternative — partial-agg counts + broadcast-anti-join of over-cap
    keys — would also drop the degenerate rows before the exchange,
    but was measured at +2 Spark jobs per call, +0.2-0.27 s on the two
    headline LSH paths, and consumes the banded source twice — an
    extra Arrow decode pass for the media callers. Retention is
    identical either way; window-count keeps the one-pass shape.)

    Pair generation is PER ANCHOR (posexplode + strictly-later suffix
    slice): peak per-row state is O(bucket) member structs, never the
    O(bucket²) flattened pair array of the r13 shape — so uncapped
    callers keep the old self-join's O(bucket) buffering profile.
    """
    keys = list(key_cols)
    if max_bucket_size is not None:
        banded = cap_groups(banded, keys, max_bucket_size)
    members = banded.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(F.struct(id_col, *payload_cols))
        ).alias("members")
    )
    # key columns ride along (pruned when the caller drops them)
    pairs = (
        members.filter(F.size("members") > 1)
        .select(
            *keys, "members", F.posexplode("members").alias("__i", "__a")
        )
        .select(
            *keys,
            "__a",
            F.explode(
                F.expr("slice(members, __i + 2, size(members) - __i - 1)")
            ).alias("__b"),
        )
        .select(
            *keys,
            F.struct(
                F.col("__a").alias("a"), F.col("__b").alias("b")
            ).alias("p"),
        )
    )
    # array_sort guarantees a.id <= b.id within each suffix; the strict
    # filter reproduces the old join's ``id_a < id_b`` exactly — NULL
    # ids never pair, duplicate ids never self-pair
    return pairs.filter(F.col(f"p.a.{id_col}") < F.col(f"p.b.{id_col}"))


def _band_array_expr(bands: int, rows_per_band: int):
    """``array(struct(band, bucket), ...)`` banding expression built as
    ONE parsed SQL string instead of ``bands × rows_per_band`` nested
    Column objects.

    The Column-object form costs hundreds of py4j round-trips per call
    (~0.5-0.8 s of driver latency at 16×4 — measured r13); the parsed
    form is one round-trip and yields the same expression tree: integer
    band literals and ``xxhash64(signature[i], ...)`` buckets, so bucket
    values (and therefore candidate pair sets) are bit-identical."""
    parts = ", ".join(
        "named_struct('band', {i}, 'bucket', xxhash64({args}))".format(
            i=i,
            args=", ".join(
                f"signature[{i * rows_per_band + r}]"
                for r in range(rows_per_band)
            ),
        )
        for i in range(bands)
    )
    return F.expr(f"array({parts})")


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH banding: hash each band of the signature to a bucket;
    docs sharing any (band, bucket) are candidate pairs.

    Shuffle key is (band_idx, band_hash) — 16 bytes — and the join
    output is bounded by bucket sizes, which ``max_bucket_size`` caps
    against degenerate buckets. Returns (doc_a, doc_b) distinct.
    """
    exploded = signatures.select(
        "doc_id",
        F.explode(_band_array_expr(bands, rows_per_band)).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    # r13 round-2 (guide §2.4, remove shuffles outright): the former
    # shape gated occupancy with a window count and then SELF-JOINED
    # the gated rows on (band, bucket) — physically two full shuffles
    # of the band rows plus a broadcast. _bucket_pairs generates the
    # i<j pairs inside ONE groupBy over the same 16-byte key; the
    # occupancy gate (2..max_bucket_size members) is unchanged.
    return (
        _bucket_pairs(
            exploded,
            "doc_id",
            key_cols=("band", "bucket"),
            max_bucket_size=max_bucket_size,
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    hash_fn: str = "blake2b",
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: signatures → band candidates
    → candidate verification with estimated Jaccard (fraction of
    matching signature positions). Returns (doc_a, doc_b, est_jaccard).

    ``hash_fn="md5"`` makes the whole pipeline engine-reproducible
    (see :func:`minhash_signatures`): the band bucket is still an
    xxhash64 of the band's components — the PAIR set only depends on
    component equality, so any engine that recomputes the md5
    signatures derives the identical candidate pairs without knowing
    the bucket hash.
    """
    # signatures feed banding + both verification joins — memoized or
    # the O(shingles × k) hash pass runs three times per call (see
    # ngram_jaccard_pairs)
    sigs = _SIG_MEMO.get_or_persist(
        minhash_signatures(df, id_col, text_col, n, num_hashes, hash_fn=hash_fn)
    )
    cands = minhash_lsh_candidates(sigs, bands, num_hashes // bands)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b"))
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda m: m,
                )
            ).cast("double")
            / F.lit(num_hashes),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def banded_buckets(
    sig: DataFrame, out_id: str, bands: int, rows_per_band: int
) -> DataFrame:
    """(out_id, band, bucket) rows — one per (doc, band), bucket =
    xxhash64 of the band's signature components. The 16-byte shuffle
    key every LSH join in this module blocks on."""
    return sig.select(
        F.col("doc_id").alias(out_id),
        F.explode(_band_array_expr(bands, rows_per_band)).alias("bb"),
    ).select(
        out_id, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


def _free_col(df: DataFrame, name: str) -> str:
    """``name``, prefixed with underscores until no column of ``df``
    carries it (compared case-insensitively, as the analyzer does) —
    an internal column that can never shadow or drop a caller's."""
    taken = {c.lower() for c in df.columns}
    while name.lower() in taken:
        name = "_" + name
    return name


def cap_groups(df: DataFrame, keys, max_size: int) -> DataFrame:
    """Drop every row of a ``keys`` group holding more than
    ``max_size`` rows — the occupancy gate of every bucket join.

    Window count, not groupBy + re-join: one pass over the rows,
    shuffled by the same key the downstream bucket join or
    aggregation uses (guide §2.4; row retention identical), and the
    per-group buffer spills. The count column is named free of
    ``df``'s columns, so caller columns pass through untouched."""
    n = _free_col(df, "__n")
    return (
        df.withColumn(n, F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .filter(F.col(n) <= max_size)
        .drop(n)
    )


def cap_buckets(b: DataFrame, max_bucket_size: int) -> DataFrame:
    """Drop rows in degenerate (band, bucket) buckets (> max
    occupancy). No n > 1 floor — in a CROSS-corpus join a singleton
    bucket still pairs with the other side's occupants (the self-join
    candidate path applies its own floor separately)."""
    return cap_groups(b, ("band", "bucket"), max_bucket_size)


def minhash_join_signatures(
    sig_l: DataFrame,
    sig_r: DataFrame,
    bands: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    num_hashes: int = 64,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH-blocked similarity join over two PRE-COMPUTED signature
    sets (``doc_id, signature``) — the machinery of
    :func:`minhash_join` factored out so callers that already hold
    signatures (the incremental gate's state table) skip the text
    pass. Returns (left_id, right_id, est_jaccard ≥ threshold)."""
    bl = cap_buckets(
        banded_buckets(sig_l, "left_id", bands, rows_per_band), max_bucket_size
    )
    br = cap_buckets(
        banded_buckets(sig_r, "right_id", bands, rows_per_band), max_bucket_size
    )
    cands = (
        bl.join(br, ["band", "bucket"]).select("left_id", "right_id").distinct()
    )
    sa = sig_l.select(
        F.col("doc_id").alias("left_id"), F.col("signature").alias("sig_a")
    )
    sb = sig_r.select(
        F.col("doc_id").alias("right_id"), F.col("signature").alias("sig_b")
    )
    return (
        cands.join(sa, "left_id")
        .join(sb, "right_id")
        .withColumn(
            "est_jaccard",
            F.size(
                F.filter(
                    F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                    lambda m: m,
                )
            ).cast("double")
            / F.lit(num_hashes),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("left_id", "right_id", "est_jaccard")
    )


def minhash_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    hash_fn: str = "blake2b",
) -> DataFrame:
    """LSH-blocked similarity JOIN across TWO corpora — the
    entity-resolution / contamination-check shape the self-join family
    can't express (train set × eval benchmark, new batch × existing
    corpus). Returns (left_id, right_id, est_jaccard ≥ threshold).

    Same machinery as :func:`minhash_dedup_pairs`, different pairing
    rule: signatures per side (one Arrow pass each, memoized), banding
    into (band, bucket) keys, but the bucket join pairs only
    LEFT×RIGHT rows — never within a side — and each side's bucket
    occupancy is capped independently, so a degenerate shingle
    costs at most ``max_bucket_size²`` per band, not corpus².

    At scale this is strictly cheaper than deduping the union: the
    union self-join would also generate within-side pairs just to
    throw them away, and its bucket cap would mix both sides'
    occupancy.
    """
    sig_l = _SIG_MEMO.get_or_persist(
        minhash_signatures(left, id_col, text_col, n, num_hashes, hash_fn=hash_fn)
    )
    sig_r = _SIG_MEMO.get_or_persist(
        minhash_signatures(right, id_col, text_col, n, num_hashes, hash_fn=hash_fn)
    )
    return minhash_join_signatures(
        sig_l,
        sig_r,
        bands,
        num_hashes // bands,
        threshold,
        num_hashes,
        max_bucket_size,
    )


def _driver_union_find(probe):
    """Union-find over collected (doc_a, doc_b) rows: returns the
    ``parent`` map plus a path-compressing ``find``. Roots are always
    the component MINIMUM (the larger root attaches under the
    smaller), matching the distributed min-label fixpoint exactly."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in probe:
        a, b = r[0], r[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # attach the larger root under the smaller → the final
            # root IS the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return parent, find


def near_dup_cluster_stats(
    pairs: DataFrame, driver_threshold: int = 1_000_000
) -> tuple[int, int] | None:
    """(clustered_docs, cluster_cnt) for the near-dup pair graph via
    the driver union-find, or ``None`` when the graph exceeds
    ``driver_threshold`` edges (caller falls back to
    :func:`near_dup_clusters` + a distributed aggregation).

    Exact algebra, not an approximation: ``clustered_docs`` is the
    number of distinct nodes in the pair graph and ``cluster_cnt`` the
    number of union-find roots — identical to
    ``near_dup_clusters(pairs).agg(count(*), Σ(doc_id = cluster_id))``
    because every component is labeled by its min member, which is the
    one self-labeled root (pinned by tests). Summary consumers skip
    the N-row createDataFrame round-trip plus its aggregation job and
    pay exactly one Spark job (the same size-gating limit-collect)."""
    probe = pairs.select("doc_a", "doc_b").limit(driver_threshold + 1).collect()
    if len(probe) > driver_threshold:
        return None
    parent, find = _driver_union_find(probe)
    roots = sum(1 for node in parent if find(node) == node)
    return len(parent), roots


def near_dup_panel_stats(
    pairs: DataFrame, driver_threshold: int = 1_000_000
) -> tuple[int, int, int, float] | None:
    """(clustered_docs, cluster_cnt, pair_cnt, jaccard_sum) for the
    near-dup pair graph in ONE gating limit-collect, or ``None`` when
    the graph exceeds ``driver_threshold`` edges (caller falls back to
    the distributed aggregations).

    Superset of :func:`near_dup_cluster_stats` for panel consumers
    that also need the pair-level rollup: when the gate already pulls
    every edge to the driver for the union-find, the pair count and
    Jaccard sum are free — charging a second Spark aggregation job for
    them re-reads data the driver is already holding.

    ``jaccard_sum`` reproduces ``round(sum(jaccard), 4)`` exactly:
    ``math.fsum`` is the correctly-rounded double sum (order
    independent, at most 1 ulp from Spark's partition-ordered sum —
    equality on the fixed corpora is pinned by test) and the HALF_UP
    quantize matches Spark's ``Round`` (``BigDecimal.valueOf(d)``,
    i.e. shortest-repr decimal, ``setScale(4, HALF_UP)``).

    ACCEPTED TOLERANCE (r14, ADVICE): on arbitrary data the 1-ulp
    pre-round difference between fsum and Spark's partition-ordered
    double sum can flip the 4th decimal when the true sum sits within
    ~1 ulp of a .00005 boundary — the driver gate, the distributed
    fallback, and a re-derived oracle could then disagree by 1e-4.
    This is inherent to publishing ANY rounded float aggregate from a
    non-associative sum (Spark's own value is partition-order-
    dependent there too, so no driver-side accumulation order can
    track it in general; fsum is the unique order-independent choice).
    The verification corpora are fixed and nowhere near a boundary
    (pinned at sf0.001/0.01/0.1 by
    test_panel_stats_match_distributed_aggregations); consumers
    comparing across engines on other data should compare jaccard_sum
    with a 1e-4 epsilon.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    probe = (
        pairs.select("doc_a", "doc_b", "jaccard")
        .limit(driver_threshold + 1)
        .collect()
    )
    if len(probe) > driver_threshold:
        return None
    parent, find = _driver_union_find(probe)
    roots = sum(1 for node in parent if find(node) == node)
    jac_sum = float(
        Decimal(repr(math.fsum(r[2] for r in probe))).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP
        )
    )
    return len(parent), roots, len(probe), jac_sum


def near_dup_clusters(
    pairs: DataFrame, max_iter: int = 20, driver_threshold: int = 1_000_000
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = min doc_id in the component.

    The pair graph is EDGES BETWEEN NEAR-DUPLICATES — typically many
    orders of magnitude smaller than the corpus that produced it — so
    when it fits comfortably on the driver (``<= driver_threshold``
    edges, counted first) components are resolved with an in-memory
    union-find in one collect: identical semantics, two Spark jobs
    instead of ~4 per propagation round. The same size-gated strategy
    choice as a broadcast join.

    Above the threshold: iterative min-label propagation with pointer
    doubling — each round every node adopts the smallest label among
    itself and its neighbors, then shortcuts to its label's label —
    converging in O(log component diameter) rounds, so even a
    path-shaped component of 2^20 nodes resolves well inside the
    default ``max_iter``. Pure DataFrame joins; each round is
    localCheckpoint'ed (the doubling self-join would otherwise grow
    the logical plan exponentially). Warns loudly if the loop exhausts
    ``max_iter`` without converging (truncated labels would silently
    keep multiple representatives per true cluster in
    :func:`deduplicate_near`).
    """
    # ONE gating job: collect up to threshold+1 edges — when the limit
    # is not hit, the collected rows ARE the union-find input, so the
    # driver path pays a single Spark job instead of the former
    # probe-count + collect pair (measured ~0.2 s/call at local[32]);
    # when it is hit, the partial collect is discarded and the
    # distributed loop below runs (same strategy choice as before)
    probe = pairs.select("doc_a", "doc_b").limit(driver_threshold + 1).collect()
    if len(probe) <= driver_threshold:
        id_type = pairs.schema["doc_a"].dataType.simpleString()
        parent, find = _driver_union_find(probe)
        rows = [(node, find(node)) for node in parent]
        # an RDD-backed frame, not session.local_frame: up to ~2M rows
        # land here, and a LocalRelation that large has every filter
        # over it evaluated on the driver (ConvertToLocalRelation) — a
        # 1M-edge chain through deduplicate_near took ~13.9 s that way
        # against ~12.5 s here (local[4], 4 vCPUs)
        return pairs.sparkSession.createDataFrame(
            rows, f"doc_id {id_type}, cluster_id {id_type}"
        )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .persist()
    )
    # Convergence detection. For NUMERIC ids, no per-round join is
    # needed: labels only ever DECREASE (min over self+neighbors, then
    # shortcut to a smaller ancestor), so the total label sum is
    # strictly monotone until the fixpoint — equal consecutive sums ⟺
    # nothing changed. Decimal sum so a 100-TB-scale id space can't
    # overflow the accumulator. For NON-numeric ids (string/UUID doc
    # ids) that cast yields NULL and the sum would be None every round
    # — falsely "converged" after one round — so those take an exact
    # changed-row existence check (join old vs new, stop at the first
    # differing label) instead.
    from pyspark.sql.types import NumericType

    id_is_numeric = isinstance(
        pairs.schema["doc_a"].dataType, NumericType
    )

    def _label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("cluster_id").cast("decimal(38,0)"))
        ).first()[0]

    def _any_changed(old: DataFrame, new: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), "doc_id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()
            > 0
        )

    prev_sum = _label_sum(labels) if id_is_numeric else None
    converged = False
    for _ in range(max_iter):
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select(F.col("src").alias("doc_id"), "cluster_id")
        )
        min_labels = (
            labels.unionByName(neighbor_labels)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )
        # pointer doubling: shortcut each node to its label's label.
        # Labels are always node ids (min over self+neighbors), so the
        # parent lookup is a self-join; label(x) <= x keeps it monotone.
        parent = min_labels.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("__grand"),
        )
        # localCheckpoint (not persist): the self-join references
        # min_labels TWICE, so without truncation the logical plan
        # doubles every round — exponential plan growth that OOMs the
        # driver on analysis alone. Checkpoint materializes the round
        # and resets lineage to a leaf.
        new_labels = (
            min_labels.join(parent, "cluster_id", "left")
            .select(
                "doc_id",
                F.coalesce("__grand", "cluster_id").alias("cluster_id"),
            )
            .localCheckpoint(eager=True)
        )
        if id_is_numeric:
            cur_sum = _label_sum(new_labels)
            changed = cur_sum != prev_sum
            prev_sum = cur_sum
        else:
            changed = _any_changed(labels, new_labels)
        labels.unpersist()  # previous round's labels are dead now
        labels = new_labels
        if not changed:
            converged = True
            break
    edges.unpersist()
    if not converged:
        import warnings

        warnings.warn(
            f"near_dup_clusters did not converge within max_iter={max_iter} "
            "rounds; cluster assignments may be split across components. "
            "Raise max_iter (rounds needed ~ log2(component diameter)).",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


def deduplicate_near(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Canonical near-dedup: keep one representative (the min-id
    member) per near-dup cluster, plus every unpaired document.
    The materialization step that turns pair detection into an
    actually-deduplicated corpus.

    Pass precomputed ``clusters`` (from :func:`near_dup_clusters`)
    when you already ran the component loop — it is iterative and
    should never run twice on the same pairs."""
    if clusters is None:
        clusters = near_dup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return df.join(
        losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    arrow: bool = True,
) -> DataFrame:
    """(doc_id, simhash long) — 64-bit SimHash over token hashes.

    For each bit position, majority vote of token-hash bits (+1/−1),
    folded into one long. Default path is Arrow-batched mapInPandas
    with a fully vectorized numpy bit matrix (the same trade as
    ``hashed_shingle_sets``: the 64 per-bit array aggregates are
    interpreted JVM-side and dominate). ``arrow=False`` keeps a
    pure-expression JVM fallback.

    .. warning:: Sketches are NOT comparable across paths. Both place
       the vote for bit *i* at bit position *i*, but the token hash
       differs (blake2b on the Arrow path — not expressible as a JVM
       expression — vs xxhash64 on the fallback), so the same corpus
       yields different sketch values. Build AND compare sketches
       (:func:`simhash_near_pairs`) with one path; never mix sketches
       persisted from one path with candidates from the other.
    """
    if arrow:
        from collections.abc import Iterator as _Iter

        import pandas as pd

        src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        id_type = src.schema["doc_id"].dataType.simpleString()

        def _simhash(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
            from hashlib import blake2b

            import numpy as np

            shifts = np.arange(bits, dtype=np.uint64)
            weights = np.uint64(1) << shifts
            for pdf in batches:
                out = []
                for text in pdf["text"]:
                    toks = set(text.split()) if text else set()
                    if not toks:
                        out.append(0)
                        continue
                    hs = np.frombuffer(
                        b"".join(
                            blake2b(t.encode(), digest_size=8).digest()
                            for t in sorted(toks)
                        ),
                        dtype=np.uint64,
                    )
                    votes = (
                        ((hs[:, None] >> shifts) & np.uint64(1)).astype(np.int64) * 2
                        - 1
                    ).sum(axis=0) > 0
                    packed = (votes.astype(np.uint64) * weights).sum(
                        dtype=np.uint64
                    )
                    out.append(int(packed.astype(np.int64)))
                yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

        return src.mapInPandas(_simhash, f"doc_id {id_type}, simhash long")

    # materialize token hashes into a bound column FIRST: the 64
    # bit-vote aggregates each take it as their collection argument,
    # and interpreted HOFs re-evaluate an outer expression per
    # aggregate — tokenize+distinct+hash 64× per row without this
    src = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(F.array_distinct(tokens(text_col)), lambda t: F.xxhash64(t)).alias(
            "__th"
        ),
    )
    token_hashes = F.col("__th")
    # Shift amounts must be compile-time ints, so the 64 bit-vote
    # aggregates are unrolled in Python — one projection over the
    # bound hash array.
    def vote(i: int):
        return (
            F.when(
                F.aggregate(
                    token_hashes,
                    F.lit(0).cast("long"),
                    lambda acc, h: acc
                    + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1),
                )
                > 0,
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    # shiftleft|bitwiseOR instead of *2+bit: bit ops don't trip ANSI
    # overflow checks when the sign bit fills. Vote for bit i lands at
    # bit position i — same packing order as the Arrow path.
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim.bitwiseOR(F.shiftleft(vote(i), i))
    return src.select("doc_id", sim.alias("simhash"))


def simhash_md5(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
) -> DataFrame:
    """(doc_id, sketch) — SimHash as a ``bits``-char '0'/'1' string,
    with md5 token hashing: bit *i* of a token's vote vector is bit
    ``63-i`` of the integer parsed from the first 16 hex chars of
    ``md5(token)`` (i.e. read the hex digest left to right). Majority
    vote per position; ties and empty docs go to '0'.

    The engine-reproducible twin of :func:`simhash`: md5 is identical
    everywhere, and the string sketch needs no 64-bit unsigned
    arithmetic, so a SQL oracle can recompute sketches, bands, and
    Hamming distances exactly. Use :func:`simhash_near_pairs_str` for
    candidate search over these sketches."""
    from collections.abc import Iterator as _Iter

    import pandas as pd

    src = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    id_type = src.schema["doc_id"].dataType.simpleString()

    def _sketch(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        from hashlib import md5

        import numpy as np

        # bit (bits-1-i) of int(hexdigest[:bits//4], 16) IS bit i of the
        # digest read MSB-first, so the per-token vote vector is one
        # np.unpackbits of the digest prefix — the bits-wide Python
        # vote loop per token collapses to one vectorized column sum
        # per doc (votes = 2·ones − n_tokens). Token digests repeat
        # heavily across docs (shared vocabulary): cache the 8-byte
        # digest per distinct token, capped so task memory stays
        # bounded on huge vocabularies.
        nb = (bits + 7) // 8
        cache: dict[str, bytes] = {}
        for pdf in batches:
            out = []
            for text in pdf["text"]:
                toks = set(text.split()) if text else set()
                if not toks:
                    out.append("0" * bits)
                    continue
                parts = []
                for t in toks:
                    d = cache.get(t)
                    if d is None:
                        d = md5(t.encode()).digest()[:nb]
                        if len(cache) < (1 << 20):
                            cache[t] = d
                    parts.append(d)
                m = np.unpackbits(
                    np.frombuffer(b"".join(parts), dtype=np.uint8)
                ).reshape(-1, nb * 8)[:, :bits]
                votes = 2 * m.sum(axis=0, dtype=np.int64) - len(parts)
                out.append("".join("1" if s > 0 else "0" for s in votes))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sketch": out})

    return src.mapInPandas(_sketch, f"doc_id {id_type}, sketch string")


def simhash_near_pairs_str(
    sketches: DataFrame,
    max_hamming: int = 3,
    band_chars: int = 16,
    bits: int = 64,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs over string sketches (:func:`simhash_md5`) by
    Hamming distance ≤ ``max_hamming``, blocked on ``band_chars``-wide
    bands (same pigeonhole as :func:`simhash_near_pairs`). ``bits``
    must match the sketch width the sketches were built with —
    a mismatch would slice empty band keys that bucket everything
    together and count positions that don't exist. Hamming is a
    per-position compare of the two sketch strings — a bound-array HOF
    evaluated only on banded candidates. Returns
    (doc_a, doc_b, hamming).

    ``max_bucket_size`` (default ``None`` — unchanged uncapped
    semantics, every band-collision surfaces) drops degenerate band
    buckets, e.g. the all-zero sketch of empty docs congregating in
    one band key; at 100 TB set it (the pairs a dropped bucket loses
    are exactly the quadratic-noise candidates the cutoff exists to
    shed)."""
    width = bits
    if width % band_chars:
        raise ValueError(
            f"bits={width} must be a multiple of band_chars={band_chars}"
        )
    nbands = width // band_chars
    # both sides of the band join read the sketches — memoized (see
    # ngram_jaccard_pairs)
    sketches = _SKETCH_MEMO.get_or_persist(sketches)
    banded = sketches.select(
        "doc_id",
        "sketch",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.substring(
                            "sketch", b * band_chars + 1, band_chars
                        ).alias("key"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sketch", F.col("bb.band").alias("band"), F.col("bb.key").alias("key"))

    # r13 round-2 (guide §2.4): pairs generated inside ONE
    # groupBy(band, key) instead of a window-less self-join that
    # shuffled the banded rows twice — same pair set (docs sharing a
    # band key, doc_a < doc_b via the sorted member array; singleton
    # groups generate nothing, exactly the rows the join produced)
    mismatches = F.aggregate(
        F.sequence(F.lit(1), F.lit(width)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            F.col("sk_a").substr(i, F.lit(1)) == F.col("sk_b").substr(i, F.lit(1)),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    return (
        _bucket_pairs(banded, "doc_id", "sketch", max_bucket_size=max_bucket_size)
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.sketch").alias("sk_a"),
            F.col("p.b.sketch").alias("sk_b"),
        )
        .select("doc_a", "doc_b", mismatches.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _check_simhash_bands(
    max_hamming: int, band_bits: int, strict_recall: bool
) -> int:
    """Pigeonhole precondition shared by every banded simhash join:
    with ``64 // band_bits`` bands, a pair is GUARANTEED to collide on
    some band only when its Hamming distance is < nbands. A
    ``band_bits`` that does not divide 64 silently leaves sketch bits
    outside every band — always an error. A ``max_hamming`` at or
    above nbands means BEST-EFFORT recall (pairs whose differing bits
    touch every band are missed): an error under ``strict_recall``,
    permitted otherwise."""
    if 64 % band_bits:
        raise ValueError(f"band_bits={band_bits} must divide 64")
    nbands = 64 // band_bits
    if strict_recall and max_hamming >= nbands:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the recall guarantee of "
            f"{nbands} bands (guaranteed only for hamming < {nbands}); "
            f"use smaller band_bits (more bands), or pass "
            f"strict_recall=False to accept best-effort recall"
        )
    return nbands


def simhash_banded(
    sketches: DataFrame,
    out_id: str,
    band_bits: int,
    sketch_out: str,
    max_bucket_size: int | None = None,
    extra_key_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(out_id, sketch_out, *extra_key_cols, band, key) rows — the
    64-bit sketch split into ``band_bits``-bit band keys; the blocking
    every banded simhash join shares. ``max_bucket_size`` optionally
    drops degenerate band keys (the all-zero sketch of empty docs).
    ``extra_key_cols`` are carried through from ``sketches`` AND
    included in the bucket-cap grouping, so heterogeneous sketch
    spaces (e.g. image vs audio modalities) get independent caps
    instead of sharing one bucket on a band-key collision."""
    nbands = 64 // band_bits
    mask = (1 << band_bits) - 1
    extra = list(extra_key_cols)
    b = sketches.select(
        F.col("doc_id").alias(out_id),
        F.col("simhash").alias(sketch_out),
        *extra,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned("simhash", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select(
        out_id,
        sketch_out,
        *extra,
        F.col("bb.band").alias("band"),
        F.col("bb.key").alias("key"),
    )
    if max_bucket_size is not None:
        # r14 (guide §2.4, cap_groups): occupancy gate as a
        # window count over the SAME key the downstream band join
        # shuffles on — one pass on a shared exchange instead of a
        # size profile + re-join that shuffled the banded rows twice.
        # Row retention identical for every consumer (all follow with
        # an inner equi-join on these keys, which drops NULL-key rows
        # in both shapes; no n > 1 floor — cross-corpus singletons
        # still pair with the other side).
        b = cap_groups(b, extra + ["band", "key"], max_bucket_size)
    return b


def simhash_near_pairs(
    sketches: DataFrame,
    max_hamming: int = 3,
    band_bits: int = 16,
    strict_recall: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``,
    blocked on 16-bit bands (a pair within Hamming 3 of a 64-bit sketch
    must agree exactly on at least one of the 4 bands — pigeonhole).
    Returns (doc_a, doc_b, hamming).

    ``max_bucket_size`` (default ``None`` — unchanged uncapped
    semantics) drops degenerate band buckets (e.g. all-zero sketches
    of empty docs sharing every band key); set it at 100 TB scale."""
    # best-effort by default for back-compat: max_hamming above the
    # band guarantee still surfaces whatever candidates band-collide
    _check_simhash_bands(max_hamming, band_bits, strict_recall)
    # used by both sides of the band join — memoized (see
    # ngram_jaccard_pairs)
    sketches = _SKETCH_MEMO.get_or_persist(sketches)
    banded = simhash_banded(sketches, "doc_id", band_bits, "simhash")

    # r13 round-2 (guide §2.4): pairs generated inside ONE
    # groupBy(band, key) instead of a self-join shuffling the banded
    # rows twice — same pair set (doc_a < doc_b via the sorted member
    # array; singletons generate nothing, as in the join)
    return (
        _bucket_pairs(banded, "doc_id", "simhash", max_bucket_size=max_bucket_size)
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    band_bits: int = 16,
    max_bucket_size: int = 2000,
    arrow: bool = True,
    strict_recall: bool = True,
) -> DataFrame:
    """SimHash similarity JOIN across TWO corpora — completes the
    cross-corpus family (:func:`minhash_join` for shingle Jaccard,
    :func:`similarity.embedding_join` for vectors, this for the
    64-bit-sketch regime where per-doc state must be smallest).

    Both sides are sketched with the SAME path (sketches are not
    comparable across arrow/expression paths — see :func:`simhash`),
    banded on ``band_bits``-bit keys (pigeonhole: Hamming ≤ 3 of 64
    bits ⇒ at least one of the 4 bands agrees exactly), and the band
    join pairs only LEFT×RIGHT. Each side's band-key occupancy is
    capped independently (the all-zero sketch of empty docs would
    otherwise cross-pair every empty doc on both sides).
    Returns (left_id, right_id, hamming ≤ max_hamming).
    """
    _check_simhash_bands(max_hamming, band_bits, strict_recall)
    sk_l = _SKETCH_MEMO.get_or_persist(simhash(left, id_col, text_col, arrow=arrow))
    sk_r = _SKETCH_MEMO.get_or_persist(simhash(right, id_col, text_col, arrow=arrow))
    bl = simhash_banded(sk_l, "left_id", band_bits, "sh_a", max_bucket_size)
    br = simhash_banded(sk_r, "right_id", band_bits, "sh_b", max_bucket_size)
    return (
        bl.join(br, ["band", "key"])
        .select(
            "left_id",
            "right_id",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def bucket_cap_stats(
    df: DataFrame,
    method: str = "minhash",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    num_hashes: int = 64,
    bands: int = 16,
    band_bits: int = 16,
    max_bucket_size: int = 1000,
    arrow: bool = True,
) -> DataFrame:
    """Cap-hit observability for the bucketed dedup blockings.

    Every blocking in this family trades recall for boundedness
    silently at runtime: the n-gram frequent-shingle cutoff, the
    MinHash (band, bucket) occupancy cap, and the SimHash (band, key)
    occupancy cap all DROP rows in degenerate buckets.  On a skewed
    corpus (boilerplate, empty docs, template spam) that loss should
    surface as a number, not a silent recall drop — this 1-row panel
    reports it without running the join itself:

    ``(method, cap, buckets_total, buckets_capped, rows_in_capped,
    pairs_lost_ub, max_bucket)``

    ``pairs_lost_ub`` is the upper bound on lost candidate pairs —
    Σ n·(n−1)/2 over capped buckets (an upper bound because a pair may
    also co-occur in an uncapped bucket and survive there).

    Cost: the same sketch/banding pass the real operator runs, plus
    one groupBy-count — no candidate join.  For the cross-corpus joins
    (``minhash_join`` / ``simhash_join`` / ``media_near_dup_pairs``),
    run this per side: each side's occupancy is capped independently.
    """
    if method == "ngram":
        sets = hashed_shingle_sets(df, id_col, text_col, n, arrow=arrow).filter(
            F.col("set_size") > 0
        )
        sizes = (
            sets.select(F.explode("shingles").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
        )
    elif method == "minhash":
        sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
        sizes = (
            banded_buckets(sigs, "doc_id", bands, num_hashes // bands)
            .groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
        )
    elif method == "simhash":
        sk = simhash(df, id_col, text_col, arrow=arrow)
        sizes = (
            simhash_banded(sk, "doc_id", band_bits, "sh")
            .groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("bucket_n"))
        )
    else:
        raise ValueError(
            f"unknown blocking method {method!r} (ngram/minhash/simhash)"
        )
    cap = max_bucket_size
    nn = F.col("bucket_n")
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("buckets_total"),
        F.coalesce(F.sum((nn > cap).cast("long")), F.lit(0))
        .cast("long")
        .alias("buckets_capped"),
        F.coalesce(F.sum(F.when(nn > cap, nn)), F.lit(0))
        .cast("long")
        .alias("rows_in_capped"),
        F.coalesce(F.sum(F.when(nn > cap, nn * (nn - F.lit(1)) / 2)), F.lit(0))
        .cast("long")
        .alias("pairs_lost_ub"),
        F.coalesce(F.max(nn), F.lit(0)).cast("long").alias("max_bucket"),
    ).select(
        F.lit(method).alias("method"),
        F.lit(cap).cast("long").alias("cap"),
        "*",
    )
