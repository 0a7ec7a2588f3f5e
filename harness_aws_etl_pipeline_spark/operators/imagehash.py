"""[EXT] Perceptual image hashing + image near-duplicate detection.

Multimodal corpora need the image twin of text MinHash: re-encoded,
resized, or slightly-edited copies of the same picture share no bytes
(so exact content-hash dedup misses them) but look identical.  The
standard tools are 64-bit perceptual hashes compared by Hamming
distance:

- **aHash** (average): 8×8 grayscale, bit = pixel > mean.  Cheapest,
  weakest (brightness shifts flip every bit).
- **dHash** (difference): 9×8 grayscale, bit = left < right neighbor.
  Gradient-based, immune to global brightness shifts.
- **pHash** (DCT): 32×32 grayscale → orthonormal 2-D DCT-II → the
  low-frequency 8×8 block, bit = coefficient > median(AC terms).
  Robust to resize/recompression because JPEG-style noise lives in the
  high frequencies the hash never looks at.  (The DC bit compares the
  image mean against the AC median — effectively constant — so pHash
  carries ~63 useful bits; the classic published behavior.)

All three produce a single ``long`` per image, so everything
downstream of sketching is SHARED with text SimHash: the banded
Hamming join (``dedup_fuzzy.simhash_banded`` — pigeonhole: a pair
within Hamming 3 of 64 bits agrees exactly on one of the four 16-bit
bands) and ``bit_count(a XOR b)`` verification run unchanged on image
sketches.

Decoding uses the REAL pure-numpy codecs in ``operators/multimodal``
(PPM/BMP/PNG/baseline-JPEG/GIF) — no PIL/ffmpeg in this environment.
Undecodable or NULL payloads get a NULL sketch and are excluded from
pairing, never crash the job (same tolerance contract as
``similarity._vec_matrix``).

Scale design (100 TB of images):
- Hashing is ``mapInPandas``: Arrow-batched binary in, one 8-byte
  long out — the shuffle after sketching carries (id, long), i.e.
  nothing of the image survives past the map stage.
- Pairing is the banded join: shuffle key is (band, 16-bit key); hot
  buckets (e.g. the all-black thumbnail sketch) capped via
  ``max_bucket_size`` exactly like text SimHash.

No DuckDB oracle: SQL cannot decode image bytes.  Correctness is
pinned by tests/test_imagehash.py instead — hash invariances
(identical bytes, NN-rescale, brightness shift for dHash/pHash),
discrimination (structurally different images far apart), and planted
near-dup recovery through the band join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.operators.memo import PlanMemo

__all__ = [
    "ahash64",
    "dhash64",
    "phash64",
    "image_hashes",
    "image_near_dup_pairs",
]

_METHODS = ("phash", "dhash", "ahash")

# r14 (guide §6 read amortization): memoize the (tiny: id + 8-byte
# sketch) hash rows so repeated panel calls skip the image decode
# entirely — the same pattern text SimHash already uses
# (``dedup_fuzzy._SKETCH_MEMO``); the decode is by far the dominant
# cost of this operator and was re-run on every invocation.
_SKETCH_MEMO = PlanMemo()


def _to_gray(arr, out_h: int, out_w: int):
    """(h, w, 3) uint8 → (out_h, out_w) float64 grayscale via
    nearest-neighbor index sampling (deterministic, no interpolation
    library).  Rec.601 luma weights."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    small = arr[ys][:, xs].astype(np.float64)
    return small[:, :, 0] * 0.299 + small[:, :, 1] * 0.587 + small[:, :, 2] * 0.114


def _bits_to_long(bits) -> int:
    """64 bools (row-major) → signed 64-bit int (bit 0 = MSB of the
    conceptual hash, matching the string form people print)."""
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def ahash64(arr) -> int:
    g = _to_gray(arr, 8, 8)
    return _bits_to_long((g > g.mean()).ravel())


def dhash64(arr) -> int:
    g = _to_gray(arr, 8, 9)  # 8 rows × 9 cols → 8×8 horizontal gradients
    return _bits_to_long((g[:, :-1] < g[:, 1:]).ravel())


_DCT32 = None


def _dct_basis():
    """Orthonormal 32×32 DCT-II basis (cached; D @ X @ D.T is the 2-D
    transform)."""
    global _DCT32
    if _DCT32 is None:
        import numpy as np

        n = 32
        k = np.arange(n)[:, None]
        m = np.arange(n)[None, :]
        d = np.sqrt(2.0 / n) * np.cos(np.pi * (2 * m + 1) * k / (2 * n))
        d[0] /= np.sqrt(2.0)
        _DCT32 = d
    return _DCT32


def phash64(arr) -> int:
    import numpy as np

    g = _to_gray(arr, 32, 32)
    d = _dct_basis()
    coefs = (d @ g @ d.T)[:8, :8].ravel()
    med = float(np.median(coefs[1:]))  # AC median; DC excluded
    return _bits_to_long(coefs > med)


_HASHERS = {"ahash": ahash64, "dhash": dhash64, "phash": phash64}


def image_hashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    method: str = "phash",
) -> DataFrame:
    """(id_col, simhash) — the 64-bit perceptual sketch per image.

    Column is named ``simhash`` deliberately: the output plugs
    straight into ``dedup_fuzzy.simhash_near_pairs`` /
    ``simhash_banded``.  Undecodable payloads → NULL sketch.
    """
    if method not in _METHODS:
        raise ValueError(f"method must be one of {_METHODS}, got {method!r}")
    from collections.abc import Iterator as _Iter

    import pandas as pd

    from harness_aws_etl_pipeline_spark.operators.multimodal import decode_image

    hasher = _HASHERS[method]

    def _hash(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            out = []
            for payload in pdf[payload_col]:
                try:
                    out.append(hasher(decode_image(payload)))
                except (ValueError, TypeError, IndexError):
                    out.append(None)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": pd.array(out, dtype="Int64")}
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, payload_col).mapInPandas(
        _hash, f"{id_col} {id_type}, simhash long"
    )


def image_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    method: str = "phash",
    max_hamming: int = 3,
    band_bits: int = 16,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Image near-duplicate pairs: sketch, then the SAME banded
    Hamming join text SimHash uses.  Returns (doc_a, doc_b, hamming).

    NULL sketches (undecodable images) are dropped before banding —
    they cannot be judged and must not congregate in a NULL bucket.

    Staleness: the sketch rows are memoized per input plan and assume
    their inputs are immutable for the session — payload files
    rewritten in place serve the old sketches until
    :func:`clear_all_memos`.
    """
    from harness_aws_etl_pipeline_spark.operators.dedup_fuzzy import (
        _bucket_pairs,
        _check_simhash_bands,
        simhash_banded,
    )

    _check_simhash_bands(max_hamming, band_bits, strict_recall=True)
    sketches = _SKETCH_MEMO.get_or_persist(
        image_hashes(df, payload_col, id_col, method)
        .filter(F.col("simhash").isNotNull())
        .withColumnRenamed(id_col, "doc_id")
    )
    # r13 round-2 (guide §2.4): pairs generated inside ONE
    # groupBy(band, key) via _bucket_pairs instead of the banded
    # self-join (two shuffles); the occupancy cap rides the group gate
    # — identical retention
    banded = simhash_banded(sketches, "doc_id", band_bits, "simhash")
    return (
        _bucket_pairs(
            banded, "doc_id", "simhash", max_bucket_size=max_bucket_size
        )
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
