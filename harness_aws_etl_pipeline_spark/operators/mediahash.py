"""[EXT] Unified mixed-media near-duplicate detection.

Real multimodal tables hold images AND audio in one binary column.
This module routes each payload by its magic bytes to the right
perceptual hasher (``imagehash.phash64`` for PNG/JPEG/GIF/PPM/BMP,
``audiohash.afp64`` for RIFF/WAVE), then runs ONE banded Hamming join
with the MODALITY IN THE BAND KEY — a 64-bit image sketch and a 64-bit
audio sketch live in unrelated spaces, and without the modality guard
a band collision between them would surface a meaningless
"image≈audio" pair.

Undecodable/unknown payloads get a NULL modality and never pair.
Everything else (banding guarantees, hot-bucket caps, ``bit_count``
verification) is the shared SimHash machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from harness_aws_etl_pipeline_spark.operators.memo import PlanMemo

__all__ = ["media_hashes", "media_near_dup_pairs"]

# r14 (guide §6 read amortization): memoize the (tiny: id + sketch +
# modality) hash rows so repeated panel calls skip the payload decode
# entirely — the same pattern text SimHash already uses
# (``dedup_fuzzy._SKETCH_MEMO``); the decode is by far the dominant
# cost of this operator and was re-run on every invocation.
_SKETCH_MEMO = PlanMemo()

_IMAGE_MAGICS = (b"\x89PNG", b"\xff\xd8", b"GIF8", b"P6", b"BM")


def _classify(payload: bytes) -> str | None:
    if payload is None:
        return None
    head = bytes(payload[:12])
    for m in _IMAGE_MAGICS:
        if head.startswith(m):
            return "image"
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        return "audio"
    if head[:4] == b"RIFF" and head[8:12] == b"AVI ":
        return "video"
    return None


_VIDEO_SAMPLE_FRAMES = 8


def _video_sketch64(payload: bytes) -> int:
    """64-bit clip sketch: per-frame pHash over up to
    ``_VIDEO_SAMPLE_FRAMES`` evenly-sampled frames, folded by BITWISE
    MAJORITY — one flipped/trimmed frame moves at most a minority of
    votes per bit, so near-identical clips land a small Hamming
    distance apart while the sketch stays a single long that rides the
    existing banded join unchanged."""
    from harness_aws_etl_pipeline_spark.operators.imagehash import phash64
    from harness_aws_etl_pipeline_spark.operators.video import (
        decode_avi_frames,
        probe_avi,
    )

    meta = probe_avi(payload)
    n = meta["frames"] or 1
    every = max(1, n // _VIDEO_SAMPLE_FRAMES)
    frames = decode_avi_frames(
        payload, every_n=every, max_frames=_VIDEO_SAMPLE_FRAMES
    )
    if not frames:
        raise ValueError("no decodable frames")
    hashes = [phash64(f) for f in frames]
    out = 0
    half = len(hashes) / 2.0
    for bit in range(64):
        votes = sum((h >> bit) & 1 for h in hashes)
        if votes > half or (votes == half and (hashes[0] >> bit) & 1):
            out |= 1 << bit
    # to signed 64-bit (the sketch column is a Spark long)
    return out - (1 << 64) if out >= 1 << 63 else out


def media_hashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, modality, simhash) — modality-routed perceptual
    sketches (image pHash, audio afp, video = bitwise-majority fold of
    sampled-frame pHashes); NULL modality/sketch for unknown or
    undecodable payloads."""
    from collections.abc import Iterator as _Iter

    import pandas as pd

    from harness_aws_etl_pipeline_spark.operators.audiohash import afp64
    from harness_aws_etl_pipeline_spark.operators.imagehash import phash64
    from harness_aws_etl_pipeline_spark.operators.multimodal import (
        decode_image,
        decode_wav,
    )

    def _hash(batches: "_Iter[pd.DataFrame]") -> "_Iter[pd.DataFrame]":
        for pdf in batches:
            modes, sketches = [], []
            for payload in pdf[payload_col]:
                mode = _classify(payload)
                sketch = None
                try:
                    if mode == "image":
                        sketch = phash64(decode_image(payload))
                    elif mode == "audio":
                        frames, rate = decode_wav(payload)
                        sketch = afp64(frames, rate)
                    elif mode == "video":
                        sketch = _video_sketch64(bytes(payload))
                except (ValueError, TypeError, IndexError):
                    mode, sketch = None, None
                modes.append(mode)
                sketches.append(sketch)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "modality": pd.Series(modes, dtype="object"),
                    "simhash": pd.array(sketches, dtype="Int64"),
                }
            )

    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, payload_col).mapInPandas(
        _hash, f"{id_col} {id_type}, modality string, simhash long"
    )


def media_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    band_bits: int = 16,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """(doc_a, doc_b, modality, hamming) — near-dup pairs within each
    modality; the band join key is (modality, band, key) so sketches
    from different spaces can never pair.

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
        media_hashes(df, payload_col, id_col).filter(
            F.col("simhash").isNotNull()
        )
    )
    # modality rides the banding (extra_key_cols), so the bucket cap is
    # applied PER (modality, band, key): image and audio sketches that
    # collide on a 16-bit band key neither share a cap nor need a
    # post-hoc join to recover modality. r13 round-2 (guide §2.4):
    # pairs generated inside ONE groupBy over that key via
    # _bucket_pairs instead of a self-join that shuffled the banded
    # rows twice; the per-(modality, band, key) cap moves onto the
    # group-size gate — identical retention (capped buckets were
    # dropped on both join sides; singletons paired nothing).
    banded = simhash_banded(
        sketches.withColumnRenamed(id_col, "doc_id"),
        "doc_id",
        band_bits,
        "simhash",
        extra_key_cols=("modality",),
    )
    return (
        _bucket_pairs(
            banded,
            "doc_id",
            "simhash",
            key_cols=("modality", "band", "key"),
            max_bucket_size=max_bucket_size,
        )
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            "modality",
            F.bit_count(
                F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
