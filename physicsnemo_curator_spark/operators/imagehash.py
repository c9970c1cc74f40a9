"""Perceptual image hashing and banded image near-duplicate pairs.

The image-side twin of the text SimHash family (``operators/
dedup.py``): aHash (mean threshold), dHash (horizontal gradient) and
pHash (low-frequency DCT-II median) condense a decoded image into a
64-bit signature whose hamming distance tracks visual similarity —
the standard near-dup detectors for image training-data curation.

Spark shape:

- ``with_image_hashes`` decodes payloads inside Arrow-batched
  ``mapInPandas`` (raw planes + every codec the multimodal dispatch
  opens: PNG/JPEG/BMP/TIFF/GIF) and emits the signature as a JVM
  ``long`` plus its bit string.
- ``image_near_duplicates`` finds all pairs within a hamming budget
  via pigeonhole banding — split 64 bits into ``n_bands`` blocks,
  equi-join on (band, block), verify with ``bit_count(a ^ b)`` —
  the same never-all-pairs plan as ``simhash_near_duplicates``.
  Any pair with hamming ≤ n_bands−1 is GUARANTEED to share a block.

Scale: hashing is embarrassingly parallel per payload; the candidate
join shuffles on (band, block) keys whose fan-in is bounded by hash
uniformity, and verification stays JVM-side (bit_count), so the plan
holds at 100 TB the same way the text SimHash path does.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_SCHEMA = "media_id long, method string, hash long, bits string"


def _to_gray(px: np.ndarray) -> np.ndarray:
    """Luma plane: ITU-R 601 weights for 3+ channels (channel 4, when
    present, is treated as alpha and ignored — the RGBA convention of
    the PNG/TIFF decode paths); 2-channel arrays are gray+alpha, so
    only channel 0 carries image content.  CMYK arrays are hashed on
    their CMY channels (K-heavy content callers should convert
    first)."""
    arr = px.astype(np.float64)
    if arr.ndim == 3:
        if arr.shape[2] == 1:
            return arr[:, :, 0]
        if arr.shape[2] == 2:
            return arr[:, :, 0]
        w = np.array([0.299, 0.587, 0.114])
        arr = arr[:, :, :3] @ w
    return arr


def _nearest(gray: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor gather — the same resample the multimodal
    resize kernel uses, so hashes are stable across both paths."""
    h, w = gray.shape
    if (h, w) == (out_h, out_w):
        return gray
    ys = (np.arange(out_h) * (h / out_h)).astype(np.int64)
    xs = (np.arange(out_w) * (w / out_w)).astype(np.int64)
    return gray[np.ix_(ys, xs)]


def _pack_bits(bits: np.ndarray) -> tuple[int, str]:
    """MSB-first row-major pack into a signed 64-bit int + bit
    string."""
    flat = bits.reshape(-1).astype(np.uint64)
    if flat.size != 64:
        raise ValueError("hash must be exactly 64 bits")
    val = np.uint64(0)
    for b in flat:
        val = (val << np.uint64(1)) | b
    return int(val.astype(np.int64)), "".join("1" if b else "0" for b in flat)


def ahash_kernel(px: np.ndarray, size: int = 8) -> tuple[int, str]:
    """Average hash: bit = sample strictly above the mean of the
    ``size x size`` resample."""
    g = _nearest(_to_gray(px), size, size)
    return _pack_bits(g > g.mean())


def dhash_kernel(px: np.ndarray, size: int = 8) -> tuple[int, str]:
    """Difference hash: resample to ``size x (size+1)`` and take the
    horizontal gradient sign — robust to global brightness shifts."""
    g = _nearest(_to_gray(px), size, size + 1)
    return _pack_bits(g[:, 1:] > g[:, :-1])


@lru_cache(maxsize=8)
def _dct_matrix(n: int) -> np.ndarray:
    # cached: rebuilt cosines would otherwise dominate the per-image
    # cost inside the hashing hot loop
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    m[0] /= np.sqrt(2.0)
    return m


def phash_kernel(
    px: np.ndarray, size: int = 8, dct_dim: int = 32
) -> tuple[int, str]:
    """Perceptual hash: orthonormal 2-D DCT-II of a ``dct_dim``
    resample, keep the top-left ``size x size`` low-frequency block,
    threshold against the median of its AC terms."""
    g = _nearest(_to_gray(px), dct_dim, dct_dim)
    d = _dct_matrix(dct_dim)
    low = (d @ g @ d.T)[:size, :size]
    med = np.median(low.reshape(-1)[1:])
    return _pack_bits(low > med)


_KERNELS = {"ahash": ahash_kernel, "dhash": dhash_kernel, "phash": phash_kernel}


def with_image_hashes(
    media: DataFrame,
    *,
    method: str = "dhash",
    strict: bool = False,
    honor_orientation: bool = True,
) -> DataFrame:
    """Hash every image payload: raw grayscale planes (``n_bytes ==
    width*height``, metadata wins over codec sniffing — the
    multimodal policy) and any codec-decodable payload.  JPEGs with
    an EXIF orientation are normalized upright before hashing (when
    ``honor_orientation``), so a camera-rotated copy of a photo
    hashes like its upright twin.  Non-image rows are dropped;
    undecodable images raise under ``strict`` and are skipped
    otherwise."""
    if method not in _KERNELS:
        raise ValueError(f"unknown hash method {method!r}")
    kernel = _KERNELS[method]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from physicsnemo_curator_spark.sources import exif as _exif
        from physicsnemo_curator_spark.sources.multimodal import (
            _decode_image_native,
        )

        for pdf in it:
            ids, hashes, bit_strs = [], [], []
            na = pd.Series([pd.NA] * len(pdf))
            widths = pdf["width"] if "width" in pdf.columns else na
            heights = pdf["height"] if "height" in pdf.columns else na
            for media_id, kind, payload, w, h in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"], widths,
                heights,
            ):
                if kind != "image":
                    continue
                raw = bytes(payload)
                px = None
                dims = not (pd.isna(w) or pd.isna(h))
                if dims and len(raw) == int(w) * int(h):
                    # raw gray planes: metadata wins over codec
                    # sniffing (the multimodal policy — JPEG's 2-byte
                    # signature false-positives on random planes)
                    px = np.frombuffer(raw, dtype=np.uint8).reshape(
                        int(h), int(w)
                    )
                else:
                    # codec signature first; an ENCODED payload whose
                    # compressed size coincides with w*h*3 must not be
                    # reinterpreted as raw RGB noise
                    rgb_plane = (
                        dims and len(raw) == int(w) * int(h) * 3
                    )
                    try:
                        decoded = _decode_image_native(raw)
                        px = decoded[0] if decoded else None
                        if (
                            px is not None
                            and honor_orientation
                            and decoded[1] == "jpeg"
                        ):
                            try:
                                o = _exif.extract_exif(raw).get(
                                    "orientation"
                                )
                            except Exception:
                                o = None
                            if o:
                                px = _exif.normalize_orientation(px, o)
                    except Exception:
                        if strict:
                            raise
                        px = None
                        rgb_plane = False  # corrupt codec payload
                    if px is None and rgb_plane:
                        # raw RGB planes — the shape container frame
                        # rows (sample_frames output) carry; no codec
                        # signature matched
                        px = np.frombuffer(raw, dtype=np.uint8).reshape(
                            int(h), int(w), 3
                        )
                    if px is None and strict:
                        raise NotImplementedError(
                            "image payload in an unrecognized format "
                            "cannot be perceptually hashed"
                        )
                if px is None:
                    continue
                hv, bs = kernel(px)
                ids.append(media_id)
                hashes.append(hv)
                bit_strs.append(bs)
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="Int64"),
                    "method": method,
                    "hash": pd.array(hashes, dtype="Int64"),
                    "bits": bit_strs,
                }
            )

    return media.mapInPandas(batches, HASH_SCHEMA)


def banded_hamming_pairs(
    sig: DataFrame,
    *,
    hash_col: str = "hash",
    id_col: str = "media_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 64,
    require_complete: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """All id pairs within ``max_hamming`` of each other, via
    pigeonhole band buckets — block-equality equi-join then JVM-side
    ``bit_count`` verification, never all-pairs.  Complete whenever
    ``max_hamming <= n_bands - 1`` AND ``max_bucket`` is unset —
    setting ``max_bucket`` explicitly trades completeness for bounded
    bucket cost (pairs whose every shared block is oversubscribed are
    missed).  ``require_complete=False`` allows the recall-heuristic
    regime beyond the hamming bound (candidates still come only from
    shared blocks — the text SimHash convention).

    Scale note (measured, SCALE_SOAK.md): random signatures collide
    within a ``bits/n_bands``-wide block at rate ~n²/2^(bits/n_bands)
    per band, so candidate volume turns quadratic once the corpus
    outgrows the block space (2.1M rows × 16-bit blocks ≈ 130M
    candidates).  Real corpora cluster far below that bound, but for
    huge uniform tails set ``max_bucket`` to drop pathological
    buckets (same recall-vs-cost dial as the MinHash ``max_df``
    pruning — pairs whose EVERY shared block is oversubscribed are
    missed).

    ``sig`` feeds both halves of the self-join: a caller whose
    signatures are costly to recompute passes them materialized, and
    owns them."""
    if require_complete and max_hamming > n_bands - 1:
        raise ValueError(
            "pigeonhole completeness needs max_hamming <= n_bands - 1 "
            "(pass require_complete=False for the recall-heuristic "
            "regime)"
        )
    width = bits // n_bands
    mask = (1 << width) - 1
    banded = sig.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(hash_col, b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_bb"),
    ).select(
        "_id", "_h",
        F.col("_bb.band").alias("band"),
        F.col("_bb.block").alias("block"),
    )
    if max_bucket is not None:
        sizes = banded.groupBy("band", "block").agg(
            F.count(F.lit(1)).alias("_n")
        )
        banded = (
            banded.join(
                F.broadcast(sizes.filter(F.col("_n") > max_bucket)),
                ["band", "block"],
                "left_anti",
            )
        )
    pairs = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.block") == F.col("r.block"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.col("l._h").alias("_ha"),
            F.col("r._h").alias("_hb"),
        )
        .dropDuplicates(["a", "b"])
    )
    return pairs.select(
        "a",
        "b",
        F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def image_near_duplicates(
    media: DataFrame,
    *,
    method: str = "dhash",
    max_hamming: int = 3,
    n_bands: int = 4,
    strict: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate image pairs ``(a, b, hamming)``: perceptual
    hash inside mapInPandas, then the banded hamming join."""
    return banded_hamming_pairs(
        with_image_hashes(media, method=method, strict=strict),
        max_hamming=max_hamming,
        n_bands=n_bands,
        max_bucket=max_bucket,
    )


def with_video_fingerprints(
    media: DataFrame,
    *,
    method: str = "dhash",
    every_n: int = 1,
    strict: bool = False,
) -> DataFrame:
    """64-bit video signature: sample frames through the container
    dispatch (AVI / MP4 / MKV / animated GIF / raw concatenations),
    perceptually hash each sampled frame, then majority-vote each bit
    position across frames — a temporal-consensus fingerprint robust
    to a few changed frames.  Vote TIES resolve to frame 0's bit
    (content-dependent — a constant tie-break would collapse every
    even-frame-count video with disagreeing halves onto one shared
    signature).  The per-bit vote is a JVM-side aggregation (64
    partial sums), so the reduce is one shuffle keyed on media_id.
    Media ids must be non-negative and below 2^43 (frame indices ride
    the low 20 bits through the per-frame hash stage)."""
    from physicsnemo_curator_spark.sources import multimodal as _mm

    frames = _mm.sample_frames(media, every_n=every_n, strict=strict)
    fmedia = frames.select(
        (
            F.shiftleft(F.col("media_id"), 20)
            + F.col("frame_index").cast("long")
        ).alias("media_id"),
        F.lit("image").alias("kind"),
        "payload",
        "width",
        "height",
    )
    hashes = with_image_hashes(fmedia, method=method, strict=strict).select(
        F.shiftright("media_id", 20).alias("media_id"),
        F.col("media_id").bitwiseAND(F.lit((1 << 20) - 1)).alias(
            "frame_index"
        ),
        "bits",
    )
    # string-built wide expressions: the Column-operator form costs
    # ~5 py4j round-trips per bit position (~190 expressions for the
    # 64-bit vote), which measured 4-6 s of pure PLAN BUILD per call —
    # the sq8_train/dot_unrolled lesson; expr() parses JVM-side in
    # milliseconds.  Expressions are verbatim translations (same
    # operators, same null semantics), so signatures are bit-identical.
    counts = [
        F.expr(
            f"sum(cast(substring(bits, {k + 1}, 1) as int)) as _b{k}"
        )
        for k in range(64)
    ]
    firsts = [
        F.expr(
            f"max(case when frame_index = 0 then "
            f"substring(bits, {k + 1}, 1) end) as _f{k}"
        )
        for k in range(64)
    ]
    maj = hashes.groupBy("media_id").agg(
        F.expr("count(1) as n_frames_hashed"), *counts, *firsts
    )
    vote = ", ".join(
        f"case when _b{k} * 2 > n_frames_hashed then '1' "
        f"when _b{k} * 2 = n_frames_hashed then coalesce(_f{k}, '0') "
        f"else '0' end"
        for k in range(64)
    )
    with_bits = maj.selectExpr(
        "media_id", "n_frames_hashed", f"concat({vote}) as bits"
    )
    hi = F.conv(F.substring("bits", 1, 32), 2, 10).cast("long")
    lo = F.conv(F.substring("bits", 33, 32), 2, 10).cast("long")
    return with_bits.select(
        "media_id",
        F.lit(method).alias("method"),
        F.shiftleft(hi, 32).bitwiseOR(lo).alias("hash"),
        "bits",
        "n_frames_hashed",
    )


def video_near_duplicates(
    media: DataFrame,
    *,
    method: str = "dhash",
    every_n: int = 1,
    max_hamming: int = 3,
    n_bands: int = 4,
    strict: bool = False,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate video pairs ``(a, b, hamming)`` via the shared
    pigeonhole-banded hamming join over the majority-vote
    signature."""
    return banded_hamming_pairs(
        with_video_fingerprints(
            media, method=method, every_n=every_n, strict=strict
        ),
        max_hamming=max_hamming,
        n_bands=n_bands,
        max_bucket=max_bucket,
    )
