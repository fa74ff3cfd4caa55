"""Image near-duplicate detection over ``media(media_id, payload)`` tables.

Images are carried as opaque ``binary`` payloads.  A from-scratch PNG
decoder (stdlib only) feeds a 64-bit dHash (numpy) in one Arrow-batched
``mapInPandas`` stage, so pixels never leave the worker; pigeonhole-banded
joins turn the hashes into near-duplicate pairs, and the pair clusters
give each duplicate one canonical id.  ``--stage media-dedup`` in
``job.py`` drives the whole path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType


# --- real PNG pixel decode (stdlib-only) -------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)  # per-pass (x0, y0, dx, dy), PNG spec 4.5.2


def _png_unfilter(raw: bytes, height: int, stride: int, ch: int) -> bytearray:
    """Per-scanline unfiltering (None/Sub/Up/Average/Paeth) of a
    filter-byte-interleaved stream into a raw raster; shared by the
    non-interlaced raster and each Adam7 pass sub-image (filters are
    scoped to the pass in interlaced files)."""
    out = bytearray(height * stride)
    prev_off = -1
    for row in range(height):
        f = raw[row * (stride + 1)]
        line = raw[row * (stride + 1) + 1 : (row + 1) * (stride + 1)]
        off = row * stride
        if f == 0:
            out[off : off + stride] = line
        elif f == 1:  # Sub
            for i in range(stride):
                a = out[off + i - ch] if i >= ch else 0
                out[off + i] = (line[i] + a) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                b = out[prev_off + i] if row else 0
                out[off + i] = (line[i] + b) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                a = out[off + i - ch] if i >= ch else 0
                b = out[prev_off + i] if row else 0
                out[off + i] = (line[i] + (a + b) // 2) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = out[off + i - ch] if i >= ch else 0
                b = out[prev_off + i] if row else 0
                c = out[prev_off + i - ch] if (row and i >= ch) else 0
                out[off + i] = (line[i] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {f}")
        prev_off = off
    return out


def decode_png(payload: bytes) -> dict:
    """PNG bytes → {width, height, channels, pixels: bytes} with nothing
    but the stdlib: IHDR parse, IDAT concat + zlib inflate, per-scanline
    unfiltering (None/Sub/Up/Average/Paeth), and Adam7 de-interlacing
    (7 pass sub-images, each filtered independently, scattered back to
    the display raster).  Subset: 8-bit depth, color types 0/2/4/6 (no
    palette).  Raises ValueError on anything else — the Spark stage maps
    that to an error row."""
    import struct as _s
    import zlib as _z

    if payload is None or not payload.startswith(_PNG_SIG):
        raise ValueError("not a PNG (bad signature)")
    pos = len(_PNG_SIG)
    width = height = bit_depth = color_type = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (length,) = _s.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated chunk")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = _s.unpack(
                ">IIBBBBB", data
            )
            if bit_depth != 8:
                raise ValueError(f"unsupported bit depth {bit_depth}")
            if color_type not in _PNG_CHANNELS:
                raise ValueError(f"unsupported color type {color_type}")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length  # len + type + data + crc (crc not verified)
    if width is None:
        raise ValueError("missing IHDR")
    if not idat:
        raise ValueError("missing IDAT")
    ch = _PNG_CHANNELS[color_type]
    # declared-dimension sanity bounds; zero dims must be rejected BEFORE
    # the inflate (zlib treats max_length=0 as unlimited — a height=0
    # header would re-open the decompression-bomb hole)
    if width == 0 or height == 0:
        raise ValueError(f"degenerate dimensions ({width}x{height})")
    if width * height > 64_000_000:
        raise ValueError(f"image too large ({width}x{height})")
    stride = width * ch
    if interlace == 0:
        passes = [(0, 0, 1, 1, width, height)]
    else:
        passes = []
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw > 0 and ph > 0:  # empty passes emit NO scanlines
                passes.append((x0, y0, dx, dy, pw, ph))
    expected = sum(ph * (pw * ch + 1) for _x, _y, _dx, _dy, pw, ph in passes)
    # bounded inflate: a decompression bomb must fail with an error row,
    # not an executor OOM — never allocate past the declared raster size
    d = _z.decompressobj()
    raw = d.decompress(bytes(idat), expected)
    if d.unconsumed_tail or not d.eof:
        raise ValueError("IDAT inflates past the declared raster size")
    if len(raw) != expected:
        raise ValueError("scanline data size mismatch")
    if interlace == 0:
        out = _png_unfilter(raw, height, stride, ch)
    else:
        out = bytearray(height * stride)
        off = 0
        for x0, y0, dx, dy, pw, ph in passes:
            pstride = pw * ch
            sub = _png_unfilter(raw[off : off + ph * (pstride + 1)], ph, pstride, ch)
            off += ph * (pstride + 1)
            for j in range(ph):
                drow = (y0 + j * dy) * stride
                srow = j * pstride
                for i in range(pw):
                    dst = drow + (x0 + i * dx) * ch
                    out[dst : dst + ch] = sub[srow + i * ch : srow + (i + 1) * ch]
    return {"width": width, "height": height, "channels": ch, "pixels": bytes(out)}


# --- perceptual hash (dHash) + image near-duplicate pairs -------------------

IMAGE_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("dhash_hex", StringType()),
        StructField("b0", IntegerType()),
        StructField("b1", IntegerType()),
        StructField("b2", IntegerType()),
        StructField("b3", IntegerType()),
        StructField("error", StringType()),
    ]
)


def dhash64(pixels: bytes, w: int, h: int, ch: int) -> tuple[str, int, int, int, int]:
    """64-bit difference hash of an interleaved raster: integer luma
    ((299R+587G+114B) div 1000 for >=3 channels, channel 0 otherwise),
    nearest-neighbor resample to 9x8 by the integer floor(i*src/out) rule,
    bit(y,x) = luma[y][x+1] > luma[y][x], packed row-major MSB-first.
    Returns (hex16, b0..b3) where b0 is the top 16 bits — the four
    pigeonhole blocks for banded near-dup search
    (hamming <= 3 guarantees at least one equal block).  All arithmetic
    is integer, so the fixture generator's plain-Python twin reproduces
    it bit-for-bit."""
    import numpy as np

    a = np.frombuffer(pixels, dtype=np.uint8).reshape(h, w, ch)
    if ch >= 3:
        g = (
            299 * a[:, :, 0].astype(np.int64)
            + 587 * a[:, :, 1].astype(np.int64)
            + 114 * a[:, :, 2].astype(np.int64)
        ) // 1000
    else:
        g = a[:, :, 0].astype(np.int64)
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    t = g[ys][:, xs]
    bits = (t[:, 1:] > t[:, :-1]).flatten()
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return (
        format(v, "016x"),
        (v >> 48) & 0xFFFF,
        (v >> 32) & 0xFFFF,
        (v >> 16) & 0xFFFF,
        v & 0xFFFF,
    )


def image_dhash(media: DataFrame) -> DataFrame:
    """media(media_id, payload) → 64-bit dHash per image, PNG decode
    fused with the hash in one Arrow-batched stage — pixels never leave
    the worker; never-fail contract (error rows carry NULL hash).  The
    per-image half of image near-dup detection; pair generation is
    :func:`dhash_near_dup_pairs`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {k: [] for k in IMAGE_DHASH_SCHEMA.names}
            for row in pdf.itertuples(index=False):
                width = height = hex16 = None
                blocks = (None, None, None, None)
                err = None
                try:
                    payload = row.payload
                    img = decode_png(bytes(payload) if payload is not None else None)
                    ch = img["channels"]
                    width, height = img["width"], img["height"]
                    hex16, *blocks = dhash64(img["pixels"], width, height, ch)
                except Exception as exc:
                    err = f"ERR_IMG: {type(exc).__name__}: {exc}"[:200]
                out["media_id"].append(row.media_id)
                out["width"].append(width)
                out["height"].append(height)
                out["dhash_hex"].append(hex16)
                for i in range(4):
                    out[f"b{i}"].append(blocks[i])
                out["error"].append(err)
            yield pd.DataFrame(out)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=IMAGE_DHASH_SCHEMA
    )


def dhash_near_dup_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """dHash table (from :func:`image_dhash`) → ordered near-duplicate
    pairs (media_a, media_b, hamming) with hamming <= ``max_hamming``.

    Pigeonhole banding: the 64-bit hash splits into four 16-bit blocks;
    any pair within hamming 3 shares at least one block, so candidate
    generation is a bucketed join on (block_id, block_value) — EXACT
    recall at the default threshold, never all-pairs.  Routed through
    the shared capped guard (`candidates.bucket_pairs`): blank/uniform
    images all hash to the same value (the classic degenerate bucket),
    and with ``max_bucket_size`` set they take the linear star path.
    Blocks ride the join via carry_cols, so hamming verification needs
    no join back to the signature table.  Scale shape: one shuffle on
    the block key; 65,536 values per block keeps buckets fine-grained.
    """
    from .candidates import bucket_pairs

    bcols = [f"b{i}" for i in range(4)]
    pairs = bucket_pairs(
        _signature_blocks(sigs),
        key_cols=["block_id", "block_val"],
        id_col="media_id",
        sig_col="dhash_hex",
        max_bucket_size=max_bucket_size,
        out_a="media_a",
        out_b="media_b",
        carry_cols=bcols,
    )
    hamming = sum(
        F.bit_count(F.col(f"b{i}_a").bitwiseXOR(F.col(f"b{i}_b")))
        for i in range(4)
    )
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("media_a", "media_b", "hamming")
    )


def _signature_blocks(sigs: DataFrame) -> DataFrame:
    """dHash table → one row per (media, 16-bit pigeonhole block): the
    bucket assignment for banded near-dup joins (error rows dropped;
    blocks b0..b3 ride along for the carry verify)."""
    bcols = [f"b{i}" for i in range(4)]
    ok = sigs.filter(F.col("error").isNull())
    return ok.select(
        "media_id",
        "dhash_hex",
        *bcols,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("block_id"), F.col(f"b{i}").alias("block_val")
                )
                for i in range(4)
            ])
        ).alias("blk"),
    ).select(
        "media_id",
        "dhash_hex",
        *bcols,
        F.col("blk.block_id").alias("block_id"),
        F.col("blk.block_val").alias("block_val"),
    )


def canonical_media_map(pairs: DataFrame) -> DataFrame:
    """Near-dup media pairs (media_a, media_b) → the canonical-reference
    map (media_ref, canonical_ref): connected components over the pair
    graph (shared star-contraction/label-propagation core with document
    dedup), canonical = min media id per cluster, IDENTITY ROWS DROPPED
    — the map carries only media that actually need rewriting, which is
    what makes it broadcastable at corpus scale (dup clusters are a
    small fraction of the media table)."""
    from .dedup import connected_components

    comp = connected_components(pairs, a_col="media_a", b_col="media_b")
    return comp.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias("media_ref"),
        F.col("component").alias("canonical_ref"),
    )
