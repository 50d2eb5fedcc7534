"""Multimodal column operators (BASELINE.json north-star).

Images/audio/video are opaque BINARY columns plus typed metadata; the
Spark-side plumbing — schema, Arrow batch shape, partition sizing — is
real and tested. Raster pixel decode is REAL with no codec library for
EVERY supported format: uncompressed BMP, DEFLATE-coded PNG (stdlib
zlib + filter reversal), LZW-coded GIF, and — since r12 — baseline
DCT-coded JPEG (Huffman entropy decode + dequant + float64 IDCT +
chroma upsampling + JFIF color convert, all implemented here; 4:2:0 /
4:2:2 subsampling, spectral-selection progressive (SOF2), interlaced
PNG/GIF, and the full spec-legal PNG color-type x bit-depth matrix
(palette/gray, 1/2/4/8/16-bit) since r13; SUCCESSIVE-APPROXIMATION
progressive JPEG — the Ah/Al bit-plane refinement passes in libjpeg's
DEFAULT scan script, i.e. most wild SOF2 files — since r14). No stub
boundary remains; r14 also adds 4-component Adobe CMYK/YCCK decode
(APP14-keyed), EXIF orientation triage AND pixel-level normalization,
12-bit precision (SOF1/SOF2, strip-to-high-byte output), and
non-divisor sampling mixes (nearest-neighbor index-map upsampling);
r15 adds 3-component STORED-RGB decode (Adobe APP14 transform 0, or
the unmarked 'R','G','B' component-id signature — libjpeg's
color-space guess, with its JFIF-APP0 precedence honored since r16);
r16 adds SEQUENTIAL ARITHMETIC-CODED decode (SOF9: the T.81 Annex D
QM coder + Annex F.1.4 DC/AC conditioning models, DAC conditioning
markers, restart re-init — see _QM_TABLE's transcription disclosure);
r17 adds PROGRESSIVE ARITHMETIC (SOF10: the same QM coder driving
the Annex G.2 DC/AC first + refinement models), closing the last
entropy-coding x progression combination. Unsupported PROFILES
(lossless/hierarchical frames, unmarked 4-component frames, and
MULTI-SCAN SEQUENTIAL files — per-component non-interleaved scans
per T.81 B.2.3, rejected by the ns == len(comps) sequential-scan
gate for Huffman and arithmetic alike) return NULL per the decode
triage convention.

Scale posture: media decode is the canonical mapInPandas workload — CPU
per row is large, so parallelism = partitions; `repartition(n)` before the
decode to saturate executors, and keep batch memory bounded via
spark.sql.execution.arrow.maxRecordsPerBatch when rows are megabytes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: (blob, media metadata) — the storage contract for multimodal rows.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("content", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_DIM = 8

# Untrusted-media inflate ceiling: the largest filtered-raster byte
# count one PNG row may claim ((stride+1)*height). 64 MiB ≈ a
# 4096x4096 RGBA frame — far above any fixture, far below what a
# decompression bomb needs to hurt an executor.
_PNG_MAX_RAW_BYTES = 64 * 1024 * 1024

# JPEG's analogue bounds the decoder's REAL transient allocation
# (float64 MCU-padded planes + rounded copies + conversion
# temporaries ≈ (2*n_comp + 6) 8-byte arrays over the padded raster),
# not the output bytes. 512 MiB keeps the per-blob ceiling at ~1/8 of
# a 4 GiB-per-thread executor budget while admitting ~5.5 MP color
# images — the same legitimate-image scope as the PNG ceiling.
_JPEG_MAX_ALLOC_BYTES = 512 * 1024 * 1024

_DECODE_SCHEMA = (
    "media_id BIGINT, media_type STRING, n_bytes INT, content_sha STRING, "
    f"features ARRAY<DOUBLE>"
)

# The baseline fast scan materializes ~35-40 bytes of Python window
# state per entropy byte (a 28-byte int object PLUS its 8-byte list
# slot), so it only runs for scans up to this size; larger (rare: a
# max-entropy 5.5 MP frame can legally reach ~54 MB, i.e. ~2 GiB of
# windows) fall back to the general O(1)-memory reader with identical
# semantics. The cap is sized against PER-CORE worker memory, not a
# single decode: at 8 MiB a no-restart scan peaks near ~300 MB of
# transient window state per task, and with 32 concurrent local cores
# that is ~9.6 GiB worst-case if every core hits the cap at once —
# acceptable on the 128 GiB test host and ~1/13 of a 4 GiB-per-thread
# executor budget per task in the cluster posture. Raising the cap
# multiplies across cores; prefer chunking segment windows instead.
_JPEG_FAST_SCAN_MAX_BYTES = 8 * 1024 * 1024


def _fake_decode(blob: bytes) -> list[float]:
    """Deterministic stand-in for a real codec: FEATURE_DIM doubles derived
    from the content hash. REAL IMPLEMENTATION SITE: replace with e.g.
    PIL.Image.open(io.BytesIO(blob)) / librosa / av frame sampling — the
    surrounding batch plumbing does not change.
    """
    h = hashlib.sha256(blob).digest()
    return [h[i] / 255.0 for i in range(FEATURE_DIM)]


def decode_features(media: DataFrame, partitions: int | None = None) -> DataFrame:
    """Decode/feature-extract each blob via Arrow-batched mapInPandas.

    Output: (media_id, media_type, n_bytes, content_sha, features).
    """
    df = media.repartition(partitions) if partitions else media

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs = pdf["content"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": blobs.map(len).astype("int32"),
                    "content_sha": blobs.map(
                        lambda b: hashlib.sha256(b).hexdigest()
                    ),
                    "features": blobs.map(_fake_decode),
                }
            )

    return df.select("media_id", "media_type", "content").mapInPandas(
        run, schema=_DECODE_SCHEMA
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling plumbing: one output row per planned frame
    timestamp (explode over the sampling grid). The decode of each frame is
    the stubbed step; the fan-out, schema, and partitioning are the real
    shape of the operator.
    """
    n_frames = (F.col("duration_ms") / every_ms).cast("int")
    return (
        media.filter(F.col("media_type") == "video")
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))
            ).alias("frame_idx"),
        )
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


_BMP_STATS_SCHEMA = (
    "media_id BIGINT, width BIGINT, height BIGINT, n_pixels BIGINT, "
    "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT, wsum_r BIGINT, p00 BIGINT"
)


def _decode_bmp24(blob) -> tuple | None:
    """Decode one uncompressed 24-bpp BITMAPINFOHEADER BMP to an
    (H, W, 3) uint8 RGB array in LOGICAL row order (row 0 = top).
    Returns (width, height, pixels) or None for non-BMP/unsupported
    blobs. Handles the two storage orientations (positive biHeight =
    bottom-up, negative = top-down) and the 4-byte row stride padding —
    the two classic naive-decoder bugs."""
    import numpy as np

    if blob is None or len(blob) < 54 or blob[0:2] != b"BM":
        return None
    offset = int.from_bytes(blob[10:14], "little")
    width = int.from_bytes(blob[18:22], "little", signed=True)
    raw_h = int.from_bytes(blob[22:26], "little", signed=True)
    bpp = int.from_bytes(blob[28:30], "little")
    compression = int.from_bytes(blob[30:34], "little")
    if bpp != 24 or compression != 0 or width <= 0 or raw_h == 0:
        return None
    height = abs(raw_h)
    stride = (width * 3 + 3) // 4 * 4
    need = offset + stride * height
    if len(blob) < need:
        return None
    rows = np.frombuffer(blob, dtype=np.uint8, count=stride * height,
                         offset=offset).reshape(height, stride)
    px = rows[:, : width * 3].reshape(height, width, 3)
    if raw_h > 0:  # bottom-up storage -> flip to logical top-down
        px = px[::-1]
    return width, height, px[:, :, ::-1]  # stored BGR -> RGB


#: Adam7 interlace passes, PNG-spec order: (x0, y0, dx, dy). Shared by
#: the decoder's pass walk and the fixture encoder (queries_llm.
#: encode_png) so the two cannot drift on pass geometry.
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw, stride: int, height: int, bpp: int):
    """Reverse the five standard PNG row filters over ONE (sub)image's
    filtered scanlines (`raw` must be exactly (stride + 1) * height
    bytes — the caller slices it). `stride` is the PACKED row byte
    count (ceil(width * channels * depth / 8)) and `bpp` the filter
    byte offset (max(1, channels * depth // 8), per the spec: filters
    predict on bytes, with the left neighbor one full pixel back, or
    one byte back for sub-byte depths). For a non-interlaced PNG that
    is the whole raster; for Adam7 each of the seven passes is its own
    independently-filtered sub-image (predictors never cross a pass
    boundary), so the decoder calls this once per non-empty pass.
    Returns the reconstructed (height, stride) uint8 array or None
    on an unknown filter type.

    Vectorization: None and Up rows are whole-row numpy; Sub is a
    per-channel-lane prefix sum (cumsum mod 256 — byte addition is
    linear, so the recurrence IS a prefix sum); Average and Paeth are
    genuinely sequential (each byte needs the reconstructed left AND
    up neighbors) and run as bounded per-byte loops on exactly the
    rows that use them."""
    import numpy as np

    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = scan[:, 0]
    rows = scan[:, 1:].astype(np.int64)
    prev = np.zeros(stride, dtype=np.int64)
    recon = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f = int(ftypes[y])
        cur = rows[y]
        if f == 0:
            line = cur % 256
        elif f == 2:  # Up: whole-row vector add
            line = (cur + prev) % 256
        elif f == 1:  # Sub: prefix sum along each channel lane
            line = np.cumsum(
                cur.reshape(stride // bpp, bpp), axis=0
            ).reshape(stride) % 256
        elif f == 3:  # Average: sequential (left + up) // 2
            line = cur.copy()
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + (left + prev[x]) // 2) % 256
        elif f == 4:  # Paeth: sequential predictor
            line = cur.copy()
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = (
                    a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                )
                line[x] = (line[x] + pred) % 256
        else:
            return None  # unknown filter type
        recon[y] = line
        prev = line.astype(np.int64)
    return recon


def _png_bytes_to_samples(recon, width: int, height: int,
                          channels: int, depth: int):
    """Packed reconstructed scanline bytes -> (height, width, channels)
    uint8 SAMPLE array. Depth 8 is a reshape; depth 16 keeps the HIGH
    byte of each big-endian sample (libpng's strip-16 projection — the
    disclosed 8-bit semantics, which is what lets a 16-bit encode of
    the same image decode bit-identically to its 8-bit twin); sub-byte
    depths (1/2/4 — gray or palette indices, channels == 1 by spec)
    unpack MSB-first within each byte and drop the row-end padding
    bits. Gray samples are NOT scaled here — the caller scales
    (255 / (2**depth - 1), exact since 255 = 3 * 5 * 17) after the
    palette branch, because palette indices must stay raw."""
    import numpy as np

    if depth == 8:
        return recon.reshape(height, width, channels)
    if depth == 16:
        return recon.reshape(height, width, channels, 2)[..., 0]
    bits = np.unpackbits(recon, axis=1)[:, :width * depth]
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    vals = (bits.reshape(height, width, depth) * weights).sum(axis=2)
    return vals.astype(np.uint8).reshape(height, width, 1)


def _decode_png_rgb(blob) -> tuple | None:
    """Decode one PNG to an (H, W, 3) uint8 RGB array using ONLY the
    stdlib — zlib inflate + per-row filter reversal — one of the four
    no-library raster decoders (BMP/PNG/GIF/JPEG; no stub boundary
    remains as of r12). Returns (width, height, pixels) or None for
    non-PNG / unsupported / corrupt blobs.

    Supported (since r13, the FULL spec-legal color-type x bit-depth
    matrix): truecolor (color type 2) and truecolor+alpha (type 6,
    alpha dropped) at depths 8/16; grayscale (type 0, replicated to
    R=G=B) at depths 1/2/4/8/16 with exact sub-byte gray expansion
    (v * 255/(2**d - 1), integer-exact); grayscale+alpha (type 4,
    alpha dropped) at 8/16; palette-indexed (type 3) at depths
    1/2/4/8 — indices resolve through the PLTE chunk, which must be
    present, length 3*n for 1 <= n <= 256, and every decoded index
    must fall inside it (an out-of-range index is corruption, not
    clamp material). 16-bit samples project to 8 bits by keeping the
    HIGH byte (libpng strip-16 semantics); sub-byte samples unpack
    MSB-first with row-end padding dropped. Illegal combos (16-bit
    palette, sub-byte truecolor, ...) return None. Non-interlaced
    AND Adam7-interlaced (the seven passes are independently
    filtered sub-images scattered onto the raster on a (x0 + j*dx,
    y0 + i*dy) grid — `_ADAM7_PASSES`; empty passes, which any
    dimension < 5 produces, contribute zero scanlines per the spec),
    the five standard row filters (None/Sub/Up/Average/Paeth, byte-
    predicted at stride max(1, channels*depth//8) per the spec).
    Every chunk's CRC32 is verified (the tar-walk convention: reject
    forgeries rather than trust lengths), IDAT chunks concatenate
    before one inflate, and the inflated length must equal the exact
    filtered-raster byte count (per-pass sum when interlaced).

    Production posture at 100 TB: the decode is per-blob inside
    Arrow-batched mapInPandas — parallelism comes from partitions,
    not from within a row."""
    import zlib

    import numpy as np

    sig = b"\x89PNG\r\n\x1a\n"
    if blob is None or len(blob) < 8 or bytes(blob[:8]) != sig:
        return None
    width = height = channels = color = None
    palette = None
    interlace = 0
    idat = bytearray()
    seen_iend = False
    pos = 8
    while pos + 8 <= len(blob):
        ln = int.from_bytes(blob[pos:pos + 4], "big")
        ctype = bytes(blob[pos + 4:pos + 8])
        dstart, dend = pos + 8, pos + 8 + ln
        if dend + 4 > len(blob):
            return None  # truncated chunk
        data = bytes(blob[dstart:dend])
        crc = int.from_bytes(blob[dend:dend + 4], "big")
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            return None  # corrupt chunk (checksum-verified walk)
        if ctype == b"IHDR":
            # spec 5.6: IHDR is the FIRST chunk and appears exactly
            # once — an IDAT-before-IHDR or duplicate-IHDR stream is
            # malformed even when self-consistent (r13 ADVICE: mirror
            # the JPEG decoder's two-SOF rejection)
            if ln != 13 or pos != 8 or width is not None:
                return None
            width = int.from_bytes(data[0:4], "big")
            height = int.from_bytes(data[4:8], "big")
            depth, color, comp, filt, interlace = data[8:13]
            if comp != 0 or filt != 0 or interlace > 1:
                return None
            # spec-legal (color, depth) combos only (T.81 analogue:
            # reject rather than guess at an undefined layout)
            if color in (0, 3):  # gray / palette-indexed
                channels = 1
                legal = (1, 2, 4, 8, 16) if color == 0 else (1, 2, 4, 8)
            elif color == 4:  # gray + alpha
                channels, legal = 2, (8, 16)
            elif color == 2:
                channels, legal = 3, (8, 16)
            elif color == 6:
                channels, legal = 4, (8, 16)
            else:
                return None
            if depth not in legal:
                return None
            if width <= 0 or height <= 0:
                return None
        elif ctype == b"PLTE":
            # spec: length 3*n, 1 <= n <= 256, and PLTE precedes IDAT.
            # Required for color type 3; a suggested-quantization PLTE
            # on truecolor types 2/6 is legal and ignored below; the
            # spec FORBIDS it on grayscale types 0/4 (r13 ADVICE:
            # reject, matching the strict posture elsewhere).
            if ln % 3 or not 3 <= ln <= 768 or idat:
                return None
            if color in (0, 4):
                return None
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos = dend + 4
    if width is None or not idat or not seen_iend:
        return None

    def rstride(w):  # packed row bytes at this (channels, depth)
        return (w * channels * depth + 7) // 8

    bpp = max(1, channels * depth // 8)  # filter byte offset (spec)
    if interlace == 0:
        pass_dims = None
        expected = (rstride(width) + 1) * height
    else:
        pass_dims = [
            ((width - x0 + dx - 1) // dx, (height - y0 + dy - 1) // dy)
            for x0, y0, dx, dy in _ADAM7_PASSES
        ]
        expected = sum(
            (rstride(pw) + 1) * ph for pw, ph in pass_dims if pw and ph
        )
    # Untrusted-media posture: IHDR fixes the exact inflated size, so
    # bound BOTH the claimed dimensions and the inflater's output
    # before allocating — a crafted IDAT (decompression bomb) must not
    # be able to expand past expected+1 bytes, and a forged IHDR must
    # not be able to claim a multi-GiB raster from a tiny blob. For
    # sub-byte depths the PACKED byte count under-states the decode
    # footprint by up to 8x (plus int64 unpack/sum temporaries), so
    # the UNPACKED sample raster is bounded by the same ceiling too —
    # that caps every transient at <= ~8x the ceiling, the identical
    # envelope the 8-bit path's int64 filter rows already occupy at
    # its own gate edge (r13 self-review finding: without this, a
    # ~5 KB 1-bit 20000x20000 blob passed the packed gate and drove
    # multi-GiB numpy temporaries inside a mapInPandas worker).
    if expected > _PNG_MAX_RAW_BYTES:
        return None
    if width * height * channels > _PNG_MAX_RAW_BYTES:
        return None  # redundant at depth >= 8; the sub-byte bound
    try:
        inflater = zlib.decompressobj()
        raw = inflater.decompress(bytes(idat), expected + 1)
    except zlib.error:
        return None
    if len(raw) != expected or inflater.unconsumed_tail or not inflater.eof:
        return None  # truncated, oversized, or bomb-capped stream
    if interlace == 0:
        recon = _png_unfilter(raw, rstride(width), height, bpp)
        if recon is None:
            return None
        px = _png_bytes_to_samples(recon, width, height, channels, depth)
    else:
        px = np.zeros((height, width, channels), dtype=np.uint8)
        off = 0
        for (x0, y0, dx, dy), (pw, ph) in zip(_ADAM7_PASSES, pass_dims):
            if pw == 0 or ph == 0:
                continue  # the pass has no pixels at these dims
            nb = (rstride(pw) + 1) * ph
            sub = _png_unfilter(raw[off:off + nb], rstride(pw), ph, bpp)
            if sub is None:
                return None
            off += nb
            px[y0::dy, x0::dx] = _png_bytes_to_samples(
                sub, pw, ph, channels, depth)
    if color == 3:
        if palette is None:
            return None  # indexed image without its PLTE: malformed
        idx = px.reshape(height, width)
        if int(idx.max()) >= len(palette):
            return None  # index past the palette: corrupt, not clamp
        return width, height, palette[idx]
    if channels <= 2:  # gray / gray+alpha: replicate luma, drop alpha
        g = px[:, :, 0]
        if depth < 8:  # exact gray expansion: 255 = 3 * 5 * 17
            g = (g.astype(np.int64)
                 * (255 // ((1 << depth) - 1))).astype(np.uint8)
        return width, height, np.stack([g, g, g], axis=2)
    return width, height, px[:, :, :3]


def _gif_lzw_decode(data: bytes, min_code_size: int,
                    n_expected: int) -> list | None:
    """GIF-variant LZW decode of a concatenated image-data stream
    (sub-blocks already joined): LSB-first variable-width codes,
    clear/EOI codes, dictionary growth to 12 bits, the KwKwK
    (code == next) special case, width bump when the next free code
    reaches the current width's capacity. Returns the palette-index
    list (exactly n_expected entries) or None on any malformed
    stream — a decoder that trusts a corrupt stream walks off the
    dictionary."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    acc = nbits = pos = 0
    out: list[int] = []
    table: list[bytes] = []
    prev: bytes | None = None
    next_code = eoi + 1

    def reset():
        nonlocal table, width, prev, next_code
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        width = min_code_size + 1
        prev = None
        next_code = eoi + 1

    reset()
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return None  # ran out before EOI
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table):
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
        else:
            return None
        out.extend(entry)
        if len(out) > n_expected:
            return None
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        # width bump follows the CODES-CONSUMED counter (giflib's
        # RunningCode), NOT the table length: the encoder's counter
        # leads its table by the final no-add emit, and a table-length
        # rule diverges by one exactly when the last add lands on a
        # power of two (caught by the round-trip property test)
        next_code += 1
        if next_code > (1 << width) and width < 12:
            width += 1
        prev = entry
    return out if len(out) == n_expected else None


def _decode_gif_rgb(blob) -> tuple | None:
    """Decode one GIF (87a/89a) to an (H, W, 3) uint8 RGB array using
    ONLY pure Python — the LZW entropy decode implemented directly —
    one of the four no-library raster decoders (BMP/PNG/GIF/JPEG; no
    stub boundary remains as of r12). Returns (width, height, pixels)
    or None for non-GIF / unsupported / corrupt blobs.

    Supported: the FIRST image of a GIF whose frame covers the full
    logical screen, global or local color table, extensions skipped
    (sub-block walk), interlaced frames (since r13: the four-pass row
    order — 0 mod 8, 4 mod 8, 2 mod 4, odd — is undone with one
    fancy-index scatter after the LZW decode). Out of scope (None):
    partial frames, missing color table, malformed
    LZW streams, truncation anywhere. Transparency is ignored — the
    transparent index still maps to its table color, the documented
    convention for stats over stills.

    Scale posture: the LZW loop is per-blob Python inside the
    Arrow-batched mapInPandas walk (parallelism = partitions, as the
    PNG Paeth rows); the palette gather back to RGB is one numpy
    fancy-index."""
    import numpy as np

    if blob is None or len(blob) < 13:
        return None
    head = bytes(blob[0:6])
    if head not in (b"GIF87a", b"GIF89a"):
        return None
    b = bytes(blob)
    width = int.from_bytes(b[6:8], "little")
    height = int.from_bytes(b[8:10], "little")
    packed = b[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        if pos + 3 * n > len(b):
            return None
        gct = np.frombuffer(
            b, dtype=np.uint8, count=3 * n, offset=pos
        ).reshape(n, 3)
        pos += 3 * n
    if width <= 0 or height <= 0:
        return None
    while pos < len(b):
        marker = b[pos]
        pos += 1
        if marker == 0x3B:  # trailer before any image
            return None
        if marker == 0x21:  # extension: label + sub-blocks
            pos += 1
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:
            return None
        # image descriptor
        if pos + 9 > len(b):
            return None
        left = int.from_bytes(b[pos:pos + 2], "little")
        top = int.from_bytes(b[pos + 2:pos + 4], "little")
        iw = int.from_bytes(b[pos + 4:pos + 6], "little")
        ih = int.from_bytes(b[pos + 6:pos + 8], "little")
        ipacked = b[pos + 8]
        pos += 9
        table = gct
        if ipacked & 0x80:  # local color table
            n = 2 << (ipacked & 0x07)
            if pos + 3 * n > len(b):
                return None
            table = np.frombuffer(
                b, dtype=np.uint8, count=3 * n, offset=pos
            ).reshape(n, 3)
            pos += 3 * n
        if (left, top, iw, ih) != (0, 0, width, height):
            return None  # partial frame: out of scope
        if table is None:
            return None
        if pos >= len(b):
            return None
        mcs = b[pos]
        pos += 1
        # the LZW ROOT code size is bounded by the palette: at most 8
        # (256 colors). 9..11 are invalid here — only the RUNNING code
        # width grows to 12 during decode — and an unchecked 9+ made
        # the initial table build raise bytes-out-of-range on a
        # corrupt blob (r13 fuzz finding; never-raises contract)
        if not 2 <= mcs <= 8:
            return None
        data = bytearray()
        while pos < len(b) and b[pos] != 0:
            ln = b[pos]
            if pos + 1 + ln > len(b):
                return None
            data += b[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        if pos >= len(b):
            return None  # no sub-block terminator
        idx = _gif_lzw_decode(bytes(data), mcs, width * height)
        if idx is None:
            return None
        arr = np.asarray(idx, dtype=np.int64)
        if arr.max(initial=0) >= len(table):
            return None
        px = table[arr].reshape(height, width, 3)
        if ipacked & 0x40:  # interlaced (since r13): rows are stored
            # in the four GIF passes (0 mod 8, 4 mod 8, 2 mod 4,
            # odd); scatter them back with one fancy-index
            order = np.concatenate([
                np.arange(0, height, 8),
                np.arange(4, height, 8),
                np.arange(2, height, 4),
                np.arange(1, height, 2),
            ])
            out = np.empty_like(px)
            out[order] = px
            px = out
        return width, height, px
    return None


# Zig-zag scan order of the 64 coefficients in an 8x8 JPEG block
# (ITU T.81 Figure 5): _JPEG_ZIGZAG[k] = natural-order index of the
# k-th coefficient in the entropy stream. Shared with the synthesis
# encoder (plans/queries_llm.py:encode_jpeg) so the two cannot drift.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_huff_table(bits, vals):
    """Canonical Huffman decode table from a DHT segment's BITS/VAL
    lists (ITU T.81 Annex C code generation): {(length, code): value}.
    Returns None when the spec's invariants fail (too many codes at a
    length, count mismatch) — the caller rejects the blob."""
    table = {}
    code = 0
    k = 0
    for ln in range(1, 17):
        n = bits[ln - 1]
        if code + n > (1 << ln):
            return None  # over-full level: not a prefix code
        for _ in range(n):
            if k >= len(vals):
                return None
            table[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table if k == len(vals) else None


def _jpeg_huff_fast(bits, vals) -> tuple | None:
    """16-bit-peek Huffman lookup table: returns (sym, ln) as two
    65536-byte `bytes` objects — peek the next 16 stream bits once and
    read the symbol and its code length with TWO byte indexes, instead
    of one dict probe per bit (the r12 ADVICE finding: the per-bit
    walk cost ~2us/bit, minutes per multi-MP blob). Each canonical
    code of length L fills its 2**(16-L) peek slots; ln == 0 marks a
    peek value that is no code's prefix (invalid stream). Returns None
    if (bits, vals) is not a valid prefix code — same validation as
    `_jpeg_huff_table` (which the fixture encoder still inverts), so
    the two builders cannot drift on what counts as well-formed."""
    sym = bytearray(65536)
    ln = bytearray(65536)
    code = 0
    k = 0
    for length in range(1, 17):
        n = bits[length - 1]
        if code + n > (1 << length):
            return None  # over-full level: not a prefix code
        for _ in range(n):
            if k >= len(vals):
                return None
            lo = code << (16 - length)
            span = 1 << (16 - length)
            sym[lo:lo + span] = bytes([vals[k]]) * span
            ln[lo:lo + span] = bytes([length]) * span
            k += 1
            code += 1
        code <<= 1
    if k != len(vals):
        return None
    return bytes(sym), bytes(ln)


def _jpeg_fast_baseline_scan(data, start, splan, comps, mcux, mcuy,
                             width, height, hmax, vmax,
                             restart_interval, zz):
    """Fast path for the BASELINE single full-band scan (the dominant
    wild profile): decode the whole entropy-coded segment with ~10
    Python int ops per symbol instead of the general reader's nested
    closures — r14's answer to the measured ~1.2 MP/s/core constant
    (REBASELINE_r13.json). Returns (next-marker position, one flat
    64*n_blocks coefficient list per component, natural order) or
    None on any malformed stream.

    How: the scan's bytes are DE-STUFFED ONCE into per-restart-
    interval segments (0xFF00 -> 0xFF, RSTn sequence verified as
    boundaries, any other marker ends the scan — all at C speed via
    bytes.find); each segment's bits become a list of 40-bit byte
    windows (numpy build, .tolist(), built per bounded 256 KiB chunk
    since r16 — see the chunking comment), so a 16-bit Huffman LUT peek at
    bit position p is `(w24[p >> 3] >> (8 - (p & 7))) & 0xFFFF` —
    two index ops, no per-byte stuffing checks, no fill/receive call
    overhead. Coefficients accumulate into flat array('q') C buffers
    (r16; Python lists stored boxed ints whose np.array() conversion
    walked millions of pointers — 0.2-1.6 s at 5 MP with a 7x wobble
    — while the array store costs only ~2.8x a list store at ~15
    stores/block) and the caller reads each component back with one
    zero-copy np.frombuffer.

    Strictness is IDENTICAL to the general reader, enforced
    differently: segments are zero-padded and bit positions only grow,
    so a decode that would have starved the general reader instead
    overruns its segment's bit count and fails the per-block guard or
    the end-of-segment check (0 <= leftover < 8 whole bits, exact
    segment count, RSTn order verified during de-stuffing); EOBn and
    ZRL/run band-end rules match decode_block line for line. The
    baseline==progressive property tests pin this path bit-for-bit
    against the general run_scan on shared coefficients, so the two
    implementations cannot drift."""
    import numpy as np

    n = len(data)
    # --- de-stuff into restart segments (C-speed scan) ---
    segs = []
    cur = bytearray()
    pos = start
    end = n
    expected_rst = 0
    while True:
        nxt = data.find(0xFF, pos)
        if nxt < 0:
            cur += data[pos:]
            end = n
            break
        cur += data[pos:nxt]
        if nxt + 1 >= n:
            end = nxt
            break
        m = data[nxt + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos = nxt + 2
        elif 0xD0 <= m <= 0xD7:
            if m != 0xD0 + expected_rst:
                return None
            expected_rst = (expected_rst + 1) % 8
            segs.append(bytes(cur))
            cur = bytearray()
            pos = nxt + 2
        else:
            end = nxt
            break
    segs.append(bytes(cur))

    interleaved = len(splan) > 1
    if interleaved:
        units = mcux * mcuy
        slot_geom = []
        for ci, _, _ in splan:
            _, chf, cvf, _ = comps[ci]
            slot_geom.append((ci, chf, cvf, mcux * chf))
    else:
        ci0 = splan[0][0]
        _, chf, cvf, _ = comps[ci0]
        cw = (width * chf + hmax - 1) // hmax
        chh = (height * cvf + vmax - 1) // vmax
        units = ((cw + 7) // 8) * ((chh + 7) // 8)
    ri = restart_interval
    need_segs = (units - 1) // ri + 1 if ri else 1
    if len(segs) != need_segs:
        return None  # missing/extra restart markers

    # flat C int64 buffers, not Python lists (r16): a list held every
    # stored coefficient as a boxed PyObject, and the caller's
    # np.array(list) walked 4.9M pointers at 5 MP — measured 0.2-1.6 s
    # with a 7x run-to-run wobble under ambient memory-bandwidth
    # contention. array('q') stores cost ~2.8x a list store but there
    # are only ~15 per block, and the numpy conversion becomes a free
    # zero-copy np.frombuffer.
    from array import array as _carray

    colists = [
        _carray("q", bytes(mcuy * v * mcux * h * 512))
        for _, h, v, _ in comps
    ]

    def windows(seg):
        # 40-bit window starting at every byte: ONE list fetch serves
        # both the 16-bit Huffman peek AND the value bits that follow
        # it (code <= 16 + value <= 11 + sub-byte offset <= 7 = 34
        # bits, always inside the window)
        a = np.frombuffer(seg + b"\x00" * 300, dtype=np.uint8) \
            .astype(np.uint64)
        w = (a[:-4] << np.uint64(32)) | (a[1:-3] << np.uint64(24)) \
            | (a[2:-2] << np.uint64(16)) | (a[3:-1] << np.uint64(8)) \
            | a[4:]
        return w.tolist()

    # --- bounded window-list chunking (r16 VERDICT task 4) ---
    # Each window is a Python int (~32 B + an 8 B list slot), so a
    # restartless multi-MP scan's one-shot windows() call was a
    # ~70 MB transient whose GC interaction measured BIMODAL
    # throughput at 4.92 MP (JPEG_THROUGHPUT_r15.json: 3.08/1.50/
    # 1.84 MP/s across identical runs). Windows are now built per
    # bounded CHUNK of the current restart segment (256 KiB of
    # entropy bytes -> ~10 MB of windows, freed chunk-by-chunk); the
    # unit loop rebases (chunk_base, w40, bp, nbt) onto the next
    # chunk before any MCU could read past the safety margin — the
    # costliest legal MCU is 64 blocks (4 comps x 4x4 sampling,
    # SOF-validated) x ~210 entropy bytes/block < 16 KiB << the
    # 32 KiB margin. bp/nbt stay chunk-relative, so every strictness
    # check (per-block overrun, restart-boundary and scan-end
    # leftovers) is arithmetic-identical to the unchunked form.
    _CHUNK_B = 1 << 18
    _REFILL_AT = (_CHUNK_B - 32768) * 8

    seg_cur = segs[0]
    chunk_base = 0
    w40 = windows(seg_cur[:_CHUNK_B + 4])
    nbt = 8 * len(seg_cur)
    bp = 0
    seg_idx = 0
    preds = [0] * len(splan)
    zz_l = list(zz)

    def advance_chunk():
        # slide the window list forward by the consumed whole bytes,
        # keeping bp's sub-byte phase; nbt shifts equally so every
        # (nbt - bp) leftover check is unchanged
        nonlocal chunk_base, w40, nbt, bp
        step = bp >> 3
        chunk_base += step
        bp -= step * 8
        nbt -= step * 8
        w40 = windows(seg_cur[chunk_base:chunk_base + _CHUNK_B + 4])

    def block(slot, co, base, dsym, dln, asym, aln):
        """Decode one block at flat offset `base` of co; returns False
        on malformed input. The hot loop: one w40 window fetch per
        symbol(+value), every store a Python list store."""
        nonlocal bp
        if bp > nbt:
            return False  # ran past the segment: malformed
        # DC
        w = w40[bp >> 3]
        r = bp & 7
        peek = (w >> (24 - r)) & 0xFFFF
        ln = dln[peek]
        if ln == 0:
            return False
        t = dsym[peek]
        if t > 11:
            return False
        if t:
            v = (w >> (40 - r - ln - t)) & ((1 << t) - 1)
            bp += ln + t
            preds[slot] += v if v >= (1 << (t - 1)) \
                else v - (1 << t) + 1
        else:
            bp += ln
        co[base] = preds[slot]
        # AC band 1..63
        k = 1
        while k <= 63:
            w = w40[bp >> 3]
            r = bp & 7
            peek = (w >> (24 - r)) & 0xFFFF
            ln = aln[peek]
            if ln == 0:
                return False
            rs = asym[peek]
            if rs == 0:
                bp += ln
                return True  # EOB
            size = rs & 0x0F
            if size == 0:
                bp += ln
                if rs != 0xF0:
                    return False  # EOBn: illegal in baseline
                k += 16  # ZRL
                if k > 63:
                    return False  # zeros past the band end
                continue
            k += rs >> 4
            if k > 63 or size > 10:  # undefined 8-bit AC size category
                return False
            v = (w >> (40 - r - ln - size)) & ((1 << size) - 1)
            bp += ln + size
            co[base + zz_l[k]] = v if v >= (1 << (size - 1)) \
                else v - (1 << size) + 1
            k += 1
        return True

    # per-slot hot-loop bindings hoisted out of the unit loop
    slot_bind = []
    for slot, (ci, dtab, atab) in enumerate(splan):
        dsym, dln = dtab
        asym, aln = atab
        slot_bind.append((slot, colists[ci], dsym, dln, asym, aln))

    for u in range(units):
        if ri and u and u % ri == 0:
            rem = nbt - bp
            if rem < 0 or rem >= 8:
                return None  # starved decode / garbage whole bytes
            seg_idx += 1
            seg_cur = segs[seg_idx]
            chunk_base = 0
            w40 = windows(seg_cur[:_CHUNK_B + 4])
            nbt = 8 * len(seg_cur)
            bp = 0
            preds = [0] * len(splan)
        elif bp >= _REFILL_AT and chunk_base + _CHUNK_B < len(seg_cur):
            advance_chunk()
        if interleaved:
            my, mx = divmod(u, mcux)
            for (ci, chf, cvf, row_blocks), (
                    slot, co, dsym, dln, asym, aln) in zip(
                    slot_geom, slot_bind):
                for by in range(cvf):
                    row0 = (my * cvf + by) * row_blocks + mx * chf
                    for bx in range(chf):
                        if not block(slot, co, (row0 + bx) << 6,
                                     dsym, dln, asym, aln):
                            return None
        else:
            _, co, dsym, dln, asym, aln = slot_bind[0]
            if not block(0, co, u << 6, dsym, dln, asym, aln):
                return None
    rem = nbt - bp
    if rem < 0 or rem >= 8:
        return None  # starved decode / garbage whole bytes at scan end
    return end, colists


#: T.81 Table D.3 — the QM-coder probability estimation state machine:
#: (Qe, NMPS, NLPS, switch) per state, plus state 113 = JPEG's
#: NON-ADAPTING 0.5 estimate (NMPS = NLPS = self, no switch), the bin
#: F.1.4.3.1 assigns to every AC sign decision. ONE definition shared
#: by the decoder below and the fixture encoder twin
#: (plans/queries_llm.py:encode_jpeg arithmetic=True — the
#: _JPEG_ZIGZAG sharing pattern), so the two sides cannot drift and
#: the driver gate over fixture blobs is bit-exact BY CONSTRUCTION.
#: Transcribed from the public spec (no codec library or network
#: exists in this container to cross-check the transcription against
#: another encoder's output); the structural invariants the published
#: table satisfies — MPS transitions never increase Qe, non-switch
#: LPS transitions never decrease it, switch flags exactly on the
#: fast-attack chain heads — are pinned by
#: test_qm_table_structural_invariants.
_QM_TABLE = (
    (0x5A1D, 1, 1, 1), (0x2586, 2, 14, 0), (0x1114, 3, 16, 0),
    (0x080B, 4, 18, 0), (0x03D8, 5, 20, 0), (0x01DA, 6, 23, 0),
    (0x00E5, 7, 25, 0), (0x006F, 8, 28, 0), (0x0036, 9, 30, 0),
    (0x001A, 10, 33, 0), (0x000D, 11, 35, 0), (0x0006, 12, 9, 0),
    (0x0003, 13, 10, 0), (0x0001, 13, 12, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 16, 36, 0), (0x2CF2, 17, 38, 0), (0x207C, 18, 39, 0),
    (0x17B9, 19, 40, 0), (0x1182, 20, 42, 0), (0x0CEF, 21, 43, 0),
    (0x09A1, 22, 45, 0), (0x072F, 23, 46, 0), (0x055C, 24, 48, 0),
    (0x0406, 25, 49, 0), (0x0303, 26, 51, 0), (0x0240, 27, 52, 0),
    (0x01B1, 28, 54, 0), (0x0144, 29, 56, 0), (0x00F5, 30, 57, 0),
    (0x00B7, 31, 59, 0), (0x008A, 32, 60, 0), (0x0068, 33, 62, 0),
    (0x004E, 34, 63, 0), (0x003B, 35, 32, 0), (0x002C, 9, 33, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 38, 64, 0), (0x3A0D, 39, 65, 0),
    (0x2EF1, 40, 67, 0), (0x261F, 41, 68, 0), (0x1F33, 42, 69, 0),
    (0x19A8, 43, 70, 0), (0x1518, 44, 72, 0), (0x1177, 45, 73, 0),
    (0x0E74, 46, 74, 0), (0x0BFB, 47, 75, 0), (0x09F8, 48, 77, 0),
    (0x0861, 49, 78, 0), (0x0706, 50, 79, 0), (0x05CD, 51, 48, 0),
    (0x04DE, 52, 50, 0), (0x040F, 53, 50, 0), (0x0363, 54, 51, 0),
    (0x02D4, 55, 52, 0), (0x025C, 56, 53, 0), (0x01F8, 57, 54, 0),
    (0x01A4, 58, 55, 0), (0x0160, 59, 56, 0), (0x0125, 60, 57, 0),
    (0x00F6, 61, 58, 0), (0x00CB, 62, 59, 0), (0x00AB, 63, 61, 0),
    (0x008F, 32, 61, 0), (0x5B12, 65, 65, 1), (0x4D04, 66, 80, 0),
    (0x412C, 67, 81, 0), (0x37D8, 68, 82, 0), (0x2FE8, 69, 83, 0),
    (0x293C, 70, 84, 0), (0x2379, 71, 86, 0), (0x1EDF, 72, 87, 0),
    (0x1AA9, 73, 87, 0), (0x174E, 74, 72, 0), (0x1424, 75, 72, 0),
    (0x119C, 76, 74, 0), (0x0F6B, 77, 74, 0), (0x0D51, 78, 75, 0),
    (0x0BB6, 79, 77, 0), (0x0A40, 48, 77, 0), (0x5832, 81, 80, 1),
    (0x4D1C, 82, 88, 0), (0x438E, 83, 89, 0), (0x3BDD, 84, 90, 0),
    (0x34EE, 85, 91, 0), (0x2EAE, 86, 92, 0), (0x299A, 87, 93, 0),
    (0x2516, 71, 86, 0), (0x5570, 89, 88, 1), (0x4CA9, 90, 95, 0),
    (0x44D9, 91, 96, 0), (0x3E22, 92, 97, 0), (0x3824, 93, 99, 0),
    (0x32B4, 94, 99, 0), (0x2E17, 86, 93, 0), (0x56A8, 96, 95, 1),
    (0x4F46, 97, 101, 0), (0x47E5, 98, 102, 0), (0x41CF, 99, 103, 0),
    (0x3C3D, 100, 104, 0), (0x375E, 93, 99, 0), (0x5231, 102, 105, 0),
    (0x4C0F, 103, 106, 0), (0x4639, 104, 107, 0), (0x415E, 99, 103, 0),
    (0x5627, 106, 105, 1), (0x50E7, 107, 108, 0), (0x4B85, 103, 109, 0),
    (0x5597, 109, 110, 0), (0x504F, 107, 111, 0), (0x5A10, 111, 110, 1),
    (0x5522, 109, 112, 0), (0x59EB, 111, 112, 1), (0x5A1D, 113, 113, 0),
)

#: state-bin packing for the statistics areas (one byte per context
#: bin): low 7 bits = Table D.3 state index, high bit = current MPS.
_QM_FIXED_BIN = 113  # the non-adapting 0.5 state (AC signs)


def _jpeg_arith_scan(data, start, splan, comps, mcux, mcuy,
                     width, height, hmax, vmax, restart_interval,
                     zz, dc_cond, ac_cond, prog=None):
    """SEQUENTIAL ARITHMETIC-CODED (SOF9) entropy decode — the QM
    coder of T.81 Annex D driven by the sequential DC/AC statistical
    models of Annex F.1.4 (the same conditioning scheme libjpeg's
    arithmetic path implements): adaptive context bins selected by
    the previous DC diff class (L/U conditioning, default 0/1), the
    zigzag index k (3 bins per k: EOB decision, zero/nonzero, and
    the magnitude-category head), a Kx split (default 5) between
    low- and high-frequency magnitude areas, and a fixed
    non-adapting 0.5 bin for AC signs. Statistics, DC predictors,
    and the coder itself reset at every restart marker (F.1.4.1).

    Same contract as _jpeg_fast_baseline_scan: returns (position of
    the next marker's 0xFF, one flat array('q') of 64*n_blocks
    coefficients per component in natural order) or None on any
    malformed stream. splan is a list of (component index, DC
    conditioning table id, AC conditioning table id); dc_cond /
    ac_cond map table ids to (L, U) / Kx.

    `prog` (r17) switches the function to ONE PROGRESSIVE-arithmetic
    (SOF10) scan: a (coeff arrays, Ss, Se, Ah, Al) tuple. The same
    QM coder and magnitude-chain closures then drive the T.81 Annex
    G.2 progressive models (libjpeg jdarith's four decode_mcu
    flavors): DC first scans are the sequential DC model over
    point-transformed diffs stored back << Al; DC refinements are
    one FIXED-bin raw bit per block OR-ed in at Al; AC first scans
    are the sequential AC model band-limited to [Ss, Se] storing
    magnitudes << Al; AC refinements walk the band with EOB
    decisions only past kex (the last already-significant position),
    an adaptive correction bit per significant coefficient and
    run/newly-significant decisions for the rest. Coefficients
    accumulate into the caller's persistent arrays (the run_scan
    convention) and the return value is just the next marker's
    position. Statistics and the coder re-initialize per scan and at
    every restart, exactly as in the sequential body.

    Strictness (all -> None): magnitude-category chains past the
    15-bit cap, a zero-run crossing the band end, a restart marker
    out of sequence, a scan-end "marker" that is a stray RSTn or not
    a marker code at all (an FF colliding with garbage), any marker
    further than 6 unread bytes from the consumed position, and
    truncation anywhere. One disclosed gap vs the Huffman twin's
    <8-leftover-bits check, inherent to arithmetic coding (libjpeg
    behaves the same): the decoder loads look-ahead bytes on demand
    without knowing where the encoder's code bytes end, so trailing
    garbage before the end marker is absorbed as phantom code/flush
    bytes and cannot be distinguished from legal padding — only the
    marker structure itself is validated.

    Throughput posture: the QM coder is inherently one adaptive
    DECISION per bit (no multi-symbol LUT shortcut exists like the
    Huffman fast path's 16-bit peek), so this path measures ~0.63
    MP/s/core on dense 4:2:0 content vs ~3.4 for the Huffman fast
    reader — disclosed, acceptable: arithmetic JPEGs are a rarity in
    web corpora and the mapInPandas partition parallelism is the
    same."""
    from array import array as _carray

    n = len(data)
    dpos = start
    at_marker = False

    def next_byte():
        # entropy byte feed with the Annex D marker convention: an
        # FF00 pair delivers a literal 0xFF; FF + nonzero is a marker
        # — stop consuming (dpos stays AT the FF) and supply zero
        # bytes from then on, which is how the flush padding decodes
        nonlocal dpos, at_marker
        if at_marker or dpos >= n:
            at_marker = True
            return 0
        byte = data[dpos]
        if byte == 0xFF:
            if dpos + 1 < n and data[dpos + 1] == 0x00:
                dpos += 2
                return 0xFF
            at_marker = True
            return 0
        dpos += 1
        return byte

    C = A = CT = 0

    def initdec():
        # load the two initial code bytes; the interval starts at the
        # encoder's full 0x10000 scale so every Qe subtraction lines
        # up with the byte stream the Figure D.2 encoder emitted
        nonlocal C, A, CT
        C = (next_byte() << 8) | next_byte()
        A = 0x10000
        CT = 0

    tab = _QM_TABLE

    def decode(st, i):
        # T.81 DECODE + conditional exchanges (Figures D.17-D.22) in
        # the LOW-ALIGNED register form: C keeps the code bytes at
        # the stream's own alignment and the MPS/LPS boundary is
        # shifted up to meet it ((A - Qe) << CT, CT = fresh low bits
        # in C), with renormalization deferred to the next call — so
        # the interval arithmetic is the exact mirror of the
        # encoder's C += A / A = Qe updates at full 0x10000 scale.
        # The bottom sub-interval [0, A - Qe) is the MPS (the
        # encoder leaves C alone on a normal MPS), the top Qe-sized
        # part the LPS; conditional exchange flips ownership when
        # the MPS part is the smaller.
        nonlocal C, A, CT
        while A < 0x8000:  # pending renorm from the prior decision
            CT -= 1
            if CT < 0:
                C = ((C << 8) | next_byte()) & 0xFFFFFFFF
                CT += 8
            A <<= 1
        s = st[i]
        qe, nmps, nlps, sw = tab[s & 0x7F]
        mps = s >> 7
        A -= qe
        if C < (A << CT):
            if A & 0x8000:
                return mps  # no renorm -> no estimation
            if A < qe:  # conditional exchange: bottom belongs to LPS
                d = 1 - mps
                if sw:
                    mps = d
                st[i] = (mps << 7) | nlps
            else:
                d = mps
                st[i] = (mps << 7) | nmps
        else:
            C -= A << CT
            if A < qe:  # conditional exchange: top belongs to MPS
                d = mps
                st[i] = (mps << 7) | nmps
            else:
                d = 1 - mps
                if sw:
                    mps = d
                st[i] = (mps << 7) | nlps
            A = qe
        return d

    interleaved = len(splan) > 1
    if interleaved:
        units = mcux * mcuy
        slot_geom = []
        for ci, _, _ in splan:
            _, chf, cvf, _ = comps[ci]
            slot_geom.append((ci, chf, cvf, mcux * chf))
    else:
        ci0 = splan[0][0]
        _, chf, cvf, _ = comps[ci0]
        cw = (width * chf + hmax - 1) // hmax
        chh = (height * cvf + vmax - 1) // vmax
        units = ((cw + 7) // 8) * ((chh + 7) // 8)
        nbx = (cw + 7) // 8
        row_blocks0 = mcux * chf

    colists = [
        _carray("q", bytes(mcuy * v * mcux * h * 512))
        for _, h, v, _ in comps
    ] if prog is None else None
    dc_stats: dict = {}
    ac_stats: dict = {}
    fixed = bytearray([_QM_FIXED_BIN])
    preds = [0] * len(splan)
    dc_ctx = [0] * len(splan)

    def reset_stats():
        for t in {t for _, t, _ in splan}:
            dc_stats[t] = bytearray(64)
        for t in {t for _, _, t in splan}:
            ac_stats[t] = bytearray(256)
        fixed[0] = _QM_FIXED_BIN
        for i in range(len(splan)):
            preds[i] = 0
            dc_ctx[i] = 0

    def decode_mag(st, head_bin, second_same, area_start):
        # Figures F.23/F.24 magnitude tail, shared by DC and AC with
        # one layout difference (Table F.4 vs F.5): the chain's
        # SECOND decision sits at the head bin for AC but already in
        # the X area for DC; the continuation then walks area bins,
        # and the magnitude bits all come from one bin 14 past where
        # the chain ended. Returns magnitude - 1, or None past the
        # 15-bit cap (malformed).
        m = decode(st, head_bin)
        pos = head_bin
        if m:
            if second_same:
                if decode(st, head_bin):
                    m = 2
                    pos = area_start
                    while decode(st, pos):
                        m <<= 1
                        if m == 0x8000:
                            return None
                        pos += 1
            else:
                pos = area_start
                while decode(st, pos):
                    m <<= 1
                    if m == 0x8000:
                        return None
                    pos += 1
        v = m
        base = m  # the chain's category base (MSB of magnitude - 1):
        # what the F.1.4.4.1.2 DC conditioning classifies — NOT the
        # full magnitude (using the magnitude here desynchronized the
        # encoder's and decoder's context selection on small diffs)
        pos += 14
        m >>= 1
        while m:
            if decode(st, pos):
                v |= m
            m >>= 1
        return v, base

    ri = restart_interval
    expected_rst = 0

    def seek_marker():
        # consume the coder's flush remnants up to the next true
        # marker. The lag is bounded arithmetically: the decoder
        # defers the final decision's renormalization (<= 2 byte
        # loads), and the encoder's flush appends 2 code bytes, each
        # possibly FF-stuffed — so a valid stream leaves at most 6
        # unread bytes. Remnant CONTENT is opaque (any byte value is
        # a legal flush byte), so up to that many trailing garbage
        # bytes are indistinguishable from padding — weaker than the
        # Huffman twin's <8-leftover-bits check, disclosed here; the
        # MARKER is validated instead (the RSTn sequence at interval
        # boundaries, and no stray RSTn at scan end — see the call
        # sites).
        nonlocal dpos
        slack = 0
        while dpos + 1 < n and slack <= 6:
            if data[dpos] == 0xFF and data[dpos + 1] != 0x00:
                return data[dpos + 1]
            step = 2 if data[dpos] == 0xFF else 1
            dpos += step
            slack += step
        return None

    if prog is not None:
        # --- SOF10 progressive scan (T.81 Annex G.2 / libjpeg
        # jdarith decode_mcu_{DC,AC}_{first,refine}): the same coder,
        # conditioning and magnitude-chain closures as the sequential
        # body below, driven by the progressive statistical models,
        # accumulating into the caller's persistent coeff arrays.
        coeff_arrs, Ss, Se, Ah, Al = prog
        p1 = 1 << Al

        def prog_block(slot, ci, dt, at, bidx):
            carr = coeff_arrs[ci]
            if Ss == 0:
                if Ah:
                    # DC refinement: one FIXED-bin raw bit per block,
                    # OR-ed in at Al (exact for the negative stored
                    # two's-complement values too — the run_scan rule)
                    if decode(fixed, 0):
                        carr[bidx, 0] |= p1
                    return True
                # DC first: the sequential DC model over diffs of
                # (dc >> Al); the predictor lives in the shifted
                # domain and the store scales back up (G.2.1)
                st = dc_stats[dt]
                ctx = dc_ctx[slot]
                if decode(st, ctx) == 0:
                    dc_ctx[slot] = 0
                else:
                    sign = decode(st, ctx + 1)
                    vm = decode_mag(st, ctx + 2 + sign, False, 20)
                    if vm is None:
                        return False
                    v, cat_base = vm
                    low, up = dc_cond[dt]
                    if cat_base < ((1 << low) >> 1):
                        dc_ctx[slot] = 0
                    elif cat_base > ((1 << up) >> 1):
                        dc_ctx[slot] = 12 + 4 * sign
                    else:
                        dc_ctx[slot] = 4 + 4 * sign
                    preds[slot] += -(v + 1) if sign else v + 1
                carr[bidx, 0] = preds[slot] << Al
                return True
            sa = ac_stats[at]
            if Ah == 0:
                # AC first: the sequential AC model band-limited to
                # [Ss, Se], magnitudes stored << Al (G.2.2)
                kx = ac_cond[at]
                k = Ss
                while k <= Se:
                    se = 3 * (k - 1)
                    if decode(sa, se):
                        break  # EOB
                    while decode(sa, se + 1) == 0:
                        k += 1
                        se += 3
                        if k > Se:
                            return False  # zero run past the band end
                    sign = decode(fixed, 0)
                    vm = decode_mag(
                        sa, se + 2, True, 189 if k <= kx else 217)
                    if vm is None:
                        return False
                    v = vm[0]
                    carr[bidx, zz[k]] = \
                        (-(v + 1) if sign else v + 1) << Al
                    k += 1
                return True
            # AC refinement (jdarith decode_mcu_AC_refine): kex = the
            # last already-significant position in the band; EOB
            # decisions are coded only past it. Each position then
            # resolves to an adaptive correction bit (already
            # significant — the encoder codes (|v| >> Al) & 1, so the
            # add is unconditional on the bit), a newly-significant
            # decision with a FIXED-bin sign, or a zero advance.
            kex = Se
            while kex > 0 and carr[bidx, zz[kex]] == 0:
                kex -= 1
            k = Ss
            while k <= Se:
                se = 3 * (k - 1)
                if k > kex and decode(sa, se):
                    break  # EOB
                while True:
                    c = carr[bidx, zz[k]]
                    if c:
                        if decode(sa, se + 2):
                            carr[bidx, zz[k]] = \
                                c + (p1 if c > 0 else -p1)
                        break
                    if decode(sa, se + 1):
                        carr[bidx, zz[k]] = \
                            -p1 if decode(fixed, 0) else p1
                        break
                    se += 3
                    k += 1
                    if k > Se:
                        return False  # run past the band end
                k += 1
            return True

        reset_stats()
        initdec()
        for u in range(units):
            if ri and u and u % ri == 0:
                if seek_marker() != 0xD0 + expected_rst:
                    return None
                expected_rst = (expected_rst + 1) % 8
                dpos += 2
                at_marker = False
                reset_stats()
                initdec()
            if interleaved:
                my, mx = divmod(u, mcux)
                for slot, (s_ci, s_h, s_v, s_rb) in enumerate(slot_geom):
                    _, s_dt, s_at = splan[slot]
                    for by in range(s_v):
                        for bx in range(s_h):
                            bidx = ((my * s_v + by) * s_rb
                                    + mx * s_h + bx)
                            if not prog_block(slot, s_ci, s_dt, s_at,
                                              bidx):
                                return None
            else:
                by, bx = divmod(u, nbx)
                p_ci, p_dt, p_at = splan[0]
                if not prog_block(0, p_ci, p_dt, p_at,
                                  by * row_blocks0 + bx):
                    return None
        end_marker = seek_marker()
        if end_marker is None or 0xD0 <= end_marker <= 0xD7 \
                or end_marker < 0xC0:
            return None  # same scan-end strictness as the sequential
        return dpos

    # per-MCU block plan, computed once: (slot, coefficient buffer,
    # DC table id, AC table id, and the geometry constants the unit
    # loop folds into each block's flat offset)
    mcu_plan = []
    if interleaved:
        for slot, (ci, chf, cvf, row_blocks) in enumerate(slot_geom):
            _, dt, at = splan[slot]
            for by in range(cvf):
                for bx in range(chf):
                    mcu_plan.append(
                        (slot, colists[ci], dt, at,
                         cvf, row_blocks, chf, by, bx)
                    )
    else:
        ci0, dt0, at0 = splan[0]
        mcu_plan.append((0, colists[ci0], dt0, at0, 1, 0, 1, 0, 0))

    reset_stats()
    initdec()
    for u in range(units):
        if ri and u and u % ri == 0:
            if seek_marker() != 0xD0 + expected_rst:
                return None
            expected_rst = (expected_rst + 1) % 8
            dpos += 2  # past the RSTn
            at_marker = False
            reset_stats()
            initdec()
        if interleaved:
            my, mx = divmod(u, mcux)
            # mcu_plan is hoisted out of the unit loop (the same
            # slot_bind hoist the Huffman fast path does); only the
            # per-MCU offset arithmetic runs here
            blocks_iter = (
                (slot, co, dt, at,
                 (((my * cvf + by) * row_blocks) + mx * chf + bx) << 6)
                for slot, co, dt, at, cvf, row_blocks, chf, by, bx
                in mcu_plan
            )
        else:
            slot0, co0, dt0, at0 = mcu_plan[0][:4]
            blocks_iter = ((slot0, co0, dt0, at0, u << 6),)
        for slot, co, dt, at, base in blocks_iter:
            # --- DC (Figures F.19-F.24, Table F.4 bin layout) ---
            st = dc_stats[dt]
            ctx = dc_ctx[slot]
            if decode(st, ctx) == 0:
                dc_ctx[slot] = 0
            else:
                sign = decode(st, ctx + 1)
                vm = decode_mag(st, ctx + 2 + sign, False, 20)
                if vm is None:
                    return None
                v, cat_base = vm
                low, up = dc_cond[dt]
                if cat_base < ((1 << low) >> 1):
                    dc_ctx[slot] = 0
                elif cat_base > ((1 << up) >> 1):
                    dc_ctx[slot] = 12 + 4 * sign
                else:
                    dc_ctx[slot] = 4 + 4 * sign
                preds[slot] += -(v + 1) if sign else v + 1
            co[base] = preds[slot]
            # --- AC (Figure F.20, 3 bins per k + Kx area split) ---
            sa = ac_stats[at]
            kx = ac_cond[at]
            k = 1
            while k <= 63:
                se = 3 * (k - 1)
                if decode(sa, se):
                    break  # EOB
                while decode(sa, se + 1) == 0:
                    k += 1
                    se += 3
                    if k > 63:
                        return None  # zero run past the band end
                sign = decode(fixed, 0)
                vm = decode_mag(
                    sa, se + 2, True, 189 if k <= kx else 217)
                if vm is None:
                    return None
                v = vm[0]
                co[base + zz[k]] = -(v + 1) if sign else v + 1
                k += 1
    end_marker = seek_marker()
    if end_marker is None or 0xD0 <= end_marker <= 0xD7 \
            or end_marker < 0xC0:
        # no marker within the flush-remnant bound, a stray RSTn
        # outside the restart structure, or an FF followed by a
        # non-marker code (garbage colliding with a flush 0xFF —
        # every real post-scan marker is 0xC0..0xFE): malformed
        return None
    return dpos, colists


def _decode_jpeg_rgb(blob) -> tuple | None:
    """Baseline-sequential JPEG decode to (width, height, HxWx3 uint8
    RGB) using ONLY pure Python + numpy — Huffman entropy decode,
    DPCM DC / run-length AC, dequantization, float64 8x8 IDCT, level
    shift, chroma upsampling, and JFIF YCbCr->RGB. Returns None for
    non-JPEG / unsupported / corrupt blobs, never raises.

    Supported: SOF0 (baseline DCT), SOF1 (extended sequential —
    8- or, since r14, 12-bit precision: level shift +2^(P-1), clamp
    to [0, 2^P - 1], color-convert at sample scale, then keep the
    HIGH byte, the PNG strip-16 convention; DC categories to 15 and
    AC sizes to 14 legal at 12-bit, undefined categories rejected
    per precision), SOF9 (sequential ARITHMETIC, since r16 — the QM
    coder + Annex F.1.4 conditioning via _jpeg_arith_scan, either
    precision, DAC or default conditioning, restarts) and SOF2
    progressive (either precision) — since
    r13
    SPECTRAL SELECTION (an interleaved or per-component DC scan
    followed by single-component AC band scans in any
    non-overlapping band order, EOBn zero-band run codes, per-scan
    DHT redefinition, restart intervals per scan) and since r14 FULL
    SUCCESSIVE APPROXIMATION (T.81 G.1.2: Ah/Al point-transform
    first passes and bit-plane refinement passes, including
    interleaved DC refinements, refinement bands spanning several
    first-pass bands, EOB runs carrying per-block correction bits,
    and legally-truncated scripts decoding at partial precision —
    the full shape of libjpeg's DEFAULT progressive scan script, so
    wild SOF2 files decode rather than NULL); 8-bit precision; 1
    component (grayscale: R=G=B=Y), 3 components (JFIF YCbCr, or —
    since r15 — STORED RGB when APP14 transform 0 or the unmarked
    'R','G','B' component-id signature says so: the planes pass
    through with no color convert; 3-component transform 2 returns
    None, YCCK needs K), or — since r14 — 4 components keyed on the
    Adobe APP14 transform flag (0 = stored inverted CMYK, combined
    R = c*k/255 per libjpeg-turbo; 2 = YCCK, the inverted C/M/Y
    planes first un-encoded with the JFIF floats and clamped
    per-plane before the K combine; unmarked 4-component and
    transform 1 with 4 components return None rather than
    mis-convert); ANY sampling factors in 1..4 — 4:4:4
    (1x1), 4:2:2 (2x1), 4:2:0 (2x2, the dominant wild profile),
    4:1:1, and since r14 NON-DIVISOR mixes too (frame pixel x reads
    component sample x*ch//hmax, a nearest-neighbor integer grid
    that reduces exactly to pixel replication whenever the factors
    divide); arbitrary DQT/DHT tables (read from the
    stream, not assumed), restart intervals (DRI + RSTn with
    DC-predictor reset and byte-alignment), 0xFF00 byte stuffing,
    any number of length-prefixed header segments (a split ICC
    profile can carry hundreds of APP2 chunks — the walk is bounded
    by the blob length, not a segment count), and
    non-multiple-of-MCU dimensions (full MCU grid decoded, cropped
    to WxH). Non-interleaved progressive scans walk each component's
    OWN ceil(w_c/8) x ceil(h_c/8) block raster (T.81 A.2.2), so
    progressive composes with chroma subsampling. Progression
    legality is tracked per COEFFICIENT (the libjpeg coef_bits rule:
    first pass exactly once, each refinement continuing the prior
    Al), so refinement-before-first-pass, Al jumps, and replayed
    scans are all malformed. Out of scope, all None: lossless /
    hierarchical / arithmetic-coded frame types, truncated or
    structurally malformed streams.

    Exactness convention (stated so an oracle can restate it): each
    component plane is IDCT'd in float64, level-shifted by +128, and
    rounded floor(s + 0.5) clamped to [0, 255] BEFORE upsampling and
    color conversion; subsampled chroma is upsampled by EXACT pixel
    replication (hmax/h horizontally, vmax/v vertically — an integer
    factor by the divisor rule), so a chroma sample covers an aligned
    (hmax/h)x(vmax/v) pixel box verbatim; RGB then uses the JFIF
    floats (1.402 / 0.344136 / 0.714136 / 1.772) on the
    integer-valued planes with the same floor(x + 0.5) clamp. numpy
    float64 arithmetic is IEEE 754, so a SQL oracle computing the
    same expressions left-to-right matches bit-for-bit.

    Cost posture (r12 ADVICE; r14 fast path): the bit accumulator is
    truncated to the live bits after every consume, so it never
    exceeds 32 bits — the entropy decode is O(stream length), not
    O(n^2) — and symbols resolve through the 16-bit-peek tables of
    `_jpeg_huff_fast` (one peek + two byte indexes per symbol, not
    one dict probe per bit). Baseline frames (the dominant wild
    profile) additionally route through `_jpeg_fast_baseline_scan` —
    de-stuffed segments, one 40-bit window fetch per symbol+value,
    flat-list coefficient stores — measured at ~3.2-3.3 MP/s/core on
    dense-AC 4:2:0 photos up to 3 MP (JPEG_THROUGHPUT_r14.json;
    ~2.4x the r13 constant). At 100 TB that is ~11 GP/hour/core of
    real photo decode; still ~30-40x a C codec — swap a native codec
    in at the same mapInPandas boundary if decode dominates a
    production bill. The IDCT is batched: one stacked float64 matrix
    product per component over all blocks, not a per-block
    Python-loop product; pixels assemble by per-channel uint8
    assignment, not a float64 stack.

    Scale posture: per-blob Python inside Arrow-batched mapInPandas,
    as the PNG/GIF decoders — parallelism comes from partitions; the
    marker walk is bounded and total (every segment advances the
    cursor). Untrusted-dimension ceiling: a SOF whose decode
    footprint (int64 coefficients + float64 padded planes +
    upsampled conversion temporaries) would exceed
    _JPEG_MAX_ALLOC_BYTES returns None BEFORE anything is allocated —
    a forged header cannot drive executor-killing allocations from a
    tiny blob.

    Reference intent: dfirmin/citydata-etl stores media references
    only (lambda/collect.py) — the decode layer is this engine's
    training-data extension."""
    import numpy as np

    b = bytes(blob) if blob is not None else b""
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hufftabs: dict[tuple, tuple] = {}  # (class 0=DC/1=AC, id) -> LUT pair
    frame = None
    progressive = False
    adobe_transform = None  # APP14 color-transform flag (0/1/2)
    saw_jfif = False  # APP0 "JFIF" seen — forces YCbCr for 3-comp frames
    arithmetic = False  # SOF9 sequential arithmetic coding (r16)
    dac_dc: dict = {}  # DAC conditioning: DC table id -> (L, U)
    dac_ac: dict = {}  # DAC conditioning: AC table id -> Kx
    restart_interval = 0
    coeff = None          # per-component MCU-padded coefficient arrays
    mcux = mcuy = 0
    width = height = hmax = vmax = 0
    comps: list = []
    # per-component, per-zigzag-index progression state (T.81 G.1.1.1.1
    # / the libjpeg coef_bits check): -1 = never coded; otherwise the
    # Al of the last scan that coded this coefficient. A first scan
    # (Ah = 0) requires -1; a refinement scan requires Ah == the prior
    # Al and Al == Ah - 1. Per-COEFFICIENT (not per-band) tracking is
    # what lets a refinement band legally span several first-scan
    # bands — libjpeg's default scan script does exactly that (Y AC
    # first in 1-5 and 6-63 at Al=2, then one 1-63 refinement).
    coef_bits: list = []
    n_scans = 0
    eoi = False
    zz = _JPEG_ZIGZAG

    def extend(v, t):
        return v if v >= (1 << (t - 1)) else v - (1 << t) + 1

    def run_scan(start, splan, Ss, Se, Ah, Al):
        """Decode ONE entropy-coded scan starting at `start` (first
        byte after the SOS header), accumulating coefficients into
        `coeff`; returns the stream position of the next marker's
        0xFF, or None on any malformed stream. splan is a list of
        (component index, DC table, AC table) slots — a table is None
        when the scan's band does not use that class. Interleaved iff
        len(splan) > 1; a single-component scan walks the component's
        OWN ceil(w_c/8) x ceil(h_c/8) block raster, NOT the MCU grid
        (T.81 A.2.2 — the same rule the SOF branch applies to
        1-component frames). One implementation serves the baseline
        path (a single Ss=0..Se=63 scan), the progressive
        spectral-selection path (many partial-band scans), and —
        since r14 — SUCCESSIVE-APPROXIMATION passes (T.81 G.1.2):
        Ah = 0, Al > 0 first scans store point-transformed values
        (DC: arithmetic-shifted diffs re-shifted up by Al; AC:
        extend(v, size) << Al), and Ah > 0 refinement scans append
        one magnitude bit per coefficient — DC: a raw bit OR-ed in at
        position Al (two's-complement append, no Huffman symbols at
        all); AC: the libjpeg jdphuff algorithm — size-1 symbols
        create new coefficients at ±(1 << Al) with a sign bit, runs
        count only ZERO-history positions while already-nonzero
        coefficients passed en route each consume a correction bit
        (1 = grow the magnitude by 1 << Al), ZRL skips 16 zero-history
        positions, and EOBn covers whole blocks whose remaining band
        is corrections-only (each covered block still consumes its
        correction bits). So the bit reader, restart sequencing, ZRL,
        and the EOB/EOBn family cannot drift between modes. EOBn
        (run 1..14, size 0) is only legal in progressive scans;
        baseline keeps rejecting it. An EOB run may not span a
        restart boundary (the interval resets predictors AND the run;
        a stream whose run crosses one is malformed). Strictness (all
        -> None): a refinement AC symbol with size > 1, a new
        coefficient or ZRL whose zero-history run passes the band
        end, refinement-before-first-pass (caught at SOS by
        coef_bits). Scan end is strict: after the sub-byte pad is
        dropped, leftover buffered whole bytes are garbage -> None
        (the restart-boundary rule applied at the scan boundary)."""
        data = b
        dpos = start
        acc = nbits = 0
        marker_hit = None

        def fill():
            nonlocal dpos, acc, nbits, marker_hit
            while nbits <= 24:
                if dpos >= len(data):
                    return False
                byte = data[dpos]
                if byte == 0xFF:
                    if dpos + 1 >= len(data):
                        return False
                    nxt = data[dpos + 1]
                    if nxt == 0x00:
                        dpos += 2  # stuffed literal FF
                    elif 0xD0 <= nxt <= 0xD7 or nxt == 0xD9:
                        marker_hit = nxt
                        return False
                    else:
                        marker_hit = nxt  # any marker ends the scan
                        return False
                else:
                    dpos += 1
                acc = (acc << 8) | byte
                nbits += 8
            return True

        def receive(n):
            nonlocal acc, nbits
            if n == 0:
                return 0
            while nbits < n:
                if not fill() and nbits < n:
                    return None
            nbits -= n
            v = acc >> nbits
            acc &= (1 << nbits) - 1
            return v

        def decode_sym(tab):
            nonlocal acc, nbits
            if nbits < 16:
                fill()  # may legally stop short at a marker / end
            sym, ln = tab
            if nbits >= 16:
                peek = acc >> (nbits - 16)
            else:
                peek = ((acc << (16 - nbits)) | ((1 << (16 - nbits)) - 1)) \
                    if nbits else 0xFFFF
            length = ln[peek]
            if length == 0 or length > nbits:
                return None
            nbits -= length
            acc &= (1 << nbits) - 1
            return sym[peek]

        interleaved = len(splan) > 1
        if interleaved:
            units = mcux * mcuy
            # per-slot geometry hoisted out of the per-MCU hot loop
            slot_geom = []
            for ci, _, _ in splan:
                _, chf, cvf, _ = comps[ci]
                slot_geom.append((chf, cvf, mcux * chf))
        else:
            ci0 = splan[0][0]
            _, chf, cvf, _ = comps[ci0]
            cw = (width * chf + hmax - 1) // hmax
            chh = (height * cvf + vmax - 1) // vmax
            nbx, nby = (cw + 7) // 8, (chh + 7) // 8
            units = nbx * nby
            row_blocks0 = mcux * chf
        preds = [0] * len(splan)
        eobrun = 0
        expected_rst = 0
        kmin = max(Ss, 1)

        def refine_ac(carr, bidx, ac_tab):
            """AC successive-approximation refinement for one block's
            band (T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine). Runs
            count only zero-HISTORY coefficients; nonzero ones passed
            consume a correction bit each. Returns False on malformed
            input (strict posture: size > 1 symbols, runs past the
            band end)."""
            nonlocal eobrun
            p1 = 1 << Al
            k = kmin
            if not eobrun:
                while k <= Se:
                    rs = decode_sym(ac_tab)
                    if rs is None:
                        return False
                    run, size = rs >> 4, rs & 0x0F
                    newval = 0
                    if size == 0:
                        if run != 15:
                            r = receive(run) if run else 0
                            if r is None:
                                return False
                            # NOT the first-scan -1: this block's
                            # remaining corrections run in the eobrun
                            # epilogue below, which decrements once
                            eobrun = (1 << run) + r
                            break
                        # run == 15: ZRL skips 16 zero-history coefs
                    elif size == 1:
                        bit = receive(1)
                        if bit is None:
                            return False
                        newval = p1 if bit else -p1
                    else:
                        return False  # refinement sizes are 0/1 only
                    # advance to the (run+1)-th zero-history position
                    # (ZRL: the 16th), correcting nonzeros en route
                    r = run
                    placed = False
                    while k <= Se:
                        c = carr[bidx, zz[k]]
                        if c:
                            bit = receive(1)
                            if bit is None:
                                return False
                            if bit and not (c & p1):
                                carr[bidx, zz[k]] = \
                                    c + (p1 if c > 0 else -p1)
                        else:
                            r -= 1
                            if r < 0:
                                placed = True
                                break
                        k += 1
                    if not placed:
                        return False  # run/ZRL passed the band end
                    if newval:
                        carr[bidx, zz[k]] = newval
                    k += 1
            if eobrun:
                # EOB-covered remainder: every already-nonzero coef
                # from k to the band end still consumes its bit
                while k <= Se:
                    c = carr[bidx, zz[k]]
                    if c:
                        bit = receive(1)
                        if bit is None:
                            return False
                        if bit and not (c & p1):
                            carr[bidx, zz[k]] = \
                                c + (p1 if c > 0 else -p1)
                    k += 1
                eobrun -= 1
            return True

        def decode_block(slot, bidx):
            nonlocal eobrun
            ci, dc_tab, ac_tab = splan[slot]
            carr = coeff[ci]
            if Ss == 0:
                if Ah:
                    # DC refinement: one raw magnitude bit, appended
                    # at position Al (two's-complement OR is exact for
                    # the negative stored values too)
                    bit = receive(1)
                    if bit is None:
                        return False
                    if bit:
                        carr[bidx, 0] |= 1 << Al
                else:
                    t = decode_sym(dc_tab)
                    # DC categories: <= 11 at 8-bit, <= 15 at 12-bit
                    if t is None or t > (11 if precision == 8 else 15):
                        return False
                    if t:
                        v = receive(t)
                        if v is None:
                            return False
                        preds[slot] += extend(v, t)
                    carr[bidx, 0] = preds[slot] << Al
            if Se >= kmin:
                if Ah:
                    return refine_ac(carr, bidx, ac_tab)
                if eobrun:
                    eobrun -= 1  # inside an EOB run: band stays zero
                    return True
                k = kmin
                while k <= Se:
                    rs = decode_sym(ac_tab)
                    if rs is None:
                        return False
                    run, size = rs >> 4, rs & 0x0F
                    if size == 0:
                        if run == 15:
                            k += 16  # ZRL: 16 zeros, then a coef
                            if k > Se:
                                # zeros past the band end — T.81 says
                                # trailing zeros are EOB material, so
                                # this stream is malformed (r13 review
                                # finding: was silently accepted)
                                return False
                            continue
                        if run and not progressive:
                            return False  # EOBn outside progressive
                        r = receive(run) if run else 0
                        if r is None:
                            return False
                        eobrun = (1 << run) - 1 + r
                        break  # current block's band ends here
                    k += run
                    if k > Se:
                        return False
                    if size > (10 if precision == 8 else 14):
                        return False  # undefined AC size category
                    v = receive(size)
                    if v is None:
                        return False
                    # Al > 0 first scans store the point-transformed
                    # value scaled back up (T.81 G.1.2.2)
                    carr[bidx, zz[k]] = extend(v, size) << Al
                    k += 1
            return True

        ri = restart_interval
        for u in range(units):
            if ri and u and u % ri == 0:
                if eobrun:
                    return None  # EOB run across a restart: malformed
                nbits -= nbits % 8
                acc &= (1 << nbits) - 1
                if nbits:
                    return None  # garbage whole bytes before the RSTn
                if marker_hit is None:
                    fill()
                if marker_hit != 0xD0 + expected_rst:
                    return None
                marker_hit = None
                dpos += 2
                acc = nbits = 0
                expected_rst = (expected_rst + 1) % 8
                preds = [0] * len(splan)
            if interleaved:
                my, mx = divmod(u, mcux)
                for slot, (chf, cvf, row_blocks) in enumerate(slot_geom):
                    for by in range(cvf):
                        for bx in range(chf):
                            bidx = ((my * cvf + by) * row_blocks
                                    + mx * chf + bx)
                            if not decode_block(slot, bidx):
                                return None
            else:
                by, bx = divmod(u, nbx)
                if not decode_block(0, by * row_blocks0 + bx):
                    return None
        if eobrun:
            return None  # EOB run past the last block: malformed
        nbits -= nbits % 8
        acc &= (1 << nbits) - 1
        if nbits:
            return None  # whole garbage bytes before the next marker
        if marker_hit is None and dpos < len(data) and data[dpos] != 0xFF:
            return None
        return dpos

    # every iteration advances pos by >= 2 (markers) or seg_len >= 2,
    # so the walk terminates without a segment-count cap (a split ICC
    # profile alone can exceed any fixed cap — r12 ADVICE)
    while pos < len(b):
        if pos + 2 > len(b) or b[pos] != 0xFF:
            return None
        while pos + 2 <= len(b) and b[pos + 1] == 0xFF:
            pos += 1  # FF fill bytes between segments are spec-valid
        if pos + 2 > len(b):
            return None
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:
            # EOI: legal end of a progressive stream (the scans each
            # returned AT this marker); anywhere else it is premature
            if progressive and n_scans:
                eoi = True
                break
            return None
        if 0xD0 <= marker <= 0xD7:  # stray RST outside a scan
            return None
        if pos + 2 > len(b):
            return None
        seg_len = int.from_bytes(b[pos:pos + 2], "big")
        if seg_len < 2 or pos + seg_len > len(b):
            return None
        seg = b[pos + 2:pos + seg_len]
        pos += seg_len
        if marker == 0xDB:  # DQT: one or more tables
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                p += 1
                n = 64 * (2 if pq == 1 else 1)
                if pq > 1 or p + n > len(seg):
                    return None
                if pq == 1:
                    vals = [int.from_bytes(seg[p + 2 * i:p + 2 * i + 2],
                                           "big") for i in range(64)]
                else:
                    vals = list(seg[p:p + 64])
                q = np.zeros(64, dtype=np.int64)
                for k in range(64):  # stored in zigzag order
                    q[_JPEG_ZIGZAG[k]] = vals[k]
                qtables[tq] = q.reshape(8, 8)
                p += n
        elif marker == 0xC4:  # DHT: one or more tables
            p = 0
            while p < len(seg):
                if p + 17 > len(seg):
                    return None
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                bits = list(seg[p + 1:p + 17])
                nv = sum(bits)
                if tc > 1 or p + 17 + nv > len(seg):
                    return None
                tab = _jpeg_huff_fast(bits, list(seg[p + 17:p + 17 + nv]))
                if tab is None:
                    return None
                hufftabs[(tc, th)] = tab
                p += 17 + nv
        elif marker in _SOF_MARKERS:
            if marker not in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
                # lossless/hierarchical: scope
                return None
            if frame is not None:
                return None  # two frames in one stream: malformed
            progressive = marker in (0xC2, 0xCA)
            # SOF9 = sequential ARITHMETIC (r16), SOF10 = progressive
            # ARITHMETIC (r17): same frame geometry, entropy decoded
            # by the QM coder (_jpeg_arith_scan — the progressive
            # scans drive the Annex G.2 SA/spectral models and
            # accumulate into the shared coeff arrays)
            arithmetic = marker in (0xC9, 0xCA)
            if len(seg) < 6:
                return None
            precision = seg[0]
            height = int.from_bytes(seg[1:3], "big")
            width = int.from_bytes(seg[3:5], "big")
            n_comp = seg[5]
            # SOF0 (baseline) is 8-bit BY DEFINITION (T.81 4.11);
            # extended sequential SOF1/SOF9 and progressive SOF2
            # carry 8- or 12-bit samples (r14: 12-bit supported —
            # medical/scientific corpora)
            legal_prec = (8,) if marker == 0xC0 else (8, 12)
            if precision not in legal_prec or n_comp not in (1, 3, 4):
                return None
            if width <= 0 or height <= 0 or len(seg) < 6 + 3 * n_comp:
                return None
            comps = []
            for c in range(n_comp):
                cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                ch, cv = hv >> 4, hv & 0x0F
                if not (1 <= ch <= 4 and 1 <= cv <= 4):
                    return None
                comps.append((cid, ch, cv, tq))
            if n_comp == 1:
                # a single-component scan is non-interleaved: the MCU
                # is one block and the declared factors do not apply
                # (T.81 A.2.2) — normalize to 1x1
                cid, _, _, tq = comps[0]
                comps = [(cid, 1, 1, tq)]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            frame = (width, height, comps, hmax, vmax)
        elif marker == 0xDD:  # DRI
            if len(seg) != 2:
                return None
            restart_interval = int.from_bytes(seg, "big")
        elif marker == 0xCC:  # DAC: arithmetic conditioning (r16)
            p = 0
            while p + 2 <= len(seg):
                tc, tb = seg[p] >> 4, seg[p] & 0x0F
                cs = seg[p + 1]
                if tb > 3:
                    return None
                if tc == 0:
                    low, up = cs & 0x0F, cs >> 4
                    if not low <= up <= 15:
                        return None  # B.2.4.3: 0 <= L <= U <= 15
                    dac_dc[tb] = (low, up)
                elif tc == 1:
                    if not 1 <= cs <= 63:
                        return None  # B.2.4.3: 1 <= Kx <= 63
                    dac_ac[tb] = cs
                else:
                    return None
                p += 2
            if p != len(seg):
                return None
        elif marker == 0xE0:  # APP0: JFIF signature
            # libjpeg (jdapimin.c default_decompress_parms) forces
            # YCbCr for ANY 3-component frame once a JFIF APP0 was
            # seen, consulting APP14 / component-id guesses only when
            # JFIF is absent — track it so the stored-RGB decision
            # below honors that precedence (r16 ADVICE fix). libjpeg
            # (jdmarker.c examine_app0) only honors a JFIF APP0 with
            # the full 14-byte body (APP0_DATA_LEN); a truncated
            # signature-only segment must NOT flip a stored-RGB frame
            # to YCbCr (r17 ADVICE fix).
            if len(seg) >= 14 and seg[:5] == b"JFIF\x00":
                saw_jfif = True
        elif marker == 0xEE:  # APP14: Adobe color-transform flag
            if len(seg) >= 12 and seg[:5] == b"Adobe":
                adobe_transform = seg[11]
        elif marker == 0xDA:  # SOS
            if frame is None or len(seg) < 1:
                return None
            ns = seg[0]
            if ns < 1 or len(seg) < 1 + 2 * ns + 3:
                # ns = 0 would build an empty scan plan and crash the
                # non-interleaved branch (r13 review finding): a scan
                # must carry 1-4 components (T.81 B.2.3)
                return None
            Ss, Se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
            Ah, Al = ahal >> 4, ahal & 0x0F
            width, height, comps, hmax, vmax = frame
            if coeff is None:
                # color-model legality, settled once APP14 has had
                # its chance to appear (it precedes SOS): a
                # 4-component frame must be Adobe CMYK (transform 0)
                # or YCCK (transform 2) — unmarked 4-component and
                # transform=1 4-component are out of scope. A
                # 3-component frame with transform 0 is STORED RGB
                # (decoded since r15 — the planes pass through with
                # no color convert, libjpeg jdcolor's RGB case);
                # transform 2 with 3 components is illegal (YCCK
                # needs the K channel)
                if len(comps) == 4:
                    if adobe_transform not in (0, 2):
                        return None
                elif len(comps) == 3 and adobe_transform == 2:
                    return None
                # first scan: geometry + the untrusted-dimension gate
                # on the REAL allocation (int64 coefficients + float64
                # padded planes + rounded copies + ~8 float64 full
                # rasters of conversion temporaries), BEFORE anything
                # allocates — a forged SOF cannot make a 300-byte blob
                # allocate gigabytes inside a mapInPandas worker.
                mcux = (width + 8 * hmax - 1) // (8 * hmax)
                mcuy = (height + 8 * vmax - 1) // (8 * vmax)
                padded = sum((mcuy * v * 8) * (mcux * h * 8)
                             for _, h, v, _ in comps)
                full = (mcux * hmax * 8) * (mcuy * vmax * 8)
                if padded * 8 * 3 + full * 8 * 8 > _JPEG_MAX_ALLOC_BYTES:
                    return None
                if progressive:
                    # multi-scan accumulation needs the arrays up
                    # front; the baseline fast path below fills flat
                    # lists in one pass and converts once instead
                    coeff = [
                        np.zeros((mcuy * v * mcux * h, 64),
                                 dtype=np.int64)
                        for _, h, v, _ in comps
                    ]
                coef_bits = [[-1] * 64 for _ in comps]
            if progressive:
                # successive approximation (T.81 B.2.3 + G.1): Al and
                # Ah are 4-bit point transforms capped at 13; a
                # refinement scan lowers Al by exactly one
                if Al > 13 or Ah > 13:
                    return None
                if Ah and Al != Ah - 1:
                    return None
                if Ss == 0:
                    if Se != 0:
                        return None  # DC scan is exactly band 0
                elif ns != 1 or not 1 <= Ss <= Se <= 63:
                    return None  # AC scans are single-component bands
            else:
                if Ss != 0 or Se != 63 or ns != len(comps) or Ah or Al:
                    return None  # baseline: one full-band Ah=Al=0 scan
            splan = []
            seen: set = set()
            for c in range(ns):
                cs, tt = seg[1 + 2 * c], seg[2 + 2 * c]
                td, ta = tt >> 4, tt & 0x0F
                idxs = [i for i, cc in enumerate(comps) if cc[0] == cs]
                if len(idxs) != 1:
                    return None
                ci = idxs[0]
                if ci in seen:
                    # duplicate scan selectors would misassign the
                    # entropy stream across components — wrong pixels,
                    # not None, without this check (r13 review finding)
                    return None
                seen.add(ci)
                if arithmetic:
                    # Td/Ta select CONDITIONING tables, not Huffman:
                    # ids 0-3, defaults L=0/U=1 and Kx=5 when no DAC
                    # redefined them (F.1.4.4.1.4 / F.1.4.4.2)
                    if td > 3 or ta > 3:
                        return None
                    splan.append((ci, td, ta))
                    continue
                # a DC REFINEMENT scan carries no Huffman symbols at
                # all (raw bits), so it needs neither table class
                need_dc = Ss == 0 and Ah == 0
                need_ac = Se >= 1
                dtab = hufftabs.get((0, td)) if need_dc else None
                atab = hufftabs.get((1, ta)) if need_ac else None
                if (need_dc and dtab is None) or \
                        (need_ac and atab is None):
                    return None
                splan.append((ci, dtab, atab))
            if progressive:
                # per-coefficient progression check (T.81 G.1.1.1.1,
                # the libjpeg coef_bits rule): a first scan (Ah = 0)
                # covers each coefficient exactly once; a refinement
                # scan must continue from the prior scan's Al (so
                # refinement-before-first-pass and Al-jumps are both
                # malformed); AC requires that component's DC first
                # scan to have happened
                for ci, _, _ in splan:
                    cb = coef_bits[ci]
                    if Ss and cb[0] < 0:
                        return None  # AC before the DC first scan
                    for k in range(Ss, Se + 1):
                        expected = -1 if Ah == 0 else Ah
                        if cb[k] != expected:
                            return None
                        cb[k] = Al
            if arithmetic:
                dc_cond = {t: dac_dc.get(t, (0, 1)) for _, t, _ in splan}
                ac_cond = {t: dac_ac.get(t, 5) for _, _, t in splan}
                if progressive:
                    # SOF10 (r17): one QM-coded scan of the Annex G.2
                    # progression — accumulates into the shared coeff
                    # arrays and the marker walk continues to the
                    # next scan, exactly like run_scan's SOF2 path
                    ret = _jpeg_arith_scan(
                        b, pos, splan, comps, mcux, mcuy, width,
                        height, hmax, vmax, restart_interval, zz,
                        dc_cond, ac_cond,
                        prog=(coeff, Ss, Se, Ah, Al))
                    if ret is None:
                        return None
                    pos = ret
                    n_scans += 1
                    continue
                ret = _jpeg_arith_scan(
                    b, pos, splan, comps, mcux, mcuy, width, height,
                    hmax, vmax, restart_interval, zz,
                    dc_cond, ac_cond)
                if ret is None:
                    return None
                pos, colists = ret
                coeff = [
                    np.frombuffer(cl, dtype=np.int64).reshape(-1, 64)
                    for cl in colists
                ]
                n_scans += 1
                break
            if not progressive and precision == 8 \
                    and len(b) - pos <= _JPEG_FAST_SCAN_MAX_BYTES:
                # baseline: the single scan decodes everything, via
                # the specialized fast reader (same strictness, ~10
                # Python ops per symbol — see its docstring). Scans
                # beyond _JPEG_FAST_SCAN_MAX_BYTES take the general
                # reader below instead: its window state is O(1), so
                # an adversarial max-entropy stream cannot trade a
                # large blob for a 28x window-list allocation.
                ret = _jpeg_fast_baseline_scan(
                    b, pos, splan, comps, mcux, mcuy, width, height,
                    hmax, vmax, restart_interval, zz)
                if ret is None:
                    return None
                pos, colists = ret
                # zero-copy: the fast reader fills array('q') buffers
                coeff = [
                    np.frombuffer(cl, dtype=np.int64).reshape(-1, 64)
                    for cl in colists
                ]
                n_scans += 1
                break
            if coeff is None:
                # baseline-over-size fallback: the general reader
                # accumulates into the arrays the progressive path uses
                coeff = [
                    np.zeros((mcuy * v * mcux * h, 64), dtype=np.int64)
                    for _, h, v, _ in comps
                ]
            ret = run_scan(pos, splan, Ss, Se, Ah, Al)
            if ret is None:
                return None
            pos = ret
            n_scans += 1
            if not progressive:
                break  # baseline: the single (oversize) scan is all
            continue
        # APPn / COM / anything else length-prefixed: skipped
    if coeff is None or n_scans == 0:
        return None
    if progressive and (not eoi or any(cb[0] < 0 for cb in coef_bits)):
        # a progressive stream must reach EOI with every component's
        # DC first scan seen; never-coded AC bands legally stay zero,
        # and a partially-refined coefficient (coef_bits > 0) is a
        # legal coarser approximation — its stored value already
        # carries the Al scaling
        return None
    width, height, comps, hmax, vmax = frame
    for _, _, _, tq in comps:
        if tq not in qtables:
            return None

    # IDCT basis: A[u, x] = C(u)/2 * cos((2x+1) u pi / 16); spatial
    # block = A.T @ F @ A, batched over every block of a component in
    # ONE stacked matmul. Float64 throughout; DC-only blocks land
    # within ~1e-12 of the exact integer so floor(s+0.5) is exact.
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    A = np.cos((2 * x + 1) * u * np.pi / 16) / 2.0
    A[0, :] *= 1.0 / np.sqrt(2.0)

    # sample scale from the SOF precision: level shift +2^(P-1), clamp
    # to [0, 2^P - 1]; 12-bit rasters project to the output bytes by
    # keeping the HIGH 8 bits after color conversion (the PNG
    # strip-16 convention applied to JPEG), so every downstream
    # kernel stays uint8
    center = float(1 << (precision - 1))
    maxval = float((1 << precision) - 1)
    planes = []
    for ci, (_, ch, cv, tq) in enumerate(comps):
        gr, gc = mcuy * cv, mcux * ch
        # dequant straight into float64 (no int64 intermediate +
        # astype copy), and apply level shift / +0.5 / floor / clamp
        # IN PLACE on the matmul result: each avoided temporary is a
        # full-raster float64 array (~40 MB at 5 MP), and the convert
        # stage is bandwidth-bound — measured hostage to ambient
        # memory-bandwidth contention (r16; the GEMM calibration probe
        # wobbles 4x in the same windows). Arithmetic ORDER is
        # unchanged ((x + center) + 0.5, then floor, then clamp,
        # elementwise), so every rounding convention stays
        # bit-identical.
        blocks = np.multiply(
            coeff[ci].reshape(gr * gc, 8, 8), qtables[tq],
            dtype=np.float64,
        )
        spatial = A.T @ blocks @ A
        spatial += center
        spatial += 0.5
        np.floor(spatial, out=spatial)
        np.clip(spatial, 0.0, maxval, out=spatial)
        # per-plane rounding done; crop to the component raster and
        # upsample to the frame raster by nearest-neighbor index
        # maps: frame pixel x reads component sample x*ch//hmax (r14
        # — subsumes the old divisor-only np.repeat bit-for-bit,
        # since x*ch//hmax == x//(hmax//ch) when ch divides hmax, and
        # lifts the non-divisor restriction: a 3x1-against-2x1 mix
        # upsamples on the exact integer grid instead of returning
        # None)
        p = (spatial.reshape(gr, gc, 8, 8)
             .transpose(0, 2, 1, 3).reshape(gr * 8, gc * 8))
        cw = (width * ch + hmax - 1) // hmax
        chh = (height * cv + vmax - 1) // vmax
        p = p[:chh, :cw]
        if cv != vmax or ch != hmax:
            ridx = np.arange(height, dtype=np.int64) * cv // vmax
            cidx = np.arange(width, dtype=np.int64) * ch // hmax
            p = p[ridx[:, None], cidx[None, :]]
        planes.append(p[:height, :width])
    def pack_rgb(r, g, bl):
        # channel-wise assignment into a preallocated uint8 raster:
        # same C-cast as stack+astype, without the float64 interleave
        # copy (np.stack was ~25% of total decode time at 3 MP).
        # 12-bit channels keep the high byte (integral floats, so
        # floor-dividing by 16 IS the >>4 of the stated convention).
        out = np.empty((height, width, 3), dtype=np.uint8)
        if precision != 8:
            r = np.floor(r / 16.0)
            g = np.floor(g / 16.0)
            bl = np.floor(bl / 16.0)
        out[..., 0] = r
        out[..., 1] = g
        out[..., 2] = bl
        return out

    if len(planes) == 1:
        yp = planes[0]
        return width, height, pack_rgb(yp, yp, yp)
    if len(planes) == 4:
        # Adobe CMYK/YCCK (APP14 transform 0/2, validated at the
        # first SOS). Adobe stores INVERTED ink values, so the
        # libjpeg-turbo cmyk_to_rgb combine applies directly to the
        # stored samples: R = c*k/255 etc., with the engine's
        # floor(x + 0.5) rounding convention. YCCK first undoes the
        # YCbCr encoding of the inverted C/M/Y planes with the same
        # JFIF floats (libjpeg ycck_cmyk), clamped per-plane BEFORE
        # the K combine so an oracle can state both steps exactly.
        if adobe_transform == 2:
            y0, cb, cr, kk = planes
            c = np.clip(np.floor(y0 + 1.402 * (cr - center) + 0.5),
                        0, maxval)
            m = np.clip(
                np.floor(y0 - 0.344136 * (cb - center)
                         - 0.714136 * (cr - center) + 0.5), 0, maxval)
            yy = np.clip(np.floor(y0 + 1.772 * (cb - center) + 0.5),
                         0, maxval)
        else:
            c, m, yy, kk = planes
        r = np.floor(c * kk / maxval + 0.5)
        g = np.floor(m * kk / maxval + 0.5)
        bl = np.floor(yy * kk / maxval + 0.5)
        return width, height, pack_rgb(r, g, bl)
    # 3-component STORED RGB (since r15): Adobe APP14 transform 0, or
    # no APP14 with the 'R','G','B' component-id signature — libjpeg's
    # jdapimin color-space guess, INCLUDING its JFIF precedence (r16):
    # a JFIF APP0 forces YCbCr for any 3-component frame, and APP14 /
    # component ids are consulted only when JFIF is absent
    # (jdapimin.c default_decompress_parms). The planes ARE the
    # channels (already rounded and clamped per plane above); skipping
    # the YCbCr convert is the whole profile. JFIF frames, unmarked
    # cids 1/2/3, and transform 1 stay YCbCr below.
    if not saw_jfif and (
        adobe_transform == 0 or (
            adobe_transform is None
            and tuple(c[0] for c in comps) == (0x52, 0x47, 0x42)
        )
    ):
        r, g, bl = planes
        return width, height, pack_rgb(r, g, bl)
    yv, cb, cr = planes
    r = np.clip(np.floor(yv + 1.402 * (cr - center) + 0.5), 0, maxval)
    g = np.clip(
        np.floor(yv - 0.344136 * (cb - center)
                 - 0.714136 * (cr - center) + 0.5), 0, maxval)
    bl = np.clip(np.floor(yv + 1.772 * (cb - center) + 0.5), 0, maxval)
    return width, height, pack_rgb(r, g, bl)


def _decode_image_rgb(blob) -> tuple | None:
    """Format-dispatching raster decode for the codec-free path: BMP
    (uncompressed 24-bpp, _decode_bmp24), PNG (stdlib zlib,
    _decode_png_rgb), GIF (pure-Python LZW, _decode_gif_rgb), and —
    since r12 — baseline JPEG (pure-Python Huffman + dequant + IDCT,
    _decode_jpeg_rgb) ALL decode for real; there is no stubbed format
    left. Since r13 that includes chroma-subsampled baseline JPEG
    (4:2:0/4:2:2/4:1:1), spectral-selection progressive JPEG,
    interlaced PNG (Adam7) / GIF, and the full spec-legal PNG
    color-type x bit-depth matrix (palette/grayscale, 1/2/4/8/16-
    bit); since r14, successive-approximation progressive JPEG (the
    libjpeg default scan script's bit-plane refinement passes),
    4-component Adobe CMYK/YCCK, 12-bit precision (SOF1/SOF2), and
    non-divisor sampling mixes. Unsupported profiles (arithmetic
    coding, lossless/hierarchical frames, unmarked 4-component
    frames) return None per each decoder's disclosed scope. Every branch returns the same (width, height,
    HxWx3 uint8 RGB, logical top-down) contract, so every raster
    kernel (pixel stats, histogram, resize, ahash) is format-agnostic
    above this line."""
    if blob is None or len(blob) < 6:
        return None
    head = bytes(blob[0:6])
    if head[0:2] == b"BM":
        return _decode_bmp24(blob)
    if head in (b"GIF87a", b"GIF89a"):
        return _decode_gif_rgb(blob)
    if head[0:2] == b"\xff\xd8":
        return _decode_jpeg_rgb(blob)
    return _decode_png_rgb(blob)


_BMP_RESIZE_SCHEMA = (
    "media_id BIGINT, y BIGINT, x BIGINT, "
    "r BIGINT, g BIGINT, b BIGINT"
)


def bmp_resize_nn(
    media: DataFrame, out_w: int, out_h: int,
    content_col: str = "content", id_col: str = "media_id",
    decode=None,
) -> DataFrame:
    """REAL image resize across every supported raster codec:
    nearest-neighbor downsample through _decode_image_rgb, which now
    decodes BMP, PNG, GIF, AND baseline JPEG for real — no stub
    boundary remains. Sampling rule, stated so an oracle can restate
    it: output pixel (x2, y2) reads logical source pixel
    (x2*W // out_w, y2*H // out_h) — integer floor division, no float
    coordinates. The gather is one numpy fancy-index per blob inside
    Arrow-batched mapInPandas. Output is LONG format (one row per
    resized pixel, out_w*out_h rows per decodable image; undecodable
    rows emit nothing) so the result hashes engine-portably without
    array-type comparison. Fan-out is the constant out_w*out_h per
    blob; no shuffle.

    `decode` overrides the raster source (default _decode_image_rgb —
    the STORED raster, the oracle-stated convention of d5_bmp_resize;
    pass decode_oriented_rgb for the EXIF-upright raster, which is
    what image_ahash does so perceptual fingerprints are
    rotation-convention-free)."""
    dec_fn = decode if decode is not None else _decode_image_rgb

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n_out = out_w * out_h
        y_grid = np.repeat(np.arange(out_h, dtype=np.int64), out_w)
        x_grid = np.tile(np.arange(out_w, dtype=np.int64), out_h)
        for pdf in batches:
            parts = []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                dec = dec_fn(blob)
                if dec is None:
                    continue
                w, h, px = dec
                xs = (np.arange(out_w) * w) // out_w
                ys = (np.arange(out_h) * h) // out_h
                flat = px[np.ix_(ys, xs)].astype(np.int64).reshape(-1, 3)
                parts.append(pd.DataFrame({
                    "media_id": np.full(n_out, int(mid), dtype=np.int64),
                    "y": y_grid, "x": x_grid,
                    "r": flat[:, 0], "g": flat[:, 1], "b": flat[:, 2],
                }))
            if parts:
                yield pd.concat(parts, ignore_index=True)
            else:
                yield pd.DataFrame(
                    {k: pd.array([], dtype="int64")
                     for k in ("media_id", "y", "x", "r", "g", "b")}
                )

    return media.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_BMP_RESIZE_SCHEMA)


def bmp_pixel_stats(
    media: DataFrame, content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """REAL pixel decode of raster blobs — every supported codec, no
    library. Dispatches via _decode_image_rgb: uncompressed 24-bpp
    BMP (header parse — data offset, signed height = row orientation,
    bpp/compression gate — then vectorized numpy payload decode:
    stride-padded rows, BGR order, bottom-up flip), DEFLATE-coded PNG
    (stdlib zlib + filter reversal), LZW-coded GIF, and baseline JPEG
    (Huffman + dequant + IDCT). All inside Arrow-batched mapInPandas
    — one Python invocation per record batch, one frombuffer/reshape
    per BMP blob, per-blob Python only where the format is
    sequential by nature (PNG Average/Paeth rows, GIF LZW, JPEG
    entropy decode).

    Emits exact integer per-image statistics (all int64, engine-exact —
    nothing floats): dimensions, per-channel pixel sums, the POSITION-
    WEIGHTED red sum sum((y*W+x) * R(x,y)) over logical coordinates, and
    the packed top-left pixel p00 = R*65536 + G*256 + B. The weighted sum
    and p00 are deliberately orientation-sensitive: a decoder that drops
    the biHeight sign or the stride padding produces the same plain sums
    but the wrong wsum_r/p00, so the oracle catches exactly the bugs the
    plain sums cannot. Non-BMP rows emit NULL stats (triage convention,
    as wav_header_meta). At 100 TB this is one narrow pass over the
    blob column: no shuffle, fan-out 1:1, output ~9 ints per image.
    """
    return _pixel_stats(media, _decode_image_rgb, content_col, id_col)


def _pixel_stats(media, decode_fn, content_col, id_col) -> DataFrame:
    """Shared per-image statistics kernel behind bmp_pixel_stats and
    oriented_pixel_stats — ONE implementation of the stats convention
    (the r14 review finding: a copy-pasted loop had already drifted
    on the media_id dtype), parameterized only by the decode
    function."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {k: [] for k in ("media_id", "width", "height",
                                   "n_pixels", "sum_r", "sum_g", "sum_b",
                                   "wsum_r", "p00")}
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                dec = decode_fn(blob)
                out["media_id"].append(int(mid))
                if dec is None:
                    for k in ("width", "height", "n_pixels", "sum_r",
                              "sum_g", "sum_b", "wsum_r", "p00"):
                        out[k].append(None)
                    continue
                w, h, px = dec
                p64 = px.astype(np.int64)
                pos = np.arange(h * w, dtype=np.int64).reshape(h, w)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(w * h)
                out["sum_r"].append(int(p64[:, :, 0].sum()))
                out["sum_g"].append(int(p64[:, :, 1].sum()))
                out["sum_b"].append(int(p64[:, :, 2].sum()))
                out["wsum_r"].append(int((pos * p64[:, :, 0]).sum()))
                out["p00"].append(
                    int(p64[0, 0, 0]) * 65536
                    + int(p64[0, 0, 1]) * 256
                    + int(p64[0, 0, 2])
                )
            yield pd.DataFrame(
                {k: pd.array(v, dtype="Int64") for k, v in out.items()}
            )

    return media.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_BMP_STATS_SCHEMA)


def sniff_media_format(media: DataFrame,
                       content_col: str = "content") -> DataFrame:
    """Content-format detection from MAGIC BYTES — entirely JVM codegen
    (substring over BINARY + hex prefix tests), no Python, no codec
    library: the validation/routing step that must run before any decode
    at 100 TB, because the DECLARED media type lies (mislabeled uploads,
    renamed extensions) while magic bytes do not.

    Detects: png (89504E470D0A1A0A), jpeg (FFD8FF), gif (GIF87a/GIF89a),
    wav (RIFF....WAVE), avi (RIFF....AVI ), mp4 (ftyp at offset 4);
    everything else -> 'unknown'. Output adds `sniffed_format` and
    `type_consistent` (sniffed format belongs to the declared media_type
    family). Zero exchanges — composes into whatever scan/filter
    surrounds it, and at scale the inconsistent rows route to quarantine
    via an ordinary filter.
    """
    head = F.hex(F.substring(F.col(content_col), 1, 12))
    riff = head.startswith("52494646")  # 'RIFF'
    # container subtype at bytes 9-12 -> hex chars 17-24
    sub = F.substring(head, 17, 8)
    sniffed = (
        F.when(head.startswith("89504E470D0A1A0A"), F.lit("png"))
        .when(head.startswith("FFD8FF"), F.lit("jpeg"))
        .when(
            head.startswith("474946383761")
            | head.startswith("474946383961"),
            F.lit("gif"),
        )
        .when(riff & (sub == "57415645"), F.lit("wav"))    # 'WAVE'
        .when(riff & (sub == "41564920"), F.lit("avi"))    # 'AVI '
        .when(F.substring(head, 9, 8) == "66747970", F.lit("mp4"))  # 'ftyp'
        .otherwise(F.lit("unknown"))
    )
    families = F.create_map(
        F.lit("png"), F.lit("image"), F.lit("jpeg"), F.lit("image"),
        F.lit("gif"), F.lit("image"), F.lit("wav"), F.lit("audio"),
        F.lit("avi"), F.lit("video"), F.lit("mp4"), F.lit("video"),
    )
    return media.withColumn("sniffed_format", sniffed).withColumn(
        "type_consistent",
        families[F.col("sniffed_format")] == F.col("media_type"),
    )


def _le_uint(hex_col, pos: int, nbytes: int):
    """Little-endian unsigned int from a hex string column: reverse the
    byte pairs at 1-based hex position `pos`, then conv base-16. Pure
    codegen — this is how binary header fields decode without Python."""
    pairs = [
        F.substring(hex_col, pos + 2 * i, 2) for i in reversed(range(nbytes))
    ]
    return F.conv(F.concat(*pairs), 16, 10).cast("bigint")


def wav_header_meta(media: DataFrame,
                    content_col: str = "content",
                    id_col: str = "media_id") -> DataFrame:
    """REAL audio metadata extraction with no codec dependency: parse the
    canonical 44-byte PCM WAV header (RIFF little-endian layout) entirely
    in JVM codegen — hex the header once, decode each field by
    reversing its byte pairs and conv(16,10).

    Fields: channels (offset 22), sample rate (24), byte rate (28), bits
    per sample (34), data size (40); duration_ms is exact integer
    arithmetic (data_bytes * 1000 div byte_rate). Non-WAV rows (wrong
    RIFF/WAVE magic) yield NULLs — route them through sniff_media_format
    first. This is the metadata pass a 100 TB audio corpus runs BEFORE
    deciding what to decode: length/rate filters drop the bulk of a
    crawl without touching a codec. Zero exchanges, zero Python.
    """
    h = F.hex(F.substring(F.col(content_col), 1, 44))
    is_wav = h.startswith("52494646") & (F.substring(h, 17, 8) == "57415645")
    guard = lambda c: F.when(is_wav, c)
    byte_rate = _le_uint(h, 57, 4)       # offset 28 -> hex pos 57
    data_bytes = _le_uint(h, 81, 4)      # offset 40 -> hex pos 81
    return media.select(
        id_col,
        guard(_le_uint(h, 45, 2)).alias("n_channels"),       # offset 22
        guard(_le_uint(h, 49, 4)).alias("sample_rate"),      # offset 24
        guard(_le_uint(h, 69, 2)).alias("bits_per_sample"),  # offset 34
        guard(data_bytes).alias("data_bytes"),
        # exact integer floor-division in doubles: subtract the modulus
        # first so the numerator divides evenly (both < 2^53 -> exact).
        # byte_rate > 0 guards a magic-valid but malformed header: under
        # ANSI mode % 0 / / 0 would fail the whole job instead of
        # yielding NULL for that one row — fatal for 100 TB crawl triage.
        F.when(
            is_wav & (byte_rate > 0),
            (data_bytes * 1000 - (data_bytes * 1000) % byte_rate) / byte_rate,
        )
        .cast("bigint")
        .alias("duration_ms"),
    )


def png_header_meta(media: DataFrame,
                    content_col: str = "content",
                    id_col: str = "media_id") -> DataFrame:
    """Image metadata without a decoder: the PNG IHDR chunk sits at a
    FIXED offset (signature 8 bytes + length/type 8 -> width at 17,
    height at 21, bit depth 25, color type 26, all big-endian), so
    dimensions parse as plain conv(hex-substring, 16, 10) in codegen.

    The triage companion to wav_header_meta for the image modality:
    resolution/aspect filters (drop icons, drop absurd aspect ratios)
    run over a 100 TB crawl without touching a pixel codec.  Non-PNG
    rows yield NULLs — route through sniff_media_format first.
    """
    h = F.hex(F.substring(F.col(content_col), 1, 26))
    is_png = h.startswith("89504E470D0A1A0A") & (
        F.substring(h, 25, 8) == "49484452"  # 'IHDR'
    )
    guard = lambda c: F.when(is_png, c)
    be = lambda pos, nbytes: F.conv(
        F.substring(h, pos, 2 * nbytes), 16, 10
    ).cast("bigint")
    width = be(33, 4)   # byte offset 16 (0-based) -> hex pos 33
    height = be(41, 4)
    return media.select(
        id_col,
        guard(width).alias("width"),
        guard(height).alias("height"),
        guard(be(49, 1)).alias("bit_depth"),
        guard(be(51, 1)).alias("color_type"),
        # integer per-mille aspect (w*1000 div h), exact in both engines;
        # height > 0 guards a malformed IHDR — ANSI % 0 would fail the
        # job for one bad row instead of yielding NULL
        F.when(
            is_png & (height > 0),
            (width * 1000 - (width * 1000) % height) / height,
        ).cast("bigint").alias("aspect_pm"),
    )


def gif_header_meta(media: DataFrame,
                    content_col: str = "content",
                    id_col: str = "media_id") -> DataFrame:
    """GIF logical-screen metadata without a decoder: magic GIF87a/89a,
    then width/height as LITTLE-endian uint16 at byte offsets 6/8 and
    the packed flags byte at 10 (global-color-table flag in bit 7,
    table size 2^(bits2-0 + 1)) — all fixed offsets, so the parse is
    pure conv(hex, 16, 10) codegen like png_header_meta, with the LE
    byte-pair reversal wav_header_meta established (_le_uint). Non-GIF
    rows yield NULLs. The last first-class still-image container in
    the triage triad (PNG big-endian, JPEG marker walk, GIF little-
    endian): version/palette/dimension filters over a crawl with zero
    pixel decoding."""
    h = F.hex(F.substring(F.col(content_col), 1, 11))
    is_gif = h.startswith("474946383761") | h.startswith("474946383961")
    guard = lambda c: F.when(is_gif, c)
    packed = F.conv(F.substring(h, 21, 2), 16, 10).cast("bigint")
    width = _le_uint(h, 13, 2)   # byte offset 6 -> hex pos 13
    height = _le_uint(h, 17, 2)  # byte offset 8
    return media.select(
        id_col,
        guard(
            F.when(h.startswith("474946383961"), F.lit("89a"))
            .otherwise(F.lit("87a"))
        ).alias("version"),
        guard(width).alias("width"),
        guard(height).alias("height"),
        # 2^(N+1) palette entries when the GCT flag (bit 7) is set;
        # pow() on ints <= 2^8 is exact in double (shiftleft's numBits
        # must be a literal in the DataFrame API, so it can't ride a
        # column here)
        guard(
            F.when(
                packed >= 128,
                F.pow(F.lit(2.0), (packed % 8 + 1).cast("double")),
            ).otherwise(F.lit(0.0))
        ).cast("bigint").alias("gct_entries"),
        F.when(
            is_gif & (height > 0),
            (width * 1000 - (width * 1000) % height) / height,
        ).cast("bigint").alias("aspect_pm"),
    )


_ENERGY_SCHEMA = (
    "media_id BIGINT, win_idx INT, n_samples INT, energy BIGINT"
)


def audio_energy_windows(
    media: DataFrame,
    window_samples: int = 128,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Per-window audio ENERGY from raw 16-bit PCM WAV bytes — the first
    feature-extraction step past header triage (silence detection, voice-
    activity gating, loudness filters run on exactly this signal before
    any model sees the audio).

    REAL byte-level signal processing with no codec dependency: each blob's
    44-byte canonical PCM header is validated (RIFF/WAVE magic, 16-bit),
    the payload decodes via numpy frombuffer('<i2') — one vectorized call
    per blob, inside Arrow-batched mapInPandas (one Python invocation per
    record batch) — and windows of `window_samples` samples emit their
    exact integer energy sum(s^2) (int64: fits 2^53-scale windows of
    16-bit samples with room to spare). Integer energies make the output
    engine-exact — no float summation order to disagree about. The final
    partial window emits with its true n_samples.

    Non-WAV / malformed rows emit NO windows (route blobs through
    sniff_media_format + wav_header_meta first at scale). Fan-out is
    payload_bytes/2/window rows per blob; at 100 TB repartition before
    this call so partitions stay memory-bounded.
    """
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids: list[int] = []
            wins: list[int] = []
            ns: list[int] = []
            energies: list[int] = []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                if (
                    blob is None
                    or len(blob) < 44
                    or blob[0:4] != b"RIFF"
                    or blob[8:12] != b"WAVE"
                    or int.from_bytes(blob[34:36], "little") != 16
                ):
                    continue
                data_bytes = int.from_bytes(blob[40:44], "little")
                payload = blob[44 : 44 + data_bytes]
                samples = np.frombuffer(
                    payload[: len(payload) // 2 * 2], dtype="<i2"
                ).astype(np.int64)
                for w in range(0, len(samples), window_samples):
                    chunk = samples[w : w + window_samples]
                    ids.append(int(mid))
                    wins.append(w // window_samples)
                    ns.append(len(chunk))
                    energies.append(int(np.dot(chunk, chunk)))
            yield pd.DataFrame(
                {
                    "media_id": pd.array(ids, dtype="int64"),
                    "win_idx": pd.array(wins, dtype="int32"),
                    "n_samples": pd.array(ns, dtype="int32"),
                    "energy": pd.array(energies, dtype="int64"),
                }
            )

    return media.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_ENERGY_SCHEMA)


_JPEG_META_SCHEMA = (
    "media_id BIGINT, width BIGINT, height BIGINT, precision BIGINT, "
    "n_components BIGINT, progressive BOOLEAN, orientation BIGINT"
)

#: SOF markers that carry frame dimensions. C4/C8/CC are NOT frames
#: (DHT/JPG/DAC) — the classic off-by-one in naive parsers.
_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}


def _exif_orientation_from_app1(seg) -> int | None:
    """Orientation (tag 0x0112) from one APP1 payload that starts
    "Exif\\0\\0", else None: parses the embedded TIFF header (both II
    little-endian and MM big-endian byte orders, magic 42, IFD0 at
    the declared offset) and scans IFD0's 12-byte entries for tag
    0x0112 (type SHORT, count 1, value left-justified in the 4-byte
    field per TIFF 6.0 §2). Every offset is bounds-checked against
    the SEGMENT (an EXIF offset cannot read outside its APP1), the
    WHOLE declared table (+ next-IFD link) must fit before any entry
    is trusted (an IFD claiming more entries than it carries is
    malformed even if the orientation tag sits early), entry counts
    cap at 256, and only values 1..8 are valid orientations —
    anything else is None, never a guess."""
    t = seg[6:]
    if len(t) < 8:
        return None
    if t[:2] == b"II":
        end = "little"
    elif t[:2] == b"MM":
        end = "big"
    else:
        return None
    if int.from_bytes(t[2:4], end) != 42:
        return None
    off = int.from_bytes(t[4:8], end)
    if off + 2 > len(t):
        return None
    n = int.from_bytes(t[off:off + 2], end)
    if n > 256 or off + 2 + 12 * n + 4 > len(t):
        return None
    for i in range(n):
        e = off + 2 + 12 * i
        tag = int.from_bytes(t[e:e + 2], end)
        if tag != 0x0112:
            continue
        typ = int.from_bytes(t[e + 2:e + 4], end)
        cnt = int.from_bytes(t[e + 4:e + 8], end)
        if typ != 3 or cnt != 1:
            return None
        v = int.from_bytes(t[e + 8:e + 10], end)
        return v if 1 <= v <= 8 else None
    return None  # IFD0 carries no orientation tag


def _walk_jpeg_header(blob) -> tuple:
    """ONE marker walk capturing both header facts the triage layer
    needs: (SOF tuple or None, EXIF orientation or None).

    Unlike PNG's IHDR (fixed offset — pure codegen in png_header_meta),
    a JPEG's SOF sits behind a VARIABLE number of length-prefixed
    segments (APPn/COM/DQT/...), so the walk is imperative by nature:
    this is the honest boundary where the engine drops from codegen to
    an Arrow-batched Python parser. The walk stops at SOS/EOI or any
    malformed structure and is bounded by the BLOB LENGTH, not a
    segment count (r14 review finding: a 64-segment cap silently
    skipped the EXIF of split-ICC-profile JPEGs the pixel decoder
    itself supports — every iteration advances pos by >= 2 bytes, so
    unbounded-by-count is still total). The FIRST SOF marker and the
    FIRST Exif APP1 each decide their fact permanently (a malformed
    first occurrence pins None — never fall through to a later one);
    the walk ends early once both are known. Orientation matters
    because phone-camera JPEGs store rotated sensor data and
    mis-orientation silently corrupts vision training sets (the r13
    VERDICT gap)."""
    if blob is None or len(blob) < 4 or blob[0] != 0xFF or blob[1] != 0xD8:
        return None, None
    sof = None
    orient = None
    sof_seen = exif_seen = False
    pos = 2
    while True:
        if pos + 4 > len(blob) or blob[pos] != 0xFF:
            break
        # consume 0xFF fill (padding) bytes — spec-valid between
        # segments; the marker is the first non-FF byte after them
        while pos + 4 <= len(blob) and blob[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(blob):
            break
        marker = blob[pos + 1]
        if marker == 0xD9 or marker == 0xDA:  # EOI / start-of-scan
            break
        seg_len = int.from_bytes(blob[pos + 2:pos + 4], "big")
        if seg_len < 2 or pos + 2 + seg_len > len(blob):
            break
        if marker in _SOF_MARKERS and not sof_seen:
            sof_seen = True
            if seg_len >= 8:
                p = pos + 4
                sof = (
                    int.from_bytes(blob[p + 3:p + 5], "big"),  # width
                    int.from_bytes(blob[p + 1:p + 3], "big"),  # height
                    blob[p],                                   # precision
                    blob[p + 5],                               # n_comp
                    marker == 0xC2,                            # progressive
                )
        elif marker == 0xE1 and not exif_seen:
            seg = bytes(blob[pos + 4:pos + 2 + seg_len])
            if seg[:6] == b"Exif\x00\x00":
                exif_seen = True
                orient = _exif_orientation_from_app1(seg)
        if sof_seen and exif_seen:
            break
        pos += 2 + seg_len
    return sof, orient


def _parse_jpeg_sof(blob) -> tuple | None:
    """First SOFn frame header tuple (width, height, precision,
    n_components, progressive) or None — see _walk_jpeg_header."""
    return _walk_jpeg_header(blob)[0]


def _parse_exif_orientation(blob) -> int | None:
    """EXIF orientation (1..8) from the first Exif APP1, or None —
    see _walk_jpeg_header / _exif_orientation_from_app1."""
    return _walk_jpeg_header(blob)[1]


def jpeg_header_meta(media: DataFrame,
                     content_col: str = "content",
                     id_col: str = "media_id") -> DataFrame:
    """Image metadata for JPEG blobs — dimensions, sample precision,
    component count, baseline-vs-progressive, and (since r14) the
    EXIF orientation — without a pixel codec.

    The triage companion to png_header_meta for the dominant web image
    format: resolution/aspect/progressive filters over a 100 TB crawl
    before any decode. Arrow-batched mapInPandas (one Python call per
    record batch, not per row); non-JPEG or malformed rows yield NULL
    metadata; a JPEG without EXIF yields a NULL orientation with the
    SOF columns intact. At scale: repartition to saturate executors;
    the parser reads only the header segments of each blob.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # ONE header walk per blob serves both the SOF columns and
            # orientation (r14 review finding: two independent walks
            # doubled the parse cost of the operator whose whole value
            # is being a cheap single header pass)
            walked = [_walk_jpeg_header(b) for b in pdf[content_col]]
            metas = [w[0] for w in walked]
            yield pd.DataFrame(
                {
                    # the pre-select below aliased id_col to media_id —
                    # index the POST-alias name or a custom id_col KeyErrors
                    "media_id": pdf["media_id"].astype("int64"),
                    "width": pd.array(
                        [m[0] if m else None for m in metas], dtype="Int64"
                    ),
                    "height": pd.array(
                        [m[1] if m else None for m in metas], dtype="Int64"
                    ),
                    "precision": pd.array(
                        [m[2] if m else None for m in metas], dtype="Int64"
                    ),
                    "n_components": pd.array(
                        [m[3] if m else None for m in metas], dtype="Int64"
                    ),
                    "progressive": pd.array(
                        [m[4] if m else None for m in metas],
                        dtype="boolean",
                    ),
                    "orientation": pd.array(
                        [w[1] for w in walked], dtype="Int64",
                    ),
                }
            )

    return media.select(
        F.col(id_col).alias("media_id"), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_JPEG_META_SCHEMA)


_MP4_META_SCHEMA = (
    "media_id BIGINT, major_brand STRING, timescale BIGINT, "
    "duration BIGINT, duration_ms BIGINT"
)


def _box(blob, pos, end):
    """Decode one ISO-BMFF box header at `pos`: (payload_start, box_end,
    type) or None. Handles the three size encodings — 32-bit, 64-bit
    largesize (size==1), and to-end-of-enclosure (size==0)."""
    if pos + 8 > end:
        return None
    size = int.from_bytes(blob[pos:pos + 4], "big")
    btype = bytes(blob[pos + 4:pos + 8])
    hdr = 8
    if size == 1:
        if pos + 16 > end:
            return None
        size = int.from_bytes(blob[pos + 8:pos + 16], "big")
        hdr = 16
    elif size == 0:
        size = end - pos
    if size < hdr or pos + size > end:
        return None
    return pos + hdr, pos + size, btype


def _parse_mp4_mvhd(blob) -> tuple | None:
    """Walk the top-level ISO-BMFF box chain for ftyp + moov, then the
    moov children for mvhd; return (major_brand, timescale, duration).

    Like the JPEG SOF walk, box offsets are data-dependent (boxes are
    length-prefixed and moov commonly sits AFTER an arbitrarily large
    mdat in non-faststart files), so the walk is imperative by nature.
    Bounded (64 boxes per level) and total — malformed input returns
    None, never raises. Both mvhd versions are handled (v0: 32-bit
    times; v1: 64-bit creation/modification/duration)."""
    if blob is None or len(blob) < 16:
        return None
    n = len(blob)
    pos, brand, moov = 0, None, None
    for _ in range(64):
        b = _box(blob, pos, n)
        if b is None:
            break
        payload, box_end, btype = b
        if btype == b"ftyp":
            if payload + 8 > box_end:
                return None
            brand = bytes(blob[payload:payload + 4]).decode("ascii", "replace")
        elif btype == b"moov":
            moov = (payload, box_end)
        pos = box_end
        if pos >= n:
            break
    if brand is None or moov is None:
        return None
    pos, end = moov
    for _ in range(64):
        b = _box(blob, pos, end)
        if b is None:
            return None
        payload, box_end, btype = b
        if btype == b"mvhd":
            p = payload
            if p + 1 > end:
                return None
            version = blob[p]
            if version == 0:
                if p + 20 > box_end:
                    return None
                ts = int.from_bytes(blob[p + 12:p + 16], "big")
                dur = int.from_bytes(blob[p + 16:p + 20], "big")
            elif version == 1:
                if p + 32 > box_end:
                    return None
                ts = int.from_bytes(blob[p + 20:p + 24], "big")
                dur = int.from_bytes(blob[p + 24:p + 32], "big")
            else:
                return None
            return (brand, ts, dur)
        pos = box_end
    return None


def mp4_header_meta(media: DataFrame,
                    content_col: str = "content",
                    id_col: str = "media_id") -> DataFrame:
    """Video metadata for MP4/ISO-BMFF blobs — container brand, movie
    timescale, duration (and derived milliseconds) — without a codec.

    Completes the image (png/jpeg) / audio (wav) / VIDEO triage triad:
    duration and brand filters over a 100 TB crawl before any decode or
    frame sampling. Arrow-batched mapInPandas; non-MP4 or malformed rows
    yield NULL metadata. duration_ms = duration*1000 // timescale is
    computed in the parser (Python ints — no ANSI division-by-zero
    surface; a zero timescale yields NULL)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [_parse_mp4_mvhd(b) for b in pdf[content_col]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].astype("int64"),
                    "major_brand": pd.array(
                        [m[0] if m else None for m in metas], dtype="string"
                    ),
                    "timescale": pd.array(
                        [m[1] if m else None for m in metas], dtype="Int64"
                    ),
                    "duration": pd.array(
                        [m[2] if m else None for m in metas], dtype="Int64"
                    ),
                    "duration_ms": pd.array(
                        [
                            m[2] * 1000 // m[1] if m and m[1] > 0 else None
                            for m in metas
                        ],
                        dtype="Int64",
                    ),
                }
            )

    return media.select(
        F.col(id_col).alias("media_id"), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_MP4_META_SCHEMA)


_TAR_MEMBERS_SCHEMA = (
    "shard_id BIGINT, name STRING, size BIGINT, data_offset BIGINT"
)


def _walk_tar(blob):
    """Enumerate ustar members by walking 512-byte headers: yields
    (name, size, data_offset) per member. Total on malformed input —
    parsing stops at the first invalid or zero header (tar's own
    end-of-archive marker), never raises. The checksum is VERIFIED
    (octal field at 148, computed with the field itself read as
    spaces), so a misaligned walk cannot hallucinate members from file
    payload bytes that happen to look like headers."""
    out = []
    if blob is None:
        return out
    n = len(blob)
    pos = 0
    while pos + 512 <= n:
        hdr = bytes(blob[pos:pos + 512])
        if hdr == b"\0" * 512:
            break
        try:
            stored = int(hdr[148:156].split(b"\0")[0].strip() or b"0", 8)
        except ValueError:
            break
        computed = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != computed:
            break
        name = hdr[0:100].split(b"\0")[0].decode("utf-8", "replace")
        prefix = hdr[345:500].split(b"\0")[0]
        if hdr[257:262] == b"ustar" and prefix:
            name = prefix.decode("utf-8", "replace") + "/" + name
        try:
            size = int(hdr[124:136].split(b"\0")[0].strip() or b"0", 8)
        except ValueError:
            break
        if size < 0:
            break
        out.append((name, size, pos + 512))
        pos += 512 + ((size + 511) // 512) * 512
    return out


def tar_members(archives: DataFrame,
                content_col: str = "content",
                id_col: str = "shard_id") -> DataFrame:
    """Archive listing over tar shards — the WebDataset access pattern:
    100 TB corpora ship as tar files of (sample.jpg, sample.txt, ...)
    members, and every reader first needs the member index (name, size,
    byte offset) WITHOUT unpacking anything. One bounded header walk
    per shard (512-byte strides over the blob, checksum-verified) in
    Arrow-batched mapInPandas; the emitted data_offset lets a
    downstream ranged read fetch exactly one member from object
    storage. Output: (shard_id, name, size, data_offset), one row per
    member, nothing for malformed/empty archives."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, names, sizes, offs = [], [], [], []
            for sid, blob in zip(pdf[id_col], pdf[content_col]):
                for name, size, off in _walk_tar(blob):
                    ids.append(int(sid))
                    names.append(name)
                    sizes.append(size)
                    offs.append(off)
            yield pd.DataFrame(
                {
                    "shard_id": pd.array(ids, dtype="int64"),
                    "name": pd.array(names, dtype="string"),
                    "size": pd.array(sizes, dtype="int64"),
                    "data_offset": pd.array(offs, dtype="int64"),
                }
            )

    return archives.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_TAR_MEMBERS_SCHEMA)


_BMP_HIST_SCHEMA = "media_id BIGINT, channel STRING, bin BIGINT, n BIGINT"


def bmp_channel_histogram(
    media: DataFrame, n_bins: int = 8,
    content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """Per-image CHANNEL HISTOGRAMS over real decoded pixels — the
    image-quality screening primitive (a training-data pipeline drops
    near-solid / low-entropy images the way Gopher drops repetitive
    text, and the channel histogram is the statistic those filters
    read). Equal-width bins over the 0..255 byte range: bin =
    value div (256/n_bins) — integer exact, so the oracle restates it.

    Decode reuses _decode_image_rgb (BMP orientation/stride handling;
    PNG via stdlib zlib since r11); the
    count is one np.bincount per channel per blob inside Arrow-batched
    mapInPandas — no per-pixel Python. Only occupied bins emit (count
    semantics, matching the oracle's GROUP BY); non-BMP rows emit
    nothing. Fan-out <= 3*n_bins rows per image; no shuffle."""
    if 256 % n_bins != 0:
        raise ValueError(f"n_bins {n_bins} must divide 256")
    width = 256 // n_bins

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        names = ("r", "g", "b")
        for pdf in batches:
            # column accumulators, ONE DataFrame per Arrow batch — a
            # frame per (image, channel) costs more than the decode
            mids, chans, bins_, ns = [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[content_col]):
                dec = _decode_image_rgb(blob)
                if dec is None:
                    continue
                px = dec[2]
                for ci in range(3):
                    counts = np.bincount(
                        px[:, :, ci].ravel() // width, minlength=n_bins
                    )
                    nz = np.nonzero(counts)[0]
                    mids.append(
                        np.full(len(nz), int(mid), dtype=np.int64)
                    )
                    chans.append(np.full(len(nz), names[ci], dtype=object))
                    bins_.append(nz.astype(np.int64))
                    ns.append(counts[nz].astype(np.int64))
            if mids:
                yield pd.DataFrame({
                    "media_id": np.concatenate(mids),
                    "channel": np.concatenate(chans),
                    "bin": np.concatenate(bins_),
                    "n": np.concatenate(ns),
                })
            else:
                yield pd.DataFrame({
                    "media_id": pd.array([], dtype="int64"),
                    "channel": pd.array([], dtype="str"),
                    "bin": pd.array([], dtype="int64"),
                    "n": pd.array([], dtype="int64"),
                })

    return media.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_BMP_HIST_SCHEMA)


_FRAME_STATS_SCHEMA = (
    "video_id BIGINT, frame_idx BIGINT, n_pixels BIGINT, "
    "sum_r BIGINT, sum_g BIGINT, sum_b BIGINT"
)


def tar_bmp_frame_stats(archives: DataFrame,
                        content_col: str = "content",
                        id_col: str = "video_id") -> DataFrame:
    """Per-frame integer channel statistics over VIDEOS-AS-TAR-SHARDS —
    the WebDataset video layout (one tar per clip, one image member
    per frame) walked and decoded in a single pass: _walk_tar
    enumerates members (checksum-verified headers), _decode_bmp24
    decodes each frame (both storage orientations, live stride
    padding), and each frame emits exact int64 (n_pixels, sum_r/g/b).
    Frame index parses from the member name's frame_<k>.bmp field
    (anchored — a digit elsewhere in the path, e.g. clip012/, is not
    a frame number), not member order, so a re-packed shard keeps its
    timeline; duplicate frame_<k>.bmp member names within one shard
    keep the FIRST occurrence, so (video_id, frame_idx) is unique and
    downstream lag() windows are deterministic. Non-BMP and
    non-frame members are skipped individually
    (triage convention); a CHECKSUM-corrupt header terminates that
    shard's walk — its size field cannot be trusted to find the next
    header, so later members are unreachable, and a clip that lost
    part of its timeline this way shows up as missing frames (count
    it against n_frames downstream; pinned in the unit test). One
    Arrow batch in, one frame-stats frame out — no per-pixel Python,
    column arrays assembled per batch.

    This is the decode half of temporal analysis (scene-cut detection,
    inter-frame motion energy): downstream is plain DataFrame window
    algebra over (video_id, frame_idx). At 100 TB: one narrow pass
    over the shard blob column, fan-out = frames per clip, no
    shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        import numpy as np

        for pdf in batches:
            vids, fidx, npx, sr, sg, sb = [], [], [], [], [], []
            for vid, blob in zip(pdf[id_col], pdf[content_col]):
                seen_fidx = set()
                for name, size, off in _walk_tar(blob):
                    m = re.search(r"frame_(\d+)\.bmp$", name)
                    if m is None:
                        continue
                    if int(m.group(1)) in seen_fidx:
                        # duplicate member name in a re-packed shard:
                        # keep the FIRST occurrence so (video_id,
                        # frame_idx) stays unique — a duplicate row
                        # would make downstream lag()-over-frame_idx
                        # windows nondeterministic
                        continue
                    # claim the index BEFORE decoding: if the first
                    # occurrence is corrupt, the frame is absent (a
                    # later duplicate must not stand in for it — the
                    # shard's naming can't be trusted at that point)
                    seen_fidx.add(int(m.group(1)))
                    decoded = _decode_bmp24(
                        bytes(blob[off:off + size])
                    )
                    if decoded is None:
                        continue
                    w, h, px = decoded
                    px64 = px.astype(np.int64)
                    vids.append(int(vid))
                    fidx.append(int(m.group(1)))
                    npx.append(w * h)
                    sr.append(int(px64[:, :, 0].sum()))
                    sg.append(int(px64[:, :, 1].sum()))
                    sb.append(int(px64[:, :, 2].sum()))
            yield pd.DataFrame(
                {
                    "video_id": pd.array(vids, dtype="int64"),
                    "frame_idx": pd.array(fidx, dtype="int64"),
                    "n_pixels": pd.array(npx, dtype="int64"),
                    "sum_r": pd.array(sr, dtype="int64"),
                    "sum_g": pd.array(sg, dtype="int64"),
                    "sum_b": pd.array(sb, dtype="int64"),
                }
            )

    return archives.select(
        F.col(id_col).alias(id_col), F.col(content_col).alias(content_col)
    ).mapInPandas(run, schema=_FRAME_STATS_SCHEMA)


def image_ahash(media: DataFrame, size: int = 8) -> DataFrame:
    """PERCEPTUAL image fingerprint (average-hash) over real decoded
    pixels — the image analog of SimHash text fingerprints: resize to
    a size x size grid (bmp_resize_nn, integer nearest-neighbor), one
    bit per cell set where the cell's luminance strictly exceeds the
    image mean, packed into two BIGINT halves (lo = bits 0..31,
    hi = 32..63 — two halves instead of one 64-bit word so no engine
    touches the sign bit). Near-duplicate IMAGES (re-encodes, small
    crops/edits) land within small hamming distance and join through
    the same chunk-blocking machinery as d4_simhash_pairs — this
    operator produces the fingerprint; pairing is the existing dedup
    topology.

    ORIENTATION CONVENTION (r15): fingerprints hash the EXIF-UPRIGHT
    raster (decode_oriented_rgb), not the stored one — a phone photo
    stored rotated with orientation 6 and its upright re-save are the
    SAME visual content and must collide, which stored-raster hashing
    misses by construction. Formats with no EXIF channel (BMP, PNG,
    GIF) are unaffected (stored == upright), so the fixture oracles
    are unchanged; the convention is pinned by
    test_image_ahash_orientation_invariant.

    Everything after the decode is integer relational algebra: the
    mean comparison is lum * n_cells > total (no division), the bit
    pack a conditional shift — so the full chain decode -> resize ->
    threshold -> pack is SQL-stateable and driver-checked bit-for-bit.
    At 100 TB: decode/resize is the one narrow blob pass; the
    threshold window is per-image (size^2 rows per group); output is
    3 ints per image."""
    n_cells = size * size
    px = bmp_resize_nn(media, size, size, decode=decode_oriented_rgb)
    lum = (F.col("r") + F.col("g") + F.col("b")).alias("lum")
    idx = (F.col("y") * size + F.col("x")).alias("idx")
    w = W.partitionBy("media_id")
    cells = px.select("media_id", idx, lum).withColumn(
        "total", F.sum("lum").over(w)
    )
    bit = F.col("lum") * n_cells > F.col("total")
    half_bits = n_cells // 2
    lo = F.when(
        bit & (F.col("idx") < half_bits),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx AS INT))"),
    ).otherwise(F.lit(0))
    hi = F.when(
        bit & (F.col("idx") >= half_bits),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(idx - {half_bits} AS INT))"
        ),
    ).otherwise(F.lit(0))
    return cells.groupBy("media_id").agg(
        F.sum(lo).cast("bigint").alias("ahash_lo"),
        F.sum(hi).cast("bigint").alias("ahash_hi"),
        F.sum(bit.cast("int")).cast("bigint").alias("n_bits"),
    )


def ahash_neardup_pairs(
    hashes: DataFrame, max_hamming: int = 3,
    id_col: str = "media_id",
) -> DataFrame:
    """Near-duplicate IMAGE pairs from average-hash fingerprints —
    the d4_simhash_pairs pigeonhole topology on the two-half 64-bit
    hash: split the 64 bits into max_hamming+1 disjoint 16-bit chunks
    (4 chunks at the default), equi-join on any agreeing (chunk_idx,
    chunk_value) — a pair within max_hamming MUST agree exactly on at
    least one chunk (pigeonhole), so blocking is lossless — then
    verify with the exact popcount of the xor. No cross join at any
    scale; candidate cost follows chunk-bucket occupancy.

    Input: (media_id, ahash_lo, ahash_hi) from image_ahash. Output:
    (media_a, media_b, hamming), media_a < media_b, one row per pair. A
    media id may carry several hash rows (say, one per frame or
    rendition): it never pairs with itself, and a pair reports the
    smallest hamming over the two ids' hashes."""
    from citydata_etl_spark.caching import scoped_persist

    n_chunks = max_hamming + 1
    assert n_chunks == 4, "chunk layout below is 4 x 16 bits"
    # r18 (guide §2.3/§2.5 — shuffle/verify distinct keys, not payload
    # duplicates): perceptual hashes are HEAVILY duplicated exactly
    # when near-dups exist (at sf0.1, 4,284 images collapse to 312
    # distinct hashes), so chunk-joining media rows directly explodes
    # on the duplicate groups — measured 17.7M candidate pairs (sum of
    # per-chunk bucket occupancy squares) verified inside one
    # AQE-coalesced 2-task stage. Mining pairs at the DISTINCT-HASH
    # level first caps the chunk join + popcount verify at
    # |distinct hashes|^2 worst case (<= ~97k here), and the member
    # expansion afterwards is proportional to the TRUE OUTPUT, which
    # no algorithm avoids. Pair set is identical: a qualifying media
    # pair either shares its exact hash (within-group, hamming 0 <=
    # max_hamming always) or spans two distinct hashes whose pair
    # passes the same pigeonhole + popcount test.
    members = scoped_persist(
        hashes.select(
            F.col(id_col).alias("mid"), "ahash_lo", "ahash_hi"
        )
    )
    dh = members.select("ahash_lo", "ahash_hi").distinct()
    chunks = []
    for i in range(4):
        sh = (i % 2) * 16
        chunks.append(
            F.struct(
                F.lit(i).alias("ci"),
                F.pmod(
                    F.expr(
                        f"shiftright({'ahash_lo' if i < 2 else 'ahash_hi'},"
                        f" {sh})"
                    ),
                    F.lit(65536),
                ).alias("cv"),
            )
        )
    keyed = dh.select(
        "ahash_lo", "ahash_hi",
        F.explode(F.array(*chunks)).alias("c"),
    ).select("ahash_lo", "ahash_hi", "c.ci", "c.cv")
    ha = keyed.select(
        F.col("ahash_lo").alias("lo_a"),
        F.col("ahash_hi").alias("hi_a"),
        "ci", "cv",
    )
    hb = keyed.select(
        F.col("ahash_lo").alias("lo_b"),
        F.col("ahash_hi").alias("hi_b"),
        "ci", "cv",
    )
    ham = (
        F.bit_count(F.expr("lo_a ^ lo_b"))
        + F.bit_count(F.expr("hi_a ^ hi_b"))
    )
    # qualifying ORDERED distinct-hash pairs (struct comparison gives
    # the total order; distinct drops multi-chunk agreement repeats)
    hp = (
        ha.join(hb, ["ci", "cv"])
        .filter(
            F.struct(F.col("lo_a"), F.col("hi_a"))
            < F.struct(F.col("lo_b"), F.col("hi_b"))
        )
        .select("lo_a", "hi_a", "lo_b", "hi_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    # expansion 1: within-group pairs — identical hashes, hamming 0
    ma = members.select(
        F.col("mid").alias("media_a"), "ahash_lo", "ahash_hi"
    )
    mb = members.select(
        F.col("mid").alias("media_b"), "ahash_lo", "ahash_hi"
    )
    within = (
        ma.join(mb, ["ahash_lo", "ahash_hi"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select(
            "media_a", "media_b",
            F.lit(0).cast(
                hp.schema["hamming"].dataType.simpleString()
            ).alias("hamming"),
        )
    )
    # expansion 2: cross-group pairs, re-ordered by id. With one hash
    # per id each unordered media pair appears exactly once (the hash
    # pair is ordered); an id with several hashes can meet itself here
    across = (
        hp.join(
            ma.select(
                F.col("media_a").alias("m1"),
                F.col("ahash_lo").alias("lo_a"),
                F.col("ahash_hi").alias("hi_a"),
            ),
            ["lo_a", "hi_a"],
        )
        .join(
            mb.select(
                F.col("media_b").alias("m2"),
                F.col("ahash_lo").alias("lo_b"),
                F.col("ahash_hi").alias("hi_b"),
            ),
            ["lo_b", "hi_b"],
        )
        .filter(F.col("m1") != F.col("m2"))
        .select(
            F.least("m1", "m2").alias("media_a"),
            F.greatest("m1", "m2").alias("media_b"),
            "hamming",
        )
    )
    # ids with several hashes can also repeat a pair across hash pairs
    # and across the two expansions: keep the closest
    return (
        within.unionByName(across)
        .groupBy("media_a", "media_b")
        .agg(F.min("hamming").alias("hamming"))
    )


def _apply_exif_orientation(px, orientation: int):
    """Map a decoded raster to its UPRIGHT visual form per the EXIF
    orientation tag (TIFF 6.0 / JEITA CP-3451: the tag states where
    the stored row 0 / column 0 sit in the scene). The eight cases in
    PIL.ImageOps.exif_transpose order: 1 identity, 2 mirror
    horizontal, 3 rotate 180, 4 mirror vertical, 5 transpose (TL-BR
    flip), 6 rotate 90 CW, 7 transverse (TR-BL flip), 8 rotate 90
    CCW. Values 5-8 SWAP the visual width/height. Returns a view
    where numpy allows (slicing/transpose — zero copy); callers that
    need contiguous memory copy explicitly. Orientation outside 1..8
    (including None) is treated as 1 — the parser already rejects
    out-of-range tags, so a None here means "no EXIF", i.e. upright.
    """
    if orientation == 2:
        return px[:, ::-1]
    if orientation == 3:
        return px[::-1, ::-1]
    if orientation == 4:
        return px[::-1, :]
    if orientation == 5:
        return px.transpose(1, 0, 2)
    if orientation == 6:
        return px.transpose(1, 0, 2)[:, ::-1]
    if orientation == 7:
        return px.transpose(1, 0, 2)[::-1, ::-1]
    if orientation == 8:
        return px.transpose(1, 0, 2)[::-1, :]
    return px


def decode_oriented_rgb(blob) -> tuple | None:
    """Format-dispatching decode that returns the UPRIGHT raster:
    `_decode_image_rgb` plus, for JPEGs carrying an EXIF orientation,
    the `_apply_exif_orientation` transform — the missing half of the
    r14 orientation work (surfacing the tag tells a pipeline the
    frame is rotated; a vision training set needs the pixels actually
    normalized, or every sideways phone photo trains the model on
    rotated scenes). Returns (visual_width, visual_height, HxWx3
    uint8) — dimensions are the POST-rotation ones for orientations
    5-8. Non-JPEG formats have no EXIF channel here and pass through
    unchanged."""
    import numpy as np

    decoded = _decode_image_rgb(blob)
    if decoded is None:
        return None
    w, h, px = decoded
    b = bytes(blob) if not isinstance(blob, bytes) else blob
    if len(b) >= 2 and b[0] == 0xFF and b[1] == 0xD8:
        o = _parse_exif_orientation(b)
        if o is not None and o != 1:
            px = np.ascontiguousarray(_apply_exif_orientation(px, o))
            h, w = px.shape[0], px.shape[1]
    return w, h, px


def oriented_pixel_stats(
    media: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """bmp_pixel_stats' schema over the UPRIGHT raster
    (decode_oriented_rgb): identical output columns, so every oracle
    convention carries over, but width/height/wsum_r/p00 reflect the
    visually-normalized image — on an orientation-6 phone photo,
    width and height swap and p00 is the visual top-left pixel, not
    the stored one. Same kernel as bmp_pixel_stats (_pixel_stats —
    one implementation of the stats convention), same scale posture:
    one Arrow-batched mapInPandas pass, no shuffle, fan-out 1:1."""
    return _pixel_stats(media, decode_oriented_rgb, content_col, id_col)
