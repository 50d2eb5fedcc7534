"""Multimodal plumbing tests: binary columns + Arrow-batched decode stub
(the codec itself is stubbed; schema/batching/fan-out are real)."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from citydata_etl_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (i, ["image", "audio", "video"][i % 3], bytes([i % 256]) * (100 + i),
         64 if i % 3 == 0 else None, 64 if i % 3 == 0 else None,
         5000 if i % 3 == 2 else None)
        for i in range(30)
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_decode_features_shape(spark, media):
    out = M.decode_features(media, partitions=4)
    rows = out.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["features"]) == M.FEATURE_DIM
        assert all(0.0 <= f <= 1.0 for f in r["features"])
        # deterministic: features derive from content hash
        blob = bytes([r["media_id"] % 256]) * (100 + r["media_id"])
        assert r["content_sha"] == hashlib.sha256(blob).hexdigest()
        assert r["n_bytes"] == len(blob)


def test_frame_sample_fanout(spark, media):
    out = M.frame_sample_plan(media, every_ms=1000)
    rows = out.collect()
    videos = media.filter(F.col("media_type") == "video").count()
    assert len(rows) == videos * 5  # 5000ms / 1000ms
    assert {r["frame_ts_ms"] for r in rows} == {0, 1000, 2000, 3000, 4000}


def test_jpeg_resizes_for_real(spark):
    """The former resize_stub boundary is gone: a genuine baseline
    JPEG flows through bmp_resize_nn like any other raster — the
    nearest-neighbor gather reads the decoded DC-only tiles at the
    stated floor-division sampling rule."""
    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    bw = bh = 2
    blks = []
    for i in range(bw * bh):
        b = [[0] * 8 for _ in range(8)]
        b[0][0] = 10 * i  # tiles: 128, 138, 148, 158
        blks.append(b)
    blob = encode_jpeg([blks], 16, 16)
    df = spark.createDataFrame(
        [(1, blob)], "media_id LONG, content BINARY"
    )
    rows = {(r["y"], r["x"]): r["r"]
            for r in M.bmp_resize_nn(df, 2, 2).collect()}
    # output (x2, y2) samples source (x2*16//2, y2*16//2) = tile corner
    assert rows == {(0, 0): 128, (0, 1): 138, (1, 0): 148, (1, 1): 158}


def test_sniff_media_format_on_real_headers(spark):
    """Byte-level detection against genuine file headers — png, jpeg,
    GIF87a/GIF89a, RIFF/WAVE, RIFF/AVI, mp4 ftyp, and garbage — plus the
    declared-type consistency flag."""
    from citydata_etl_spark.operators.multimodal import sniff_media_format

    rows = [
        (1, "image", bytes.fromhex("89504E470D0A1A0A0000000D49484452")),
        (2, "image", bytes.fromhex("FFD8FFE000104A46494600")),
        (3, "image", b"GIF87a" + b"\x00" * 8),
        (4, "image", b"GIF89a" + b"\x00" * 8),
        (5, "audio", b"RIFF\x24\x08\x00\x00WAVEfmt "),
        (6, "video", b"RIFF\x24\x08\x00\x00AVI LIST"),
        (7, "video", b"\x00\x00\x00\x20ftypisom\x00\x00\x02\x00"),
        (8, "image", b"RIFF\x24\x08\x00\x00WAVEfmt "),  # mislabeled wav
        (9, "audio", b"not a media file at all"),
    ]
    df = spark.createDataFrame(
        rows, "media_id LONG, media_type STRING, content BINARY"
    )
    out = {r["media_id"]: r for r in sniff_media_format(df).collect()}
    assert out[1]["sniffed_format"] == "png" and out[1]["type_consistent"]
    assert out[2]["sniffed_format"] == "jpeg" and out[2]["type_consistent"]
    assert out[3]["sniffed_format"] == "gif"
    assert out[4]["sniffed_format"] == "gif"
    assert out[5]["sniffed_format"] == "wav" and out[5]["type_consistent"]
    assert out[6]["sniffed_format"] == "avi" and out[6]["type_consistent"]
    assert out[7]["sniffed_format"] == "mp4" and out[7]["type_consistent"]
    assert out[8]["sniffed_format"] == "wav"
    assert out[8]["type_consistent"] is False  # declared image, actually wav
    assert out[9]["sniffed_format"] == "unknown"
    assert out[9]["type_consistent"] is None  # unknown -> no family claim


def test_wav_header_meta_parses_real_wave_file(spark):
    """The header parser must agree with Python's own wave writer on a
    genuine WAV byte stream, and yield NULLs for non-WAV content."""
    import io
    import wave

    from citydata_etl_spark.operators.multimodal import wav_header_meta

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(44100)
        w.writeframes(b"\x00\x01" * 2 * 22050)  # 0.5 s stereo
    blob = buf.getvalue()

    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"\x89PNG\r\n\x1a\nxxxx" * 5))],
        "media_id LONG, content BINARY",
    )
    rows = {r["media_id"]: r for r in wav_header_meta(media).collect()}
    r = rows[1]
    assert r["n_channels"] == 2
    assert r["sample_rate"] == 44100
    assert r["bits_per_sample"] == 16
    assert r["data_bytes"] == 2 * 2 * 22050
    assert r["duration_ms"] == 500
    png = rows[2]
    assert all(
        png[c] is None
        for c in ("n_channels", "sample_rate", "bits_per_sample",
                  "data_bytes", "duration_ms")
    )


def test_png_header_meta_parses_real_png_bytes(spark):
    """The IHDR parser must agree with a genuine PNG byte stream
    (hand-assembled per the PNG spec: 3x2 RGB, bit depth 8)."""
    import struct
    import zlib

    from citydata_etl_spark.operators.multimodal import png_header_meta

    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr))
        + chunk
        + struct.pack(">I", zlib.crc32(chunk) & 0xFFFFFFFF)
    )
    media = spark.createDataFrame(
        [(1, bytearray(blob)), (2, bytearray(b"RIFFxxxxWAVExxxxxxxxxxxxxx"))],
        "media_id LONG, content BINARY",
    )
    rows = {r["media_id"]: r for r in png_header_meta(media).collect()}
    r = rows[1]
    assert (r["width"], r["height"]) == (3, 2)
    assert r["bit_depth"] == 8 and r["color_type"] == 2
    assert r["aspect_pm"] == 1500
    assert all(rows[2][c] is None
               for c in ("width", "height", "bit_depth", "color_type",
                         "aspect_pm"))


def test_malformed_headers_yield_null_not_job_failure(spark):
    """Magic-valid but malformed headers (WAV with byte_rate=0, PNG with
    height=0) must yield NULL for the divided field in THAT row — under
    ANSI mode an unguarded % 0 would fail the entire job, which is fatal
    triaging a 100 TB crawl where one broken file is routine."""
    import struct

    from citydata_etl_spark.operators.multimodal import (
        png_header_meta,
        wav_header_meta,
    )

    # WAV header with byte_rate = 0 at offset 28
    wav = (
        b"RIFF" + struct.pack("<I", 36) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 2, 44100, 0, 4, 16)
        + b"data" + struct.pack("<I", 0)
    )
    media = spark.createDataFrame(
        [(1, bytearray(wav))], "media_id LONG, content BINARY"
    )
    r = wav_header_meta(media).collect()[0]
    assert r["n_channels"] == 2 and r["sample_rate"] == 44100
    assert r["duration_ms"] is None  # not a DIVIDE_BY_ZERO job abort

    # PNG IHDR with height = 0
    ihdr = struct.pack(">IIBBBBB", 640, 0, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + ihdr
    )
    media = spark.createDataFrame(
        [(1, bytearray(png))], "media_id LONG, content BINARY"
    )
    r = png_header_meta(media).collect()[0]
    assert r["width"] == 640 and r["height"] == 0
    assert r["aspect_pm"] is None


def test_jpeg_header_meta_marker_walk(spark):
    """The SOF walk must skip arbitrary-length leading segments, must NOT
    treat DHT (FFC4) as a frame header, must flag SOF2 as progressive,
    and must yield NULLs (not errors) for truncated/malformed blobs."""
    import struct

    from citydata_etl_spark.operators.multimodal import jpeg_header_meta

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload

    sof = struct.pack(">BHHB", 8, 480, 640, 3) + b"\x01\x11\x00" * 3
    base = b"\xFF\xD8" + seg(0xE0, b"JFIF\x00" + b"\x00" * 9)
    # DHT before SOF: C4 must be skipped, not parsed as a frame
    dht_first = base + seg(0xC4, b"\x00" * 16) + seg(0xC0, sof)
    long_com = base + seg(0xFE, b"x" * 123) + seg(0xC2, sof)
    # spec-valid 0xFF fill (padding) bytes before the SOF marker
    fill_padded = base + b"\xFF\xFF\xFF" + seg(0xC0, sof)[1:]
    truncated = base[:6]
    not_jpeg = b"\x89PNG\r\n\x1a\n" + b"\x00" * 20
    media = spark.createDataFrame(
        [
            (1, bytearray(dht_first)),
            (2, bytearray(long_com)),
            (3, bytearray(truncated)),
            (4, bytearray(not_jpeg)),
            (5, bytearray(fill_padded)),
        ],
        "media_id LONG, content BINARY",
    )
    rows = {r["media_id"]: r for r in jpeg_header_meta(media).collect()}
    for mid, prog in ((1, False), (2, True), (5, False)):
        r = rows[mid]
        assert (r["width"], r["height"]) == (640, 480)
        assert r["precision"] == 8 and r["n_components"] == 3
        assert r["progressive"] is prog
    for mid in (3, 4):
        assert all(
            rows[mid][c] is None
            for c in ("width", "height", "precision", "n_components",
                      "progressive")
        )
    # no EXIF anywhere above: orientation NULL with SOF columns intact
    assert all(rows[m]["orientation"] is None for m in rows)


def test_exif_orientation_golden_bytes():
    """Spec-assembled EXIF battery for _parse_exif_orientation: a
    TIFF 6.0 IFD0 hand-built byte-by-byte in BOTH byte orders (II
    little-endian, MM big-endian — SHORT values left-justified in the
    4-byte value field), a multi-entry IFD the scan must walk past,
    and the malformed edges: wrong TIFF magic, an IFD offset pointing
    outside the APP1 segment, a truncated entry table, orientation
    values outside 1..8, a wrong-typed orientation tag, an APP1 that
    is XMP (not Exif), and EXIF placed after the SOS (never reached —
    the walk stops at the scan per the triage convention)."""
    import struct

    from citydata_etl_spark.operators.multimodal import (
        _parse_exif_orientation,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) \
            + struct.pack(">H", 2 + len(payload)) + payload

    def tiff(endian, entries, ifd_off=8):
        # entries: list of (tag, type, count, raw-4-byte value field)
        e = "<" if endian == b"II" else ">"
        out = endian + struct.pack(e + "H", 42) \
            + struct.pack(e + "I", ifd_off)
        out += b"\x00" * (ifd_off - 8)
        out += struct.pack(e + "H", len(entries))
        for tag, typ, cnt, val in entries:
            out += struct.pack(e + "HHI", tag, typ, cnt) + val
        out += b"\x00\x00\x00\x00"
        return out

    def exif_app1(body):
        return seg(0xE1, b"Exif\x00\x00" + body)

    def jpeg(*segments):
        return b"\xff\xd8" + b"".join(segments) \
            + seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + b"\x01\x11\x00")

    def short_val(endian, v):
        return struct.pack(("<" if endian == b"II" else ">") + "H", v) \
            + b"\x00\x00"

    for endian in (b"II", b"MM"):
        # orientation alone, and behind two other entries (ascending
        # tags: 0x010F Make, 0x0110 Model as inline ASCII)
        for extra in ([], [(0x010F, 2, 4, b"Ab\x00\x00"),
                           (0x0110, 2, 4, b"Cd\x00\x00")]):
            for v in range(1, 9):
                ents = extra + [(0x0112, 3, 1, short_val(endian, v))]
                blob = jpeg(exif_app1(tiff(endian, ents)))
                assert _parse_exif_orientation(blob) == v, (endian, v)
        # IFD0 at a nonstandard offset (padding before it): legal
        ents = [(0x0112, 3, 1, short_val(endian, 6))]
        assert _parse_exif_orientation(
            jpeg(exif_app1(tiff(endian, ents, ifd_off=20)))) == 6
        # orientation value out of range
        for v in (0, 9, 900):
            ents = [(0x0112, 3, 1, short_val(endian, v))]
            assert _parse_exif_orientation(
                jpeg(exif_app1(tiff(endian, ents)))) is None
        # wrong type (LONG) or count for the orientation tag
        ents = [(0x0112, 4, 1, short_val(endian, 3))]
        assert _parse_exif_orientation(
            jpeg(exif_app1(tiff(endian, ents)))) is None
        # no orientation tag at all
        ents = [(0x011A, 3, 1, short_val(endian, 1))]
        assert _parse_exif_orientation(
            jpeg(exif_app1(tiff(endian, ents)))) is None

    good = tiff(b"II", [(0x0112, 3, 1, short_val(b"II", 5))])
    # wrong magic
    bad = b"II" + struct.pack("<H", 43) + good[4:]
    assert _parse_exif_orientation(jpeg(exif_app1(bad))) is None
    # IFD offset beyond the segment
    bad = good[:4] + struct.pack("<I", 10_000) + good[8:]
    assert _parse_exif_orientation(jpeg(exif_app1(bad))) is None
    # truncated entry table (claims 3 entries, carries 1)
    bad = good[:8] + struct.pack("<H", 3) + good[10:]
    assert _parse_exif_orientation(jpeg(exif_app1(bad))) is None
    # unknown byte-order mark
    assert _parse_exif_orientation(
        jpeg(exif_app1(b"XX" + good[2:]))) is None
    # APP1 that is XMP, not Exif: skipped, no orientation
    xmp = seg(0xE1, b"http://ns.adobe.com/xap/1.0/\x00<x/>")
    assert _parse_exif_orientation(jpeg(xmp)) is None
    # Exif behind the SOS is never reached
    tail = b"\xff\xd8" + seg(0xDA, b"\x01\x01\x00\x00\x3f\x00") \
        + exif_app1(good)
    assert _parse_exif_orientation(tail) is None

    # EXIF behind 200 APP2 segments (a split ICC profile shape the
    # pixel decoder explicitly supports) must still parse: the walk
    # is bounded by blob length, not a segment count (r14 review
    # finding — a 64-segment cap silently skipped orientation and
    # decode_oriented_rgb returned the sideways raster)
    icc = b"".join(seg(0xE2, b"ICC_PROFILE\x00" + bytes(8))
                   for _ in range(200))
    deep = b"\xff\xd8" + icc + exif_app1(good)
    assert _parse_exif_orientation(deep) == 5
    # ...and the SOF walk reads through the same depth
    from citydata_etl_spark.operators.multimodal import _parse_jpeg_sof
    deep_sof = b"\xff\xd8" + icc + seg(
        0xC0, struct.pack(">BHHB", 8, 480, 640, 3) + b"\x01\x11\x00" * 3)
    assert _parse_jpeg_sof(deep_sof) == (640, 480, 8, 3, False)


def test_jpeg_cmyk_ycck_decode_matches_reference():
    """4-component Adobe JPEG decode (r14): CMYK (transform 0) uses
    the libjpeg-turbo inverted-ink combine R = c*k/255 on the STORED
    values; YCCK (transform 2) first un-encodes the inverted C/M/Y
    planes with the JFIF floats, clamped per-plane before the K
    combine. DC-only blocks + all-8s quant make the expected pixels
    closed-form. Composes with the 4-component SA scan script and
    restart intervals (8-block MCUs). Scope edges reject: 4-component
    without APP14, transform 1 with 4 components, 3-component
    transform 0 (stored RGB — mis-converting it as YCbCr would be
    silent corruption)."""
    import numpy as np

    from citydata_etl_spark.plans.queries_llm import (
        encode_jpeg,
        jpeg_sa_scan_script,
    )

    def dc_plane(bw, bh, f):
        out = []
        for i in range(bw * bh):
            tx, ty = i % bw, i // bw
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = f(tx, ty) - 128
            out.append(blk)
        return out

    for d in (2, 3, 4, 7, 8, 13, 16):
        w, h = 6 + d % 10, 5 + d % 8
        bw, bh = (w + 7) // 8, (h + 7) // 8
        tf = 0 if d % 2 == 0 else 2
        fs = [
            lambda tx, ty: (d + 5 * tx + 9 * ty) % 256,
            lambda tx, ty: (2 * d + 7 * tx + 3 * ty) % 256,
            lambda tx, ty: (3 * d + tx + 11 * ty) % 256,
            lambda tx, ty: (5 * d + 3 * tx + 7 * ty) % 256,
        ]
        ps = [dc_plane(bw, bh, f) for f in fs]
        prog = d % 3 == 1
        blob = encode_jpeg(
            ps, w, h, adobe_transform=tf,
            restart_interval=2 if d % 4 == 0 else 0,
            progressive=prog,
            scan_script=jpeg_sa_scan_script(4) if prog else None)
        res = M._decode_jpeg_rgb(blob)
        assert res is not None, d
        ww, hh, px = res
        assert (ww, hh) == (w, h)
        ref = np.zeros((h, w, 3))
        for y in range(h):
            for x in range(w):
                v = [f(x // 8, y // 8) for f in fs]
                if tf == 2:
                    c = min(255., max(0., np.floor(
                        v[0] + 1.402 * (v[2] - 128) + 0.5)))
                    m = min(255., max(0., np.floor(
                        v[0] - 0.344136 * (v[1] - 128)
                        - 0.714136 * (v[2] - 128) + 0.5)))
                    yy = min(255., max(0., np.floor(
                        v[0] + 1.772 * (v[1] - 128) + 0.5)))
                else:
                    c, m, yy = v[0], v[1], v[2]
                ref[y, x] = [np.floor(c * v[3] / 255 + 0.5),
                             np.floor(m * v[3] / 255 + 0.5),
                             np.floor(yy * v[3] / 255 + 0.5)]
        assert np.array_equal(px, ref.astype(np.uint8)), d

    # scope edges
    good = encode_jpeg(ps, w, h, adobe_transform=0)
    assert M._decode_jpeg_rgb(good) is not None
    no_app14 = good.replace(b"\xff\xee\x00\x0eAdobe",
                            b"\xff\xef\x00\x0eAdobe")  # APP15 decoy
    assert M._decode_jpeg_rgb(no_app14) is None
    tf1 = good.replace(b"Adobe\x00\x64\x00\x00\x00\x00\x00",
                       b"Adobe\x00\x64\x00\x00\x00\x00\x01")
    assert tf1 != good and M._decode_jpeg_rgb(tf1) is None
    # 3-component transform 0 is STORED RGB since r15 (it rejected
    # through r14): the planes pass through as channels — here the
    # first three CMYK planes reinterpreted, so pixel (0,0) is the
    # flat (c0, c1, c2) tile values directly. Since r16 the encoder
    # emits NO JFIF APP0 alongside the Adobe marker (libjpeg's JFIF
    # precedence would force YCbCr on a JFIF+APP14 dual-marker blob).
    rgb3 = encode_jpeg(ps[:3], w, h, adobe_transform=0)
    dec_rgb = M._decode_jpeg_rgb(rgb3)
    assert dec_rgb is not None
    assert tuple(int(v) for v in dec_rgb[2][0, 0]) == (
        ps[0][0][0][0] + 128, ps[1][0][0][0] + 128, ps[2][0][0][0] + 128)
    # ...while transform 1 with 3 components stays plain YCbCr
    ycc3 = encode_jpeg(ps[:3], w, h)
    marked = ycc3[:2] \
        + b"\xff\xee\x00\x0eAdobe\x00\x64\x00\x00\x00\x00\x01" + ycc3[2:]
    a, b = M._decode_jpeg_rgb(ycc3), M._decode_jpeg_rgb(marked)
    assert a is not None and b is not None
    assert np.array_equal(a[2], b[2])


def test_audio_energy_matches_wave_module_bytes(spark):
    """Energy windows computed from bytes assembled by Python's own wave
    module must equal a direct numpy reference — including the partial
    final window — and non-WAV blobs must emit no windows at all."""
    import io
    import wave

    import numpy as np

    rng = np.random.default_rng(7)
    blobs = []
    expected = {}
    for mid in range(3):
        samples = rng.integers(-32768, 32767, size=300 + 17 * mid,
                               dtype=np.int16)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(samples.tobytes())
        blobs.append((mid, bytearray(buf.getvalue())))
        s64 = samples.astype(np.int64)
        for wi in range(0, len(s64), 128):
            chunk = s64[wi : wi + 128]
            expected[(mid, wi // 128)] = (len(chunk), int(np.dot(chunk, chunk)))
    blobs.append((99, bytearray(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)))
    blobs.append((98, bytearray(b"RIFFxxxxJUNK" + b"\x00" * 64)))
    media = spark.createDataFrame(
        blobs, "media_id LONG, content BINARY"
    )
    rows = M.audio_energy_windows(media, window_samples=128).collect()
    got = {(r["media_id"], r["win_idx"]): (r["n_samples"], r["energy"])
           for r in rows}
    assert got == expected  # 99/98 absent: no windows for non-WAV blobs


def test_mp4_box_walk_edge_cases():
    """Size encodings (32-bit, largesize, to-EOF), mvhd v0 vs v1,
    moov-after-mdat ordering, and totality on malformed input."""
    from citydata_etl_spark.operators.multimodal import _parse_mp4_mvhd

    def be4(x):
        return x.to_bytes(4, "big")

    def be8(x):
        return x.to_bytes(8, "big")

    ftyp = be4(24) + b"ftypisom" + be4(0) + b"isommp41"
    mvhd0 = (be4(108) + b"mvhd" + bytes([0, 0, 0, 0]) + be4(0) + be4(0)
             + be4(1000) + be4(45678) + b"\x00" * 80)
    mvhd1 = (be4(120) + b"mvhd" + bytes([1, 0, 0, 0]) + be8(0) + be8(0)
             + be4(600) + be8(99999) + b"\x00" * 80)
    moov0 = be4(8 + 108) + b"moov" + mvhd0
    mdat = be4(8 + 32) + b"mdat" + b"\xab" * 32

    assert _parse_mp4_mvhd(ftyp + moov0) == ("isom", 1000, 45678)
    # 64-bit duration via mvhd version 1
    assert _parse_mp4_mvhd(
        ftyp + be4(8 + 120) + b"moov" + mvhd1
    ) == ("isom", 600, 99999)
    # non-faststart: moov AFTER an mdat payload
    assert _parse_mp4_mvhd(ftyp + mdat + moov0) == ("isom", 1000, 45678)
    # largesize (size==1 + 64-bit size) and size==0 (extends to EOF)
    assert _parse_mp4_mvhd(
        ftyp + be4(1) + b"moov" + be8(16 + 108) + mvhd0
    ) == ("isom", 1000, 45678)
    assert _parse_mp4_mvhd(
        ftyp + be4(0) + b"moov" + mvhd0
    ) == ("isom", 1000, 45678)
    # totality: not BMFF, missing moov, truncated mid-box, bad version,
    # size lies past EOF
    assert _parse_mp4_mvhd(b"\x89PNG\r\n\x1a\x0a" + b"\x00" * 16) is None
    assert _parse_mp4_mvhd(ftyp) is None
    assert _parse_mp4_mvhd((ftyp + moov0)[:40]) is None
    bad_ver = bytearray(ftyp + moov0)
    bad_ver[len(ftyp) + 16] = 7
    assert _parse_mp4_mvhd(bytes(bad_ver)) is None
    lying = be4(10_000) + b"moov" + mvhd0
    assert _parse_mp4_mvhd(ftyp + lying) is None
    assert _parse_mp4_mvhd(None) is None


def test_tar_walk_totality_and_checksum():
    """_walk_tar must parse a real ustar archive exactly, stop (never
    raise) on truncation / corrupted checksum / lying sizes, and
    refuse to hallucinate members from payload bytes."""
    import io
    import tarfile

    from citydata_etl_spark.operators.multimodal import _walk_tar

    bio = io.BytesIO()
    payloads = {"a.txt": b"hello", "sub.bin": b"x" * 513, "empty": b""}
    with tarfile.open(fileobj=bio, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for name, data in payloads.items():
            ti = tarfile.TarInfo(name=name)
            ti.size = len(data)
            ti.mtime = 0
            tf.addfile(ti, io.BytesIO(data))
    blob = bio.getvalue()
    got = _walk_tar(blob)
    assert [(n, s) for n, s, _ in got] == [
        ("a.txt", 5), ("sub.bin", 513), ("empty", 0)
    ]
    # offsets point at the actual payload bytes
    for name, size, off in got:
        assert blob[off:off + size] == payloads[name]
    # second member starts one header + one 512-padded block later
    assert got[1][2] == got[0][2] + 512 + 512

    # truncated mid-header: parse the intact prefix, never raise
    assert [n for n, _, _ in _walk_tar(blob[: got[1][2] + 100])] == [
        "a.txt", "sub.bin"
    ] or [n for n, _, _ in _walk_tar(blob[: got[1][2] + 100])] == ["a.txt"]
    # corrupted checksum on the first header: zero members
    bad = bytearray(blob)
    bad[148:156] = b"0000000\0"
    assert _walk_tar(bytes(bad)) == []
    # payload bytes that look header-ish cannot appear as members:
    # corrupt the SIZE so the walk would land inside sub.bin's payload
    lying = bytearray(blob)
    lying[124 + 512 + 512:136 + 512 + 512] = b"00000000000\0"  # sub.bin size=0
    # checksum now wrong for that header -> walk stops after a.txt
    assert [n for n, _, _ in _walk_tar(bytes(lying))] == ["a.txt"]
    assert _walk_tar(None) == []
    assert _walk_tar(b"") == []
    assert _walk_tar(b"\0" * 1024) == []


def test_gif_header_meta_real_bytes(spark):
    """gif_header_meta pinned against genuine spec-assembled GIF bytes:
    the canonical 1x1 89a with a 2-entry GCT, an 87a without one, and
    non-GIF bytes yielding NULLs."""
    from citydata_etl_spark.operators.multimodal import gif_header_meta

    gif89 = (
        b"GIF89a" + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + bytes([0x80, 0, 0])  # GCT flag set, N=0 -> 2 entries
    )
    gif87 = (
        b"GIF87a" + (320).to_bytes(2, "little")
        + (200).to_bytes(2, "little") + bytes([0x00, 0, 0])
    )
    rows = [(1, gif89), (2, gif87), (3, b"\x89PNG\r\n\x1a\n" + b"\0" * 8)]
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    got = {r.media_id: r for r in gif_header_meta(df).collect()}
    assert (got[1].version, got[1].width, got[1].height,
            got[1].gct_entries) == ("89a", 1, 1, 2)
    assert (got[2].version, got[2].width, got[2].height,
            got[2].gct_entries, got[2].aspect_pm) == ("87a", 320, 200, 0, 1600)
    assert got[3].version is None and got[3].width is None


def _bmp24(w, h, px, topdown=False):
    """Assemble real 24-bpp BMP bytes from a logical [y][x] = (r,g,b)
    grid, in either storage orientation, with live stride padding."""
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    order = range(h) if topdown else range(h - 1, -1, -1)
    for y in order:
        row = bytearray()
        for x in range(w):
            r, g, b = px[y][x]
            row += bytes((b, g, r))
        row += b"\x00" * (stride - len(row))
        body += row
    return (
        b"BM" + (54 + len(body)).to_bytes(4, "little")
        + b"\x00" * 4 + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (-h if topdown else h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
        + b"\x00" * 16
    ) + bytes(body)


def test_bmp_pixel_stats_both_orientations(spark):
    """bmp_pixel_stats must recover the SAME logical pixels from
    bottom-up and top-down storage of one image (orientation handling),
    get the stride padding right on a non-multiple-of-4 row, and yield
    NULLs for non-BMP bytes."""
    from citydata_etl_spark.operators.multimodal import bmp_pixel_stats

    # 3x2 logical image, width 3 -> row 9 bytes padded to 12
    px = [
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
        [(1, 2, 3), (4, 5, 6), (250, 251, 252)],
    ]
    rows = [
        (1, _bmp24(3, 2, px, topdown=False)),
        (2, _bmp24(3, 2, px, topdown=True)),
        (3, b"\x89PNG\r\n\x1a\n" + b"\x00" * 60),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    got = {r.media_id: r for r in bmp_pixel_stats(df).collect()}

    sum_r = sum(p[0] for row in px for p in row)
    wsum_r = sum((y * 3 + x) * px[y][x][0]
                 for y in range(2) for x in range(3))
    for mid in (1, 2):  # identical logical stats from both storages
        r = got[mid]
        assert (r.width, r.height, r.n_pixels) == (3, 2, 6)
        assert r.sum_r == sum_r
        assert r.wsum_r == wsum_r
        assert r.p00 == 10 * 65536 + 20 * 256 + 30
    assert got[3].width is None and got[3].sum_r is None


def test_bmp_resize_nn_sampling_rule(spark):
    """bmp_resize_nn must apply exactly the stated gather rule
    (sx = x*W//out_w, sy = y*H//out_h) on LOGICAL pixels, identically
    for both storage orientations, and skip non-BMP rows."""
    from citydata_etl_spark.operators.multimodal import bmp_resize_nn

    px = [
        [(10, 20, 30), (40, 50, 60), (70, 80, 90)],
        [(1, 2, 3), (4, 5, 6), (250, 251, 252)],
    ]
    rows = [
        (1, _bmp24(3, 2, px, topdown=False)),
        (2, _bmp24(3, 2, px, topdown=True)),
        (3, b"\x89PNG\r\n\x1a\n" + b"\x00" * 60),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    out = bmp_resize_nn(df, 2, 2).collect()
    got = {(r.media_id, r.y, r.x): (r.r, r.g, r.b) for r in out}
    assert len(out) == 8  # 2 decodable images x 4 pixels; PNG emits none
    for mid in (1, 2):
        for y2 in range(2):
            for x2 in range(2):
                sx, sy = (x2 * 3) // 2, (y2 * 2) // 2
                assert got[(mid, y2, x2)] == px[sy][sx]


def test_bmp_histogram_counts_every_pixel_once(spark):
    """Channel histograms must partition the pixels: per (image,
    channel) the bin counts sum to exactly width*height (no pixel
    dropped by a stride bug, none double-counted), with only occupied
    bins emitted and PNG rows absent. Histograms are row-order
    invariant, so orientation bugs are pinned elsewhere
    (test_bmp_pixel_stats_both_orientations, the resize tests)."""
    from pyspark.sql import functions as F

    from citydata_etl_spark.operators.multimodal import (
        bmp_channel_histogram,
        bmp_pixel_stats,
    )
    from citydata_etl_spark.plans.queries_llm import _bmp_media_fixture

    media = _bmp_media_fixture(spark, "/root/testdata/sf0.001")
    hist = bmp_channel_histogram(media, n_bins=8)
    totals = {
        (r["media_id"], r["channel"]): r["total"]
        for r in hist.groupBy("media_id", "channel")
        .agg(F.sum("n").alias("total")).collect()
    }
    stats = {
        r["media_id"]: r["n_pixels"]
        for r in bmp_pixel_stats(media).collect()
        if r["n_pixels"] is not None
    }
    assert stats, "fixture produced no decodable BMPs"
    assert set(m for m, _ in totals) == set(stats)  # PNGs absent
    for (mid, _ch), tot in totals.items():
        assert tot == stats[mid], (mid, _ch, tot, stats[mid])
    assert hist.filter(F.col("n") <= 0).count() == 0  # occupied bins only


def test_tar_bmp_frame_stats_walk_decode_and_skip(spark):
    """The video-shard walk must parse frame indices from member NAMES
    (not order), skip non-BMP and checksum-corrupt members, and emit
    exact per-frame channel sums (cross-checked against a Python sum
    over the same synthesized pixels)."""
    from citydata_etl_spark.operators.multimodal import (
        tar_bmp_frame_stats,
    )
    from citydata_etl_spark.plans.queries_llm import _video_tar_fixture
    from citydata_etl_spark.sources.readers import read_testdata

    vids = _video_tar_fixture(spark, "/root/testdata/sf0.001")
    one = vids.limit(1).collect()[0]
    vid, blob = one["video_id"], bytes(one["content"])

    # python model of the fixture's closed form
    v = int(vid)
    w, h = 4 + v % 3, 3 + v % 2
    nf, fc = 5 + v % 3, 2 + v % 3
    def sums(f):
        scene = 0 if f < fc else 1
        br, bg, bb = 20 + 120*scene + f, 40 + 90*scene + 2*f, 60 + 60*scene + 3*f
        sx = sum(range(w)) * h
        return (w*h*br + sx, w*h*bg + sx, w*h*bb + sx)

    # corrupt the SECOND member's checksum byte: the walk stops there
    # (tar walks are sequential), leaving only frame 0
    second_hdr = None
    pos = 0
    hdrs = []
    while blob[pos:pos+512] != b"\0"*512:
        hdrs.append(pos)
        size = int(blob[pos+124:pos+136].split(b"\0")[0], 8)
        pos += 512 + ((size + 511)//512)*512
    assert len(hdrs) == nf
    corrupt = bytearray(blob)
    corrupt[hdrs[1] + 148] = ord("7")  # break checksum of member 2
    df = spark.createDataFrame(
        [(1, blob), (2, bytes(corrupt)), (3, b"not a tar at all")],
        "video_id LONG, content BINARY",
    )
    rows = tar_bmp_frame_stats(df).collect()
    got = {(r["video_id"], r["frame_idx"]): (r["sum_r"], r["sum_g"], r["sum_b"], r["n_pixels"])
           for r in rows}
    # intact copy: every frame, exact sums
    for f in range(nf):
        assert got[(1, f)] == (*sums(f), w*h)
    # corrupt copy: only frame 0 (walk stops at the bad checksum)
    assert [k for k in got if k[0] == 2] == [(2, 0)]
    # garbage blob: nothing
    assert not [k for k in got if k[0] == 3]


def test_tar_bmp_frame_stats_duplicate_member_keeps_first(spark):
    """A re-packed shard can carry the SAME frame_<k>.bmp member name
    twice; the walk must keep the FIRST occurrence so (video_id,
    frame_idx) stays unique and downstream lag()-over-frame_idx
    windows are deterministic (ADVICE r10). The duplicate's pixel
    DATA is altered (tar checksums cover only headers), so a
    keep-last or keep-both regression changes the observed sums."""
    from citydata_etl_spark.operators.multimodal import (
        tar_bmp_frame_stats,
    )
    from citydata_etl_spark.plans.queries_llm import _video_tar_fixture

    one = _video_tar_fixture(spark, "/root/testdata/sf0.001").limit(1).collect()[0]
    vid, blob = int(one["video_id"]), bytes(one["content"])

    # member boundaries (header + padded data per member)
    bounds, pos = [], 0
    while blob[pos:pos + 512] != b"\0" * 512:
        size = int(blob[pos + 124:pos + 136].split(b"\0")[0], 8)
        nxt = pos + 512 + ((size + 511) // 512) * 512
        bounds.append((pos, nxt))
        pos = nxt
    m0 = blob[bounds[0][0]:bounds[0][1]]
    # second copy of frame_0 with every data byte flipped to 0xFF
    dup = bytearray(m0)
    for i in range(512, len(dup)):
        dup[i] = 0xFF
    repacked = m0 + bytes(dup) + b"\0" * 1024
    df = spark.createDataFrame(
        [(vid, repacked)], "video_id LONG, content BINARY"
    )
    rows = tar_bmp_frame_stats(df).collect()
    assert len(rows) == 1  # one row, not two, for frame 0
    base = {
        (r["video_id"], r["frame_idx"]): (r["sum_r"], r["sum_g"], r["sum_b"])
        for r in tar_bmp_frame_stats(
            spark.createDataFrame(
                [(vid, blob)], "video_id LONG, content BINARY"
            )
        ).collect()
    }
    r = rows[0]
    assert r["frame_idx"] == 0
    # FIRST occurrence's sums, not the 0xFF-flooded duplicate's
    assert (r["sum_r"], r["sum_g"], r["sum_b"]) == base[(vid, 0)]

    # corrupt-FIRST variant: the first frame_0's BMP is undecodable
    # (bpp mangled; tar checksums cover only headers so the walk
    # continues) — the later duplicate must NOT stand in for it, so
    # frame 0 is simply absent
    bad_first = bytearray(m0)
    bad_first[512 + 28] = 99  # BMP bpp field inside the member data
    repacked2 = bytes(bad_first) + m0 + b"\0" * 1024
    rows2 = tar_bmp_frame_stats(
        spark.createDataFrame(
            [(vid, repacked2)], "video_id LONG, content BINARY"
        )
    ).collect()
    assert rows2 == []


def test_image_ahash_perceptual_properties(spark):
    """The fingerprint must be (a) identical for byte-identical images
    under different ids, (b) within small hamming distance for a
    lightly perturbed copy (one pixel nudged), and (c) far for an
    unrelated image — the property that makes it usable for image
    dedup at all. Built on hand-made 24-bpp BMPs with a strong
    light/dark structure so the mean threshold is stable."""
    import random

    from citydata_etl_spark.operators.multimodal import image_ahash

    def bmp(pixels):  # pixels[y][x] = (r, g, b), bottom-up storage
        h, w = len(pixels), len(pixels[0])
        stride = (w * 3 + 3) // 4 * 4
        body = bytearray()
        for y in range(h - 1, -1, -1):
            row = bytearray()
            for x in range(w):
                r, g, b = pixels[y][x]
                row += bytes([b, g, r])
            row += b"\0" * (stride - len(row))
            body += row
        return (
            b"BM" + (54 + len(body)).to_bytes(4, "little")
            + b"\0\0\0\0" + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + h.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + b"\0" * 24 + bytes(body)
        )

    rng = random.Random(5)
    # 16x16 half-bright/half-dark image: crisp structure
    base = [
        [(220, 220, 220) if x < 8 else (30, 30, 30) for x in range(16)]
        for _ in range(16)
    ]
    perturbed = [row[:] for row in base]
    perturbed[3] = perturbed[3][:]
    perturbed[3][2] = (10, 10, 10)  # nudge one pixel
    noise = [
        [(rng.randrange(256),) * 3 for _ in range(16)] for _ in range(16)
    ]
    df = spark.createDataFrame(
        [
            (1, bmp(base)), (2, bmp(base)),            # identical bytes
            (3, bmp(perturbed)), (4, bmp(noise)),
        ],
        "media_id LONG, content BINARY",
    )
    got = {
        r["media_id"]: (r["ahash_lo"], r["ahash_hi"], r["n_bits"])
        for r in image_ahash(df, size=8).collect()
    }

    def ham(a, b):
        return (
            bin(got[a][0] ^ got[b][0]).count("1")
            + bin(got[a][1] ^ got[b][1]).count("1")
        )

    assert got[1] == got[2]            # identical bytes -> identical hash
    assert ham(1, 3) <= 2              # one-pixel nudge -> tiny distance
    assert ham(1, 4) >= 12             # unrelated image -> far
    assert got[1][2] == 32             # half the cells above the mean


def test_ahash_neardup_blocking_is_lossless(spark):
    """The 4x16-bit pigeonhole blocking must return EXACTLY the naive
    all-pairs hamming<=3 set on a corpus engineered with near-misses
    (hamming 3 and 4 around the boundary) — blocking prunes, never
    loses."""
    from citydata_etl_spark.operators.multimodal import (
        ahash_neardup_pairs,
    )

    base_lo, base_hi = 0x12345678, 0x0ABCDEF0
    rows = [
        (0, base_lo, base_hi),
        (1, base_lo, base_hi),                       # identical: ham 0
        (2, base_lo ^ 0b111, base_hi),               # ham 3: kept
        (3, base_lo ^ 0b1111, base_hi),              # ham 4: dropped
        (4, base_lo ^ 0b11, base_hi ^ (1 << 20)),    # ham 3 split: kept
        (5, 0x7FFFFFFF, 0x55555555),                 # far
    ]
    df = spark.createDataFrame(
        rows, "media_id LONG, ahash_lo LONG, ahash_hi LONG"
    )
    got = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in ahash_neardup_pairs(df, max_hamming=3).collect()
    }

    def ham(a, b):
        return (
            bin(rows[a][1] ^ rows[b][1]).count("1")
            + bin(rows[a][2] ^ rows[b][2]).count("1")
        )

    want = {
        (a, b): ham(a, b)
        for a in range(6) for b in range(a + 1, 6)
        if ham(a, b) <= 3
    }
    assert got == want
    assert (0, 1) in got and got[(0, 1)] == 0
    assert (0, 2) in got and got[(0, 2)] == 3
    assert (0, 3) not in got
    assert (0, 4) in got


def test_ahash_neardup_pairs_repeated_media_id(spark):
    """A media id with several hash rows (one per frame, say) never
    pairs with itself, and each pair comes out once, at the smallest
    hamming over the two ids' hashes — also when an exact row
    repeats."""
    from citydata_etl_spark.operators.multimodal import (
        ahash_neardup_pairs,
    )

    lo, hi = 0x12345678, 0x0ABCDEF0
    rows = [
        (0, lo, hi),
        (0, lo ^ 0b1, hi),        # id 0's second frame, ham 1 from its first
        (1, lo, hi),              # both of id 0's frames, again
        (1, lo ^ 0b1, hi),
        (2, lo ^ 0b11, hi),       # ham 2 from lo, 1 from lo ^ 1
        (3, 0x7FFFFFFF, 0x55555555),
        (3, 0x7FFFFFFF, 0x55555555),  # exact repeat of a far hash
    ]
    df = spark.createDataFrame(
        rows, "media_id LONG, ahash_lo LONG, ahash_hi LONG"
    )
    got = sorted(
        (r["media_a"], r["media_b"], r["hamming"])
        for r in ahash_neardup_pairs(df, max_hamming=3).collect()
    )
    assert got == [(0, 1, 0), (0, 2, 1), (1, 2, 1)]


def test_png_decode_roundtrip_all_filters_property():
    """Hypothesis: encode random small rasters (RGB and RGBA, random
    per-row filter types, optionally split IDAT) with the fixture's
    forward filter, decode with _decode_png_rgb, recover the exact
    raw RGB pixels — filter reversal (incl. the sequential
    Average/Paeth predictors), lane stride (3 vs 4 channels), and
    IDAT concatenation are all on the line. Pure Python + numpy, no
    Spark session."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_png

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 6),  # width
        st.integers(1, 5),  # height
        st.sampled_from([3, 4]),
        st.integers(0, 2 ** 30),  # pixel seed
        st.lists(st.integers(0, 4), min_size=5, max_size=5),
        st.booleans(),
    )
    def check(w, h, ch, seed, fpool, split):
        rng = np.random.RandomState(seed % (2 ** 31 - 1))
        px = rng.randint(0, 256, size=(h, w, ch))
        rows = [list(px[y].reshape(-1)) for y in range(h)]
        filters = [fpool[y % 5] for y in range(h)]
        blob = encode_png(rows, ch, filters, split_idat=split)
        dec = M._decode_png_rgb(blob)
        assert dec is not None
        gw, gh, got = dec
        assert (gw, gh) == (w, h)
        assert np.array_equal(got, px[:, :, :3].astype(np.uint8))

    check()


def test_png_adam7_matches_straight_decode_property():
    """Hypothesis: the SAME random raster encoded Adam7-interlaced and
    straight decodes to IDENTICAL pixels — pass extraction geometry,
    per-pass expected-length accounting (empty passes at dims < 5),
    per-pass filter-predictor resets, and the scatter stride are all
    on the line. Dims sweep 1..18 so every subset of the seven passes
    being empty occurs; filters vary per pass-order scanline."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_png

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 18),  # width
        st.integers(1, 17),  # height
        st.sampled_from([3, 4]),
        st.integers(0, 2 ** 30),  # pixel seed
        st.booleans(),            # split IDAT
    )
    @example(1, 1, 3, 0, False)    # only pass 1 non-empty
    @example(4, 4, 3, 1, False)    # passes 1,4,5,6,7 only
    @example(5, 5, 4, 2, True)     # first dims where pass 2 appears
    @example(8, 8, 3, 3, False)    # exactly one full Adam7 tile
    @example(9, 9, 3, 4, False)    # tile + 1-pixel fringe
    def check(w, h, ch, seed, split):
        rng = np.random.RandomState(seed % (2 ** 31 - 1))
        px = rng.randint(0, 256, size=(h, w, ch))
        rows = [list(px[y].reshape(-1)) for y in range(h)]
        straight = encode_png(
            rows, ch, [(seed + y) % 5 for y in range(h)])
        inter = encode_png(
            rows, ch, [(seed + k) % 5 for k in range(2 * h + 8)],
            split_idat=split, interlace=True)
        ds = M._decode_png_rgb(straight)
        di = M._decode_png_rgb(inter)
        assert ds is not None and di is not None
        assert ds[:2] == di[:2] == (w, h)
        assert np.array_equal(ds[2], px[:, :, :3].astype(np.uint8))
        assert np.array_equal(di[2], ds[2])

    check()


def test_png_decode_rejects_unsupported_and_corrupt():
    """The decode must return None (triage convention) for: corrupt
    chunk CRC, truncated blob, out-of-spec interlace method, a depth
    flip that contradicts the stream length, an indexed color type
    with no PLTE, an illegal (color, depth) combo, wrong signature,
    and bad inflated length — never raise, never return wrong
    pixels."""
    import zlib

    from citydata_etl_spark.plans.queries_llm import encode_png

    good = encode_png([[10, 20, 30, 40, 50, 60]], 3, [1])
    assert M._decode_png_rgb(good) is not None

    bad_crc = bytearray(good)
    bad_crc[-5] ^= 0xFF  # IEND crc
    assert M._decode_png_rgb(bytes(bad_crc)) is None
    assert M._decode_png_rgb(good[:-7]) is None  # truncated
    assert M._decode_png_rgb(b"\x88PNG\r\n\x1a\n" + good[8:]) is None

    def with_ihdr(mut):
        b = bytearray(good)
        # IHDR data starts at 16 (8 sig + 4 len + 4 type)
        mut(b)
        # re-stamp IHDR crc (bytes 12..29 cover type+data)
        crc = zlib.crc32(bytes(b[12:29])) & 0xFFFFFFFF
        b[29:33] = crc.to_bytes(4, "big")
        return bytes(b)

    # 16-bit is SUPPORTED since r13, but flipping an 8-bit stream's
    # IHDR to 16 doubles the expected raster bytes -> length mismatch
    assert M._decode_png_rgb(
        with_ihdr(lambda b: b.__setitem__(24, 16))) is None
    # sub-byte truecolor is an ILLEGAL combo (sub-byte is gray/palette
    # only) and must be rejected at the header, not decoded
    assert M._decode_png_rgb(
        with_ihdr(lambda b: b.__setitem__(24, 4))) is None
    assert M._decode_png_rgb(
        with_ihdr(lambda b: b.__setitem__(24, 3))) is None  # bad depth
    # color type 3 is SUPPORTED since r13, but flipping a truecolor
    # stream's IHDR to indexed leaves no PLTE and a 3x-too-long
    # raster — still None, for those reasons
    # (test_png_palette_rejects_malformed pins the real indexed path)
    assert M._decode_png_rgb(
        with_ihdr(lambda b: b.__setitem__(25, 3))) is None
    assert M._decode_png_rgb(
        with_ihdr(lambda b: b.__setitem__(25, 5))) is None  # bad type
    # interlace method 2 is out of spec (Adam7 = 1 is SUPPORTED since
    # r13 — test_png_adam7_matches_straight_decode_property)
    assert M._decode_png_rgb(
        with_ihdr(lambda b: b.__setitem__(28, 2))) is None
    # an Adam7 flag over a STRAIGHT-order stream mismatches the
    # per-pass expected length -> None, not scrambled pixels
    assert M._decode_png_rgb(
        with_ihdr(lambda b: b.__setitem__(28, 1))) is None


def test_png_decode_bounds_untrusted_inflate():
    """Decompression-bomb posture: IHDR fixes the exact inflated size,
    so (a) an IDAT stream that would inflate PAST (stride+1)*height is
    rejected after producing at most expected+1 bytes (never the
    bomb's full expansion), and (b) a forged IHDR claiming a multi-GiB
    raster is rejected BEFORE any inflate. A stream that inflates
    SHORT (truncated mid-raster) is also None."""
    import zlib

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def png(w, h, idat_raw):
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes([8, 2, 0, 0, 0])
        )
        return (
            b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(idat_raw))
            + chunk(b"IEND", b"")
        )

    # 2x1 RGB: expected inflated size is (6+1)*1 = 7 bytes.
    good = png(2, 1, bytes(7))
    assert M._decode_png_rgb(good) is not None
    # Bomb: 1 MiB of zeros compresses to ~1 KB but claims 2x1.
    assert M._decode_png_rgb(png(2, 1, bytes(1 << 20))) is None
    # Short: inflates to fewer bytes than the raster needs.
    assert M._decode_png_rgb(png(2, 1, bytes(6))) is None
    # Forged dimensions: 40000x40000 RGB raster = ~4.8 GB expected —
    # must be rejected by the _PNG_MAX_RAW_BYTES gate before inflate.
    assert M._decode_png_rgb(png(40000, 40000, bytes(7))) is None
    # Truncated zlib stream (no final block) at the exact length.
    trunc = zlib.compress(bytes(7))[:-4]
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", (2).to_bytes(4, "big") + (1).to_bytes(4, "big")
                + bytes([8, 2, 0, 0, 0]))
        + chunk(b"IDAT", trunc) + chunk(b"IEND", b"")
    )
    assert M._decode_png_rgb(blob) is None
    # Sub-byte amplification (r13 self-review finding): a 1-bit
    # 20000x20000 gray claims only ~50 MB of PACKED filtered bytes —
    # under the packed-byte ceiling — but 400M unpacked samples, whose
    # int64 unpack/sum temporaries are multi-GiB. The unpacked-raster
    # gate must refuse it from a ~KB blob, before any inflate.
    bomb1bit = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", (20000).to_bytes(4, "big")
                + (20000).to_bytes(4, "big") + bytes([1, 0, 0, 0, 0]))
        + chunk(b"IDAT", zlib.compress(bytes(64)))
        + chunk(b"IEND", b"")
    )
    assert M._decode_png_rgb(bomb1bit) is None
    # ...while an in-scope sub-byte image still decodes (the gate
    # bounds forgeries, not the supported profile)
    ok1bit = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", (8).to_bytes(4, "big") + (2).to_bytes(4, "big")
                + bytes([1, 0, 0, 0, 0]))
        + chunk(b"IDAT", zlib.compress(bytes([0, 0b10110001,
                                              0, 0b01001110])))
        + chunk(b"IEND", b"")
    )
    d = M._decode_png_rgb(ok1bit)
    assert d is not None and d[:2] == (8, 2)
    assert [int(v) for v in d[2][0, :, 0]] == [
        255, 0, 255, 255, 0, 0, 0, 255]


def test_png_palette_matches_truecolor_decode_property():
    """Hypothesis: the SAME raster encoded palette-indexed (PNG8,
    color type 3, supported since r13) and truecolor decodes to
    IDENTICAL pixels — PLTE parsing, first-seen palette construction,
    index resolution, and the bpp=1 filter lanes are all on the line,
    across straight AND Adam7 scanline orders, all five filters,
    split IDAT, and palettes from 2 colors up to a full 256."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 14),        # width
        st.integers(1, 13),        # height
        st.integers(0, 2 ** 30),   # pixel seed
        st.integers(2, 256),       # color-pool size
        st.booleans(),             # Adam7
        st.booleans(),             # split IDAT
    )
    @example(1, 1, 0, 2, False, False)   # single pixel, minimal pool
    @example(9, 9, 5, 256, True, True)   # full pool + interlace
    def check(w, h, seed, ncolors, inter, split):
        rng = np.random.RandomState(seed % (2 ** 31 - 1))
        pool = rng.randint(0, 256, size=(ncolors, 3))
        grid = rng.randint(0, ncolors, size=(h, w))
        px = pool[grid]
        colors: dict = {}
        irows = [
            [colors.setdefault(tuple(int(v) for v in px[y, x]),
                               len(colors)) for x in range(w)]
            for y in range(h)
        ]
        nscan = 2 * h + 8 if inter else h
        filters = [(seed + k) % 5 for k in range(nscan)]
        tc = encode_png(
            [list(px[y].reshape(-1)) for y in range(h)], 3, filters,
            split_idat=split, interlace=inter)
        pal = encode_png(irows, 1, filters, split_idat=split,
                         interlace=inter, palette=list(colors))
        dt = M._decode_png_rgb(tc)
        dp = M._decode_png_rgb(pal)
        assert dt is not None and dp is not None
        assert dt[:2] == dp[:2] == (w, h)
        assert np.array_equal(dp[2], px.astype(np.uint8))
        assert np.array_equal(dp[2], dt[2])

    check()


def test_png_gray_decode_property():
    """Hypothesis: grayscale (color type 0) and gray+alpha (type 4,
    alpha a decoy the decode drops — both supported since r13)
    replicate luma to R=G=B, pinned by equivalence against the
    truecolor encoding of the replicated raster across all five
    filters and both scanline orders."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 12),        # width
        st.integers(1, 12),        # height
        st.integers(0, 2 ** 30),   # pixel seed
        st.booleans(),             # Adam7
    )
    @example(1, 1, 0, False)
    @example(8, 8, 3, True)
    def check(w, h, seed, inter):
        rng = np.random.RandomState(seed % (2 ** 31 - 1))
        g = rng.randint(0, 256, size=(h, w))
        alpha = rng.randint(0, 256, size=(h, w))
        nscan = 2 * h + 8 if inter else h
        filters = [(seed + k) % 5 for k in range(nscan)]
        gray = encode_png([list(g[y]) for y in range(h)], 1, filters,
                          interlace=inter)
        ga = encode_png(
            [[int(v) for x in range(w) for v in (g[y, x], alpha[y, x])]
             for y in range(h)], 2, filters, interlace=inter)
        rgb = encode_png(
            [[int(g[y, x]) for x in range(w) for _ in range(3)]
             for y in range(h)], 3, filters, interlace=inter)
        expect = np.stack([g, g, g], axis=2).astype(np.uint8)
        for blob in (gray, ga, rgb):
            d = M._decode_png_rgb(blob)
            assert d is not None and d[:2] == (w, h)
            assert np.array_equal(d[2], expect)

    check()


def test_png_depth16_matches_8bit_property():
    """Hypothesis: a 16-bit encode whose HIGH bytes carry an 8-bit
    raster decodes bit-identically to the 8-bit encode — the strip-16
    projection ignores random decoy low bytes, and the filter stride
    doubles to the two-byte pixel lanes (a decoder filtering at the
    8-bit stride would mix high and low bytes and break equality).
    All four 16-bit-legal color types, both scanline orders."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 12),        # width
        st.integers(1, 12),        # height
        st.sampled_from([1, 2, 3, 4]),
        st.integers(0, 2 ** 30),   # pixel seed
        st.booleans(),             # Adam7
    )
    @example(1, 1, 1, 0, False)
    @example(9, 9, 4, 3, True)
    def check(w, h, ch, seed, inter):
        rng = np.random.RandomState(seed % (2 ** 31 - 1))
        px = rng.randint(0, 256, size=(h, w, ch))
        lo = rng.randint(0, 256, size=(h, w, ch))
        nscan = 2 * h + 8 if inter else h
        filters = [(seed + k) % 5 for k in range(nscan)]
        b8 = encode_png([list(px[y].reshape(-1)) for y in range(h)],
                        ch, filters, interlace=inter)
        b16 = encode_png(
            [[int(v) * 256 + int(d) for v, d in
              zip(px[y].reshape(-1), lo[y].reshape(-1))]
             for y in range(h)], ch, filters, interlace=inter, depth=16)
        d8 = M._decode_png_rgb(b8)
        d16 = M._decode_png_rgb(b16)
        assert d8 is not None and d16 is not None
        assert d8[:2] == d16[:2] == (w, h)
        assert np.array_equal(d16[2], d8[2])

    check()


def test_png_subbyte_depths_property():
    """Hypothesis: 1/2/4-bit packed rasters (gray and palette — the
    favicon-era profiles) decode exactly: gray expands by the exact
    integer factor 255/(2**d - 1); palette indices resolve unscaled
    through PLTE; MSB-first unpacking drops each packed row's padding
    bits (widths straddling byte boundaries are the edge under test,
    and for Adam7 every PASS pads independently)."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_png

    @settings(max_examples=40, deadline=None)
    @given(
        st.integers(1, 17),        # width (straddles byte boundaries)
        st.integers(1, 9),         # height
        st.sampled_from([1, 2, 4]),
        st.booleans(),             # palette vs gray
        st.integers(0, 2 ** 30),   # pixel seed
        st.booleans(),             # Adam7
    )
    @example(9, 1, 1, False, 0, False)   # 9 px at 1 bit: 7 pad bits
    @example(3, 3, 4, True, 1, True)     # sub-byte palette interlaced
    def check(w, h, d, pal, seed, inter):
        rng = np.random.RandomState(seed % (2 ** 31 - 1))
        vals = rng.randint(0, 1 << d, size=(h, w))
        nscan = 2 * h + 8 if inter else h
        filters = [(seed + k) % 5 for k in range(nscan)]
        rows = [list(map(int, vals[y])) for y in range(h)]
        if pal:
            palette = [tuple(map(int, c))
                       for c in rng.randint(0, 256, size=(1 << d, 3))]
            blob = encode_png(rows, 1, filters, interlace=inter,
                              depth=d, palette=palette)
            expect = np.array(palette, dtype=np.uint8)[vals]
        else:
            blob = encode_png(rows, 1, filters, interlace=inter,
                              depth=d)
            g = (vals * (255 // ((1 << d) - 1))).astype(np.uint8)
            expect = np.stack([g, g, g], axis=2)
        out = M._decode_png_rgb(blob)
        assert out is not None and out[:2] == (w, h)
        assert np.array_equal(out[2], expect)

    check()


def test_jpeg_progressive_matches_baseline_property():
    """Hypothesis: the SAME quantized coefficients encoded baseline
    (SOF0, one full-band scan) and progressive (SOF2 spectral
    selection: interleaved DC scan + per-component EOBn-coded AC
    scans — supported since r13) decode to IDENTICAL pixels, across
    grayscale/4:4:4/4:2:2/4:2:0, restart intervals (which reset
    predictors per scan and forbid EOB runs from crossing), sparse
    AND empty AC content (empty bands drive long EOBn runs), and
    non-multiple-of-MCU dims (where the non-interleaved AC grid is
    narrower than the MCU-padded grid)."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 40),   # width
        st.integers(1, 36),   # height
        st.sampled_from(["gray", "444", "422", "420"]),
        st.integers(0, 3),    # restart interval (0 = none)
        st.integers(0, 2 ** 30),
        st.integers(0, 10),   # nonzero ACs per block (0 = EOBn-heavy)
    )
    @example(17, 17, "420", 0, 0, 5)   # AC grid narrower than padded
    @example(24, 24, "444", 2, 1, 0)   # all-zero AC: pure EOBn runs
    @example(40, 40, "gray", 1, 2, 3)  # RST0-7 wraparound, gray
    def check(w, h, mode, ri, seed, nac):
        import random

        rng = random.Random(seed)
        sampling = {
            "gray": [(1, 1)],
            "444": [(1, 1)] * 3,
            "422": [(2, 1), (1, 1), (1, 1)],
            "420": [(2, 2), (1, 1), (1, 1)],
        }[mode]
        hmax = max(a for a, _ in sampling)
        vmax = max(b for _, b in sampling)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)

        def blocks(sh, sv):
            out = []
            for _ in range(mcux * sh * mcuy * sv):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = rng.randrange(-96, 97)
                for _n in range(nac):
                    a, c = rng.randrange(8), rng.randrange(8)
                    if (a, c) != (0, 0):
                        blk[a][c] = rng.choice([-3, -2, -1, 1, 2, 3])
                out.append(blk)
            return out

        cb = [blocks(sh, sv) for sh, sv in sampling]
        base = encode_jpeg(cb, w, h, restart_interval=ri,
                           sampling=None if mode == "gray" else sampling)
        prog = encode_jpeg(cb, w, h, restart_interval=ri,
                           sampling=None if mode == "gray" else sampling,
                           progressive=True)
        db = M._decode_jpeg_rgb(base)
        dp = M._decode_jpeg_rgb(prog)
        assert db is not None and dp is not None
        assert db[:2] == dp[:2] == (w, h)
        assert np.array_equal(dp[2], db[2])

    check()


def _deep_sa_script():
    """A 4-level successive-approximation script with band splits at
    every level — harder than libjpeg's default (which tops out at
    Al=2 and splits only the luma first pass)."""
    return [
        ([0, 1, 2], 0, 0, 0, 3),
        ([0], 1, 20, 0, 3), ([0], 21, 63, 0, 3),
        ([1], 1, 63, 0, 2), ([2], 1, 63, 0, 2),
        ([0], 1, 63, 3, 2),
        ([0, 1, 2], 0, 0, 3, 2),
        ([0, 1, 2], 0, 0, 2, 1),
        ([0], 1, 31, 2, 1), ([0], 32, 63, 2, 1),
        ([1], 1, 63, 2, 1), ([2], 1, 63, 2, 1),
        ([0, 1, 2], 0, 0, 1, 0),
        ([0], 1, 63, 1, 0), ([1], 1, 63, 1, 0), ([2], 1, 63, 1, 0),
    ]


def test_jpeg_successive_approximation_matches_baseline_property():
    """Hypothesis: the SAME quantized coefficients encoded baseline
    and progressive with a SUCCESSIVE-APPROXIMATION scan script
    (Ah/Al != 0 — supported since r14) decode to IDENTICAL pixels.
    Scripts: libjpeg's default (jpeg_simple_progression — DC Al=1,
    split luma AC first passes at Al=2, a refinement spanning both
    split bands, interleaved DC refinement) and a deeper 4-level
    script with band splits at every level. Sweeps grayscale/4:4:4/
    4:2:2/4:2:0, restart intervals (EOB runs with buffered correction
    bits must flush before each RSTn), tiny amplitudes (|v| >> Al = 0
    in every first pass, so ALL significance arrives via refinement
    run/1 symbols), large amplitudes (multi-bit corrections), and
    empty bands (EOBn runs whose covered blocks carry correction
    bits). Pinned falsifiers, each caught during development of this
    round: (a) treating the AC first-pass point transform as an
    ARITHMETIC shift instead of magnitude-truncation flips odd
    negative coefficients one step; (b) counting already-significant
    coefficients in refinement runs desynchronizes the whole scan;
    (c) emitting the correction bits before their symbol instead of
    after reorders the stream. The examples below lock the regimes
    where each falsifier fires."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import (
        encode_jpeg,
        jpeg_sa_scan_script,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 40),   # width
        st.integers(1, 36),   # height
        st.sampled_from(["gray", "444", "422", "420"]),
        st.integers(0, 3),    # restart interval (0 = none)
        st.integers(0, 2 ** 30),
        st.integers(0, 12),   # nonzero ACs per block
        st.sampled_from([3, 500]),  # AC amplitude regime
        st.booleans(),        # deep script (3-comp only)
    )
    # falsifier (a): odd negative ACs, small amp -> refinement-only
    @example(17, 17, "420", 0, 7, 8, 3, False)
    # falsifier (b)+(c): dense large ACs, corrections among runs
    @example(24, 24, "444", 2, 1, 12, 500, True)
    # RST wraparound with EOB runs carrying correction bits
    @example(40, 40, "gray", 1, 2, 4, 500, False)
    def check(w, h, mode, ri, seed, nac, amp, deep):
        import random

        rng = random.Random(seed)
        sampling = {
            "gray": [(1, 1)],
            "444": [(1, 1)] * 3,
            "422": [(2, 1), (1, 1), (1, 1)],
            "420": [(2, 2), (1, 1), (1, 1)],
        }[mode]
        hmax = max(a for a, _ in sampling)
        vmax = max(b for _, b in sampling)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)

        def blocks(sh, sv):
            out = []
            for _ in range(mcux * sh * mcuy * sv):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = rng.randrange(-128, 128)
                for _n in range(nac):
                    a, c = rng.randrange(8), rng.randrange(8)
                    if (a, c) != (0, 0):
                        blk[a][c] = rng.choice([-1, 1]) \
                            * rng.randrange(1, amp + 1)
                out.append(blk)
            return out

        cb = [blocks(sh, sv) for sh, sv in sampling]
        script = _deep_sa_script() if deep and mode != "gray" \
            else jpeg_sa_scan_script(len(sampling))
        base = encode_jpeg(cb, w, h, restart_interval=ri,
                           sampling=None if mode == "gray" else sampling)
        sa = encode_jpeg(cb, w, h, restart_interval=ri,
                         sampling=None if mode == "gray" else sampling,
                         progressive=True, scan_script=script)
        db = M._decode_jpeg_rgb(base)
        ds = M._decode_jpeg_rgb(sa)
        assert db is not None and ds is not None
        assert db[:2] == ds[:2] == (w, h)
        assert np.array_equal(ds[2], db[2])

    check()


def test_exif_orientation_applies_to_pixels():
    """Applying EXIF orientation (the r14 follow-through: surfacing
    the tag is triage; a vision corpus needs the pixels NORMALIZED).
    Coordinate-level pins for all eight orientations against the
    TIFF 6.0 / PIL exif_transpose semantics on an asymmetric raster —
    U[0,0] must be the correct stored corner and 5-8 must swap
    dimensions — then end-to-end: encode a DC-only JPEG (exact
    pixels) with each orientation tag and assert decode_oriented_rgb
    returns exactly the hand-transformed raster while
    _decode_image_rgb keeps returning the STORED one."""
    import numpy as np

    from citydata_etl_spark.operators.multimodal import (
        _apply_exif_orientation,
        decode_oriented_rgb,
    )
    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    h, w = 3, 5
    px = np.arange(h * w * 3, dtype=np.uint8).reshape(h, w, 3)

    def at(o, i, j):
        return tuple(_apply_exif_orientation(px, o)[i, j])

    s = lambda y, x: tuple(px[y, x])  # noqa: E731
    # upright [0,0] per orientation = which stored corner
    assert at(1, 0, 0) == s(0, 0)
    assert at(2, 0, 0) == s(0, w - 1)      # mirror H
    assert at(3, 0, 0) == s(h - 1, w - 1)  # rot 180
    assert at(4, 0, 0) == s(h - 1, 0)      # mirror V
    assert at(5, 0, 0) == s(0, 0)          # transpose
    assert at(6, 0, 0) == s(h - 1, 0)      # rot 90 CW
    assert at(7, 0, 0) == s(h - 1, w - 1)  # transverse
    assert at(8, 0, 0) == s(0, w - 1)      # rot 90 CCW
    # a second, non-corner pin per rotating case (corners alone can't
    # distinguish a rotation from its composed flip)
    assert at(6, 0, 1) == s(h - 2, 0)
    assert at(8, 0, 1) == s(1, w - 1)
    assert at(5, 1, 0) == s(0, 1)
    assert at(7, 1, 0) == s(h - 1, w - 2)
    for o in (1, 2, 3, 4):
        assert _apply_exif_orientation(px, o).shape == (h, w, 3)
    for o in (5, 6, 7, 8):
        assert _apply_exif_orientation(px, o).shape == (w, h, 3)

    # end-to-end through a real JPEG: DC-only tiles decode exactly,
    # so the oriented raster must equal the hand-applied transform
    jw, jh = 24, 16
    bw, bh = jw // 8, jh // 8

    def plane(f):
        out = []
        for i in range(bw * bh):
            tx, ty = i % bw, i // bw
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = f(tx, ty) - 128
            out.append(blk)
        return out

    ys = plane(lambda tx, ty: (40 + 50 * tx + 30 * ty) % 256)
    stored = M._decode_jpeg_rgb(encode_jpeg([ys], jw, jh))[2]
    for o in range(1, 9):
        blob = encode_jpeg([ys], jw, jh, exif_orientation=o)
        assert M._parse_exif_orientation(blob) == o
        got = decode_oriented_rgb(blob)
        want = _apply_exif_orientation(stored, o)
        assert got is not None
        assert (got[0], got[1]) == (want.shape[1], want.shape[0])
        assert np.array_equal(got[2], want), o
        # the raw decode stays the STORED raster (orientation is a
        # separate, explicit normalization step)
        raw = M._decode_image_rgb(blob)
        assert np.array_equal(raw[2], stored)
    # no EXIF / PNG blobs pass through unchanged
    assert np.array_equal(
        decode_oriented_rgb(encode_jpeg([ys], jw, jh))[2], stored
    )


def test_oriented_pixel_stats_spark(spark):
    """oriented_pixel_stats through Spark: orientation-6 frames must
    report SWAPPED dimensions and the visual top-left p00 (the stored
    bottom-left), bad blobs NULL rows — same schema as
    bmp_pixel_stats so the oracle conventions carry."""
    import numpy as np

    from citydata_etl_spark.operators.multimodal import (
        _apply_exif_orientation,
        oriented_pixel_stats,
    )
    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    jw, jh = 24, 16
    bw, bh = jw // 8, jh // 8

    def plane(seed):
        out = []
        for i in range(bw * bh):
            tx, ty = i % bw, i // bw
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = (seed + 50 * tx + 30 * ty) % 256 - 128
            out.append(blk)
        return out

    rows = [
        (1, bytearray(encode_jpeg([plane(40)], jw, jh,
                                  exif_orientation=6))),
        (2, bytearray(encode_jpeg([plane(40)], jw, jh))),
        (3, bytearray(b"\xff\xd8\xff\xe0" + b"\x00" * 30)),
    ]
    media = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    got = {r["media_id"]: r for r in
           oriented_pixel_stats(media).collect()}
    assert (got[1]["width"], got[1]["height"]) == (jh, jw)  # swapped
    assert (got[2]["width"], got[2]["height"]) == (jw, jh)
    assert got[3]["width"] is None and got[3]["p00"] is None
    stored = M._decode_jpeg_rgb(bytes(rows[1][1]))[2]
    up = _apply_exif_orientation(stored, 6)
    assert got[1]["p00"] == int(up[0, 0, 0]) * 65536 \
        + int(up[0, 0, 1]) * 256 + int(up[0, 0, 2])
    assert got[1]["sum_r"] == got[2]["sum_r"]  # rotation-invariant
    idx = np.arange(jw * jh, dtype=np.int64).reshape(jw, jh)
    assert got[1]["wsum_r"] == int(
        (idx * up[:, :, 0].astype(np.int64)).sum()
    )


def test_jpeg_fast_scan_size_fallback_identical(monkeypatch):
    """Baseline scans beyond _JPEG_FAST_SCAN_MAX_BYTES route through
    the general O(1)-memory reader (the fast path's 40-bit window list
    costs ~28 bytes per entropy byte — an adversarial max-entropy
    frame must not trade a large blob for a GiB-scale allocation).
    Both readers must produce IDENTICAL pixels; forcing the threshold
    to 0 pins the fallback against the fast path on dense-AC
    subsampled content with restarts."""
    import random

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    rng = random.Random(9)

    def rb(n):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = rng.randrange(-96, 97)
            for k in range(1, 64):
                if rng.random() < 0.4:
                    blk[k // 8][k % 8] = rng.randrange(-40, 41)
            out.append(blk)
        return out

    w, h = 48, 32
    mcux, mcuy = (w + 15) // 16, (h + 15) // 16
    blob = encode_jpeg(
        [rb(mcux * 2 * mcuy * 2), rb(mcux * mcuy), rb(mcux * mcuy)],
        w, h, sampling=[(2, 2), (1, 1), (1, 1)], restart_interval=3)
    fast = M._decode_jpeg_rgb(blob)
    monkeypatch.setattr(M, "_JPEG_FAST_SCAN_MAX_BYTES", 0)
    slow = M._decode_jpeg_rgb(blob)
    assert fast is not None and slow is not None
    assert np.array_equal(fast[2], slow[2])


def test_jpeg_fast_scan_chunked_windows_cross_boundary(monkeypatch):
    """r16 VERDICT task 4: the fast baseline reader now builds its
    40-bit window list per bounded 256 KiB chunk instead of one list
    for the whole entropy segment (the ~70 MB transient behind the
    4.92 MP GC bimodality). Decode a restartless dense-AC frame whose
    single entropy segment spans MULTIPLE chunks and pin it
    bit-for-bit against the general O(1)-memory reader — the chunk
    rebase (bp/nbt shift, window slide, scan-end leftover check) must
    be arithmetic-invisible. Also pins that the segment really is
    big enough to have crossed a boundary, so the test cannot pass
    vacuously on a one-chunk stream."""
    import random

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    rng = random.Random(31)

    def rb(n):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = rng.randrange(-96, 97)
            for k in range(1, 64):
                if rng.random() < 0.5:
                    blk[k // 8][k % 8] = rng.randrange(-60, 61)
            out.append(blk)
        return out

    w = h = 600  # 75x75 blocks of dense AC ~ 300+ KB entropy, 1 segment
    bw = bh = 75
    blob = encode_jpeg([rb(bw * bh)], w, h)
    # entropy segment must span > 1 chunk (SOS header ~14 B; chunking
    # threshold is 256 KiB - 32 KiB margin)
    sos = blob.index(b"\xff\xda")
    entropy_len = len(blob) - (sos + 14) - 2
    assert entropy_len > (1 << 18), entropy_len
    fast = M._decode_jpeg_rgb(blob)
    monkeypatch.setattr(M, "_JPEG_FAST_SCAN_MAX_BYTES", 0)
    slow = M._decode_jpeg_rgb(blob)
    assert fast is not None and slow is not None
    assert np.array_equal(fast[2], slow[2])
    # truncating mid-stream must yield None (strictness survives the
    # chunk rebase), never a crash or silent partial decode
    monkeypatch.undo()
    for cut in ((1 << 18) + 7, len(blob) - 5):
        assert M._decode_jpeg_rgb(blob[:cut]) is None


def test_jpeg_successive_approximation_rejects_malformed():
    """SA-specific malformed battery (all -> None, never wrong
    pixels), built by header surgery on a VALID libjpeg-default-script
    stream: refinement before the first pass (both DC and AC), Al
    jumps at the header level (Al != Ah - 1) and at the per-
    coefficient level (Ah != the coefficient's prior Al — which also
    covers a REPLAYED refinement), Al > 13, a truncated refinement
    scan (correction bits missing), and a refinement symbol with
    size > 1. A legally TRUNCATED scan script (missing trailing
    refinements) must still decode — partial precision is valid
    progressive JPEG."""
    import random

    from citydata_etl_spark.plans.queries_llm import (
        encode_jpeg,
        jpeg_sa_scan_script,
    )

    rng = random.Random(11)

    def blk():
        b = [[0] * 8 for _ in range(8)]
        b[0][0] = rng.randrange(-100, 100)
        for k in range(1, 64):
            if rng.random() < 0.4:
                b[k // 8][k % 8] = rng.randrange(-50, 51)
        return b

    comps = [[blk() for _ in range(6)] for _ in range(3)]
    script = jpeg_sa_scan_script(3)
    good = encode_jpeg(comps, 20, 12, progressive=True,
                       scan_script=script)
    assert M._decode_jpeg_rgb(good) is not None

    # legally truncated scripts: every prefix that includes the DC
    # first scan decodes (coarser pixels), per G.1 — partial streams
    # are the POINT of progressive
    for cut in range(1, len(script)):
        part = encode_jpeg(comps, 20, 12, progressive=True,
                           scan_script=script[:cut])
        assert M._decode_jpeg_rgb(part) is not None, f"cut={cut}"

    def patched(scan_idx_from_end, ahal):
        """Rewrite scan N-from-end's Ah/Al byte (3 + 2*ns past the
        SOS length word; FFDA only occurs at real SOS markers)."""
        b = bytearray(good)
        positions = []
        p = -1
        while True:
            p = good.find(b"\xff\xda", p + 1)
            if p < 0:
                break
            positions.append(p)
        at = positions[len(positions) - 1 - scan_idx_from_end]
        ns = b[at + 4]
        b[at + 2 + 2 + 1 + 2 * ns + 2] = ahal
        return bytes(b)

    # last scan is ([0], 1, 63, 1, 0) with ns=1:
    assert M._decode_jpeg_rgb(patched(0, 0x20)) is None  # Ah=2 vs cb=1
    assert M._decode_jpeg_rgb(patched(0, 0x21)) is None  # replay 2->1
    assert M._decode_jpeg_rgb(patched(0, 0x32)) is None  # Ah=3 vs cb=1
    assert M._decode_jpeg_rgb(patched(0, 0x30)) is None  # Al jump 3->0
    # first scan is the interleaved DC first pass (Ah=0, Al=1):
    n_scans = len(script)
    assert M._decode_jpeg_rgb(
        patched(n_scans - 1, 0x10)) is None  # DC refine before first
    assert M._decode_jpeg_rgb(
        patched(n_scans - 1, 0x0F)) is None  # Al = 15 > 13

    # truncated refinement: cut the final scan's entropy bytes short
    # (drop the EOI and half the last scan's payload)
    last_sos = good.rindex(b"\xff\xda")
    body = good[last_sos:-2]
    cutpt = last_sos + max(10, len(body) // 2)
    assert M._decode_jpeg_rgb(good[:cutpt] + b"\xff\xd9") is None

    # refinement symbol with size > 1: replace the last scan's (an AC
    # refinement's) entropy with a hand-coded (0 << 4) | 2 symbol.
    # The fixture AC table is canonical with every symbol at 8 bits in
    # ac_vals order ([0x00, 0xF0, EOB1..EOB14, then (r,s) pairs]), so
    # symbol 0x02 is index 17 -> code 17 at 8 bits. Size 2 is legal in
    # a FIRST pass but illegal in refinement (sizes are 0/1 only).
    entropy_at = last_sos + 10  # FFDA + len(2) + ns(1) + 2 + SsSeAhAl
    bad_sym = good[:entropy_at] + bytes([17]) + b"\xff\xd9"
    assert M._decode_jpeg_rgb(bad_sym) is None


def test_jpeg_progressive_rejects_malformed():
    """Progressive hardening: successive-approximation scans (Ah or
    Al nonzero — out of the disclosed spectral-selection scope), a
    stream missing its EOI, an AC scan whose component never had a DC
    scan, overlapping AC bands, and a second SOF are all None —
    never wrong pixels. FFDA can only occur as a real SOS marker
    (byte stuffing escapes entropy FFs; RST/EOI are FFD0-FFD9), so
    scan-level surgery by splitting on it is sound."""
    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    def dcb(n):
        out = []
        for i in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = (i * 37) % 160 - 80
            out.append(blk)
        return out

    cb = [dcb(4), dcb(4), dcb(4)]
    prog = encode_jpeg(cb, 12, 10, progressive=True)
    assert M._decode_jpeg_rgb(prog) is not None
    scans = prog.split(b"\xff\xda")
    assert len(scans) == 5  # header + DC scan + 3 AC scans

    # successive approximation is IN scope since r14: flipping the
    # LAST AC scan's Al to 1 (trailer byte 3 + 2*ns + 2 after the
    # length word) turns it into a legal Al=1 FIRST scan — and since
    # this fixture's AC bands are all zero, the point transform is
    # invisible and the pixels must STILL match the unmodified stream
    sa = bytearray(prog)
    last = sa.rindex(b"\xff\xda")
    sa[last + 2 + 2 + 1 + 2 * 1 + 2] = 0x01  # Al = 1: legal first scan
    ref = M._decode_jpeg_rgb(prog)
    got = M._decode_jpeg_rgb(bytes(sa))
    assert got is not None and np.array_equal(got[2], ref[2])
    # ...but Ah = 1 claims a REFINEMENT of a band that never had its
    # first pass (coef_bits still -1): malformed
    sa[last + 2 + 2 + 1 + 2 * 1 + 2] = 0x10  # Ah = 1
    assert M._decode_jpeg_rgb(bytes(sa)) is None

    # missing EOI: a progressive stream must END at its EOI
    assert prog.endswith(b"\xff\xd9")
    assert M._decode_jpeg_rgb(prog[:-2]) is None

    # AC scan with no preceding DC scan for its component: drop the
    # DC scan (scans[1]) entirely
    no_dc = scans[0] + b"\xff\xda" + b"\xff\xda".join(scans[2:])
    assert M._decode_jpeg_rgb(no_dc) is None

    # overlapping AC bands: replay the first AC scan before EOI
    dup = prog[:-2] + b"\xff\xda" + scans[2].rsplit(
        b"\xff\xd9", 1)[0] + b"\xff\xd9"
    assert M._decode_jpeg_rgb(dup) is None

    # a second SOF frame header is malformed, not a reinterpretation
    sof_at = prog.index(b"\xff\xc2")
    sof_len = int.from_bytes(prog[sof_at + 2:sof_at + 4], "big")
    sof_seg = prog[sof_at:sof_at + 2 + sof_len]
    two_sof = prog[:sof_at] + sof_seg + prog[sof_at:]
    assert M._decode_jpeg_rgb(two_sof) is None

    # ns = 0 scan header: must be rejected at the parse, not crash the
    # empty scan plan (r13 review-pass-3 finding: raised IndexError)
    last = prog.rindex(b"\xff\xda")
    ns0 = prog[:last] + b"\xff\xda\x00\x06\x00\x01\x3f\x00" + b"\xff\xd9"
    assert M._decode_jpeg_rgb(ns0) is None


def test_jpeg_zrl_past_band_end_rejected():
    """A ZRL whose 16 zeros run past the band end is malformed per
    T.81 (trailing zeros are EOB material) and must be None, never
    silently-accepted wrong pixels (r13 review-pass-3 finding). The
    stream is hand-Huffman-coded against the fixture encoder's own
    canonical tables: DC cat 0, one AC coefficient at k=1, then four
    ZRLs that push k to 66 > 63."""
    from citydata_etl_spark.operators.multimodal import _jpeg_huff_table
    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    blk = [[0] * 8 for _ in range(8)]
    good = encode_jpeg([[blk]], 8, 8)
    assert M._decode_jpeg_rgb(good) is not None
    # rebuild the entropy segment by hand using the same tables
    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = list(range(12))
    ac_vals = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    ac_bits = [0] * 7 + [len(ac_vals)] + [0] * 8
    dc_codes = {v: lc for lc, v in
                _jpeg_huff_table(dc_bits, dc_vals).items()}
    ac_codes = {v: lc for lc, v in
                _jpeg_huff_table(ac_bits, ac_vals).items()}
    bits = []
    for sym_codes, sym in ((dc_codes, 0),          # DC diff category 0
                           (ac_codes, 0x11),):     # run 1, size 1 @k=1
        ln, code = sym_codes[sym]
        bits += [(code >> (ln - 1 - i)) & 1 for i in range(ln)]
    bits.append(1)                                 # the size-1 AC bit
    for _ in range(4):                             # 4 ZRLs: k -> 66
        ln, code = ac_codes[0xF0]
        bits += [(code >> (ln - 1 - i)) & 1 for i in range(ln)]
    while len(bits) % 8:
        bits.append(1)                             # byte pad
    entropy = bytes(
        int("".join(map(str, bits[i:i + 8])), 2)
        for i in range(0, len(bits), 8)
    )
    assert b"\xff" not in entropy  # no stuffing needed for this craft
    sos_at = good.index(b"\xff\xda")
    sos_len = int.from_bytes(good[sos_at + 2:sos_at + 4], "big")
    patched = good[:sos_at + 2 + sos_len] + entropy + b"\xff\xd9"
    assert M._decode_jpeg_rgb(patched) is None


def test_decoders_never_raise_on_corrupt_mutations():
    """Standing fuzz for the never-raises contract (the r13 pass-3
    ns=0 finding was exactly this class: a malformed blob CRASHING the
    decoder kills a whole Spark task, where None yields a NULL row).
    For each format profile, take a valid blob and apply seeded
    mutations — single byte flips, truncations, byte insertions,
    chunk-boundary splices — and require decode to return None or a
    result, never raise. Deterministic seeds so a failure is a
    reproducible regression, not a flake."""
    import random

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import (
        encode_gif, encode_jpeg, encode_png, jpeg_sa_scan_script,
    )

    rng = random.Random(13)

    def dcb(n):
        out = []
        for i in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = (i * 37) % 160 - 80
            out.append(blk)
        return out

    px = np.arange(120, dtype=np.uint8).reshape(5, 8, 3) * 7 % 256
    rows = [list(px[y].reshape(-1)) for y in range(5)]
    irows = [[(y + x) % 4 for x in range(8)] for y in range(5)]
    pal4 = [(1, 2, 3), (9, 9, 9), (200, 0, 50), (7, 70, 17)]
    w, h = 8, 5
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            row += bytes([px[y, x, 2], px[y, x, 1], px[y, x, 0]])
        row += b"\x00" * (stride - len(row))
        body += row
    bmp = (
        b"BM" + (54 + len(body)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(body).to_bytes(4, "little") + b"\x00" * 16 + bytes(body)
    )
    blobs = [
        bmp,
        encode_png(rows, 3, [0, 1, 2, 3, 4]),
        encode_png(rows, 3, [(k * 3) % 5 for k in range(18)],
                   interlace=True),
        encode_png(irows, 1, [0] * 5, palette=pal4, depth=2),
        encode_png([[v * 256 + 9 for v in r] for r in rows], 3,
                   [4] * 5, depth=16),
        encode_gif([[((y * 8 + x) % 4 * 40, 7, 9) for x in range(8)]
                    for y in range(5)], interlace=True),
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10,
                    restart_interval=2),
        encode_jpeg([dcb(8), dcb(2), dcb(2)], 20, 10,
                    sampling=[(2, 2), (1, 1), (1, 1)]),
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10,
                    progressive=True),
        # r14 profiles: successive approximation, Adobe CMYK/YCCK,
        # 12-bit extended sequential, non-divisor sampling
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10, progressive=True,
                    scan_script=jpeg_sa_scan_script(3)),
        encode_jpeg([dcb(4)] * 4, 12, 10, adobe_transform=2,
                    restart_interval=2),
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10, precision=12),
        encode_jpeg([dcb(6), dcb(4), dcb(2)], 22, 10,
                    sampling=[(3, 1), (2, 1), (1, 1)]),
        # r15 profiles: stored RGB via both detection signatures, and
        # composed with subsampling + 12-bit + SA progressive
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10,
                    adobe_transform=0),
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10,
                    component_ids=[0x52, 0x47, 0x42]),
        encode_jpeg([dcb(8), dcb(2), dcb(2)], 20, 10,
                    sampling=[(2, 2), (1, 1), (1, 1)],
                    adobe_transform=0, precision=12,
                    progressive=True,
                    scan_script=jpeg_sa_scan_script(3)),
        # r16/r17 profiles: sequential (SOF9) and progressive (SOF10)
        # arithmetic coding, with restarts and both scan scripts —
        # the QM-coder byte feed and the Annex G.2 models face the
        # same mutation classes as the Huffman paths
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10, arithmetic=True,
                    restart_interval=2),
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10, progressive=True,
                    arithmetic=True, restart_interval=2,
                    scan_script=jpeg_sa_scan_script(3)),
        encode_jpeg([dcb(4), dcb(4), dcb(4)], 12, 10, progressive=True,
                    arithmetic=True),
    ]
    for blob in blobs:
        assert M._decode_image_rgb(blob) is not None  # valid baseline
        for _trial in range(150):
            m = bytearray(blob)
            op = rng.randrange(4)
            if op == 0:  # flip a byte
                m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
            elif op == 1:  # truncate
                del m[rng.randrange(1, len(m)):]
            elif op == 2:  # insert a byte
                m.insert(rng.randrange(len(m)), rng.randrange(256))
            else:  # splice a slice elsewhere
                a, bnd = sorted(rng.randrange(len(m)) for _ in range(2))
                m[a:a] = m[a:bnd]
            M._decode_image_rgb(bytes(m))  # None or pixels — no raise

    # the first crash this fuzz found (pinned): a GIF LZW root code
    # size of 9..11 overflowed the initial byte-table build — the
    # root size is bounded by the 256-color palette at 8; only the
    # RUNNING width grows to 12
    gif = next(bb for bb in blobs if bytes(bb[:6]) == b"GIF89a")
    mcs_at = gif.index(0x2C) + 10  # descriptor (10 bytes incl. 0x2C)
    for bad in (9, 10, 11, 1, 0):
        g = bytearray(gif)
        g[mcs_at] = bad
        assert M._decode_gif_rgb(bytes(g)) is None


def test_png_palette_rejects_malformed():
    """Indexed-PNG hardening: missing PLTE, an index past the palette,
    a PLTE whose length is not a multiple of 3, and a PLTE after IDAT
    are all corruption -> None (never clamp, never wrong pixels); a
    SUGGESTED-quantization PLTE on a truecolor stream is spec-legal
    and must be ignored, not rejected."""
    import zlib

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_png

    def chunk(ctype, data):
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + (zlib.crc32(ctype + data) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    def split_chunks(blob):
        out, pos = [], 8
        while pos < len(blob):
            ln = int.from_bytes(blob[pos:pos + 4], "big")
            out.append((blob[pos + 4:pos + 8], blob[pos:pos + 12 + ln]))
            pos += 12 + ln
        return out

    palette = [(9, 8, 7), (200, 100, 50), (1, 2, 3)]
    good = encode_png([[0, 1, 2], [2, 1, 0]], 1, [0, 4],
                      palette=palette)
    d = M._decode_png_rgb(good)
    assert d is not None and d[:2] == (3, 2)
    assert np.array_equal(d[2][0], np.array(palette, dtype=np.uint8))

    chunks = split_chunks(good)
    # missing PLTE
    assert M._decode_png_rgb(
        good[:8] + b"".join(raw for t, raw in chunks if t != b"PLTE")
    ) is None
    # PLTE moved after IDAT
    reordered = good[:8] + b"".join(
        raw for t, raw in chunks if t not in (b"PLTE", b"IEND"))
    plte_raw = next(raw for t, raw in chunks if t == b"PLTE")
    iend_raw = next(raw for t, raw in chunks if t == b"IEND")
    assert M._decode_png_rgb(reordered + plte_raw + iend_raw) is None
    # PLTE length not a multiple of 3 (CRC valid, so the length check
    # itself is what rejects)
    bad_plte = good[:8] + b"".join(
        chunk(b"PLTE", bytes(4)) if t == b"PLTE" else raw
        for t, raw in chunks)
    assert M._decode_png_rgb(bad_plte) is None
    # index 3 with a 3-entry palette: out of range, not clamp material
    oob = encode_png([[0, 3, 2], [2, 1, 0]], 1, [0, 0],
                     palette=palette)
    assert M._decode_png_rgb(oob) is None
    # suggested PLTE spliced into a truecolor stream: ignored
    tc = encode_png([[10, 20, 30, 40, 50, 60]], 3, [2])
    tc_chunks = split_chunks(tc)
    with_plte = tc[:8] + tc_chunks[0][1] + chunk(
        b"PLTE", bytes([1, 2, 3])) + b"".join(
        raw for t, raw in tc_chunks[1:])
    d2 = M._decode_png_rgb(with_plte)
    assert d2 is not None
    assert np.array_equal(d2[2], M._decode_png_rgb(tc)[2])


def test_png_and_bmp_same_pixels_same_stats(spark):
    """Cross-format agreement: the SAME logical pixels encoded as a
    bottom-up stride-padded BMP and as a Paeth-filtered PNG must
    produce identical rows through bmp_pixel_stats — _decode_image_rgb
    normalizes both to (H, W, 3) logical-top-down RGB, so every
    raster kernel (stats, histogram, resize, ahash) is format-
    agnostic above the decode."""
    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_png

    w, h = 5, 4
    px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3) * 3 % 256
    # PNG: logical top-down RGB, Paeth everywhere
    png = encode_png(
        [list(px[y].reshape(-1)) for y in range(h)], 3, [4] * h
    )
    # BMP: bottom-up storage, BGR, stride padding
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            row += bytes([px[y, x, 2], px[y, x, 1], px[y, x, 0]])
        row += b"\x00" * (stride - len(row))
        body += row
    bmp = (
        b"BM" + (54 + len(body)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(body).to_bytes(4, "little") + b"\x00" * 16
        + bytes(body)
    )
    df = spark.createDataFrame(
        [(1, bytes(png)), (2, bmp)], "media_id LONG, content BINARY"
    )
    rows = {r["media_id"]: r.asDict() for r in M.bmp_pixel_stats(df).collect()}
    a, b = rows[1], rows[2]
    for k in ("width", "height", "n_pixels", "sum_r", "sum_g", "sum_b",
              "wsum_r", "p00"):
        assert a[k] == b[k], (k, a[k], b[k])
    assert a["wsum_r"] is not None


def test_gif_lzw_decode_hand_computed_vectors():
    """Decode two bitstreams computed BY HAND from the GIF89a LZW spec
    (mcs=2: clear=4, eOI=5, width 3, LSB-first packing) — independent
    of our encoder, so a mirrored encoder/decoder bug cannot hide:
    (a) [1,1,1,2] -> codes 4,1,6,2,5 -> bytes 8C 55 (uses a grown
    dict entry); (b) [1,1,1] -> codes 4,1,6,5 -> bytes 8C 0B (code 6
    IS the just-defined entry — the KwKwK case)."""
    assert M._gif_lzw_decode(bytes([0x8C, 0x55]), 2, 4) == [1, 1, 1, 2]
    assert M._gif_lzw_decode(bytes([0x8C, 0x0B]), 2, 3) == [1, 1, 1]
    # malformed: code beyond the table
    assert M._gif_lzw_decode(bytes([0xFC, 0x3F]), 2, 4) is None
    # truncated before EOI
    assert M._gif_lzw_decode(bytes([0x8C]), 2, 4) is None


def test_gif_lzw_encode_final_emit_width_boundary():
    """Deterministic pin of the r11 hypothesis falsifier (not left to
    random search): streams whose LAST table add lands next_code
    exactly on 1 << width force the final no-add emission + EOI to
    widen. The encoder must follow the decoder's codes-WRITTEN rule
    there (giflib's RunningCode); a table-add-driven width schedule
    writes the closing two codes one bit narrow and the decoder
    (correctly) returns None on the malformed stream."""
    import random

    from citydata_etl_spark.plans.queries_llm import _gif_lzw_encode

    # The exact r11 falsifying example: n_sym=2, ln=31, seed=0,
    # repetitive=True (pattern replication per the property test).
    rng = random.Random(0)
    pat = [rng.randrange(2) for _ in range(rng.randrange(1, 4))]
    idx = (pat * (31 // len(pat) + 1))[:31]
    enc = _gif_lzw_encode(idx, 2)
    assert M._gif_lzw_decode(enc, 2, len(idx)) == idx
    # Sweep the boundary family: for each mcs, single-symbol runs of
    # every length up to well past two width bumps — covers every
    # alignment of "last add on a power of two" with the final emit.
    for mcs in (2, 3, 4):
        for n in range(1, 80):
            run = [1] * n
            enc = _gif_lzw_encode(run, mcs)
            assert M._gif_lzw_decode(enc, mcs, n) == run, (mcs, n)


def test_gif_lzw_roundtrip_property():
    """Hypothesis: encode/decode random and repetitive index streams
    across alphabet sizes — dictionary growth, width bumps at every
    power of two, the KwKwK case, and the 4096-entry clear/reset are
    all on the line. Pure Python, no Spark session.

    The first @example pins the r11 falsifying case (found by a fresh
    hypothesis run AFTER a green battery): n_sym=2, ln=31, repetitive
    lands the last table add exactly on 1 << width, so the stream's
    final no-add emission + EOI must widen — a table-add-driven
    encoder writes them one bit narrow and the decode returns None."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import _gif_lzw_encode

    @settings(max_examples=60, deadline=None)
    @given(
        st.sampled_from([2, 3, 7, 16, 64]),
        st.integers(1, 2000),
        st.integers(0, 2 ** 30),
        st.booleans(),
    )
    @example(2, 31, 0, True)   # r11 falsifier: final-emit width bump
    def check(n_sym, ln, seed, repetitive):
        import random

        rng = random.Random(seed)
        if repetitive:
            pat = [rng.randrange(n_sym)
                   for _ in range(rng.randrange(1, 4))]
            idx = (pat * (ln // len(pat) + 1))[:ln]
        else:
            idx = [rng.randrange(n_sym) for _ in range(ln)]
        mcs = max(2, (n_sym - 1).bit_length())
        enc = _gif_lzw_encode(idx, mcs)
        assert M._gif_lzw_decode(enc, mcs, len(idx)) == idx

    check()


def test_gif_interlace_roundtrip_property():
    """Hypothesis: the SAME random raster encoded GIF-interlaced
    (four-pass row order: 0 mod 8, 4 mod 8, 2 mod 4, odd) and
    straight decodes to IDENTICAL pixels, both equal to the raw
    raster — the encoder's pass extraction and the decoder's
    fancy-index scatter must be exact inverses at every height,
    including heights where later passes are empty (h <= 4) and the
    h=1/h=2 identity edge."""
    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_gif

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 12),       # width
        st.integers(1, 20),       # height (crosses all four passes)
        st.integers(0, 2 ** 30),  # pixel seed
        st.booleans(),            # split sub-blocks
    )
    @example(1, 1, 0, False)
    @example(2, 2, 1, False)    # identity permutation edge
    @example(3, 5, 2, False)    # passes 1,3,4 populated, pass 2 empty
    @example(4, 9, 3, True)     # first height with two pass-1 rows
    @example(5, 16, 4, False)   # all passes multi-row
    def check(w, h, seed, split):
        rng = np.random.RandomState(seed % (2 ** 31 - 1))
        # <= 16 distinct colors so any dims fit one palette
        px = rng.randint(0, 16, size=(h, w, 3)) * 16
        rows = [[tuple(int(v) for v in px[y, x]) for x in range(w)]
                for y in range(h)]
        straight = M._decode_gif_rgb(
            encode_gif(rows, split_subblocks=split))
        inter = M._decode_gif_rgb(
            encode_gif(rows, split_subblocks=split, interlace=True))
        assert straight is not None and inter is not None
        assert straight[:2] == inter[:2] == (w, h)
        assert np.array_equal(straight[2], px.astype(np.uint8))
        assert np.array_equal(inter[2], straight[2])

    check()


def test_gif_decode_rejects_unsupported_and_corrupt(spark):
    """None (triage convention) for: truncated, bad signature,
    zero-dim header, partial frame, missing sub-block terminator —
    never raise, never wrong pixels. (Interlaced frames are SUPPORTED
    since r13 — test_gif_interlace_roundtrip_property drives the
    four-pass reorder; here we only pin that the flag on a 2-row
    image is the identity permutation, the smallest honest check that
    the flag is READ rather than rejected.)"""
    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_gif

    good = encode_gif([[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (1, 2, 3)]])
    assert M._decode_gif_rgb(good) is not None
    assert M._decode_gif_rgb(good[:-4]) is None
    assert M._decode_gif_rgb(b"\x00" + good[1:]) is None
    b2 = bytearray(good)
    b2[bytes(b2).index(0x2C) + 9] |= 0x40  # interlace flag, h=2:
    dec = M._decode_gif_rgb(bytes(b2))     # passes are [row0],[row1]
    assert dec is not None
    assert np.array_equal(dec[2], M._decode_gif_rgb(good)[2])
    assert M._decode_gif_rgb(b"GIF89a" + b"\x00" * 40) is None
    b3 = bytearray(good)
    i = bytes(b3).index(0x2C)
    b3[i + 1] = 1  # left offset -> partial frame
    assert M._decode_gif_rgb(bytes(b3)) is None


def test_jpeg_decode_dc_closed_form_property():
    """Hypothesis: DC-only baseline JPEGs (grayscale and 4:4:4 color,
    with and without restart markers, dims crossing the 8-pixel block
    edges) decode to EXACTLY the closed-form flat tiles — dequant,
    IDCT scaling, level shift, DPCM across blocks, RST predictor
    resets, byte alignment, and the JFIF color convention are all on
    the line. Pure Python + numpy, no Spark session."""
    import math

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 20),      # width
        st.integers(1, 18),      # height
        st.integers(0, 2 ** 20),  # seed
        st.booleans(),            # grayscale
        st.sampled_from([0, 1, 2, 3]),  # restart interval
    )
    def check(w, h, seed, gray, ri):
        bw, bh = (w + 7) // 8, (h + 7) // 8

        def tile(f):
            out = []
            for i in range(bw * bh):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = f(i % bw, i // bw) - 128
                out.append(blk)
            return out

        yf = lambda tx, ty: (seed + 5 * tx + 9 * ty) % 256
        cbf = lambda tx, ty: (2 * seed + 7 * tx + 3 * ty) % 256
        crf = lambda tx, ty: (3 * seed + tx + 11 * ty) % 256
        comps = [tile(yf)] if gray else [tile(yf), tile(cbf), tile(crf)]
        dec = M._decode_jpeg_rgb(encode_jpeg(comps, w, h,
                                             restart_interval=ri))
        assert dec is not None
        gw, gh, px = dec
        assert (gw, gh) == (w, h)
        for y in range(h):
            for x in range(w):
                tx, ty = x // 8, y // 8
                yv = yf(tx, ty)
                if gray:
                    want = (yv, yv, yv)
                else:
                    cb, cr = cbf(tx, ty), crf(tx, ty)
                    want = (
                        min(255, max(0, math.floor(
                            yv + 1.402 * (cr - 128.0) + 0.5))),
                        min(255, max(0, math.floor(
                            yv - 0.344136 * (cb - 128.0)
                            - 0.714136 * (cr - 128.0) + 0.5))),
                        min(255, max(0, math.floor(
                            yv + 1.772 * (cb - 128.0) + 0.5))),
                    )
                got = tuple(int(v) for v in px[y, x])
                assert got == want, ((x, y), got, want)

    check()


def test_jpeg_decode_420_closed_form_property():
    """Hypothesis: DC-only 4:2:0 and 4:2:2 color JPEGs (the dominant
    wild profiles, supported since r13) decode to EXACTLY the
    closed-form tiles — the per-component MCU block layout (2x2 luma
    + 1 Cb + 1 Cr per MCU for 4:2:0), the interleave order, DPCM
    predictors PER COMPONENT (luma's predictor chains across the 4
    blocks of each MCU), restart resets, and the exact-replication
    chroma upsample are all on the line. Luma tiles are 8x8, chroma
    tiles cover 16x16 (4:2:0) or 16x8 (4:2:2) aligned pixel boxes."""
    import math

    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 37),      # width (crosses 8/16/32 block edges)
        st.integers(1, 35),      # height
        st.integers(0, 2 ** 20),  # seed
        st.booleans(),            # True = 4:2:0, False = 4:2:2
        st.sampled_from([0, 1, 2, 3]),  # restart interval (MCUs)
    )
    @example(17, 17, 0, True, 1)   # odd dims + restart every MCU
    @example(16, 16, 7, True, 0)   # exact MCU grid
    @example(1, 1, 3, False, 0)    # single pixel, padded MCU
    def check(w, h, seed, is420, ri):
        fv = 2 if is420 else 1
        mcux = (w + 15) // 16
        mcuy = (h + 8 * fv - 1) // (8 * fv)

        def tile(nbx, nby, f):
            out = []
            for i in range(nbx * nby):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = f(i % nbx, i // nbx) - 128
                out.append(blk)
            return out

        yf = lambda tx, ty: (seed + 5 * tx + 9 * ty) % 256
        cbf = lambda tx, ty: (2 * seed + 7 * tx + 3 * ty) % 256
        crf = lambda tx, ty: (3 * seed + tx + 11 * ty) % 256
        comps = [
            tile(mcux * 2, mcuy * fv, yf),
            tile(mcux, mcuy, cbf),
            tile(mcux, mcuy, crf),
        ]
        samp = [(2, fv), (1, 1), (1, 1)]
        dec = M._decode_jpeg_rgb(encode_jpeg(
            comps, w, h, restart_interval=ri, sampling=samp))
        assert dec is not None
        gw, gh, px = dec
        assert (gw, gh) == (w, h)
        for y in range(h):
            for x in range(w):
                yv = yf(x // 8, y // 8)
                cb = cbf(x // 16, y // (8 * fv))
                cr = crf(x // 16, y // (8 * fv))
                want = (
                    min(255, max(0, math.floor(
                        yv + 1.402 * (cr - 128.0) + 0.5))),
                    min(255, max(0, math.floor(
                        yv - 0.344136 * (cb - 128.0)
                        - 0.714136 * (cr - 128.0) + 0.5))),
                    min(255, max(0, math.floor(
                        yv + 1.772 * (cb - 128.0) + 0.5))),
                )
                got = tuple(int(v) for v in px[y, x])
                assert got == want, ((x, y), got, want)

    check()


def test_jpeg_restart_interval_property():
    """Hypothesis restart-marker battery (the r12 verdict ask): over
    randomized restart intervals x MCU-grid sizes x sampling modes x
    SPARSE random AC content, a stream encoded WITH restarts must
    decode to pixels IDENTICAL to the same blocks encoded WITHOUT
    restarts — restart insertion (byte-align padding, RSTn sequence,
    per-component predictor resets) must be pixel-neutral. This is an
    exact self-consistency oracle, so AC float rounding cannot blur
    it: both decodes share one IDCT path. Also crosses the RST0-RST7
    wraparound (grids of up to 5x5=25 MCUs at interval 1)."""
    import random as rnd

    import numpy as np
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(1, 40),            # width
        st.integers(1, 40),            # height
        st.integers(1, 9),             # restart interval (MCUs)
        st.sampled_from(["gray", "444", "422", "420"]),
        st.integers(0, 2 ** 30),       # AC content seed
    )
    @example(40, 40, 1, "420", 0)      # 9 restarts: full RSTn wrap
    @example(33, 33, 3, "gray", 1)     # 25 MCUs, interval 3
    def check(w, h, ri, mode, seed):
        r = rnd.Random(seed)
        samp = {
            "gray": [(1, 1)],
            "444": [(1, 1)] * 3,
            "422": [(2, 1), (1, 1), (1, 1)],
            "420": [(2, 2), (1, 1), (1, 1)],
        }[mode]
        hmax = max(s for s, _ in samp)
        vmax = max(s for _, s in samp)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)

        def blocks(n):
            out = []
            for _ in range(n):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = r.randint(-128, 127)
                for _ in range(r.randint(0, 6)):
                    p = r.randrange(1, 64)
                    blk[p // 8][p % 8] = r.choice(
                        [-1, 1]) * r.randint(1, 200)
                out.append(blk)
            return out

        comps = [blocks((mcuy * sv) * (mcux * sh)) for sh, sv in samp]
        plain = M._decode_jpeg_rgb(encode_jpeg(comps, w, h, sampling=samp))
        with_rst = M._decode_jpeg_rgb(encode_jpeg(
            comps, w, h, restart_interval=ri, sampling=samp))
        assert plain is not None and with_rst is not None
        assert plain[:2] == with_rst[:2] == (w, h)
        assert np.array_equal(plain[2], with_rst[2])

    check()


def test_jpeg_decode_ac_roundtrip_vs_naive_idct_property():
    """Hypothesis: grayscale JPEGs with random SPARSE AC coefficients
    decode to the same pixels as an independent double-loop textbook
    IDCT (different summation order than the decoder's matrix
    product) under the stated floor(s+0.5) clamp convention — the AC
    Huffman run/size path, ZRL, EOB, zigzag placement, and the IDCT
    itself are all on the line. Pixels whose pre-round value sits
    within 1e-6 of a .5 boundary are exempted from the rounding
    comparison (summation-order ULPs can legitimately flip them);
    the float planes must still agree to 1e-6."""
    import math

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    def naive_idct(q):
        out = np.zeros((8, 8))
        for r in range(8):
            for c in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = (1 / math.sqrt(2)) if u == 0 else 1.0
                        cv = (1 / math.sqrt(2)) if v == 0 else 1.0
                        s += ((cu / 2) * math.cos((2 * r + 1) * u
                                                  * math.pi / 16)
                              * (cv / 2) * math.cos((2 * c + 1) * v
                                                    * math.pi / 16)
                              * q[u][v])
                out[r, c] = s
        return out

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.tuples(st.integers(0, 63),
                      st.integers(-200, 200).filter(lambda v: v != 0)),
            min_size=0, max_size=12,
        ),
        st.integers(-128, 127),
    )
    def check(ac, dc):
        blk = [[0] * 8 for _ in range(8)]
        blk[0][0] = dc
        for pos, v in ac:
            if pos:
                blk[pos // 8][pos % 8] = v
        dec = M._decode_jpeg_rgb(encode_jpeg([[blk]], 8, 8))
        assert dec is not None
        _, _, px = dec
        qblk = [[blk[r][c] * 8 for c in range(8)] for r in range(8)]
        flt = naive_idct(qblk) + 128.0
        model = np.clip(np.floor(flt + 0.5), 0, 255)
        got = px[:, :, 0].astype(np.float64)
        near_half = np.abs((flt + 0.5) - np.round(flt + 0.5)) < 1e-6
        assert np.array_equal(got[~near_half], model[~near_half])

    check()


def test_jpeg_non_divisor_sampling_decodes():
    """Non-divisor sampling mixes decode since r14 via nearest-
    neighbor index-map upsampling (frame pixel x reads component
    sample x*ch//hmax — the convention that reduces EXACTLY to the
    old pixel replication whenever the factors divide). A genuine
    3x1-luma / 2x1 / 1x1 frame (hmax=3: 2 divides neither) with
    DC-only tiles must match the closed-form reference; a divisor
    420 frame must decode bit-identically to its pre-r14 pixels
    (regression pin for the repeat -> index-map swap)."""
    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    w, h = 23, 10
    sampling = [(3, 1), (2, 1), (1, 1)]
    hmax = 3
    mcux, mcuy = (w + 8 * hmax - 1) // (8 * hmax), (h + 7) // 8

    def plane(sh, f):
        cols = mcux * sh
        out = []
        for i in range(cols * mcuy):
            tx, ty = i % cols, i // cols
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = f(tx, ty) - 128
            out.append(blk)
        return out

    fs = [
        lambda tx, ty: (40 + 31 * tx + 9 * ty) % 256,
        lambda tx, ty: (90 + 17 * tx + 5 * ty) % 256,
        lambda tx, ty: (10 + 53 * tx + 3 * ty) % 256,
    ]
    comps = [plane(sh, f) for (sh, _), f in zip(sampling, fs)]
    blob = encode_jpeg(comps, w, h, sampling=sampling)
    got = M._decode_jpeg_rgb(blob)
    assert got is not None and got[:2] == (w, h)
    ref = np.zeros((h, w, 3))
    for y in range(h):
        for x in range(w):
            # component sample index per the stated convention
            yv = fs[0]((x * 3 // 3) // 8, y // 8)
            cb = fs[1]((x * 2 // 3) // 8, y // 8)
            cr = fs[2]((x * 1 // 3) // 8, y // 8)
            ref[y, x] = [
                min(255, max(0, np.floor(yv + 1.402 * (cr - 128) + 0.5))),
                min(255, max(0, np.floor(
                    yv - 0.344136 * (cb - 128)
                    - 0.714136 * (cr - 128) + 0.5))),
                min(255, max(0, np.floor(yv + 1.772 * (cb - 128) + 0.5))),
            ]
    assert np.array_equal(got[2], ref.astype(np.uint8))


def test_jpeg_12bit_decodes_and_matches_conventions():
    """12-bit JPEG (r14): extended sequential SOF1 and 12-bit SOF2
    decode with level shift +2048, clamp to [0, 4095], and the HIGH
    byte kept after color conversion (the PNG strip-16 convention).
    Pins: (a) the DC-only closed form — stored DC v-2048 with the
    all-8s quant decodes to output byte v >> 4; (b) baseline ==
    progressive == successive-approximation pixels on random 12-bit
    coefficients (DC categories up to 12, AC sizes up to 14, beyond
    the 8-bit alphabets); (c) an 8-bit SOF1 equals SOF0 bit-for-bit;
    (d) SOF0 claiming 12-bit rejects (baseline is 8-bit by
    definition); (e) a 12-bit grayscale value sweep hits every output
    byte boundary exactly."""
    import random

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import (
        encode_jpeg,
        jpeg_sa_scan_script,
    )

    def plane(bw, bh, f):
        out = []
        for i in range(bw * bh):
            tx, ty = i % bw, i // bw
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = f(tx, ty) - 2048
            out.append(blk)
        return out

    w, h = 20, 12
    fy = lambda tx, ty: (1000 + 600 * tx + 333 * ty) % 4096  # noqa: E731
    blob = encode_jpeg([plane(3, 2, fy)], w, h, precision=12)
    assert b"\xff\xc1" in blob  # SOF1, not SOF0
    r = M._decode_jpeg_rgb(blob)
    assert r is not None and r[:2] == (w, h)
    for y in range(h):
        for x in range(w):
            assert r[2][y, x, 0] == fy(x // 8, y // 8) >> 4

    # (e) boundary sweep: values around each 16-step byte edge
    vals = [0, 15, 16, 2047, 2048, 4079, 4080, 4095]
    blk = [plane(len(vals), 1, lambda tx, ty: vals[tx])]
    rr = M._decode_jpeg_rgb(
        encode_jpeg(blk, 8 * len(vals), 8, precision=12))
    for i, v in enumerate(vals):
        assert rr[2][0, 8 * i, 0] == v >> 4, v

    rng = random.Random(3)

    def rb(n):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = rng.randrange(-2048, 2048)
            for k in range(1, 64):
                if rng.random() < 0.4:
                    blk[k // 8][k % 8] = rng.randrange(-2000, 2001)
            out.append(blk)
        return out

    for trial in range(8):
        tw, th = rng.randrange(4, 40), rng.randrange(4, 36)
        bw, bh = (tw + 7) // 8, (th + 7) // 8
        ri = rng.choice([0, 2])
        comps = [rb(bw * bh) for _ in range(3)]
        outs = [
            M._decode_jpeg_rgb(encode_jpeg(
                comps, tw, th, precision=12, restart_interval=ri)),
            M._decode_jpeg_rgb(encode_jpeg(
                comps, tw, th, precision=12, restart_interval=ri,
                progressive=True)),
            M._decode_jpeg_rgb(encode_jpeg(
                comps, tw, th, precision=12, restart_interval=ri,
                progressive=True,
                scan_script=jpeg_sa_scan_script(3))),
        ]
        assert all(o is not None for o in outs), trial
        assert np.array_equal(outs[0][2], outs[1][2]), trial
        assert np.array_equal(outs[0][2], outs[2][2]), trial

    base = encode_jpeg(comps, tw, th, precision=12)
    bad = bytearray(base)
    i = bad.index(b"\xff\xc1")
    bad[i + 1] = 0xC0  # SOF0 claiming 12-bit
    assert M._decode_jpeg_rgb(bytes(bad)) is None

    blk8 = [[0] * 8 for _ in range(8)]
    blk8[0][0] = 7
    g0 = encode_jpeg([[blk8] * 6], 16, 24)
    g1 = bytearray(g0)
    j = g1.index(b"\xff\xc0")
    g1[j + 1] = 0xC1  # 8-bit extended sequential
    r0, r1 = M._decode_jpeg_rgb(g0), M._decode_jpeg_rgb(bytes(g1))
    assert r0 is not None and r1 is not None
    assert np.array_equal(r0[2], r1[2])


def test_jpeg_stored_rgb_decodes_property():
    """3-component STORED-RGB JPEG (r15): Adobe APP14 transform 0, and
    the unmarked 'R','G','B' component-id signature, both decode with
    the color convert SKIPPED — the planes are the channels. Pins:
    (a) the DC-only closed form: stored DC v-128 decodes to output
    channel v exactly, per channel independently (which the YCbCr
    path cannot even represent for saturated channel combinations);
    (b) RGB == YCbCr-roundtrip on GRAY content: r=g=b=v stored-RGB
    equals the y=v, cb=cr=128 YCbCr encode pixel-for-pixel (the
    neutral-chroma convert is exact: 1.402*0 terms vanish);
    (c) both stored-RGB signatures (APP14 and cid-signature) decode
    identically; (d) unmarked cids 1,2,3 still convert as YCbCr —
    the same coefficients decode DIFFERENTLY from stored-RGB on
    colored content (the mis-convert the triage used to avoid by
    rejecting); (e) triage: 3-component transform 2 rejects (YCCK
    needs K); (f) stored-RGB composes with subsampling, restarts,
    12-bit, and SA-progressive scan scripts (baseline == SA pixels).
    """
    import random

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import (
        encode_jpeg,
        jpeg_sa_scan_script,
    )

    RGB_CIDS = [0x52, 0x47, 0x42]

    def tile(bw, bh, f, center=128):
        out = []
        for i in range(bw * bh):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = f(i % bw, i // bw) - center
            out.append(blk)
        return out

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(1, 20),       # width
        st.integers(1, 18),       # height
        st.integers(0, 2 ** 20),  # seed
        st.booleans(),            # APP14 transform 0 vs cid signature
        st.sampled_from([0, 2]),  # restart interval
    )
    def check(w, h, seed, use_app14, ri):
        bw, bh = (w + 7) // 8, (h + 7) // 8
        rf = lambda tx, ty: (seed + 5 * tx + 9 * ty) % 256  # noqa: E731
        gf = lambda tx, ty: (2 * seed + 7 * tx + 3 * ty) % 256  # noqa: E731
        bf = lambda tx, ty: (3 * seed + tx + 11 * ty) % 256  # noqa: E731
        comps = [tile(bw, bh, f) for f in (rf, gf, bf)]
        blob = encode_jpeg(
            comps, w, h, restart_interval=ri,
            adobe_transform=0 if use_app14 else None,
            component_ids=None if use_app14 else RGB_CIDS,
        )
        dec = M._decode_jpeg_rgb(blob)
        assert dec is not None and dec[:2] == (w, h)
        for y in range(h):
            for x in range(w):
                tx, ty = x // 8, y // 8
                want = (rf(tx, ty), gf(tx, ty), bf(tx, ty))
                assert tuple(int(v) for v in dec[2][y, x]) == want, (
                    (x, y), want
                )

    check()

    # (b) gray content: stored-RGB == YCbCr roundtrip exactly
    w, h = 19, 11
    bw, bh = 3, 2
    vf = lambda tx, ty: (37 + 41 * tx + 13 * ty) % 256  # noqa: E731
    gray3 = [tile(bw, bh, vf)] * 3
    ycc = [tile(bw, bh, vf),
           tile(bw, bh, lambda tx, ty: 128),
           tile(bw, bh, lambda tx, ty: 128)]
    srgb_dec = M._decode_jpeg_rgb(
        encode_jpeg(gray3, w, h, adobe_transform=0))
    ycc_dec = M._decode_jpeg_rgb(encode_jpeg(ycc, w, h))
    assert np.array_equal(srgb_dec[2], ycc_dec[2])

    # (c) the two stored-RGB signatures agree on the same coefficients
    rng = random.Random(99)

    def rb(n):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = rng.randrange(-129, 128)
            for k in range(1, 64):
                if rng.random() < 0.4:
                    blk[k // 8][k % 8] = rng.randrange(-120, 121)
            out.append(blk)
        return out

    comps = [rb(bw * bh) for _ in range(3)]
    a = M._decode_jpeg_rgb(encode_jpeg(comps, w, h, adobe_transform=0))
    c = M._decode_jpeg_rgb(
        encode_jpeg(comps, w, h, component_ids=RGB_CIDS))
    assert a is not None and c is not None
    assert np.array_equal(a[2], c[2])

    # (d) unmarked cids 1,2,3 still decode as YCbCr — differently
    ycbcr = M._decode_jpeg_rgb(encode_jpeg(comps, w, h))
    assert ycbcr is not None
    assert not np.array_equal(a[2], ycbcr[2])

    # (e) 3-component transform 2 is illegal (YCCK needs K) -> None.
    # The encoder refuses to emit it, so mutate the APP14 transform
    # byte of the legal transform-0 blob (offset 11 from "Adobe")
    t0_blob = encode_jpeg(comps, w, h, adobe_transform=0)
    i = t0_blob.index(b"Adobe")
    assert t0_blob[i + 11] == 0
    bad = t0_blob[:i + 11] + b"\x02" + t0_blob[i + 12:]
    assert M._decode_jpeg_rgb(bad) is None

    # (f) composes: subsampled + restart + SA-progressive stored-RGB
    # (8- and 12-bit) decodes == its baseline stored-RGB twin
    for prec in (8, 12):
        amp = 120 if prec == 8 else 2000
        samp = [(2, 1), (1, 1), (1, 1)]
        mcux, mcuy = (w + 15) // 16, (h + 7) // 8

        def rbp(n):
            out = []
            for _ in range(n):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = rng.randrange(-amp - 1, amp + 1)
                for k in range(1, 64):
                    if rng.random() < 0.4:
                        blk[k // 8][k % 8] = rng.randrange(-amp, amp + 1)
                out.append(blk)
            return out

        sc = [rbp(mcuy * sv * mcux * sh) for sh, sv in samp]
        base = encode_jpeg(sc, w, h, sampling=samp, restart_interval=2,
                           adobe_transform=0, precision=prec)
        sa = encode_jpeg(sc, w, h, sampling=samp, restart_interval=2,
                         adobe_transform=0, precision=prec,
                         progressive=True,
                         scan_script=jpeg_sa_scan_script(3))
        db, ds = M._decode_jpeg_rgb(base), M._decode_jpeg_rgb(sa)
        assert db is not None and ds is not None, prec
        assert np.array_equal(db[2], ds[2]), prec


def test_jpeg_jfif_precedence_over_adobe():
    """r16 ADVICE fix: libjpeg (jdapimin.c default_decompress_parms)
    forces YCbCr for ANY 3-component frame that carries a JFIF APP0,
    consulting the APP14 transform / component-id guesses only when
    JFIF is absent. Pin that precedence: splicing a JFIF APP0 into a
    stored-RGB blob (either signature) must flip the decode to YCbCr
    — byte-identical to the plain JFIF encode of the same
    coefficients — and the encoder must no longer emit JFIF on blobs
    whose declared color model contradicts it."""
    import random

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    rng = random.Random(4242)
    w, h = 19, 11
    bw, bh = 3, 2

    def rb(n):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = rng.randrange(-129, 128)
            for k in range(1, 64):
                if rng.random() < 0.4:
                    blk[k // 8][k % 8] = rng.randrange(-120, 121)
            out.append(blk)
        return out

    comps = [rb(bw * bh) for _ in range(3)]
    JFIF = b"\xff\xe0\x00\x10JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"

    plain = encode_jpeg(comps, w, h)  # default cids -> JFIF YCbCr
    assert b"JFIF\x00" in plain
    ycbcr = M._decode_jpeg_rgb(plain)

    for kw in ({"adobe_transform": 0},
               {"component_ids": [0x52, 0x47, 0x42]}):
        srgb_blob = encode_jpeg(comps, w, h, **kw)
        # encoder: no JFIF on a stored-RGB-signature blob
        assert b"JFIF\x00" not in srgb_blob
        srgb = M._decode_jpeg_rgb(srgb_blob)
        assert srgb is not None
        assert not np.array_equal(srgb[2], ycbcr[2])
        # decoder: splice JFIF after SOI -> JFIF wins, YCbCr decode
        dual = srgb_blob[:2] + JFIF + srgb_blob[2:]
        dec = M._decode_jpeg_rgb(dual)
        assert dec is not None
        assert np.array_equal(dec[2], ycbcr[2])

    # CMYK/YCCK blobs drop JFIF too (JFIF is defined for 1/3 comps
    # only) and still decode
    four = [rb(bw * bh) for _ in range(4)]
    for tf in (0, 2):
        blob4 = encode_jpeg(four, w, h, adobe_transform=tf)
        assert b"JFIF\x00" not in blob4
        assert M._decode_jpeg_rgb(blob4) is not None

    # grayscale keeps JFIF
    g = encode_jpeg([rb(bw * bh)], w, h)
    assert b"JFIF\x00" in g and M._decode_jpeg_rgb(g) is not None


def test_image_ahash_orientation_invariant(spark):
    """r15 orientation convention for perceptual hashing: image_ahash
    fingerprints the EXIF-UPRIGHT raster, so a JPEG stored rotated
    (orientation 3/6/8) hashes IDENTICALLY to its upright twin and
    ahash_neardup_pairs finds the pair at hamming 0. Negative control:
    stripping the orientation tag from the rotated blob changes the
    hash (the content is asymmetric), proving the invariance comes
    from the normalization, not from the content."""
    import numpy as np

    from citydata_etl_spark.operators.multimodal import (
        _apply_exif_orientation,
        ahash_neardup_pairs,
        image_ahash,
    )
    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    # upright 16x16 grayscale content: four distinct flat 8x8 tiles
    # (asymmetric under every rotation/flip)
    tiles_u = np.array([[10, 200], [90, 240]])
    U = np.repeat(np.repeat(tiles_u, 8, axis=0), 8, axis=1)

    def encode_gray(vals2d, orientation=None):
        bh, bw = vals2d.shape[0] // 8, vals2d.shape[1] // 8
        blocks = []
        for ty in range(bh):
            for tx in range(bw):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = int(vals2d[8 * ty, 8 * tx]) - 128
                blocks.append(blk)
        return encode_jpeg([blocks], vals2d.shape[1], vals2d.shape[0],
                           exif_orientation=orientation)

    # stored rasters whose upright form is U, per orientation
    stored = {
        1: U,
        3: U[::-1, ::-1],
        6: U[:, ::-1].T,
        8: U[::-1, :].T,
    }
    rows = []
    for o, S in stored.items():
        # sanity: applying the tag really recovers U
        S3 = np.repeat(S[:, :, None], 3, axis=2)
        assert np.array_equal(
            _apply_exif_orientation(S3, o)[:, :, 0], U), o
        rows.append((o, encode_gray(S, orientation=o)))
    # negative control: orientation-6 raster WITHOUT the tag
    rows.append((100, encode_gray(stored[6], orientation=None)))
    media = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    hashes = {
        r["media_id"]: (r["ahash_lo"], r["ahash_hi"])
        for r in image_ahash(media, size=8).collect()
    }
    for o in (3, 6, 8):
        assert hashes[o] == hashes[1], o
    assert hashes[100] != hashes[1], "tag-free rotation must differ"
    pairs = {
        (r["media_a"], r["media_b"]): r["hamming"]
        for r in ahash_neardup_pairs(
            image_ahash(media, size=8), max_hamming=3).collect()
    }
    assert pairs[(1, 3)] == 0 and pairs[(1, 6)] == 0 \
        and pairs[(1, 8)] == 0
    assert (1, 100) not in pairs and (3, 100) not in pairs


def test_jpeg_fixture_blob_mix_has_r15_profiles(spark):
    """The r15 VERDICT gate: the driver-checked fixtures must
    VERIFIABLY carry the new profiles in their blob mix — parse the
    emitted markers per blob and check each residue class got its
    profile. d5_jpeg_pixels' fixture: d%10==5 frames are 12-bit (SOF1,
    or SOF2 with precision byte 12 when progressive), alternating
    1-component (d%20==5) and 3-component (d%20==15); d%5==2 frames
    are stored RGB, APP14 transform 0 at d%10==2 and unmarked
    'R','G','B' cids at d%10==7. d5_jpeg_pixels_420's fixture: d%9==2
    frames carry the non-divisor ((3,1),(2,1),(1,1)) sampling bytes.
    Every new-profile blob must also actually decode."""
    from citydata_etl_spark.plans.queries_llm import (
        _jpeg420_media_fixture,
        _jpeg_media_fixture,
    )

    def parse_sof(blob):
        """Return (sof_marker, precision, [(cid, h, v)], APP14
        transform byte or None, saw_jfif) from a JPEG blob."""
        i, n = 2, len(blob)
        app14 = None
        jfif = False
        while i + 4 <= n:
            assert blob[i] == 0xFF, "marker walk desynced"
            marker = blob[i + 1]
            if marker == 0xD8:
                i += 2
                continue
            ln = int.from_bytes(blob[i + 2:i + 4], "big")
            seg = blob[i + 4:i + 2 + ln]
            if marker == 0xE0 and seg[:5] == b"JFIF\x00":
                jfif = True
            if marker == 0xEE and seg[:5] == b"Adobe":
                app14 = seg[11]
            if marker in (0xC0, 0xC1, 0xC2, 0xC9, 0xCA):
                prec, nc = seg[0], seg[5]
                comps = [
                    (seg[6 + 3 * c],
                     seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 0x0F)
                    for c in range(nc)
                ]
                return marker, prec, comps, app14, jfif
            i += 2 + ln
        return None

    blobs = {
        int(r["media_id"]): bytes(r["content"])
        for r in _jpeg_media_fixture(spark, "/root/testdata/sf0.001")
        .collect()
    }
    seen = {"p12_1c": 0, "p12_3c": 0, "p12_sof2": 0,
            "rgb_app14": 0, "rgb_cids": 0, "arith": 0,
            "arith_gray": 0, "arith_rgb": 0,
            "sof10": 0, "sof10_dri": 0, "sof10_gray": 0,
            "sof10_rgb": 0, "sof10_12bit": 0}
    for d, blob in blobs.items():
        if d % 7 == 0:
            continue
        parsed = parse_sof(blob)
        assert parsed is not None, d
        marker, prec, comps, app14, jfif = parsed
        # r16 weave: every non-12-bit frame at d % 3 == 2 is
        # sequential arithmetic (SOF9) — composing with gray and
        # stored-RGB — and nothing else is
        if d % 3 == 2 and d % 10 != 5:
            assert marker == 0xC9, d
            seen["arith"] += 1
            if len(comps) == 1:
                seen["arith_gray"] += 1
            if d % 5 == 2:
                seen["arith_rgb"] += 1
            assert M._decode_jpeg_rgb(blob) is not None, d
        else:
            assert marker != 0xC9, d
        # r17 weave: half the progressive class (d % 12 in (4, 7)) is
        # PROGRESSIVE ARITHMETIC (SOF10) — composing with DRI (the
        # whole d % 12 == 4 sub-class), gray, stored-RGB and 12-bit —
        # and nothing else is
        if d % 3 == 1 and d % 12 in (4, 7):
            assert marker == 0xCA, d
            seen["sof10"] += 1
            if d % 4 == 0:
                seen["sof10_dri"] += 1
            if len(comps) == 1:
                seen["sof10_gray"] += 1
            if d % 5 == 2:
                seen["sof10_rgb"] += 1
            if prec == 12:
                seen["sof10_12bit"] += 1
            assert M._decode_jpeg_rgb(blob) is not None, d
        else:
            assert marker != 0xCA, d
        if d % 10 == 5:
            assert prec == 12, d
            assert marker in (0xC1, 0xC2, 0xCA), d
            assert len(comps) == (1 if d % 20 == 5 else 3), d
            seen["p12_1c" if d % 20 == 5 else "p12_3c"] += 1
            if marker == 0xC2:
                seen["p12_sof2"] += 1
            assert M._decode_jpeg_rgb(blob) is not None, d
        elif d % 5 == 2:
            assert prec == 8 and len(comps) == 3, d
            # r16 ADVICE fix: stored-RGB blobs must NOT carry a JFIF
            # APP0 — libjpeg's JFIF precedence would force YCbCr on
            # any 3-component JFIF frame, contradicting the declared
            # color model
            assert not jfif, d
            if d % 10 == 2:
                assert app14 == 0, d
                assert [c[0] for c in comps] == [1, 2, 3], d
                seen["rgb_app14"] += 1
            else:
                assert app14 is None, d
                assert [c[0] for c in comps] == [0x52, 0x47, 0x42], d
                seen["rgb_cids"] += 1
            assert M._decode_jpeg_rgb(blob) is not None, d
        else:
            assert prec == 8 and app14 is None, d
            assert jfif, d  # plain gray/YCbCr frames stay JFIF
    assert all(v > 0 for v in seen.values()), seen

    blobs420 = {
        int(r["media_id"]): bytes(r["content"])
        for r in _jpeg420_media_fixture(spark, "/root/testdata/sf0.001")
        .collect()
    }
    n_nd = 0
    for d, blob in blobs420.items():
        if d % 7 == 0:
            continue
        marker, prec, comps, app14, jfif = parse_sof(blob)
        if d % 9 == 2:
            assert [(h, v) for _, h, v in comps] == \
                [(3, 1), (2, 1), (1, 1)], d
            n_nd += 1
            assert M._decode_jpeg_rgb(blob) is not None, d
        else:
            assert comps[0][1] == 2, d  # the r13 divisor profiles
    assert n_nd > 0


def test_jpeg_profile_compositions_agree():
    """The r14 profile axes COMPOSED: non-divisor sampling mixes x
    8/12-bit precision x successive-approximation scan scripts x
    restarts — baseline and SA-progressive encodes of the same
    coefficients must decode identically through every combination
    (deterministic 12-case sweep; a 40-case randomized version ran
    clean during development)."""
    import random

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import (
        encode_jpeg,
        jpeg_sa_scan_script,
    )

    rng = random.Random(555)

    def rb(n, amp):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = rng.randrange(-amp - 1, amp + 1)
            for k in range(1, 64):
                if rng.random() < 0.4:
                    blk[k // 8][k % 8] = rng.randrange(-amp, amp + 1)
            out.append(blk)
        return out

    cases = [
        (23, 10, 8, [(3, 1), (2, 1), (1, 1)], 0),
        (23, 10, 12, [(3, 1), (2, 1), (1, 1)], 2),
        (10, 23, 8, [(1, 3), (1, 2), (1, 1)], 2),
        (10, 23, 12, [(1, 3), (1, 2), (1, 1)], 0),
        (31, 17, 8, [(3, 2), (2, 1), (1, 1)], 0),
        (31, 17, 12, [(3, 2), (2, 1), (1, 1)], 2),
        (40, 9, 8, [(4, 1), (3, 1), (2, 1)], 2),
        (40, 9, 12, [(4, 1), (3, 1), (2, 1)], 0),
        (7, 7, 8, [(3, 3), (1, 1), (1, 1)], 0),
        (7, 7, 12, [(3, 3), (1, 1), (1, 1)], 0),
        (16, 16, 8, [(2, 2), (2, 1), (1, 2)], 2),
        (16, 16, 12, [(2, 2), (2, 1), (1, 2)], 2),
    ]
    for w, h, prec, samp, ri in cases:
        amp = 120 if prec == 8 else 2000
        hmax = max(a for a, _ in samp)
        vmax = max(b for _, b in samp)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)
        comps = [rb(mcuy * sv * mcux * sh, amp) for sh, sv in samp]
        base = encode_jpeg(comps, w, h, sampling=samp,
                           restart_interval=ri, precision=prec)
        sa = encode_jpeg(comps, w, h, sampling=samp,
                         restart_interval=ri, precision=prec,
                         progressive=True,
                         scan_script=jpeg_sa_scan_script(3))
        a, c = M._decode_jpeg_rgb(base), M._decode_jpeg_rgb(sa)
        assert a is not None and c is not None, (w, h, prec, samp, ri)
        assert a[:2] == c[:2] == (w, h)
        assert np.array_equal(a[2], c[2]), (w, h, prec, samp, ri)


def test_jpeg_decode_rejects_unsupported_and_corrupt():
    """None (triage convention) for: progressive-header mismatches,
    starved sampling geometry, missing Huffman tables, truncated
    entropy stream, out-of-order restart markers, header-only blobs
    — never raise, never wrong pixels."""
    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    blk = [[0] * 8 for _ in range(8)]
    blk[0][0] = 7
    good = encode_jpeg([[blk], [blk], [blk]], 8, 8)
    assert M._decode_jpeg_rgb(good) is not None

    def mutate(needle, repl):
        i = good.index(needle)
        return good[:i] + repl + good[i + len(needle):]

    # SOF0 -> SOF2 (progressive)
    assert M._decode_jpeg_rgb(mutate(b"\xff\xc0", b"\xff\xc2")) is None
    # SOF0 claiming 12-bit precision: baseline is 8-bit by definition
    # (12-bit itself is SUPPORTED since r14 via SOF1/SOF2 —
    # test_jpeg_12bit_decodes_and_matches_conventions)
    i = good.index(b"\xff\xc0")
    assert M._decode_jpeg_rgb(
        good[:i + 4] + bytes([12]) + good[i + 5:]) is None
    # a 3x1-luma/2x1-chroma SOF over this 1x1-coded entropy stream:
    # non-divisor sampling is SUPPORTED since r14 (nearest-neighbor
    # index-map upsampling — test_jpeg_non_divisor_sampling_decodes),
    # so this now rejects for the honest reason: the mutated geometry
    # claims more blocks than the stream carries (starved walk)
    assert M._decode_jpeg_rgb(
        good[:i + 11] + bytes([0x31]) + good[i + 12:i + 14]
        + bytes([0x21]) + good[i + 15:]) is None
    # sampling factor 0 is out of spec
    assert M._decode_jpeg_rgb(
        good[:i + 11] + bytes([0x01]) + good[i + 12:]) is None
    # a 4:2:0 SOF over a 4:4:4-shaped entropy stream starves the MCU
    # walk (more blocks claimed than coded) -> None, not wrong pixels
    assert M._decode_jpeg_rgb(
        good[:i + 11] + bytes([0x22]) + good[i + 12:]) is None
    # truncated mid-entropy
    assert M._decode_jpeg_rgb(good[:len(good) - 8]) is None
    # header-only blob (the fixture's every-7th row)
    assert M._decode_jpeg_rgb(
        bytes.fromhex("FFD8FFE0") + b"\x00" * 50) is None
    # missing DHT: excise the segment entirely
    j = good.index(b"\xff\xc4")
    seg_len = int.from_bytes(good[j + 2:j + 4], "big")
    assert M._decode_jpeg_rgb(good[:j] + good[j + 2 + seg_len:]) is None
    # duplicate SOS component selectors (1,1,2) would misassign the
    # entropy stream across components -> None, not wrong pixels
    # (r13 review finding). SOS layout: FFDA len ns (cs tt)*ns ...
    j = good.index(b"\xff\xda")
    dup = bytearray(good)
    dup[j + 7] = dup[j + 5]  # second selector := first
    assert M._decode_jpeg_rgb(bytes(dup)) is None
    # restart markers out of sequence
    bw = bh = 2
    blks = []
    for k in range(bw * bh):
        b2 = [[0] * 8 for _ in range(8)]
        b2[0][0] = k
        blks.append(b2)
    rst = bytearray(encode_jpeg([blks], 16, 16, restart_interval=1))
    p = bytes(rst).index(b"\xff\xd0")
    rst[p + 1] = 0xD6
    assert M._decode_jpeg_rgb(bytes(rst)) is None
    # garbage whole bytes inserted before an in-sequence RSTn: a valid
    # stream's pre-marker residue is only the sub-byte pad -> None
    # (r13 review finding)
    rst2 = bytearray(encode_jpeg([blks], 16, 16, restart_interval=1))
    p = bytes(rst2).index(b"\xff\xd0")
    assert M._decode_jpeg_rgb(
        bytes(rst2[:p]) + b"\x5a\x5a" + bytes(rst2[p:])) is None
    # forged SOF dimensions: the untrusted-dimension gate must bound
    # the decoder's REAL float64-plane footprint BEFORE allocating —
    # a ~300-byte blob must not drive gigabyte allocations (r12
    # review finding). 8000x8000 padded color planes would be ~3 GB.
    i = good.index(b"\xff\xc0")
    forged = (good[:i + 5]
              + (8000).to_bytes(2, "big") + (8000).to_bytes(2, "big")
              + good[i + 9:])
    assert M._decode_jpeg_rgb(forged) is None


def test_gif_and_bmp_same_pixels_same_stats(spark):
    """Cross-format agreement, third codec: the SAME logical pixels as
    a GIF (LZW + palette) and a bottom-up BMP produce identical rows
    through bmp_pixel_stats — _decode_image_rgb normalizes all three
    raster formats to one contract."""
    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_gif

    w, h = 5, 4
    px = (np.arange(w * h * 3, dtype=np.int64) * 7 % 256).astype(
        np.uint8
    ).reshape(h, w, 3)
    gif = encode_gif(
        [[tuple(int(v) for v in px[y, x]) for x in range(w)]
         for y in range(h)]
    )
    stride = (w * 3 + 3) // 4 * 4
    body = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            row += bytes([px[y, x, 2], px[y, x, 1], px[y, x, 0]])
        row += b"\x00" * (stride - len(row))
        body += row
    bmp = (
        b"BM" + (54 + len(body)).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")
        + len(body).to_bytes(4, "little") + b"\x00" * 16
        + bytes(body)
    )
    df = spark.createDataFrame(
        [(1, gif), (2, bmp)], "media_id LONG, content BINARY"
    )
    rows = {r["media_id"]: r.asDict() for r in M.bmp_pixel_stats(df).collect()}
    for k in ("width", "height", "n_pixels", "sum_r", "sum_g", "sum_b",
              "wsum_r", "p00"):
        assert rows[1][k] == rows[2][k], (k, rows[1][k], rows[2][k])
    assert rows[1]["wsum_r"] is not None


def test_qm_table_structural_invariants():
    """The arithmetic coder's Table D.3 transcription
    (operators/multimodal.py:_QM_TABLE) cannot be cross-checked
    against another codec in this container (none exists, no
    network), so pin the structural invariants the published state
    machine satisfies — a transposed row or swapped column breaks at
    least one: every transition in range; MPS transitions never
    INCREASE Qe (estimates only sharpen on MPS renorm); non-switch
    LPS transitions never DECREASE it; switch rows are exactly the
    fast-attack chain heads (Qe > 0.45 in the 0x10000 scale) plus
    nothing else; state 113 is the fixed half-probability bin
    (self-transitions, no switch, Qe == state 0's)."""
    from citydata_etl_spark.operators.multimodal import (
        _QM_FIXED_BIN,
        _QM_TABLE,
    )

    assert len(_QM_TABLE) == 114
    for i, (qe, nmps, nlps, sw) in enumerate(_QM_TABLE):
        assert 0 < qe < 0x8000, i
        assert 0 <= nmps < 114 and 0 <= nlps < 114, i
        assert sw in (0, 1), i
        assert _QM_TABLE[nmps][0] <= qe, i  # MPS only sharpens
        if not sw:
            assert _QM_TABLE[nlps][0] >= qe, i  # LPS only flattens
    switch_rows = {i for i, r in enumerate(_QM_TABLE) if r[3]}
    assert switch_rows == {0, 14, 36, 64, 80, 88, 95, 105, 110, 112}
    assert all(_QM_TABLE[i][0] > 0x5000 for i in switch_rows)
    qe, nmps, nlps, sw = _QM_TABLE[_QM_FIXED_BIN]
    assert (qe, nmps, nlps, sw) == (_QM_TABLE[0][0], 113, 113, 0)


def test_jpeg_arithmetic_matches_huffman_property():
    """r16: SEQUENTIAL ARITHMETIC (SOF9, QM coder + the Annex F.1.4
    DC/AC conditioning models) decodes the SAME quantized
    coefficients to the SAME pixels as the Huffman encode — across
    dims, grayscale/color, subsampling, restart intervals, 8/12-bit,
    and coefficient densities (sparse streams exercise the EOB/zero
    chains and the small-diff DC conditioning boundary that
    desynchronizes first when the two sides' context selection
    drifts). Both entropy codings are lossless, so pixel equality is
    exact, not a tolerance."""
    import random

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(6, 40),      # width
        st.integers(6, 40),      # height
        st.integers(0, 2**30),   # seed
        st.sampled_from([None, "420", "422"]),
        st.sampled_from([0, 2, 3]),   # restart interval
        st.sampled_from([3, 60, 900]),  # coefficient amplitude
        st.sampled_from([8, 8, 12]),    # precision
        st.booleans(),            # grayscale (when unsampled)
    )
    def check(w, h, seed, samp_key, ri, amp, prec, gray):
        rng = random.Random(seed)
        samp = {"420": [(2, 2), (1, 1), (1, 1)],
                "422": [(2, 1), (1, 1), (1, 1)], None: None}[samp_key]
        nc = 1 if gray and samp is None else 3
        if nc == 1:
            samp = None
        sh = samp or [(1, 1)] * nc
        hmax = max(a for a, _ in sh)
        vmax = max(b for _, b in sh)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)

        def rb(n):
            out = []
            for _ in range(n):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = rng.randrange(-amp - 1, amp + 1)
                for k in range(1, 64):
                    if rng.random() < 0.35:
                        blk[k // 8][k % 8] = rng.randrange(-amp, amp + 1)
                out.append(blk)
            return out

        comps = [rb(mcuy * sv * mcux * shh) for shh, sv in sh]
        kw: dict = {"restart_interval": ri, "precision": prec}
        if nc == 3:
            kw["sampling"] = samp
        da = M._decode_jpeg_rgb(encode_jpeg(comps, w, h,
                                            arithmetic=True, **kw))
        dh = M._decode_jpeg_rgb(encode_jpeg(comps, w, h, **kw))
        assert da is not None and dh is not None
        assert np.array_equal(da[2], dh[2])

    check()


def test_jpeg_progressive_arithmetic_matches_baseline_property():
    """r17: PROGRESSIVE ARITHMETIC (SOF10, T.81 Annex G.2 — the QM
    coder driving the DC/AC first + refinement models) decodes the
    SAME quantized coefficients to the SAME pixels as the baseline
    Huffman encode — across dims, grayscale/color, subsampling,
    restart intervals, 8/12-bit, both scan-script flavors (libjpeg's
    default SA script and spectral-selection-only), and coefficient
    densities. Sparse streams exercise the per-band EOB decisions
    and the AC-refinement kex walk; dense ones the correction-bit
    and newly-significant paths. Entropy coding is lossless, so
    pixel equality is exact, not a tolerance."""
    import random

    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from citydata_etl_spark.plans.queries_llm import (
        encode_jpeg,
        jpeg_sa_scan_script,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(6, 40),      # width
        st.integers(6, 40),      # height
        st.integers(0, 2**30),   # seed
        st.sampled_from([None, "420", "422"]),
        st.sampled_from([0, 2, 3]),   # restart interval
        st.sampled_from([3, 60, 900]),  # coefficient amplitude
        st.sampled_from([8, 8, 12]),    # precision
        st.booleans(),            # grayscale (when unsampled)
        st.booleans(),            # SA script vs spectral-only
    )
    def check(w, h, seed, samp_key, ri, amp, prec, gray, sa):
        rng = random.Random(seed)
        samp = {"420": [(2, 2), (1, 1), (1, 1)],
                "422": [(2, 1), (1, 1), (1, 1)], None: None}[samp_key]
        nc = 1 if gray and samp is None else 3
        if nc == 1:
            samp = None
        sh = samp or [(1, 1)] * nc
        hmax = max(a for a, _ in sh)
        vmax = max(b for _, b in sh)
        mcux = (w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (h + 8 * vmax - 1) // (8 * vmax)

        def rb(n):
            out = []
            for _ in range(n):
                blk = [[0] * 8 for _ in range(8)]
                blk[0][0] = rng.randrange(-amp - 1, amp + 1)
                for k in range(1, 64):
                    if rng.random() < 0.35:
                        blk[k // 8][k % 8] = rng.randrange(-amp, amp + 1)
                out.append(blk)
            return out

        comps = [rb(mcuy * sv * mcux * shh) for shh, sv in sh]
        kw: dict = {"restart_interval": ri, "precision": prec}
        if nc == 3:
            kw["sampling"] = samp
        script = jpeg_sa_scan_script(nc) if sa else None
        da = M._decode_jpeg_rgb(encode_jpeg(
            comps, w, h, progressive=True, arithmetic=True,
            scan_script=script, **kw))
        dh = M._decode_jpeg_rgb(encode_jpeg(comps, w, h, **kw))
        assert da is not None and dh is not None
        assert np.array_equal(da[2], dh[2])

    check()


def test_jpeg_arithmetic_markers_and_strictness():
    """SOF9 marker-layer edges: the default-conditioning path (DAC
    stripped -> identical pixels, F.1.4's L=0/U=1/Kx=5 defaults),
    malformed DAC payloads (Kx = 0, L > U, odd length) -> None, a
    sequential full-band scan under a SOF10 marker -> None (illegal
    progression, r17), and
    truncation inside the entropy stream -> None, never a raise.
    Also pins composition with the Adobe color models: a CMYK
    (APP14 transform 0) arithmetic encode decodes equal to its
    Huffman twin."""
    import random

    import numpy as np

    from citydata_etl_spark.plans.queries_llm import encode_jpeg

    rng = random.Random(17)

    def rb(n):
        out = []
        for _ in range(n):
            blk = [[0] * 8 for _ in range(8)]
            blk[0][0] = rng.randrange(-90, 91)
            for k in range(1, 64):
                if rng.random() < 0.3:
                    blk[k // 8][k % 8] = rng.randrange(-50, 51)
            out.append(blk)
        return out

    w, h = 22, 19
    comps = [rb(3 * 3) for _ in range(3)]
    blob = encode_jpeg(comps, w, h, arithmetic=True)
    base = M._decode_jpeg_rgb(blob)
    assert base is not None

    # DAC segment location (FF CC len 00 06 + 4 payload bytes)
    i = blob.index(b"\xff\xcc")
    dac_seg = blob[i:i + 8]
    assert dac_seg[2:4] == b"\x00\x06"

    # (a) stripping DAC entirely -> spec defaults -> same pixels
    stripped = blob[:i] + blob[i + 8:]
    dec = M._decode_jpeg_rgb(stripped)
    assert dec is not None and np.array_equal(dec[2], base[2])

    # (b) malformed DAC payloads reject
    kx0 = bytearray(blob)
    kx0[i + 7] = 0x00  # AC Kx = 0 (B.2.4.3 requires 1..63)
    assert M._decode_jpeg_rgb(bytes(kx0)) is None
    lgu = bytearray(blob)
    lgu[i + 5] = 0x05  # DC byte: U=0 < L=5
    assert M._decode_jpeg_rgb(bytes(lgu)) is None
    odd = blob[:i + 3] + b"\x05" + blob[i + 4:]  # len 5: dangling byte
    assert M._decode_jpeg_rgb(odd) is None

    # (c) flipping the SOF9 marker to SOF10 (0xCA) on a SEQUENTIAL
    # stream is still malformed: SOF10 is decoded since r17, but its
    # progressive scan gate requires a DC scan to have Se == 0, which
    # the full-band sequential SOS violates
    sof = blob.index(b"\xff\xc9")
    sof10 = blob[:sof + 1] + b"\xca" + blob[sof + 2:]
    assert M._decode_jpeg_rgb(sof10) is None

    # (d) truncation inside the entropy stream -> None, no raise
    sos = blob.index(b"\xff\xda")
    for cut in (sos + 20, len(blob) - 6):
        assert M._decode_jpeg_rgb(blob[:cut]) is None

    # (f) marker validation at scan end (r16 review finding): a stray
    # RSTn between the entropy end and EOI is malformed -> None, and
    # so is an FF colliding with a non-marker code (garbage byte).
    # Plain trailing garbage is absorbed as phantom code/flush bytes
    # — inherent to arithmetic coding and disclosed in
    # _jpeg_arith_scan's docstring (libjpeg behaves the same).
    eoi = len(blob) - 2
    assert blob[eoi:] == b"\xff\xd9"
    assert M._decode_jpeg_rgb(
        blob[:eoi] + b"\xff\xd0" + blob[eoi:]) is None
    assert M._decode_jpeg_rgb(
        blob[:eoi] + b"\xff\x13" + blob[eoi:]) is None

    # (e) Adobe CMYK composes with arithmetic coding
    four = [rb(3 * 3) for _ in range(4)]
    ca = M._decode_jpeg_rgb(
        encode_jpeg(four, w, h, adobe_transform=0, arithmetic=True,
                    restart_interval=2))
    ch = M._decode_jpeg_rgb(
        encode_jpeg(four, w, h, adobe_transform=0, restart_interval=2))
    assert ca is not None and np.array_equal(ca[2], ch[2])
