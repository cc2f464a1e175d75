"""Multimodal plumbing tests: binary media columns + mapInPandas feature
extraction (decoder stubbed deterministically — no codec libs in this
container; the Spark-side schema/batching/partitioning is the real thing).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from commercepulse_data_pipeline_spark.multimodal import (
    FEATURE_SCHEMA,
    DeterministicFakeDecoder,
    extract_features,
    media_stats,
    real_decode,
)


@pytest.fixture(scope="module")
def media_df(spark):
    rows = [
        ("img-1", "image", "image/png", b"\x89PNG fake bytes 1", 17, {"camera": "x"}),
        ("img-2", "image", "image/png", b"\x89PNG fake bytes 2", 17, {}),
        ("aud-1", "audio", "audio/wav", b"RIFF fake wave", 14, {}),
        ("vid-1", "video", "video/mp4", b"\x00\x00ftypmp42", 10, {}),
        ("img-3", "image", "image/jpeg", None, 0, {}),  # NULL content
    ]
    return spark.createDataFrame(
        rows, "media_id string, modality string, mime_type string, content binary, n_bytes long, meta map<string,string>"
    )


def test_extract_features_schema_and_modality(media_df):
    out = extract_features(media_df)
    assert out.schema == FEATURE_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert len(rows) == 5
    # images get dimensions, no duration
    assert rows["img-1"].width is not None and rows["img-1"].height is not None
    assert rows["img-1"].duration_sec is None
    # audio/video get duration, no dimensions
    assert rows["aud-1"].duration_sec is not None and rows["aud-1"].width is None
    assert rows["vid-1"].duration_sec is not None
    # every row gets a fixed-length feature vector
    assert all(len(r.feature) == 8 for r in rows.values())
    # NULL content decodes deterministically (empty-bytes path), no crash
    assert rows["img-3"].feature is not None


def test_extract_features_partition_independent(media_df):
    """Same results regardless of partitioning/batch size — the Arrow
    batching must not change values (pure per-row function)."""
    a = {r.media_id: tuple(r.feature) for r in extract_features(media_df).collect()}
    b = {
        r.media_id: tuple(r.feature)
        for r in extract_features(media_df.repartition(4), batch_rows=2).collect()
    }
    assert a == b


def test_media_stats_metadata_only(media_df, tmp_path):
    stats = {(r.modality, r.mime_type): r for r in media_stats(media_df).collect()}
    assert stats[("image", "image/png")].n_items == 2
    assert stats[("image", "image/png")].total_bytes == 34
    # the rollup never references `content` — column pruning must drop the
    # binary column from the parquet scan (ReadSchema excludes it)
    path = str(tmp_path / "media")
    media_df.write.parquet(path)
    spark = media_df.sparkSession
    plan = (
        media_stats(spark.read.parquet(path))
        ._jdf.queryExecution().executedPlan().toString()
    )
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and all("content" not in ln for ln in read_schema)


def _bmp_bytes(width: int, height: int, pixel: bytes = b"\x10\x80\xf0") -> bytes:
    """Minimal real 24-bit BMP: file header + BITMAPINFOHEADER + padded rows."""
    import struct

    row = (pixel * width)[: 3 * width]
    row += b"\x00" * ((4 - len(row) % 4) % 4)  # 4-byte row padding
    pixels = row * height
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixels), 0, 0, 14 + 40)
    return header + dib + pixels


def _wav_bytes(seconds: float, rate: int = 8000) -> bytes:
    """Minimal real RIFF/PCM WAV: mono 16-bit, a deterministic ramp."""
    import struct

    n = int(seconds * rate)
    data = b"".join(struct.pack("<h", (i * 37) % 32768 - 16384) for i in range(n))
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def test_real_decode_bmp_wav_ppm():
    """real_decode parses REAL bytes of the uncompressed formats."""
    d = real_decode(_bmp_bytes(13, 7), "image")
    assert (d["width"], d["height"], d["duration_sec"]) == (13, 7, None)
    assert len(d["feature"]) == 8 and all(0.0 <= v <= 1.0 for v in d["feature"])

    d = real_decode(_wav_bytes(2.5), "audio")
    assert d["duration_sec"] == pytest.approx(2.5, abs=1e-3)
    assert d["width"] is None and len(d["feature"]) == 8

    ppm = b"P6\n# comment\n5 4\n255\n" + b"\x01\x02\x03" * 20
    d = real_decode(ppm, "image")
    assert (d["width"], d["height"]) == (5, 4)

    # legal P6 header-terminator variants must not shift the raster
    # offset: CRLF (text-mode writers), trailing comment after maxval,
    # single space, and rasters whose FIRST byte is whitespace- or
    # '#'-valued — the raster is EOF-anchored by its exact size, so
    # every variant yields identical features
    for first in (b"\x0a", b"\x0d", b"\x23", b"\x20", b"\x01"):
        raster = first + b"\x02\x03" + b"\x01\x02\x03" * 19
        ref = real_decode(b"P6 5 4 255\n" + raster, "image")["feature"]
        for variant in (
            b"P6 5 4 255\r\n" + raster,
            b"P6 5 4 255 # trailing comment\n" + raster,
            b"P6 5 4 255 " + raster,
            b"P6\n5 4\n# c\n255\n" + raster,
        ):
            d = real_decode(variant, "image")
            assert (d["width"], d["height"]) == (5, 4)
            assert d["feature"] == ref, (first, variant[:16])


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def _png_filter_line(ftype: int, line: bytes, prev: bytes, bpp: int) -> bytes:
    """FORWARD PNG filtering per spec §9 — the independent transform the
    decoder's inverse is checked against (round-trip oracle)."""
    out = bytearray([ftype])
    for i, x in enumerate(line):
        a = line[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        if ftype == 0:
            v = x
        elif ftype == 1:
            v = (x - a) & 0xFF
        elif ftype == 2:
            v = (x - b) & 0xFF
        elif ftype == 3:
            v = (x - ((a + b) >> 1)) & 0xFF
        else:  # Paeth
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            v = (x - pred) & 0xFF
        out.append(v)
    return bytes(out)


def _png_bytes(
    width: int,
    height: int,
    raster: bytes,
    *,
    color_type: int = 2,
    bit_depth: int = 8,
    filters: list[int] | None = None,
    interlace: int = 0,
    idat_split: int = 1,
) -> bytes:
    """Minimal valid PNG encoder (stdlib only) with per-row filter choice
    and optional multi-IDAT splitting."""
    import struct
    import zlib

    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpp = max(1, (channels * bit_depth) // 8)
    stride = (width * channels * bit_depth + 7) // 8
    assert len(raster) == stride * height
    filters = filters or [0] * height
    prev = bytes(stride)
    filtered = bytearray()
    for r in range(height):
        line = raster[r * stride : (r + 1) * stride]
        filtered += _png_filter_line(filters[r], line, prev, bpp)
        prev = line
    compressed = zlib.compress(bytes(filtered))
    ihdr = struct.pack(">IIBBBBB", width, height, bit_depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    step = max(1, len(compressed) // idat_split)
    for i in range(0, len(compressed), step):
        out += _png_chunk(b"IDAT", compressed[i : i + step])
    return out + _png_chunk(b"IEND", b"")


def test_real_decode_png_all_filters_roundtrip():
    """PNG decode recovers the exact pre-filter raster for every filter
    type (forward filtering in the test is the independent oracle), across
    color types and multi-IDAT files."""
    from commercepulse_data_pipeline_spark.multimodal import _feature_from_bytes

    w, h = 8, 5
    raster = bytes((r * 31 + i * 7) % 256 for r in range(h) for i in range(w * 3))
    ref = _feature_from_bytes(raster)
    # one row per filter type; also split IDAT to prove chunk concat works
    png = _png_bytes(w, h, raster, filters=[0, 1, 2, 3, 4], idat_split=3)
    d = real_decode(png, "image")
    assert (d["width"], d["height"], d["duration_sec"]) == (w, h, None)
    assert d["feature"] == ref
    # all-Paeth encoding of the same raster featurizes identically —
    # the feature is from the RECONSTRUCTED raster, not the IDAT bytes
    d2 = real_decode(_png_bytes(w, h, raster, filters=[4] * h), "image")
    assert d2["feature"] == ref

    # grayscale (1ch), gray+alpha (2ch), RGBA (4ch), 16-bit RGB
    for ct, nch, depth in ((0, 1, 8), (4, 2, 8), (6, 4, 8), (2, 3, 16)):
        stride = w * nch * (depth // 8)
        ras = bytes((r * 13 + i * 5) % 256 for r in range(h) for i in range(stride))
        d = real_decode(
            _png_bytes(w, h, ras, color_type=ct, bit_depth=depth,
                       filters=[4, 3, 2, 1, 0]),
            "image",
        )
        assert (d["width"], d["height"]) == (w, h), (ct, depth)
        assert d["feature"] == _feature_from_bytes(ras), (ct, depth)

    # sub-byte depth: 1-bit grayscale, packed rows (bpp floors to 1)
    stride1 = (w * 1 + 7) // 8
    ras1 = bytes((r * 91 + i) % 256 for r in range(h) for i in range(stride1))
    d = real_decode(
        _png_bytes(w, h, ras1, color_type=0, bit_depth=1, filters=[1, 2, 4, 3, 0]),
        "image",
    )
    assert (d["width"], d["height"]) == (w, h)
    assert d["feature"] == _feature_from_bytes(ras1)


def test_real_decode_png_interlaced_rejected():
    raster = bytes(range(24)) * 5
    png = _png_bytes(8, 5, raster[: 8 * 3 * 5], interlace=1)
    with pytest.raises(ValueError, match="interlaced"):
        real_decode(png, "image")


def test_real_decode_compressed_is_explicit_stub():
    """Formats needing codec libs still raise — clearly marked boundary
    (JPEG left the stub in r7, MP3/MP4 in r7, FLAC/Ogg metadata in r8, so
    the stub is now Matroska/WebM-and-beyond-shaped). Malformed bytes of
    RECOGNIZED formats are a decode ERROR, not a missing codec."""
    with pytest.raises(NotImplementedError):
        real_decode(b"\x1a\x45\xdf\xa3 fake matroska", "video")
    with pytest.raises(ValueError):  # truncated STREAMINFO
        real_decode(b"fLaC\x00\x00\x00\x22 fake flac", "audio")
    with pytest.raises(ValueError):  # no id header in any page
        real_decode(b"OggS\x00\x02 fake ogg", "audio")
    with pytest.raises(ValueError):
        real_decode(b"\xff\xd8\xff\xe0jpeg-ish", "image")
    with pytest.raises(ValueError):  # ftyp but no moov/mvhd
        real_decode(b"\x00\x00\x00\x18ftypmp42 fake mp4", "video")
    with pytest.raises(ValueError):  # ID3 whose size runs past EOF
        real_decode(b"ID3\x03\x00 fake mp3", "audio")


# ---------------------------------------------------------------------------
# MP3 / MP4 test-side generators: frames and boxes are packed by hand from
# the public specs (ISO 11172-3 tables, ISO 14496-12 box layout) so a
# table transposition in the parser cannot cancel out.


def _mp3_frames(n_frames: int, version: int = 1, id3: bytes = b"") -> bytes:
    if version == 1:  # MPEG1 L3, 128 kbps, 44100 Hz → 417-byte frames
        hdr, frame_len = b"\xff\xfb\x90\x00", (144 * 128000) // 44100
    else:  # MPEG2.5 L3, 64 kbps, 8000 Hz → 576-byte frames
        hdr, frame_len = b"\xff\xe3\x88\x00", (576 // 8) * 64000 // 8000
    payload = bytes((i * 37) % 251 for i in range(frame_len - 4))
    return id3 + (hdr + payload) * n_frames


def _id3v2(size: int) -> bytes:
    """ID3v2.4 header + `size` bytes of tag body (synchsafe size)."""
    ss = bytes(((size >> s) & 0x7F) for s in (21, 14, 7, 0))
    return b"ID3\x04\x00\x00" + ss + bytes(size)


def test_real_decode_mp3_frame_walk():
    # 100 MPEG1 frames: duration = 100 * 1152 / 44100
    d = real_decode(_mp3_frames(100), "audio")
    assert d["duration_sec"] == pytest.approx(100 * 1152 / 44100, abs=1e-6)
    assert d["width"] is None and len(d["feature"]) == 8

    # ID3v2 tag (whose body may contain 0xFF 0xEx byte pairs) is skipped
    # via its synchsafe size, not by sync-scanning through it
    tag = _id3v2(64)
    tag = tag[:12] + b"\xff\xfb\x90\x00" + tag[16:]  # fake sync inside tag
    d2 = real_decode(_mp3_frames(100, id3=tag), "audio")
    assert d2["duration_sec"] == pytest.approx(d["duration_sec"], abs=1e-9)

    # MPEG2.5 frames: 576 samples @ 8000 Hz; ID3v1 'TAG' trailer ignored
    d3 = real_decode(_mp3_frames(50, version=25) + b"TAG" + bytes(125), "audio")
    assert d3["duration_sec"] == pytest.approx(50 * 576 / 8000, abs=1e-6)

    # free-format bitrate index is an explicit error, not a wrong answer
    bad = bytearray(_mp3_frames(1))
    bad[2] = 0x00  # bitrate idx 0, rate idx 0
    with pytest.raises(ValueError, match="free-format"):
        real_decode(bytes(bad), "audio")


def _mp4_box(btype: bytes, body: bytes, largesize: bool = False) -> bytes:
    import struct as _s

    if largesize:
        return _s.pack(">I", 1) + btype + _s.pack(">Q", len(body) + 16) + body
    return _s.pack(">I", len(body) + 8) + btype + body


def _mp4_bytes(
    duration_sec: float,
    width: int | None = None,
    height: int | None = None,
    mvhd_v1: bool = False,
    largesize_moov: bool = False,
) -> bytes:
    import struct as _s

    timescale = 1000
    dur = int(round(duration_sec * timescale))
    if mvhd_v1:
        mvhd = b"\x01\x00\x00\x00" + _s.pack(">QQIQ", 0, 0, timescale, dur) + bytes(80)
    else:
        mvhd = b"\x00\x00\x00\x00" + _s.pack(">IIII", 0, 0, timescale, dur) + bytes(76)
    traks = b""
    if width is not None:
        tkhd = (
            b"\x00\x00\x00\x07"
            + _s.pack(">IIIII", 0, 0, 1, 0, dur)
            + bytes(16)
            + bytes(36)  # identity matrix irrelevant to the parser
            + _s.pack(">II", width << 16, height << 16)
        )
        hdlr = b"\x00\x00\x00\x00" + bytes(4) + b"vide" + bytes(12) + b"\x00"
        mdia = _mp4_box(b"mdia", _mp4_box(b"hdlr", hdlr))
        traks += _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd) + mdia)
    # an audio trak with junk-dims tkhd must NOT win over the video trak
    tkhd_a = b"\x00\x00\x00\x07" + _s.pack(">IIIII", 0, 0, 2, 0, dur) + bytes(52) + _s.pack(">II", 0, 0)
    hdlr_a = b"\x00\x00\x00\x00" + bytes(4) + b"soun" + bytes(12) + b"\x00"
    traks += _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd_a) + _mp4_box(b"mdia", _mp4_box(b"hdlr", hdlr_a)))
    moov = _mp4_box(b"moov", _mp4_box(b"mvhd", mvhd) + traks, largesize=largesize_moov)
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2mp41")
    mdat = _mp4_box(b"mdat", bytes((i * 11) % 256 for i in range(256)))
    return ftyp + moov + mdat


def test_real_decode_mp4_box_walk():
    d = real_decode(_mp4_bytes(12.5, 640, 360), "video")
    assert d["duration_sec"] == pytest.approx(12.5, abs=1e-3)
    assert (d["width"], d["height"]) == (640, 360)

    # audio-only container (m4a shape): no video trak → dims stay None
    d2 = real_decode(_mp4_bytes(3.25), "audio")
    assert d2["duration_sec"] == pytest.approx(3.25, abs=1e-3)
    assert d2["width"] is None and d2["height"] is None

    # version-1 mvhd (64-bit times) and a largesize moov box both parse
    d3 = real_decode(_mp4_bytes(7.0, 1920, 1080, mvhd_v1=True, largesize_moov=True), "video")
    assert d3["duration_sec"] == pytest.approx(7.0, abs=1e-3)
    assert (d3["width"], d3["height"]) == (1920, 1080)


# ---------------------------------------------------------------------------
# FLAC / Ogg test-side generators, hand-packed from the public specs
# (RFC 9639 STREAMINFO bit layout, RFC 3533 page layout, Vorbis I and
# RFC 7845 Opus id headers) so a parser bit-offset bug cannot cancel out.


def _flac_bytes(total_samples: int, rate: int = 44100, channels: int = 2,
                bps: int = 16) -> bytes:
    import struct as _s

    body = bytearray(34)
    _s.pack_into(">HH", body, 0, 4096, 4096)  # min/max blocksize
    body[10] = (rate >> 12) & 0xFF
    body[11] = (rate >> 4) & 0xFF
    body[12] = ((rate & 0xF) << 4) | ((channels - 1) << 1) | (((bps - 1) >> 4) & 1)
    body[13] = (((bps - 1) & 0xF) << 4) | ((total_samples >> 32) & 0xF)
    body[14:18] = _s.pack(">I", total_samples & 0xFFFFFFFF)
    streaminfo = bytes([0x00]) + (34).to_bytes(3, "big") + bytes(body)
    padding = bytes([0x81]) + (12).to_bytes(3, "big") + bytes(12)  # last
    frames = bytes((i * 29) % 256 for i in range(96))  # fake audio frames
    return b"fLaC" + streaminfo + padding + frames


class _FlacWriter:
    """Independent test-side MSB-first bit writer for building real FLAC
    frames (kept free of the engine's reader so round-trips are a true
    cross-implementation check)."""

    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, n: int):
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.n += n
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def write_unary(self, q: int):
        self.write(0, q) if q else None
        self.write(1, 1)

    def align(self):
        if self.n:
            self.write(0, 8 - self.n)


def _tcrc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _tcrc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


def _rice_encode(w: "_FlacWriter", resid: list, param: int):
    for v in resid:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1  # zigzag
        w.write_unary(u >> param)
        w.write(u & ((1 << param) - 1), param)


def _flac_subframe_enc(w: "_FlacWriter", kind: str, samples: list, bps: int,
                       rice_param: int = 2, porder: int = 0,
                       lpc=(None, None)):
    """Encode one subframe. kind: constant | verbatim | fixed<k> |
    lpc<k> | escape (verbatim-size raw residual on a fixed-0)."""
    w.write(0, 1)  # padding
    if kind == "constant":
        w.write(0, 6)
        w.write(0, 1)  # no wasted bits
        w.write(samples[0], bps)
        return
    if kind == "verbatim":
        w.write(1, 6)
        w.write(0, 1)
        for s in samples:
            w.write(s, bps)
        return
    if kind.startswith("fixed"):
        order = int(kind[5:])
        coefs = [(), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1)][order]
        w.write(8 + order, 6)
        w.write(0, 1)
        for s in samples[:order]:
            w.write(s, bps)
        resid = [
            samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, len(samples))
        ]
        w.write(0, 2)  # rice method 0 (4-bit params)
        w.write(porder, 4)
        nparts = 1 << porder
        bs = len(samples)
        done = 0
        for p in range(nparts):
            n = (bs >> porder) - (order if p == 0 else 0)
            w.write(rice_param, 4)
            _rice_encode(w, resid[done : done + n], rice_param)
            done += n
        return
    if kind == "escape":
        # fixed order 0 with an escape-coded (raw two's complement) partition
        w.write(8, 6)
        w.write(0, 1)
        w.write(0, 2)
        w.write(0, 4)  # one partition
        w.write(0xF, 4)  # escape
        raw = bps
        w.write(raw, 5)
        for s in samples:
            w.write(s, raw)
        return
    if kind.startswith("lpc"):
        order = int(kind[3:])
        coefs, shift = lpc
        assert len(coefs) == order
        w.write(32 + order - 1, 6)
        w.write(0, 1)
        for s in samples[:order]:
            w.write(s, bps)
        prec = 15
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c, prec)
        resid = [
            samples[i]
            - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, len(samples))
        ]
        w.write(0, 2)
        w.write(0, 4)
        w.write(rice_param + 2, 4)
        _rice_encode(w, resid, rice_param + 2)
        return
    raise AssertionError(kind)


def _flac_frame_enc(channels: list, bps: int, frame_no: int, kinds,
                    ch_mode=None, sr_override=None, **sub_kw) -> bytes:
    """One complete FLAC frame: header (blocksize as the 16-bit 0b0111
    form, rate from STREAMINFO — or a (code, hz) ``sr_override`` using
    the u8k/u16/u16x10 header forms — CRC-8), per-channel subframes,
    CRC-16 footer. ch_mode None = independent; 8/9/10 = left-side /
    right-side / mid-side (``channels`` is then the DECODED [left,
    right] pair and the encoder derives the coded channels; the side
    channel gets +1 bit)."""
    bs = len(channels[0])
    w = _FlacWriter()
    w.write(0x3FFE, 14)
    w.write(0, 1)  # reserved
    w.write(0, 1)  # fixed-blocksize strategy
    w.write(0b0111, 4)  # blocksize: (u16 - 1) at header end
    w.write(sr_override[0] if sr_override else 0, 4)  # rate code
    ch_code = (len(channels) - 1) if ch_mode is None else ch_mode
    w.write(ch_code, 4)
    w.write({8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}[bps], 3)
    w.write(0, 1)  # reserved
    assert frame_no < 128
    w.write(frame_no, 8)  # UTF-8 coded number, single-byte form
    w.write(bs - 1, 16)
    if sr_override:
        code, hz = sr_override
        if code == 12:    # u8k: rate / 1000 in 8 bits
            w.write(hz // 1000, 8)
        elif code == 13:  # u16: rate in Hz, 16 bits
            w.write(hz, 16)
        elif code == 14:  # u16x10: rate / 10 in 16 bits
            w.write(hz // 10, 16)
        else:
            raise AssertionError("sr_override needs code 12/13/14")
    w.align()
    w.write(_tcrc8(bytes(w.buf)), 8)
    if ch_mode is None:
        coded = [(ch, bps) for ch in channels]
    else:
        left, right = channels
        side = [l - r for l, r in zip(left, right)]
        if ch_mode == 8:  # left/side
            coded = [(left, bps), (side, bps + 1)]
        elif ch_mode == 9:  # right/side
            coded = [(side, bps + 1), (right, bps)]
        else:  # mid/side: mid = (l + r) >> 1 (floor), side carries l-r
            mid = [(l + r) >> 1 for l, r in zip(left, right)]
            coded = [(mid, bps), (side, bps + 1)]
    for (samples, sub_bps), kind in zip(coded, kinds):
        _flac_subframe_enc(w, kind, samples, sub_bps, **sub_kw)
    w.align()
    w.write(_tcrc16(bytes(w.buf)), 16)
    return bytes(w.buf)


def _flac_full(channels: list, bps: int, rate: int, frames: list) -> bytes:
    """STREAMINFO (via _flac_bytes' packing) + the given encoded frames."""
    total = sum(1 for _ in channels[0])
    meta = _flac_bytes(total, rate=rate, channels=len(channels), bps=bps)
    meta = meta[: len(meta) - 96]  # drop _flac_bytes' fake frame tail
    return meta + b"".join(frames)


def _ogg_page(serial: int, seq: int, granule: int, payload: bytes,
              htype: int = 0) -> bytes:
    import struct as _s

    lacing = [255] * (len(payload) // 255) + [len(payload) % 255]
    return (
        b"OggS" + bytes([0, htype]) + _s.pack("<q", granule)
        + _s.pack("<III", serial, seq, 0)  # serial, page seq, CRC
        + bytes([len(lacing)]) + bytes(lacing) + payload
    )


def _ogg_vorbis_bytes(total_samples: int, rate: int = 44100) -> bytes:
    import struct as _s

    idh = (b"\x01vorbis" + _s.pack("<I", 0) + bytes([2])
           + _s.pack("<I", rate) + _s.pack("<III", 0, 0, 0)
           + bytes([0xB8, 0x01]))
    audio = bytes((i * 17) % 256 for i in range(300))
    return (
        _ogg_page(7, 0, 0, idh, htype=0x02)            # BOS: id header
        + _ogg_page(7, 1, 0, b"\x03vorbis headers")    # comment/setup
        + _ogg_page(7, 2, total_samples // 2, audio)
        + _ogg_page(7, 3, total_samples, audio, htype=0x04)  # EOS
    )


def _ogg_opus_bytes(granule_48k: int, pre_skip: int = 312) -> bytes:
    import struct as _s

    idh = (b"OpusHead" + bytes([1, 2]) + _s.pack("<H", pre_skip)
           + _s.pack("<I", 48000) + _s.pack("<h", 0) + bytes([0]))
    audio = bytes((i * 23) % 256 for i in range(300))
    return (
        _ogg_page(9, 0, 0, idh, htype=0x02)
        + _ogg_page(9, 1, 0, b"OpusTags")
        + _ogg_page(9, 2, granule_48k, audio, htype=0x04)
    )


def test_real_decode_flac_streaminfo():
    d = real_decode(_flac_bytes(441_000), "audio")
    assert d["duration_sec"] == pytest.approx(10.0, abs=1e-9)
    assert d["width"] is None and len(d["feature"]) == 8

    # 36-bit total-samples field: a >2^32 sample count keeps its high bits
    d2 = real_decode(_flac_bytes(5_000_000_000, rate=96000), "audio")
    assert d2["duration_sec"] == pytest.approx(5_000_000_000 / 96000, rel=1e-12)

    # 20-bit sample-rate packing at a non-nibble-aligned rate
    d3 = real_decode(_flac_bytes(22050, rate=22050), "audio")
    assert d3["duration_sec"] == pytest.approx(1.0, abs=1e-9)


def test_real_decode_flac_samples_verbatim_and_constant():
    """Real FLAC frames decode to BIT-EXACT PCM (lossless): verbatim +
    constant subframes, two frames, stereo independent channels; the
    feature summarizes the reconstructed samples and duration comes from
    the decoded count."""
    from commercepulse_data_pipeline_spark.multimodal import (
        _feature_from_bytes,
        _flac_pcm,
    )

    left = [((i * 37) % 4001) - 2000 for i in range(64)]
    right = [777] * 32 + [-12345] * 32
    f1 = _flac_frame_enc([left[:32], right[:32]], 16, 0, ["verbatim", "constant"])
    f2 = _flac_frame_enc([left[32:], right[32:]], 16, 1, ["verbatim", "constant"])
    blob = _flac_full([left, right], 16, 8000, [f1, f2])

    rate, chans = _flac_pcm(blob, blob.index(b"\xff\xf8"), 8000, 16)
    assert rate == 8000 and chans == [left, right]

    d = real_decode(blob, "audio")
    assert d["duration_sec"] == pytest.approx(64 / 8000.0)
    pcm = bytearray()
    for i in range(64):
        pcm += int(left[i]).to_bytes(2, "little", signed=True)
        pcm += int(right[i]).to_bytes(2, "little", signed=True)
    assert d["feature"] == _feature_from_bytes(bytes(pcm))


def test_real_decode_flac_frame_rate_override_sets_duration():
    """Frame headers that OVERRIDE the STREAMINFO rate (the u8k / u16 /
    u16x10 header codes) are the truth for duration: 64 samples coded at
    12 kHz in the frames must report 64/12000 s even though STREAMINFO
    claims 8 kHz."""
    from commercepulse_data_pipeline_spark.multimodal import _flac_pcm

    left = [((i * 37) % 4001) - 2000 for i in range(64)]
    right = [777] * 64
    f1 = _flac_frame_enc([left[:32], right[:32]], 16, 0,
                         ["verbatim", "constant"], sr_override=(13, 12000))
    f2 = _flac_frame_enc([left[32:], right[32:]], 16, 1,
                         ["verbatim", "constant"], sr_override=(13, 12000))
    blob = _flac_full([left, right], 16, 8000, [f1, f2])

    rate, chans = _flac_pcm(blob, blob.index(b"\xff\xf8"), 8000, 16)
    assert rate == 12000 and chans == [left, right]
    d = real_decode(blob, "audio")
    assert d["duration_sec"] == pytest.approx(64 / 12000.0)

    # the u8k form too (code 12: rate/1000 in 8 bits)
    f3 = _flac_frame_enc([left, right], 16, 0,
                         ["verbatim", "constant"], sr_override=(12, 32000))
    blob2 = _flac_full([left, right], 16, 8000, [f3])
    d2 = real_decode(blob2, "audio")
    assert d2["duration_sec"] == pytest.approx(64 / 32000.0)


def test_real_decode_flac_fixed_lpc_and_escape():
    """Fixed-order-2 prediction with 4-partition rice residuals, an LPC
    subframe with explicit coefficients/shift, and an escape-coded raw
    partition all reconstruct exactly."""
    from commercepulse_data_pipeline_spark.multimodal import _flac_pcm

    # smooth-ish signal → small order-2 residuals (rice-friendly)
    sig = [0, 3]
    for i in range(2, 64):
        sig.append(2 * sig[-1] - sig[-2] + ((i * 7) % 5 - 2))
    fr = _flac_frame_enc([sig], 16, 0, ["fixed2"], rice_param=2, porder=2)
    blob = _flac_full([sig], 16, 16000, [fr])
    _, chans = _flac_pcm(blob, blob.index(b"\xff\xf8"), 16000, 16)
    assert chans == [sig]

    # LPC: s[i] = r + (3*s[i-1] - 1*s[i-2]) >> 1
    lpc_sig = [100, 90]
    coefs, shift = [3, -1], 1
    for i in range(2, 48):
        pred = (coefs[0] * lpc_sig[-1] + coefs[1] * lpc_sig[-2]) >> shift
        lpc_sig.append(pred + ((i % 7) - 3))
    fr2 = _flac_frame_enc([lpc_sig], 16, 0, ["lpc2"], lpc=(coefs, shift))
    blob2 = _flac_full([lpc_sig], 16, 16000, [fr2])
    _, chans2 = _flac_pcm(blob2, blob2.index(b"\xff\xf8"), 16000, 16)
    assert chans2 == [lpc_sig]

    # escape partition: raw two's-complement residuals, incompressible
    noisy = [((i * 40503) % 65536) - 32768 for i in range(32)]
    fr3 = _flac_frame_enc([noisy], 16, 0, ["escape"])
    blob3 = _flac_full([noisy], 16, 16000, [fr3])
    _, chans3 = _flac_pcm(blob3, blob3.index(b"\xff\xf8"), 16000, 16)
    assert chans3 == [noisy]


def test_real_decode_flac_stereo_decorrelation():
    """left/side, right/side and mid/side channel assignments all undo to
    the original stereo pair (side channel carries the +1 bit)."""
    from commercepulse_data_pipeline_spark.multimodal import _flac_pcm

    left = [((i * 97) % 30001) - 15000 for i in range(32)]
    right = [((i * 57) % 30011) - 15005 for i in range(32)]
    for mode in (8, 9, 10):
        fr = _flac_frame_enc(
            [left, right], 16, 0, ["verbatim", "verbatim"], ch_mode=mode
        )
        blob = _flac_full([left, right], 16, 44100, [fr])
        _, chans = _flac_pcm(blob, blob.index(b"\xff\xf8"), 44100, 16)
        assert chans == [left, right], mode


def test_real_decode_flac_crc_mismatch_raises():
    from commercepulse_data_pipeline_spark.multimodal import _flac_pcm

    sig = [1, 2, 3, 4] * 8
    fr = _flac_frame_enc([sig], 16, 0, ["verbatim"])
    blob = _flac_full([sig], 16, 8000, [fr])
    start = blob.index(b"\xff\xf8")
    corrupt = bytearray(blob)
    corrupt[-3] ^= 0x40  # flip a sample bit → CRC-16 must catch it
    with pytest.raises(ValueError, match="CRC"):
        _flac_pcm(bytes(corrupt), start, 8000, 16)


def test_real_decode_ogg_vorbis_and_opus():
    # Vorbis: duration = last granule / id-header rate
    d = real_decode(_ogg_vorbis_bytes(441_000), "audio")
    assert d["duration_sec"] == pytest.approx(10.0, abs=1e-9)

    # Opus: granule is ALWAYS 48 kHz and pre-skip subtracts
    d2 = real_decode(_ogg_opus_bytes(48_000 * 3 + 312, pre_skip=312), "audio")
    assert d2["duration_sec"] == pytest.approx(3.0, abs=1e-9)

    # a multiplexed non-audio BOS stream before the audio one is skipped
    skel = _ogg_page(3, 0, 0, b"fishead\x00 skeleton", htype=0x02)
    d3 = real_decode(skel + _ogg_vorbis_bytes(22050), "audio")
    assert d3["duration_sec"] == pytest.approx(0.5, abs=1e-9)


# ---------------------------------------------------------------------------
# Baseline JPEG encoder (test-side only): standard Annex K huffman tables,
# all-ones quant tables (near-lossless), optional chroma subsampling and
# restart intervals. Zigzag order is generated algorithmically here so an
# encoder/decoder table transposition bug cannot cancel out.
# ---------------------------------------------------------------------------

_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = bytes(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125]
_AC_VALS = bytes(
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ]
)


def _zigzag_order():
    """Natural index for each zigzag position, generated from the
    anti-diagonal walk (odd diagonals run row-increasing)."""
    out = []
    for d in range(15):
        cells = [(r, d - r) for r in range(8) if 0 <= d - r < 8]
        if d % 2 == 0:
            cells.reverse()
        out.extend(r * 8 + c for r, c in cells)
    return out


def _enc_codes(bits, vals):
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code, length):
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.write(1, 1)  # pad with 1-bits to the byte boundary


def _fdct_matrix():
    import math

    import numpy as np

    m = np.empty((8, 8))
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = (cu / 2.0) * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return m


def _emit_block(bw, block, pred, dc_codes, ac_codes, fdct, zig):
    import numpy as np

    s = fdct @ (block - 128.0) @ fdct.T
    q = np.rint(s).astype(int)
    zz = [int(q.flat[zig[k]]) for k in range(64)]
    diff = zz[0] - pred
    t = abs(diff).bit_length()
    code, length = dc_codes[t]
    bw.write(code, length)
    if t:
        bw.write(diff if diff > 0 else diff + (1 << t) - 1, t)
    nz = [k for k in range(1, 64) if zz[k] != 0]
    last = nz[-1] if nz else 0
    run = 0
    for k in range(1, last + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            c, ln = ac_codes[0xF0]  # ZRL
            bw.write(c, ln)
            run -= 16
        size = abs(v).bit_length()
        c, ln = ac_codes[(run << 4) | size]
        bw.write(c, ln)
        bw.write(v if v > 0 else v + (1 << size) - 1, size)
        run = 0
    if last < 63:
        c, ln = ac_codes[0x00]  # EOB
        bw.write(c, ln)
    return zz[0]


def _pad_to(plane, rows, cols):
    import numpy as np

    return np.pad(
        plane, ((0, rows - plane.shape[0]), (0, cols - plane.shape[1])), mode="edge"
    )


def _jpeg_bytes(pixels, subsample=(1, 1), restart_interval=0) -> bytes:
    """Baseline-sequential JPEG encoder: quant tables all ones
    (near-lossless for smooth images), Annex K luminance huffman tables
    referenced by every component, optional 4:2:x chroma subsampling and
    DRI/RSTn restart intervals."""
    import struct

    import numpy as np

    pixels = np.asarray(pixels, dtype=np.float64)
    h_img, w_img = pixels.shape[:2]
    gray = pixels.ndim == 2
    sh, sv = (1, 1) if gray else subsample
    if gray:
        planes = [pixels]
        samp = [(1, 1)]
    else:
        r, g, b = pixels[..., 0], pixels[..., 1], pixels[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if (sh, sv) != (1, 1):
            full = _pad_to(cb, -(-h_img // sv) * sv, -(-w_img // sh) * sh)
            cb = full.reshape(full.shape[0] // sv, sv, full.shape[1] // sh, sh).mean(axis=(1, 3))
            full = _pad_to(cr, -(-h_img // sv) * sv, -(-w_img // sh) * sh)
            cr = full.reshape(full.shape[0] // sv, sv, full.shape[1] // sh, sh).mean(axis=(1, 3))
        planes = [y, cb, cr]
        samp = [(sh, sv), (1, 1), (1, 1)]
    hmax, vmax = samp[0]
    mcus_x = -(-w_img // (8 * hmax))
    mcus_y = -(-h_img // (8 * vmax))
    planes = [
        _pad_to(p, mcus_y * v * 8, mcus_x * h * 8)
        for p, (h, v) in zip(planes, samp)
    ]

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([1] * 64)  # DQT all-ones
    ncomp = len(planes)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, h_img, w_img, ncomp)
    for i, (h, v) in enumerate(samp):
        out += bytes([i + 1, (h << 4) | v, 0])
    out += b"\xff\xc4" + struct.pack(">H", 19 + 12) + b"\x00" + bytes(_DC_BITS) + _DC_VALS
    out += b"\xff\xc4" + struct.pack(">H", 19 + 162) + b"\x10" + bytes(_AC_BITS) + _AC_VALS
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for i in range(ncomp):
        out += bytes([i + 1, 0x00])
    out += bytes([0, 63, 0])

    dc_codes = _enc_codes(_DC_BITS, _DC_VALS)
    ac_codes = _enc_codes(_AC_BITS, _AC_VALS)
    fdct = _fdct_matrix()
    zig = _zigzag_order()
    bw = _JpegBitWriter()
    preds = [0] * ncomp
    mcu_count = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                bw.out += bytes([0xFF, 0xD0 + rst % 8])
                rst += 1
                preds = [0] * ncomp
            for ci, (h, v) in enumerate(samp):
                for byi in range(v):
                    for bxi in range(h):
                        y0 = (my * v + byi) * 8
                        x0 = (mx * h + bxi) * 8
                        preds[ci] = _emit_block(
                            bw,
                            planes[ci][y0 : y0 + 8, x0 : x0 + 8],
                            preds[ci],
                            dc_codes,
                            ac_codes,
                            fdct,
                            zig,
                        )
            mcu_count += 1
    bw.flush()
    out += bw.out + b"\xff\xd9"  # EOI
    return bytes(out)


def _smooth_rgb(w, h):
    """A smooth RGB gradient (small AC coefficients → tight round-trip)."""
    import numpy as np

    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    r = 40 + 150 * xx / max(w - 1, 1)
    g = 60 + 120 * yy / max(h - 1, 1)
    b = 200 - 100 * (xx + yy) / max(w + h - 2, 1)
    return np.stack([r, g, b], axis=-1).round()


def _gif_lzw_encode(min_code_size: int, indices: bytes) -> bytes:
    """Independent test-side GIF LZW compressor (greedy longest-match,
    variable code width). Width grows in lockstep with the DECODER's
    table (which runs one entry behind the encoder dict): after the k-th
    data emit the decoder's table holds clear+1+k entries, and the next
    code must widen once that count reaches 2^width."""
    clear = 1 << min_code_size
    end_code = clear + 1
    code_size = min_code_size + 1
    d = {bytes([i]): i for i in range(clear)}
    next_code = clear + 2
    emits = 0
    acc = accbits = 0
    out = bytearray()

    def emit(code):
        nonlocal acc, accbits
        acc |= code << accbits
        accbits += code_size
        while accbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8

    def emitted_data():
        nonlocal emits, code_size
        emits += 1
        if clear + 1 + emits == (1 << code_size) and code_size < 12:
            code_size += 1

    emit(clear)
    w = b""
    for ch in indices:
        c = bytes([ch])
        if w + c in d:
            w += c
            continue
        emit(d[w])
        emitted_data()
        d[w + c] = next_code
        next_code += 1
        w = c
    if w:
        emit(d[w])
        emitted_data()
    emit(end_code)
    if accbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_frame(w, h, indices: bytes, min_code_size: int, delay_cs: int | None):
    import struct

    blocks = b""
    if delay_cs is not None:  # Graphic Control Extension
        blocks += b"\x21\xf9\x04\x00" + struct.pack("<H", delay_cs) + b"\x00\x00"
    blocks += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    blocks += bytes([min_code_size])
    data = _gif_lzw_encode(min_code_size, indices)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    return blocks + b"\x00"


def _gif_bytes(w, h, frames, palette: bytes, min_code_size: int = 2,
               delays: list[int] | None = None) -> bytes:
    """Assemble a GIF89a file: global palette of 2^(min_code_size+?) —
    padded to a power of two — plus one image block per frame."""
    import struct

    n = max(2, 1 << min_code_size)
    pal = (palette + b"\x00" * (3 * n))[: 3 * n]
    gct_bits = (n - 1).bit_length() - 1
    header = b"GIF89a" + struct.pack("<HH", w, h) + bytes(
        [0x80 | gct_bits, 0, 0]
    ) + pal
    body = b"".join(
        _gif_frame(w, h, f, min_code_size,
                   delays[i] if delays else None)
        for i, f in enumerate(frames)
    )
    return header + body + b"\x3b"


def test_gif_lzw_roundtrip_with_width_growth():
    """The decoder inverts an INDEPENDENT greedy LZW compressor exactly,
    across code-width growth boundaries and the KwKwK self-reference
    case (long runs force prev+prev[0] lookups)."""
    from commercepulse_data_pipeline_spark.multimodal import _gif_lzw_decode

    # enough distinct bigrams to grow the table past 8->16->32 entries
    idx = bytes((i * 7 + (i * i) % 5) % 4 for i in range(4000))
    assert _gif_lzw_decode(2, _gif_lzw_encode(2, idx), len(idx)) == idx

    runs = bytes([1] * 500 + [2] * 500 + [1, 2, 3, 0] * 250)  # KwKwK
    assert _gif_lzw_decode(2, _gif_lzw_encode(2, runs), len(runs)) == runs


def test_real_decode_gif_static_and_animated():
    from commercepulse_data_pipeline_spark.multimodal import (
        _feature_from_bytes,
        real_decode,
    )

    palette = bytes([250, 10, 10, 10, 250, 10, 10, 10, 250, 128, 128, 128])
    idx = bytes((x // 3 + y) % 4 for y in range(9) for x in range(14))
    d = real_decode(_gif_bytes(14, 9, [idx], palette), "image")
    assert (d["width"], d["height"], d["duration_sec"]) == (14, 9, None)
    # the decoded first-frame raster maps through the palette exactly
    expected_rgb = b"".join(palette[3 * i : 3 * i + 3] for i in idx)
    assert d["feature"] == _feature_from_bytes(expected_rgb)

    # two frames with 25cs + 50cs delays -> 0.75s animation
    d2 = real_decode(
        _gif_bytes(14, 9, [idx, idx[::-1]], palette, delays=[25, 50]), "image"
    )
    assert d2["duration_sec"] == pytest.approx(0.75)
    assert d2["feature"] == _feature_from_bytes(expected_rgb)  # FIRST frame


def test_real_decode_jpeg_solid_gray():
    import numpy as np

    img = np.full((16, 16), 99.0)
    d = real_decode(_jpeg_bytes(img), "image")
    assert (d["width"], d["height"], d["duration_sec"]) == (16, 16, None)
    # solid block → DC-only; with quant=1 reconstruction is within ±2
    for f in d["feature"]:
        assert abs(f - 99.0 / 255.0) < 0.02, d["feature"]


def test_real_decode_jpeg_rgb_444_matches_source_raster():
    from commercepulse_data_pipeline_spark.multimodal import _feature_from_bytes

    img = _smooth_rgb(24, 16)
    d = real_decode(_jpeg_bytes(img), "image")
    assert (d["width"], d["height"]) == (24, 16)
    expected = _feature_from_bytes(
        img.astype("uint8").tobytes()  # interleaved RGB, same layout as decoder
    )
    for got, exp in zip(d["feature"], expected):
        assert abs(got - exp) < 0.02, (d["feature"], expected)


def test_real_decode_jpeg_420_odd_dims():
    from commercepulse_data_pipeline_spark.multimodal import _feature_from_bytes

    img = _smooth_rgb(21, 13)  # forces edge padding + crop in both axes
    d = real_decode(_jpeg_bytes(img, subsample=(2, 2)), "image")
    assert (d["width"], d["height"]) == (21, 13)
    expected = _feature_from_bytes(img.astype("uint8").tobytes())
    for got, exp in zip(d["feature"], expected):
        assert abs(got - exp) < 0.04, (d["feature"], expected)  # chroma avg loss


def test_real_decode_jpeg_restart_markers():
    img = _smooth_rgb(32, 24)
    plain = real_decode(_jpeg_bytes(img), "image")
    rst = real_decode(_jpeg_bytes(img, restart_interval=2), "image")
    assert (rst["width"], rst["height"]) == (32, 24)
    assert rst["feature"] == pytest.approx(plain["feature"], abs=1e-9)


def test_real_decode_jpeg_progressive_rejected():
    import struct

    img = _smooth_rgb(8, 8)
    buf = bytearray(_jpeg_bytes(img))
    sof = buf.index(b"\xff\xc0")
    buf[sof + 1] = 0xC2  # flip baseline SOF0 → progressive SOF2
    with pytest.raises(ValueError, match="baseline"):
        real_decode(bytes(buf), "image")


def test_real_decode_distributed(spark):
    """Real bytes flow through the distributed mapInPandas path end to
    end: extract_features with decoder=real_decode over a mixed BMP/WAV
    frame returns true dimensions/durations."""
    rows = [
        ("bmp-1", "image", "image/bmp", _bmp_bytes(32, 16), 0, {}),
        ("bmp-2", "image", "image/bmp", _bmp_bytes(64, 8), 0, {}),
        ("wav-1", "audio", "audio/wav", _wav_bytes(1.25), 0, {}),
        ("png-1", "image", "image/png",
         _png_bytes(6, 4, bytes((i * 11) % 256 for i in range(6 * 3 * 4)),
                    filters=[0, 1, 2, 4]), 0, {}),
        ("jpg-1", "image", "image/jpeg",
         _jpeg_bytes(_smooth_rgb(40, 24), subsample=(2, 2)), 0, {}),
        ("gif-1", "image", "image/gif",
         _gif_bytes(21, 11, [bytes((i * 3) % 4 for i in range(21 * 11))],
                    bytes(range(12))), 0, {}),
        ("mp3-1", "audio", "audio/mpeg", _mp3_frames(77), 0, {}),
        ("mp4-1", "video", "video/mp4", _mp4_bytes(9.5, 320, 240), 0, {}),
        ("flac-1", "audio", "audio/flac", _flac_bytes(88_200), 0, {}),
        ("ogg-1", "audio", "audio/ogg", _ogg_vorbis_bytes(66_150), 0, {}),
        ("opus-1", "audio", "audio/opus", _ogg_opus_bytes(96_312), 0, {}),
    ]
    df = spark.createDataFrame(
        rows,
        "media_id string, modality string, mime_type string, content binary, n_bytes long, meta map<string,string>",
    )
    out = {
        r.media_id: r
        for r in extract_features(df.repartition(3), decoder=real_decode, batch_rows=1).collect()
    }
    assert (out["bmp-1"].width, out["bmp-1"].height) == (32, 16)
    assert (out["bmp-2"].width, out["bmp-2"].height) == (64, 8)
    assert out["wav-1"].duration_sec == pytest.approx(1.25, abs=1e-3)
    assert (out["gif-1"].width, out["gif-1"].height) == (21, 11)
    assert (out["png-1"].width, out["png-1"].height) == (6, 4)
    assert (out["jpg-1"].width, out["jpg-1"].height) == (40, 24)
    assert out["mp3-1"].duration_sec == pytest.approx(77 * 1152 / 44100, abs=1e-4)
    assert (out["mp4-1"].width, out["mp4-1"].height) == (320, 240)
    assert out["mp4-1"].duration_sec == pytest.approx(9.5, abs=1e-3)
    assert out["flac-1"].duration_sec == pytest.approx(2.0, abs=1e-6)
    assert out["ogg-1"].duration_sec == pytest.approx(1.5, abs=1e-6)
    assert out["opus-1"].duration_sec == pytest.approx(2.0, abs=1e-6)
    assert all(len(r.feature) == 8 for r in out.values())


def test_fake_decoder_deterministic():
    d1 = DeterministicFakeDecoder.decode(b"same bytes", "image")
    d2 = DeterministicFakeDecoder.decode(b"same bytes", "image")
    assert d1 == d2


def test_resize_images_contract(media_df):
    from commercepulse_data_pipeline_spark.multimodal import resize_images

    out = resize_images(media_df, target=(224, 224)).collect()
    # one row per IMAGE row only (3 images in the fixture)
    assert len(out) == 3
    assert all(r.width == 224 and r.height == 224 for r in out)
    # deterministic across partitionings
    again = resize_images(media_df.repartition(4), target=(224, 224)).collect()
    assert {r.media_id: bytes(r.content) for r in out} == \
           {r.media_id: bytes(r.content) for r in again}


def test_sample_frames_fanout(media_df):
    from commercepulse_data_pipeline_spark.multimodal import sample_frames

    out = sample_frames(media_df, fps=1.0, max_frames=5).collect()
    # only the video row fans out; ≥1 and ≤ max_frames frames
    ids = {r.media_id for r in out}
    assert ids == {"vid-1"}
    assert 1 <= len(out) <= 5
    assert [r.frame_index for r in sorted(out, key=lambda r: r.frame_index)] == list(range(len(out)))
    assert all(r.frame_ts_sec == r.frame_index / 1.0 for r in out)


def test_real_decode_flac_roundtrip_fuzz():
    """Randomized (seeded) round-trips across subframe kinds, rice
    parameters, partition orders, bit depths and channel modes — every
    decode must be bit-exact (FLAC is lossless)."""
    import random

    from commercepulse_data_pipeline_spark.multimodal import _flac_pcm

    rnd = random.Random(20260815)
    for trial in range(25):
        bps = rnd.choice([8, 12, 16, 20])
        lim = 1 << (bps - 1)
        n = rnd.choice([16, 32, 64])
        kind = rnd.choice(["verbatim", "constant", "fixed0", "fixed1",
                           "fixed2", "fixed3", "escape"])
        if kind == "constant":
            ch = [rnd.randrange(-lim, lim)] * n
        elif kind.startswith("fixed") and kind != "fixed0":
            # smooth signal keeps fixed-predictor residuals rice-sized
            ch = [rnd.randrange(-64, 64)]
            for _ in range(n - 1):
                ch.append(max(-lim, min(lim - 1, ch[-1] + rnd.randrange(-8, 8))))
        else:
            ch = [rnd.randrange(-lim, lim) for _ in range(n)]
        stereo = rnd.random() < 0.5
        if stereo and kind not in ("escape",):
            other = [max(-(lim >> 1), min((lim >> 1) - 1, v - rnd.randrange(0, 4)))
                     for v in ch]
            ch = [max(-(lim >> 1), min((lim >> 1) - 1, v)) for v in ch]
            mode = rnd.choice([None, 8, 9, 10])
            kinds = [kind, kind]
            frames = [_flac_frame_enc([ch, other], bps, 0, kinds, ch_mode=mode,
                                      rice_param=rnd.choice([1, 2, 4]),
                                      porder=rnd.choice([0, 0, 2]) if kind.startswith("fixed") and n % 4 == 0 else 0)]
            chans_src = [ch, other]
        else:
            frames = [_flac_frame_enc([ch], bps, 0, [kind],
                                      rice_param=rnd.choice([1, 2, 4]),
                                      porder=0)]
            chans_src = [ch]
        blob = _flac_full(chans_src, bps, 8000, frames)
        _, chans = _flac_pcm(blob, blob.index(b"\xff\xf8"), 8000, bps)
        assert chans == chans_src, (trial, kind, bps, stereo)


def test_real_decode_tiff_both_byte_orders():
    """Hand-built TIFF IFDs in both endiannesses, SHORT and LONG value
    types, including a second IFD reached via the next-IFD chain."""
    import struct

    def tiff(bo, width, height, wtype=3, second_ifd=False):
        e = "<" if bo == b"II" else ">"
        entries = []
        # tag 256 width, tag 257 height
        for tag, v, typ in ((256, width, wtype), (257, height, 4)):
            val = struct.pack(e + ("H2x" if typ == 3 else "I"), v)
            entries.append(struct.pack(e + "HHI", tag, typ, 1) + val)
        ifd = struct.pack(e + "H", len(entries)) + b"".join(entries)
        if second_ifd:
            # first IFD has an unrelated tag only; dims live in IFD 2
            other = struct.pack(e + "HHI", 259, 3, 1) + struct.pack(e + "H2x", 1)
            ifd1 = struct.pack(e + "H", 1) + other
            off2 = 8 + len(ifd1) + 4
            ifd1 += struct.pack(e + "I", off2)
            ifd += struct.pack(e + "I", 0)
            return bo + struct.pack(e + "H", 42) + struct.pack(e + "I", 8) + ifd1 + ifd
        ifd += struct.pack(e + "I", 0)
        return bo + struct.pack(e + "H", 42) + struct.pack(e + "I", 8) + ifd

    for bo in (b"II", b"MM"):
        d = real_decode(tiff(bo, 640, 480), "image")
        assert (d["width"], d["height"], d["duration_sec"]) == (640, 480, None)
    # LONG-typed width beyond 16 bits
    d = real_decode(tiff(b"II", 70000, 2, wtype=4), "image")
    assert (d["width"], d["height"]) == (70000, 2)
    # dims in the SECOND IFD via the chain
    d = real_decode(tiff(b"MM", 32, 16, second_ifd=True), "image")
    assert (d["width"], d["height"]) == (32, 16)
    # truncated / dim-less TIFF raises cleanly
    with pytest.raises(ValueError):
        real_decode(b"II*\x00\x08\x00\x00\x00\x00\x00", "image")


def test_checked_in_media_fixtures_reproducible():
    """fixtures/media/*.bin must equal what tools/make_media_fixtures.py
    deterministically regenerates — guards accidental fixture drift that
    would silently invalidate the media_features_check literal oracle."""
    import importlib
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    try:
        mk = importlib.import_module("make_media_fixtures")
    finally:
        sys.path.pop(0)
    built = mk.build()
    fdir = os.path.join(repo, "fixtures", "media")
    on_disk = {
        fn[:-4]: open(os.path.join(fdir, fn), "rb").read()
        for fn in os.listdir(fdir) if fn.endswith(".bin")
    }
    assert set(on_disk) == set(built)
    for name, (blob, meta) in built.items():
        assert on_disk[name] == blob, f"fixture drift: {name}"
        # and the parameter-derived expectation agrees with the decoder
        # (expected_row raises loudly on any disagreement)
        mk.expected_row(name, blob, meta)


def _webp_chunk(fourcc: bytes, body: bytes) -> bytes:
    import struct

    pad = b"\x00" if len(body) & 1 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _webp_bytes(kind: str, width: int, height: int,
                frame_ms: list[int] | None = None) -> bytes:
    """Independent minimal WebP encoder (header-level): lossy VP8
    keyframe header, lossless VP8L bit-packed dims, or extended VP8X
    canvas + ANMF animation frames."""
    import struct

    chunks = b""
    if kind == "vp8":
        hdr = bytes(3) + b"\x9d\x01\x2a" + struct.pack("<HH", width, height)
        chunks = _webp_chunk(b"VP8 ", hdr + bytes((i * 31) % 256 for i in range(40)))
    elif kind == "vp8l":
        w1, h1 = width - 1, height - 1
        b0 = w1 & 0xFF
        b1 = ((w1 >> 8) & 0x3F) | ((h1 & 0x03) << 6)
        b2 = (h1 >> 2) & 0xFF
        b3 = (h1 >> 10) & 0x0F
        payload = bytes([0x2F, b0, b1, b2, b3]) + bytes(
            (i * 53) % 256 for i in range(24)
        )
        chunks = _webp_chunk(b"VP8L", payload)
    elif kind == "vp8x":
        vp8x = bytes([0x02]) + bytes(3) + (width - 1).to_bytes(3, "little") \
            + (height - 1).to_bytes(3, "little")
        chunks = _webp_chunk(b"VP8X", vp8x)
        if frame_ms:
            anim = bytes(6)
            chunks += _webp_chunk(b"ANIM", anim)
            for ms in frame_ms:
                anmf = bytes(12) + ms.to_bytes(3, "little") + bytes([0]) \
                    + bytes((i * 17) % 256 for i in range(20))
                chunks += _webp_chunk(b"ANMF", anmf)
    else:
        raise AssertionError(kind)
    import struct as _s

    return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WEBP" + chunks


def test_real_decode_webp_variants():
    """All three WebP dimension sources parse: lossy VP8 keyframe header,
    lossless VP8L bit-packed dims (14-bit fields split across bytes),
    VP8X canvas; ANMF frame durations sum like the GIF decoder; corrupt
    start codes raise."""
    d = real_decode(_webp_bytes("vp8", 640, 360), "image")
    assert (d["width"], d["height"], d["duration_sec"]) == (640, 360, None)

    d2 = real_decode(_webp_bytes("vp8l", 1023, 517), "image")
    assert (d2["width"], d2["height"]) == (1023, 517)

    d3 = real_decode(_webp_bytes("vp8x", 1920, 1080, frame_ms=[40, 60, 100]),
                     "video")
    assert (d3["width"], d3["height"]) == (1920, 1080)
    assert d3["duration_sec"] == pytest.approx(0.2)

    bad = bytearray(_webp_bytes("vp8", 64, 64))
    bad[12 + 8 + 3] = 0x00  # break the keyframe start code
    with pytest.raises(ValueError):
        real_decode(bytes(bad), "image")
    with pytest.raises(ValueError):
        real_decode(b"RIFF\x04\x00\x00\x00WEBP", "image")  # no dims chunk


def test_stream_media_features_tolerant_and_idempotent(spark, tmp_path):
    """Streaming media featurization: real bytes decode through the
    Arrow path per micro-batch, corrupt payloads quarantine as
    decode_error rows instead of wedging the stream, and a direct batch
    replay overwrites its own partition (no duplication)."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from commercepulse_data_pipeline_spark.multimodal import real_decode
    from commercepulse_data_pipeline_spark.streaming.media import (
        media_features_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    drops = tmp_path / "drops"
    drops.mkdir()
    b1 = [("m1", "image", _bmp_bytes(9, 7)),
          ("bad", "image", b"\x00\x01 not a real container")]
    b2 = [("m2", "audio", _wav_bytes(1.5, rate=8000))]
    for i, rows in enumerate((b1, b2)):
        pq.write_table(
            pa.table({
                "media_id": [r[0] for r in rows],
                "modality": [r[1] for r in rows],
                "content": pa.array([r[2] for r in rows], type=pa.binary()),
            }),
            str(drops / f"d{i}.parquet"),
        )
        os.utime(str(drops / f"d{i}.parquet"),
                 (time.time() - 60 + i, time.time() - 60 + i))

    store = str(tmp_path / "media_store")
    q = batches.start(
        batches.drops(
            spark, str(drops), "media_id string, modality string, content binary",
            max_files_per_trigger=1,
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: media_features_batch(df, i, store, decoder=real_decode),
    )
    q.awaitTermination(120)

    rows = {r["media_id"]: r for r in spark.read.parquet(store).collect()}
    assert rows["m1"]["width"] == 9 and rows["m1"]["height"] == 7
    assert rows["m1"]["decode_error"] is None
    assert rows["m2"]["duration_sec"] == pytest.approx(1.5)
    assert rows["bad"]["width"] is None and rows["bad"]["feature"] is None
    assert "NotImplementedError" in rows["bad"]["decode_error"]

    # replay batch 0 directly: own-partition overwrite, counts unchanged
    media_features_batch(
        spark.createDataFrame(
            [(r[0], r[1], bytearray(r[2])) for r in b1],
            "media_id string, modality string, content binary",
        ),
        0, store, decoder=real_decode,
    )
    assert spark.read.parquet(store).count() == 3
    # the shared batch FEATURE_SCHEMA was not mutated by the +error field
    from commercepulse_data_pipeline_spark.multimodal import FEATURE_SCHEMA

    assert [f.name for f in FEATURE_SCHEMA.fields] == [
        "media_id", "modality", "width", "height", "duration_sec", "feature",
    ]


def _heif_bytes(brand: bytes, dims: list[tuple[int, int]]) -> bytes:
    """Minimal HEIF/AVIF: ftyp with the given major brand + a meta box
    (full box) holding iprp/ipco with one ispe per (w, h)."""
    import struct

    ispes = b"".join(
        _mp4_box(b"ispe", b"\x00\x00\x00\x00" + struct.pack(">II", w, h))
        for w, h in dims
    )
    ipco = _mp4_box(b"ipco", ispes)
    iprp = _mp4_box(b"iprp", ipco)
    meta = _mp4_box(b"meta", b"\x00\x00\x00\x00" + iprp)
    ftyp = _mp4_box(b"ftyp", brand + b"\x00\x00\x00\x00" + brand)
    mdat = _mp4_box(b"mdat", bytes((i * 7) % 256 for i in range(64)))
    return ftyp + meta + mdat


def test_real_decode_heif_avif_ispe():
    """HEIC and AVIF dimensions parse from the meta/iprp/ipco/ispe walk;
    with a thumbnail + primary ispe pair the LARGEST wins; a brandless
    ftyp still routes to the MP4 box-walk; an ispe-less HEIF raises."""
    d = real_decode(_heif_bytes(b"heic", [(4032, 3024)]), "image")
    assert (d["width"], d["height"], d["duration_sec"]) == (4032, 3024, None)

    d2 = real_decode(
        _heif_bytes(b"avif", [(320, 240), (1920, 1080)]), "image"
    )
    assert (d2["width"], d2["height"]) == (1920, 1080)  # primary > thumb

    with pytest.raises(ValueError, match="ispe"):
        real_decode(_heif_bytes(b"mif1", []), "image")

    # non-HEIF brand keeps the MP4 path (duration from mvhd)
    d3 = real_decode(_mp4_bytes(3.25), "video")
    assert d3["duration_sec"] == pytest.approx(3.25, abs=1e-3)


def _bmp_from_gray(gray) -> bytes:
    """24-bit BMP with per-pixel values from an (h, w) uint8 array
    (independent of the engine's decoder: bottom-up rows, BGR order)."""
    import struct

    h, w = gray.shape
    rows = b""
    for r in range(h - 1, -1, -1):  # bottom-up
        row = b"".join(bytes([gray[r, c]]) * 3 for c in range(w))
        row += b"\x00" * ((4 - len(row) % 4) % 4)
        rows += row
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows),
                      2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(rows), 0, 0, 54)
    return header + dib + rows


def _ppm_from_gray(gray) -> bytes:
    h, w = gray.shape
    body = b"".join(
        bytes([gray[r, c]]) * 3 for r in range(h) for c in range(w)
    )
    return f"P6\n{w} {h}\n255\n".encode() + body


def test_image_gray_raster_rejects_16bit_ppm(spark):
    """16-bit P6 (maxval > 255) stores 2 bytes/sample — decoding it as
    1 byte/sample would produce a garbage raster and a WRONG non-NULL
    hash, so the raster path must raise and the tolerant wrapper must
    emit an err row (ADVICE r13)."""
    import numpy as np
    import pytest

    from commercepulse_data_pipeline_spark.multimodal import (
        image_ahash,
        image_gray_raster,
    )

    rng = np.random.default_rng(11)
    w, h = 12, 9
    body = rng.integers(0, 256, size=6 * w * h, dtype=np.uint8).tobytes()
    payload = f"P6\n{w} {h}\n65535\n".encode() + body
    with pytest.raises(ValueError, match="maxval"):
        image_gray_raster(payload)
    media = spark.createDataFrame(
        [("deep", payload)], "media_id string, content binary"
    )
    row = image_ahash(media).collect()[0]
    assert row.ahash is None and "maxval" in row.err


def test_image_ahash_cross_format_and_neardup_pairs(spark):
    """image_ahash (r13): the SAME picture encoded as BMP and PPM hashes
    IDENTICALLY; a lightly-noised copy lands within a small Hamming
    radius and sig_hamming_pairs (the text SimHash machinery, reused
    verbatim) surfaces the pair; an unrelated picture stays far; an
    undecodable payload yields a tolerant err row."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import (
        ahash64,
        image_ahash,
        image_gray_raster,
    )
    from commercepulse_data_pipeline_spark.operators.dedup import (
        sig_hamming_pairs,
    )

    rng = np.random.default_rng(7)
    pic = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
    noisy = pic.copy()
    noisy[::9, ::9] = np.clip(noisy[::9, ::9].astype(int) + 14, 0, 255)
    other = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)

    # local decode sanity: BMP and PPM round-trip to the same raster
    assert (image_gray_raster(_bmp_from_gray(pic)) == pic).all()
    assert (image_gray_raster(_ppm_from_gray(pic)) == pic).all()

    media = spark.createDataFrame(
        [
            ("bmp", _bmp_from_gray(pic)),
            ("ppm", _ppm_from_gray(pic)),
            ("noisy", _ppm_from_gray(noisy)),
            ("other", _ppm_from_gray(other)),
            ("junk", b"not an image at all"),
        ],
        "media_id string, content binary",
    )
    out = {r.media_id: r for r in image_ahash(media).collect()}
    assert out["bmp"].ahash == out["ppm"].ahash == ahash64(pic)
    assert (out["bmp"].width, out["bmp"].height) == (56, 40)
    assert out["junk"].ahash is None and "unsupported" in out["junk"].err

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(out["noisy"].ahash, out["ppm"].ahash) <= 6
    assert ham(out["other"].ahash, out["ppm"].ahash) > 12

    sigs = image_ahash(media).where("ahash is not null").select(
        "media_id", F.col("ahash")
    )
    pairs = {(r.id_a, r.id_b): r.hamming for r in sig_hamming_pairs(
        sigs, id_col="media_id", sig_col="ahash", hamming_threshold=6
    ).collect()}
    assert ("bmp", "ppm") in pairs and pairs[("bmp", "ppm")] == 0
    assert ("noisy", "ppm") in pairs
    assert not any("other" in p for p in pairs)


def test_image_ahash_jpeg_cross_format_neardup(spark):
    """JPEG wired into the image-hash tier (r14): the SAME scene encoded
    as 24-bit BMP (exact) and baseline 4:2:0 JPEG (lossy) lands within a
    small Hamming radius on BOTH hashes, and sig_hamming_pairs surfaces
    the cross-format pair — the test the tier exists for (a web crawl's
    re-encodes of one image must cluster). An unrelated scene stays far;
    a PROGRESSIVE JPEG stays a tolerant err row (documented boundary)."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import (
        image_ahash,
        image_gray_raster,
    )
    from commercepulse_data_pipeline_spark.operators.dedup import (
        sig_hamming_pairs,
    )

    # smooth synthetic scene (low-frequency content — what JPEG's
    # quantization preserves; noise would be a different image after
    # compression, not a re-encode)
    h, w = 40, 56
    yy, xx = np.mgrid[0:h, 0:w]
    scene = (
        96
        + 64 * np.sin(xx / 9.0)
        + 48 * np.cos(yy / 7.0)
        + 0.45 * xx
    ).clip(0, 255)
    other = (255 - scene.T[:h, :w].copy()).clip(0, 255)

    def rgb(g):
        return np.stack([g, g, g], axis=-1)

    jpeg_scene = _jpeg_bytes(rgb(scene), subsample=(2, 2))
    bmp_scene = _bmp_from_gray(scene.astype(np.uint8))
    jpeg_other = _jpeg_bytes(rgb(other), subsample=(2, 2))

    # direct decode sanity: jpeg raster close to the exact gray source
    g = image_gray_raster(jpeg_scene)
    assert g.shape == (h, w)
    assert np.abs(g.astype(int) - scene.astype(np.uint8).astype(int)).max() <= 3

    media = spark.createDataFrame(
        [
            ("jpeg", jpeg_scene),
            ("bmp", bmp_scene),
            ("jpeg_other", jpeg_other),
        ],
        "media_id string, content binary",
    )
    out = {r.media_id: r for r in image_ahash(media).collect()}
    assert out["jpeg"].ahash is not None and out["jpeg"].dhash is not None
    assert (out["jpeg"].width, out["jpeg"].height) == (w, h)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(out["jpeg"].ahash, out["bmp"].ahash) <= 4
    assert ham(out["jpeg"].dhash, out["bmp"].dhash) <= 4
    assert ham(out["jpeg_other"].ahash, out["bmp"].ahash) > 10

    sigs = image_ahash(media).where("ahash is not null").select(
        "media_id", "ahash"
    )
    pairs = {(r.id_a, r.id_b) for r in sig_hamming_pairs(
        sigs, id_col="media_id", sig_col="ahash", hamming_threshold=4
    ).collect()}
    assert ("bmp", "jpeg") in pairs
    assert not any("jpeg_other" in p for p in pairs)

    # progressive JPEG: metadata boundary holds — err row, NULL hash
    prog = bytearray(jpeg_scene)
    sof = prog.find(b"\xff\xc0")
    assert sof > 0
    prog[sof + 1] = 0xC2  # SOF0 -> SOF2
    prow = image_ahash(
        spark.createDataFrame(
            [("prog", bytes(prog))], "media_id string, content binary"
        )
    ).collect()[0]
    assert prow.ahash is None and prow.err is not None


def test_image_ahash_incremental_between(spark):
    """sig_hamming_pairs_between over image hashes (r13): an arriving
    image batch probes a persisted (id, ahash) index — the re-crawled
    near-copy pairs against its indexed original; the genuinely new
    image pairs with nothing."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import image_ahash
    from commercepulse_data_pipeline_spark.operators.dedup import (
        sig_hamming_pairs_between,
    )

    rng = np.random.default_rng(11)
    pic = rng.integers(0, 256, size=(32, 48), dtype=np.uint8)
    recrawl = pic.copy()
    recrawl[::7, ::7] = np.clip(recrawl[::7, ::7].astype(int) - 11, 0, 255)
    fresh = rng.integers(0, 256, size=(32, 48), dtype=np.uint8)

    index_media = spark.createDataFrame(
        [("orig", _ppm_from_gray(pic))], "media_id string, content binary"
    )
    batch_media = spark.createDataFrame(
        [("recrawl", _ppm_from_gray(recrawl)), ("fresh", _ppm_from_gray(fresh))],
        "media_id string, content binary",
    )
    idx = image_ahash(index_media).where("ahash is not null")
    new = image_ahash(batch_media).where("ahash is not null")
    pairs = {(r.id_a, r.id_b) for r in sig_hamming_pairs_between(
        new, idx, id_col="media_id", sig_col="ahash", hamming_threshold=6
    ).collect()}
    assert pairs == {("orig", "recrawl")}


def test_dhash_brightness_invariance(spark):
    """dhash64 (r13): a global brightness shift leaves every horizontal
    gradient sign — and therefore the ENTIRE dHash — unchanged, while
    aHash may move cells across the shifted global mean; the noisy
    re-crawl still lands within a small dHash radius."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import (
        ahash64,
        dhash64,
        image_gray_raster,
    )

    rng = np.random.default_rng(23)
    pic = rng.integers(40, 200, size=(24, 33), dtype=np.uint8)
    brighter = (pic.astype(int) + 30).clip(0, 239).astype(np.uint8)

    assert dhash64(pic) == dhash64(brighter)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    noisy = pic.copy()
    noisy[::6, ::6] = np.clip(noisy[::6, ::6].astype(int) + 17, 0, 255)
    assert ham(dhash64(pic), dhash64(noisy)) <= 8

    # cross-format: dHash identical for the same raster via BMP and PPM
    assert (
        dhash64(image_gray_raster(_bmp_from_gray(pic)))
        == dhash64(image_gray_raster(_ppm_from_gray(pic)))
        == dhash64(pic)
    )
    assert ahash64(pic) is not None  # both signatures coexist per row


def test_stream_image_hash_index_cross_batch_and_replay(spark, tmp_path):
    """image_hash_batch on a stream (r13): a re-crawled near-copy arriving two
    batches after its original pairs against the indexed hash; the pair
    feed is per-batch partitioned and a direct batch replay reproduces
    its pair set exactly (own-partition exclusion)."""
    import os
    import shutil

    import numpy as np

    from commercepulse_data_pipeline_spark.streaming.media import (
        image_hash_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    rng = np.random.default_rng(31)
    pic = rng.integers(0, 256, size=(24, 36), dtype=np.uint8)
    recrawl = pic.copy()
    recrawl[::8, ::8] = np.clip(recrawl[::8, ::8].astype(int) + 9, 0, 255)
    other = rng.integers(0, 256, size=(24, 36), dtype=np.uint8)

    drops = [
        [("orig", _ppm_from_gray(pic)), ("junk", b"not an image")],
        [("other", _ppm_from_gray(other))],
        [("recrawl", _ppm_from_gray(recrawl))],
    ]
    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, "media_id string, content binary").coalesce(
            1
        ).write.parquet(f"{incoming}/d{i}")
        for f in os.listdir(f"{incoming}/d{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{incoming}/d{i}/{f}", f"{incoming}/b{i}_{f}")
        shutil.rmtree(f"{incoming}/d{i}")

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(
            spark, incoming, "media_id string, content binary", max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: image_hash_batch(df, i, store),
        trigger_once=True,
    )
    q.awaitTermination()

    pairs = {(r.id_a, r.id_b) for r in
             spark.read.parquet(f"{store}/pairs").collect()}
    assert pairs == {("orig", "recrawl")}
    hashes = spark.read.parquet(f"{store}/hashes")
    assert hashes.where("media_id = 'junk'").head().ahash is None
    assert hashes.count() == 4

    # direct replay of the LAST batch: identical pair partition
    before = sorted(map(tuple, spark.read.parquet(
        f"{store}/pairs/ingest_batch=2").collect()))
    last = spark.createDataFrame(drops[2], "media_id string, content binary")
    image_hash_batch(last, 2, store)
    after = sorted(map(tuple, spark.read.parquet(
        f"{store}/pairs/ingest_batch=2").collect()))
    assert after == before and len(after) == 1


def test_gif_frame_rasters_full_walk_and_compositing():
    """gif_frame_rasters (r14): every frame of an animated GIF decodes to
    the palette-mapped luma raster the construction parameters predict
    (pure-python expectation, no decoder involved); a hand-assembled
    SUBRECT frame with GCE transparency composites onto the persisting
    canvas — transparent pixels leave the prior frame's pixels intact."""
    import struct

    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import (
        gif_frame_rasters,
    )

    w, h = 14, 9
    palette = bytes([250, 10, 10, 10, 250, 10, 10, 10, 250, 128, 128, 128])
    f1 = bytes((x // 3 + y) % 4 for y in range(h) for x in range(w))
    f2 = f1[::-1]
    gif = _gif_bytes(w, h, [f1, f2], palette, delays=[25, 50])
    frames = gif_frame_rasters(gif)
    assert len(frames) == 2

    def expected(idx):
        out = np.zeros((h, w), dtype=np.uint8)
        for y in range(h):
            for x in range(w):
                r, g, b = palette[3 * idx[y * w + x]: 3 * idx[y * w + x] + 3]
                out[y, x] = (r * 299 + g * 587 + b * 114) // 1000
        return out

    assert (frames[0] == expected(f1)).all()
    assert (frames[1] == expected(f2)).all()

    # max_frames caps the walk
    assert len(gif_frame_rasters(gif, max_frames=1)) == 1

    # subrect + transparency: frame 2 is a 4x3 patch at (5, 2) whose
    # index-3 pixels are transparent — the canvas keeps frame 1 there
    patch = bytes([0, 1, 3, 2, 3, 0, 1, 3, 2, 0, 3, 1])  # 4 wide, 3 tall
    gce = b"\x21\xf9\x04\x01\x0a\x00\x03\x00"  # transparency on, idx 3
    desc = b"\x2c" + struct.pack("<HHHH", 5, 2, 4, 3) + b"\x00"
    data = _gif_lzw_encode(2, patch)
    blocks = b""
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        blocks += bytes([len(chunk)]) + chunk
    frame2_block = gce + desc + bytes([2]) + blocks + b"\x00"
    header_and_f1 = (
        b"GIF89a" + struct.pack("<HH", w, h) + bytes([0x81, 0, 0])
        + (palette + b"\x00" * 12)[:12]
        + _gif_frame(w, h, f1, 2, None)
    )
    gif_sub = header_and_f1 + frame2_block + b"\x3b"
    frames2 = gif_frame_rasters(gif_sub)
    assert len(frames2) == 2
    exp = expected(f1).copy()
    for yy in range(3):
        for xx in range(4):
            pi = patch[yy * 4 + xx]
            if pi == 3:
                continue  # transparent: canvas keeps frame 1
            r, g, b = palette[3 * pi : 3 * pi + 3]
            exp[2 + yy, 5 + xx] = (r * 299 + g * 587 + b * 114) // 1000
    assert (frames2[1] == exp).all()


def _clip_gif(frames_idx, palette, w, h):
    return _gif_bytes(w, h, frames_idx, palette, min_code_size=4,
                      delays=[10] * len(frames_idx))


def _clip_frames(kind: str, n: int, w: int = 32, h: int = 24):
    """Deterministic clip content shared by the video near-dup tests."""
    if kind == "scroll_h":
        return [
            bytes(((x + 3 * t) * 16 // w) % 16 for y in range(h) for x in range(w))
            for t in range(n)
        ]
    if kind == "bands_v":
        return [
            bytes((y * 16 // h + 5 * t) % 16 for y in range(h) for x in range(w))
            for t in range(n)
        ]
    raise ValueError(kind)


def test_video_neardup_pairs_re_encode_and_containment(spark):
    """video_frame_hashes + video_neardup_pairs (r14): a palette-shifted
    re-encode of the same clip pairs with every frame matched; a 3-frame
    excerpt pairs by CONTAINMENT (its own frac is 1.0 even though the
    full clip's is 0.5); an unrelated clip stays out; an undecodable
    payload is one tolerant err row; a still image rides along as a
    1-frame clip — and since this still IS a re-render of clip_a's
    first frame (palette-mapped luma, within 4 gray levels), it
    legitimately pairs with the clip family by containment. (The r14
    _exact_frame fix surfaced this: the original expectation said the
    still stays out, but that held only because the junk err row's
    pandas None->float64 chunk coercion was corrupting the hashes.)"""
    from commercepulse_data_pipeline_spark.multimodal import (
        video_frame_hashes,
        video_neardup_pairs,
    )

    w, h, n = 32, 24, 6
    pal_a = bytes(v for i in range(16) for v in (i * 16 + 4,) * 3)
    pal_re = bytes(min(255, v + 6) for v in pal_a)
    fa = _clip_frames("scroll_h", n, w, h)
    fb = _clip_frames("bands_v", n, w, h)

    rows = [
        ("clip_a", _clip_gif(fa, pal_a, w, h)),
        ("clip_a_re", _clip_gif(fa, pal_re, w, h)),
        ("clip_a_sub", _clip_gif(fa[:3], pal_a, w, h)),
        ("clip_b", _clip_gif(fb, pal_a, w, h)),
        ("junk", b"not media"),
        ("still", _bmp_from_gray(
            __import__("numpy").frombuffer(fa[0], dtype="uint8")
            .reshape(h, w) * 16
        )),
    ]
    media = spark.createDataFrame(rows, "media_id string, content binary")
    frames = video_frame_hashes(media, max_frames=16)
    got = frames.collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id["clip_a"]) == n and all(r.err is None for r in by_id["clip_a"])
    assert len(by_id["clip_a_sub"]) == 3
    assert len(by_id["still"]) == 1 and by_id["still"][0].n_frames == 1
    assert len(by_id["junk"]) == 1 and by_id["junk"][0].err is not None

    pairs = {
        (r.id_a, r.id_b): r
    for r in video_neardup_pairs(
            frames, hamming_threshold=4, min_match_frac=0.5
        ).collect()
    }
    re_pair = pairs[("clip_a", "clip_a_re")]
    assert re_pair.n_matched_a == n and re_pair.n_matched_b == n
    assert re_pair.frac_a == 1.0 and re_pair.frac_b == 1.0
    sub_pair = pairs[("clip_a", "clip_a_sub")]
    assert sub_pair.n_matched_b == 3 and sub_pair.frac_b == 1.0
    assert not any("clip_b" in k for k in pairs)
    assert not any("junk" in k for k in pairs)
    # the still = clip_a frame 0 re-rendered: containment pairs it with
    # the family (its own frac is 1.0)
    still_pair = pairs[("clip_a", "still")]
    assert still_pair.n_frames_b == 1 and still_pair.frac_b == 1.0


def test_stream_image_hash_cluster_table(spark, tmp_path):
    """image_hash_batch(cluster=True) (r14, VERDICT r13 item 7): the
    image pair feed folds into the SAME persisted cluster-table artifact
    the text tier maintains — a re-crawled image arriving two batches
    after its original lands in the original's cluster (canonical =
    lexicographic min media_id), unrelated images stay singletons (no
    row), and a direct batch replay leaves the table unchanged (fold of
    an identical pair set is idempotent)."""
    import os
    import shutil

    import numpy as np

    from commercepulse_data_pipeline_spark.operators.graph import (
        read_cluster_table,
        read_cluster_table_meta,
    )
    from commercepulse_data_pipeline_spark.streaming.media import (
        image_hash_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    rng = np.random.default_rng(47)
    pic = rng.integers(0, 256, size=(24, 36), dtype=np.uint8)
    recrawl = pic.copy()
    recrawl[::8, ::8] = np.clip(recrawl[::8, ::8].astype(int) + 9, 0, 255)
    other = rng.integers(0, 256, size=(24, 36), dtype=np.uint8)

    drops = [
        [("orig", _ppm_from_gray(pic))],
        [("other", _ppm_from_gray(other))],
        [("recrawl", _ppm_from_gray(recrawl))],
    ]
    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, "media_id string, content binary").coalesce(
            1
        ).write.parquet(f"{incoming}/d{i}")
        for f in os.listdir(f"{incoming}/d{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{incoming}/d{i}/{f}", f"{incoming}/b{i}_{f}")
        shutil.rmtree(f"{incoming}/d{i}")

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(
            spark, incoming, "media_id string, content binary", max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: image_hash_batch(df, i, store, cluster=True),
        trigger_once=True,
    )
    q.awaitTermination()

    table = sorted(
        map(tuple, read_cluster_table(spark, f"{store}/clusters").collect())
    )
    assert table == [("orig", "orig", 2), ("recrawl", "orig", 2)]
    assert read_cluster_table_meta(spark, f"{store}/clusters")["blocker"] == (
        "sig_hamming"
    )

    # replay the pairing batch: identical pair set folds to the same table
    last = spark.createDataFrame(drops[2], "media_id string, content binary")
    image_hash_batch(last, 2, store, cluster=True)
    again = sorted(
        map(tuple, read_cluster_table(spark, f"{store}/clusters").collect())
    )
    assert again == table


def _wav_from_samples(samples, rate=8000, channels=1) -> bytes:
    """Independent mono/stereo 16-bit RIFF/PCM encoder from explicit
    samples (``samples`` is per-channel lists when channels > 1)."""
    import struct

    if channels == 1:
        frames = [(s,) for s in samples]
    else:
        frames = list(zip(*samples))
    data = b"".join(
        struct.pack(f"<{channels}h", *f) for f in frames
    )
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * 2 * channels,
                      2 * channels, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _audio_test_samples(kind: str, n: int = 4000):
    """Deterministic integer waveforms (no FP): triangle + square +
    small pseudo-noise; 'other' uses different periods/phases."""
    out = []
    for i in range(n):
        if kind == "tone":
            tri = abs((i % 200) - 100) - 50          # period 200
            sq = 20 if (i // 75) % 2 else -20        # period 150
            noise = (i * 7919) % 31 - 15
            out.append(tri * 40 + sq + noise)
        elif kind == "other":
            tri = abs((i % 37) - 18) - 9
            sq = 30 if (i // 260) % 2 else -30
            out.append(tri * 25 + sq * 40 + ((i * 104729) % 61 - 30))
        else:
            raise ValueError(kind)
    return out


def test_audio_hash_cross_format_gain_invariance_and_pairs(spark):
    """Audio near-dup tier (r14): a WAV->FLAC re-encode of the SAME
    recording hashes IDENTICALLY (FLAC is lossless — bit-identical PCM),
    a 2x gain copy hashes IDENTICALLY (the envelope hash's gradient-sign
    construction is exactly gain-invariant), a soft-scaled copy lands
    within a small radius, an unrelated recording stays far, a stereo
    L=R spread mixes down to the same mono hash, junk is a tolerant err
    row — and sig_hamming_pairs surfaces exactly the near-dup family."""
    from commercepulse_data_pipeline_spark.multimodal import (
        audio_ehash64,
        audio_hash,
        audio_pcm_mono,
    )
    from commercepulse_data_pipeline_spark.operators.dedup import (
        sig_hamming_pairs,
    )

    tone = _audio_test_samples("tone")
    other = _audio_test_samples("other")
    gain2 = [s * 2 for s in tone]
    soft = [(s * 7) // 10 for s in tone]

    wav = _wav_from_samples(tone)
    fr1 = _flac_frame_enc([tone[:2000]], 16, 0, ["verbatim"])
    fr2 = _flac_frame_enc([tone[2000:]], 16, 1, ["verbatim"])
    flac = _flac_full([tone], 16, 8000, [fr1, fr2])

    # decode sanity: both containers round-trip the exact samples
    rate_w, pcm_w = audio_pcm_mono(wav)
    rate_f, pcm_f = audio_pcm_mono(flac)
    assert (rate_w, pcm_w) == (8000, tone)
    assert (rate_f, pcm_f) == (8000, tone)

    media = spark.createDataFrame(
        [
            ("wav", wav),
            ("flac", flac),
            ("gain2", _wav_from_samples(gain2)),
            ("soft", _wav_from_samples(soft)),
            ("stereo", _wav_from_samples([tone, tone], channels=2)),
            ("other", _wav_from_samples(other)),
            ("junk", b"definitely not audio"),
        ],
        "media_id string, content binary",
    )
    out = {r.media_id: r for r in audio_hash(media).collect()}
    want = audio_ehash64(tone)
    assert out["wav"].ehash == out["flac"].ehash == want
    assert out["wav"].n_samples == 4000 and out["wav"].sample_rate == 8000
    assert out["gain2"].ehash == want      # exact gain invariance
    assert out["stereo"].ehash == want     # L=R mixdown == mono
    assert out["junk"].ehash is None and out["junk"].err is not None

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(out["soft"].ehash, want) <= 4
    assert ham(out["other"].ehash, want) > 12

    sigs = audio_hash(media).where("ehash is not null").select(
        "media_id", "ehash"
    )
    pairs = {frozenset((r.id_a, r.id_b)) for r in sig_hamming_pairs(
        sigs, id_col="media_id", sig_col="ehash", hamming_threshold=4
    ).collect()}
    family = {"wav", "flac", "gain2", "soft", "stereo"}
    assert pairs == {frozenset(p) for p in
                     __import__("itertools").combinations(sorted(family), 2)}


def test_stream_audio_hash_index_cross_batch(spark, tmp_path):
    """image_hash_batch(modality="audio") on a stream (r14): the continuous
    hash store runs the audio energy-envelope hash through the SAME
    signature-agnostic plumbing — a lossless FLAC re-encode arriving two
    batches after its WAV original pairs against the indexed hash and
    lands in the original's cluster."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.operators.graph import (
        read_cluster_table,
    )
    from commercepulse_data_pipeline_spark.streaming.media import (
        image_hash_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    tone = _audio_test_samples("tone")
    other = _audio_test_samples("other")
    fr1 = _flac_frame_enc([tone[:2000]], 16, 0, ["verbatim"])
    fr2 = _flac_frame_enc([tone[2000:]], 16, 1, ["verbatim"])
    drops = [
        [("orig", _wav_from_samples(tone)), ("junk", b"not audio")],
        [("other", _wav_from_samples(other))],
        [("reenc", _flac_full([tone], 16, 8000, [fr1, fr2]))],
    ]
    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, "media_id string, content binary").coalesce(
            1
        ).write.parquet(f"{incoming}/d{i}")
        for f in os.listdir(f"{incoming}/d{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{incoming}/d{i}/{f}", f"{incoming}/b{i}_{f}")
        shutil.rmtree(f"{incoming}/d{i}")

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(
            spark, incoming, "media_id string, content binary", max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: image_hash_batch(
            df, i, store, modality="audio", hamming_threshold=4, cluster=True
        ),
        trigger_once=True,
    )
    q.awaitTermination()

    pairs = {(r.id_a, r.id_b) for r in
             spark.read.parquet(f"{store}/pairs").collect()}
    assert pairs == {("orig", "reenc")}
    hashes = spark.read.parquet(f"{store}/hashes")
    assert hashes.where("media_id = 'junk'").head().ehash is None
    table = sorted(
        map(tuple, read_cluster_table(spark, f"{store}/clusters").collect())
    )
    assert table == [("orig", "orig", 2), ("reenc", "orig", 2)]


def test_hash_exactness_in_mixed_null_chunks(spark):
    """Regression pin (r14): an undecodable payload sharing ONE Arrow
    chunk (coalesce(1)) with decodable ones must not perturb its
    neighbors' hashes — pd.DataFrame's None -> float64 column coercion
    silently ROUNDED 64-bit hashes past 2^53 until _exact_frame; the
    corruption only manifested when a NULL row landed in the same
    pandas chunk, which tiny multi-partition test frames never hit."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import (
        ahash64,
        audio_ehash64,
        audio_hash,
        image_ahash,
        video_frame_hashes,
    )

    rng = np.random.default_rng(7)
    pic = rng.integers(0, 256, size=(40, 56), dtype=np.uint8)
    media = spark.createDataFrame(
        [("bmp", _bmp_from_gray(pic)), ("junk", b"no")],
        "media_id string, content binary",
    ).coalesce(1)
    got = {r.media_id: r for r in image_ahash(media).collect()}
    assert got["bmp"].ahash == ahash64(pic)  # exact, not float64-rounded

    tone = _audio_test_samples("tone")
    amedia = spark.createDataFrame(
        [("wav", _wav_from_samples(tone)), ("junk", b"no")],
        "media_id string, content binary",
    ).coalesce(1)
    agot = {r.media_id: r for r in audio_hash(amedia).collect()}
    assert agot["wav"].ehash == audio_ehash64(tone)

    vmedia = spark.createDataFrame(
        [
            ("clip", _clip_gif(_clip_frames("scroll_h", 2), bytes(
                v for i in range(16) for v in (i * 16 + 4,) * 3), 32, 24)),
            ("junk", b"no"),
        ],
        "media_id string, content binary",
    ).coalesce(1)
    vgot = video_frame_hashes(vmedia).where("err is null").collect()
    from commercepulse_data_pipeline_spark.multimodal import (
        gif_frame_rasters,
    )

    expect = [ahash64(g) for g in gif_frame_rasters(
        _clip_gif(_clip_frames("scroll_h", 2), bytes(
            v for i in range(16) for v in (i * 16 + 4,) * 3), 32, 24))]
    assert sorted(r.ahash for r in vgot) == sorted(expect)


def test_image_gray_raster_png_palette_and_alpha_types(spark):
    """PNG color types 3 (palette), 4 (gray+alpha), 6 (RGBA) decode to
    hashable rasters (r14) — palette indices map through PLTE, alpha is
    dropped — so the web's palette/alpha PNG re-saves of one scene hash
    identically to its BMP rendering; a palette PNG without PLTE stays a
    tolerant err row."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import (
        ahash64,
        image_ahash,
        image_gray_raster,
    )

    rng = np.random.default_rng(19)
    h, w = 24, 30
    idx = rng.integers(0, 16, size=(h, w), dtype=np.uint8)
    # grayscale palette: entry i = (i*16+7,)*3 -> luma == i*16+7 exactly
    pal = bytes(v for i in range(16) for v in (i * 16 + 7,) * 3)
    gray = (idx * 16 + 7).astype(np.uint8)

    png3 = _png_bytes(w, h, idx.tobytes(), color_type=3)
    # splice the PLTE chunk after IHDR (the test encoder emits none)
    ihdr_end = png3.index(b"IHDR") + 4 + 13 + 4
    png3 = png3[:ihdr_end] + _png_chunk(b"PLTE", pal) + png3[ihdr_end:]
    assert (image_gray_raster(png3) == gray).all()

    # RGBA (type 6): rgb = gray triples, alpha varies -> alpha dropped
    rgba = np.dstack([gray, gray, gray,
                      rng.integers(0, 256, size=(h, w), dtype=np.uint8)])
    png6 = _png_bytes(w, h, rgba.tobytes(), color_type=6)
    assert (image_gray_raster(png6) == gray).all()

    # gray+alpha (type 4): keep the gray plane
    ga = np.dstack([gray, rng.integers(0, 256, size=(h, w), dtype=np.uint8)])
    png4 = _png_bytes(w, h, ga.tobytes(), color_type=4)
    assert (image_gray_raster(png4) == gray).all()

    # all three re-saves hash identically to the BMP rendering
    media = spark.createDataFrame(
        [
            ("bmp", _bmp_from_gray(gray)),
            ("png_pal", png3),
            ("png_rgba", png6),
            ("png_ga", png4),
            ("pal_no_plte", _png_bytes(w, h, idx.tobytes(), color_type=3)),
        ],
        "media_id string, content binary",
    )
    out = {r.media_id: r for r in image_ahash(media).collect()}
    want = ahash64(gray)
    assert (out["bmp"].ahash == out["png_pal"].ahash
            == out["png_rgba"].ahash == out["png_ga"].ahash == want)
    assert out["pal_no_plte"].ahash is None and "PLTE" in out["pal_no_plte"].err


def _tiff_raster_bytes(gray_or_rgb, bo: bytes = b"II", photometric=None,
                       strips: int = 2) -> bytes:
    """Independent uncompressed-TIFF encoder: first IFD with
    width/height/bits/compression/photometric/strip tags, pixel data in
    ``strips`` row-chunks, little- or big-endian."""
    import struct

    import numpy as np

    arr = np.asarray(gray_or_rgb, dtype=np.uint8)
    h, w = arr.shape[:2]
    spp = 1 if arr.ndim == 2 else arr.shape[2]
    if photometric is None:
        photometric = 2 if spp == 3 else 1
    e = "<" if bo == b"II" else ">"
    rows_per = -(-h // strips)
    chunks = [
        arr[i * rows_per : (i + 1) * rows_per].tobytes()
        for i in range(strips)
    ]
    chunks = [c for c in chunks if c]

    entries = []  # (tag, type, count, packed-value-or-offset-placeholder)

    def ent(tag, typ, cnt, values):
        entries.append((tag, typ, cnt, values))

    ent(256, 4, 1, [w])
    ent(257, 4, 1, [h])
    ent(258, 3, spp, [8] * spp)
    ent(259, 3, 1, [1])
    ent(262, 3, 1, [photometric])
    ent(277, 3, 1, [spp])
    ent(278, 4, 1, [rows_per])
    ent(273, 4, len(chunks), None)  # offsets patched below
    ent(279, 4, len(chunks), [len(c) for c in chunks])
    entries.sort(key=lambda x: x[0])

    sz = {3: ("H", 2), 4: ("I", 4)}
    header = bo + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
    ifd_len = 2 + 12 * len(entries) + 4
    # layout: header(8) + IFD + overflow arrays + strip data
    overflow_pos = 8 + ifd_len
    overflow = bytearray()
    packed = []
    for tag, typ, cnt, values in entries:
        fmt, unit = sz[typ]
        if tag == 273:
            # strip offsets come AFTER the overflow block — compute later
            packed.append([tag, typ, cnt, None])
            if cnt * unit > 4:
                overflow_placeholder = overflow_pos + len(overflow)
                overflow += b"\x00" * (cnt * unit)
                packed[-1][3] = ("off", overflow_placeholder)
            continue
        raw = struct.pack(e + f"{cnt}{fmt}", *values)
        if len(raw) <= 4:
            packed.append([tag, typ, cnt, ("inline", raw.ljust(4, b"\x00"))])
        else:
            packed.append([tag, typ, cnt, ("off", overflow_pos + len(overflow))])
            overflow += raw
    data_pos = overflow_pos + len(overflow)
    offsets = []
    p = data_pos
    for c in chunks:
        offsets.append(p)
        p += len(c)
    # finalize strip-offset entry
    for rec in packed:
        if rec[0] == 273:
            fmt, unit = sz[rec[1]]
            raw = struct.pack(e + f"{rec[2]}{fmt}", *offsets)
            if len(raw) <= 4:
                rec[3] = ("inline", raw.ljust(4, b"\x00"))
            else:
                off = rec[3][1]
                overflow[off - overflow_pos : off - overflow_pos + len(raw)] = raw
                rec[3] = ("off", off)
    ifd = struct.pack(e + "H", len(packed))
    for tag, typ, cnt, val in packed:
        kind, v = val
        tail = v if kind == "inline" else struct.pack(e + "I", v)
        ifd += struct.pack(e + "HHI", tag, typ, cnt) + tail
    ifd += struct.pack(e + "I", 0)
    return header + ifd + bytes(overflow) + b"".join(chunks)


def test_image_gray_raster_uncompressed_tiff(spark):
    """Uncompressed baseline TIFF decodes to hashable rasters (r14):
    gray BlackIsZero, gray WhiteIsZero (inverted), RGB -> luma, both
    byte orders, multi-strip — all hash identically to the BMP rendering
    of the same scene; compressed TIFF stays a tolerant err row."""
    import numpy as np

    from commercepulse_data_pipeline_spark.multimodal import (
        ahash64,
        image_ahash,
        image_gray_raster,
    )

    rng = np.random.default_rng(23)
    h, w = 21, 34
    gray = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
    rgb = np.dstack([gray, gray, gray])

    t_le = _tiff_raster_bytes(gray, b"II")
    t_be = _tiff_raster_bytes(gray, b"MM", strips=3)
    t_inv = _tiff_raster_bytes((255 - gray).astype(np.uint8), b"II",
                               photometric=0)
    t_rgb = _tiff_raster_bytes(rgb, b"MM")
    assert (image_gray_raster(t_le) == gray).all()
    assert (image_gray_raster(t_be) == gray).all()
    assert (image_gray_raster(t_inv) == gray).all()
    assert (image_gray_raster(t_rgb) == gray).all()

    media = spark.createDataFrame(
        [
            ("bmp", _bmp_from_gray(gray)),
            ("tiff_le", t_le),
            ("tiff_be", t_be),
            ("tiff_rgb", t_rgb),
            # flip tag 259 (compression) from 1 to 5 (LZW) in the LE IFD
            ("tiff_lzw", t_le.replace(
                b"\x03\x01\x03\x00\x01\x00\x00\x00\x01\x00\x00\x00",
                b"\x03\x01\x03\x00\x01\x00\x00\x00\x05\x00\x00\x00", 1)),
        ],
        "media_id string, content binary",
    )
    out = {r.media_id: r for r in image_ahash(media).collect()}
    want = ahash64(gray)
    assert (out["bmp"].ahash == out["tiff_le"].ahash
            == out["tiff_be"].ahash == out["tiff_rgb"].ahash == want)
    assert out["tiff_lzw"].ahash is None and "compress" in out["tiff_lzw"].err


def test_video_neardup_pairs_between_incremental(spark):
    """video_neardup_pairs_between (r14): a NEW clip probes an
    accumulated frame-signature index at O(batch) — the re-encode of an
    indexed clip pairs with full containment, an unrelated new clip
    pairs with nothing, and a clip re-ingested under its own id never
    self-pairs."""
    from commercepulse_data_pipeline_spark.multimodal import (
        video_frame_hashes,
        video_neardup_pairs_between,
    )

    w, h, n = 32, 24, 6
    pal_a = bytes(v for i in range(16) for v in (i * 16 + 4,) * 3)
    pal_re = bytes(min(255, v + 6) for v in pal_a)
    fa = _clip_frames("scroll_h", n, w, h)
    fb = _clip_frames("bands_v", n, w, h)

    index_media = spark.createDataFrame(
        [("clip_a", _clip_gif(fa, pal_a, w, h)),
         ("clip_b", _clip_gif(fb, pal_a, w, h))],
        "media_id string, content binary",
    )
    # diagonal pattern: structurally unlike both indexed clips
    fdiag = [
        bytes(((x + 2 * y + 5 * t) * 16 // w) % 16
              for y in range(h) for x in range(w))
        for t in range(5)
    ]
    batch_media = spark.createDataFrame(
        [("clip_a_re", _clip_gif(fa, pal_re, w, h)),
         ("clip_a", _clip_gif(fa, pal_a, w, h)),       # re-ingest, same id
         # excerpt + re-encode of the INDEXED clip_b: must pair by
         # containment across the batch/index boundary
         ("b_sub_re", _clip_gif(_clip_frames("bands_v", 4, w, h), pal_re, w, h)),
         ("fresh", _clip_gif(fdiag, pal_a, w, h))],
        "media_id string, content binary",
    )
    idx = video_frame_hashes(index_media)
    new = video_frame_hashes(batch_media)
    pairs = {(r.id_a, r.id_b): r for r in video_neardup_pairs_between(
        new, idx, hamming_threshold=4, min_match_frac=0.5
    ).collect()}
    p = pairs[("clip_a", "clip_a_re")]
    assert p.n_matched_a == n and p.frac_a == 1.0 and p.frac_b == 1.0
    sub = pairs[("b_sub_re", "clip_b")]
    assert sub.n_frames_a == 4 and sub.frac_a == 1.0
    assert not any(a == b for a, b in pairs)          # no self-pair
    assert not any("fresh" in k for k in pairs)


@pytest.mark.slow
def test_stream_video_hash_index_cross_batch_and_cluster(spark, tmp_path):
    """video_hash_batch on a stream (r14): a re-encoded clip arriving two
    batches after its original pairs against the frame index with full
    containment and joins the original's cluster; a direct batch replay
    reproduces the pair partition (own-partition exclusion) and leaves
    the cluster table unchanged."""
    import os
    import shutil

    from commercepulse_data_pipeline_spark.operators.graph import (
        read_cluster_table,
    )
    from commercepulse_data_pipeline_spark.streaming.media import (
        video_hash_batch,
    )
    from commercepulse_data_pipeline_spark.streaming import batches

    w, h, n = 32, 24, 6
    pal_a = bytes(v for i in range(16) for v in (i * 16 + 4,) * 3)
    pal_re = bytes(min(255, v + 6) for v in pal_a)
    fa = _clip_frames("scroll_h", n, w, h)
    fb = _clip_frames("bands_v", n, w, h)
    drops = [
        [("orig", _clip_gif(fa, pal_a, w, h)), ("junk", b"not media")],
        [("other", _clip_gif(fb, pal_a, w, h))],
        [("reenc", _clip_gif(fa, pal_re, w, h))],
    ]
    incoming = str(tmp_path / "in")
    os.makedirs(incoming)
    for i, rows in enumerate(drops):
        spark.createDataFrame(rows, "media_id string, content binary").coalesce(
            1
        ).write.parquet(f"{incoming}/d{i}")
        for f in os.listdir(f"{incoming}/d{i}"):
            if f.endswith(".parquet"):
                os.rename(f"{incoming}/d{i}/{f}", f"{incoming}/b{i}_{f}")
        shutil.rmtree(f"{incoming}/d{i}")

    store = str(tmp_path / "store")
    q = batches.start(
        batches.drops(
            spark, incoming, "media_id string, content binary", max_files_per_trigger=1
        ),
        str(tmp_path / "ckpt"),
        lambda df, i: video_hash_batch(df, i, store, cluster=True),
        trigger_once=True,
    )
    q.awaitTermination()

    pairs = {(r.id_a, r.id_b): r for r in
             spark.read.parquet(f"{store}/pairs").collect()}
    assert set(pairs) == {("orig", "reenc")}
    assert pairs[("orig", "reenc")].frac_a == 1.0
    frames = spark.read.parquet(f"{store}/frames")
    assert frames.where("media_id = 'junk'").count() == 1  # one err row
    assert frames.where("err is null").count() == 3 * n

    table = sorted(
        map(tuple, read_cluster_table(spark, f"{store}/clusters").collect())
    )
    assert table == [("orig", "orig", 2), ("reenc", "orig", 2)]

    # direct replay of the pairing batch: identical pair partition,
    # unchanged cluster table
    before = sorted(map(tuple, spark.read.parquet(
        f"{store}/pairs/ingest_batch=2").collect()))
    last = spark.createDataFrame(drops[2], "media_id string, content binary")
    video_hash_batch(last, 2, store, cluster=True)
    after = sorted(map(tuple, spark.read.parquet(
        f"{store}/pairs/ingest_batch=2").collect()))
    assert after == before and len(after) == 1
    again = sorted(
        map(tuple, read_cluster_table(spark, f"{store}/clusters").collect())
    )
    assert again == table


def test_sample_frames_real_gif_timeline(spark):
    """sample_frames (r14): GIF payloads sample REAL frames — the GCE
    delay timeline picks the canvas displayed at each fps tick, each
    emitted as a PPM P6 payload that this module's own raster path
    decodes back to the exact frame; non-GIF payloads keep the
    deterministic stub contract."""
    from commercepulse_data_pipeline_spark.multimodal import (
        gif_frame_rasters,
        image_gray_raster,
        sample_frames,
    )

    w, h = 14, 9
    palette = bytes([250, 10, 10, 10, 250, 10, 10, 10, 250, 128, 128, 128])
    f1 = bytes((x // 3 + y) % 4 for y in range(h) for x in range(w))
    f2 = f1[::-1]
    gif = _gif_bytes(w, h, [f1, f2], palette, delays=[50, 100])  # 1.5s
    rasters = gif_frame_rasters(gif)

    media = spark.createDataFrame(
        [("clip", "video", gif)],
        "media_id string, modality string, content binary",
    )
    out = sorted(
        sample_frames(media, fps=2.0, max_frames=16).collect(),
        key=lambda r: r.frame_index,
    )
    # duration 1.5s at 2 fps -> 3 ticks: t=0 shows frame 0 (ends at
    # 0.5s), t=0.5 and t=1.0 show frame 1
    assert [r.frame_ts_sec for r in out] == [0.0, 0.5, 1.0]
    want = [rasters[0], rasters[1], rasters[1]]
    for r, exp in zip(out, want):
        got = image_gray_raster(bytes(r.frame))
        assert (got == exp).all()


def test_sample_frames_malformed_gif_err_row(spark):
    """r15: a payload that CLAIMS to be GIF but is corrupt yields one
    tolerant err row — never stub frames, never a task failure. The two
    payloads reproduce the crash shapes the r14 advice probe found: a
    truncated image descriptor (struct.error in the old decode walk) and
    a trailing bare extension byte (IndexError)."""
    from commercepulse_data_pipeline_spark.multimodal import sample_frames

    trunc_desc = b"GIF89a" + bytes([4, 0, 4, 0, 0, 0, 0]) + b"\x2c\x01"
    trailing_ext = b"GIF89a" + bytes([4, 0, 4, 0, 0, 0, 0]) + b"\x21"
    media = spark.createDataFrame(
        [("bad-desc", "video", trunc_desc), ("bad-ext", "video", trailing_ext)],
        "media_id string, modality string, content binary",
    )
    out = sample_frames(media, fps=1.0, max_frames=4).collect()
    assert len(out) == 2
    by_id = {r.media_id: r for r in out}
    for mid in ("bad-desc", "bad-ext"):
        r = by_id[mid]
        assert r.err is not None
        assert r.frame is None and r.frame_index is None


def test_sample_frames_zero_delay_gif_shows_first_frame(spark):
    """r15: a multi-frame GIF whose GCE delays are ALL zero samples
    frame 0 (what a renderer displays at t=0), not the last frame the
    old tick walk advanced to."""
    from commercepulse_data_pipeline_spark.multimodal import (
        gif_frame_rasters,
        image_gray_raster,
        sample_frames,
    )

    w, h = 8, 6
    palette = bytes([250, 10, 10, 10, 250, 10, 10, 10, 250, 128, 128, 128])
    f1 = bytes((x + y) % 4 for y in range(h) for x in range(w))
    f2 = bytes((x * y) % 4 for y in range(h) for x in range(w))
    gif = _gif_bytes(w, h, [f1, f2], palette, delays=[0, 0])
    rasters = gif_frame_rasters(gif)
    assert not (rasters[0] == rasters[1]).all()

    media = spark.createDataFrame(
        [("z", "video", gif)], "media_id string, modality string, content binary"
    )
    out = sample_frames(media, fps=1.0, max_frames=8).collect()
    assert len(out) == 1 and out[0].err is None
    assert (image_gray_raster(bytes(out[0].frame)) == rasters[0]).all()


def test_gif_frame_delays_matches_full_decode():
    """r15: the structure-only delay walk (no LZW) reads the same
    timeline as the full decode's return_delays form."""
    from commercepulse_data_pipeline_spark.multimodal import (
        _gif_frame_delays,
        gif_frame_rasters,
    )

    palette = bytes([250, 10, 10, 10, 250, 10, 10, 10, 250, 128, 128, 128])
    frames = [
        bytes((x + y + k) % 4 for y in range(7) for x in range(11))
        for k in range(4)
    ]
    gif = _gif_bytes(11, 7, frames, palette, delays=[25, 0, 100, 7])
    _, delays = gif_frame_rasters(gif, return_delays=True)
    assert _gif_frame_delays(gif) == delays == [25, 0, 100, 7]


def test_image_hash_batch_drops_degenerate_family(spark, tmp_path):
    """r15 streaming guard: a solid-color family (constant aHash) stops
    flooding the pair feed by default — the hash STORE still records
    every row — while drop_degenerate=False restores the old behavior."""
    import numpy as np

    from commercepulse_data_pipeline_spark.streaming.media import (
        image_hash_batch,
    )

    rng = np.random.default_rng(11)
    pic = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    near = pic.copy()
    near[::6, ::6] = np.clip(near[::6, ::6].astype(int) + 7, 0, 255)
    solid = np.full((16, 16), 77, dtype=np.uint8)
    rows = [("a", _ppm_from_gray(pic)), ("b", _ppm_from_gray(near))]
    rows += [(f"solid-{i}", _ppm_from_gray(solid)) for i in range(4)]
    batch = spark.createDataFrame(rows, "media_id string, content binary")

    store1 = str(tmp_path / "s1")
    image_hash_batch(batch, 0, store1, hamming_threshold=6)
    pairs = {(r.id_a, r.id_b) for r in
             spark.read.parquet(f"{store1}/pairs").collect()}
    assert pairs == {("a", "b")}
    # the store is policy-free: all six hash rows recorded
    assert spark.read.parquet(f"{store1}/hashes").count() == 6

    store2 = str(tmp_path / "s2")
    image_hash_batch(batch, 0, store2, hamming_threshold=6,
                     drop_degenerate=False)
    flooded = {(r.id_a, r.id_b) for r in
               spark.read.parquet(f"{store2}/pairs").collect()}
    assert len(flooded) == 1 + 6  # the real pair + C(4,2) solid junk
