"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct; all
Spark-side mechanics (schema, partition sizing, Arrow batch shape,
mapInPandas signatures) are real and tested. Decode is REAL pure-Python
for baseline JPEG, PNG, GIF, BMP, PPM/P6, RIFF/PCM WAV and FLAC —
including FLAC's compressed SAMPLES (fixed/LPC prediction + rice
residuals, bit-exact, CRC-verified) — and MP3/MP4/Ogg get real metadata
parsers (frame-walk / ISO-BMFF box-walk / page-walk: duration, sample
rate, track dimensions) (``real_decode``); only LOSSY-codec sample
decode (MP3 PCM, H.264 frames, Vorbis/Opus…) stays behind a
clearly-marked ``NotImplementedError``, and ``DeterministicFakeDecoder``
remains the test stand-in for arbitrary bytes.

Near-dup dedup covers all three modalities on ONE pair machinery
(``dedup.sig_hamming_pairs`` — the signature-agnostic SimHash pigeonhole
core): images via aHash/dHash over decoded rasters (BMP/PPM/PNG/GIF and,
r14, baseline JPEG — the dominant web-crawl format), video via per-frame
hashes + containment aggregation (``video_frame_hashes`` /
``video_neardup_pairs``, all-frames GIF decode), audio via a
gain-invariant temporal energy-envelope hash over REAL PCM
(``audio_pcm_mono`` / ``audio_ehash64`` — WAV and lossless FLAC).

Container parsing: each layout is walked by exactly ONE function —
GIF ``_gif_blocks`` (block events, no LZW), PNG ``_png_chunks``, RIFF
``_riff_chunks`` (WAV via ``_wav_chunks``, and WebP), FLAC
``_flac_stream``, TIFF ``_tiff_ifds``; BMP's header is read inline by
its two consumers (sharing those two lines would add code). The feature
path (``real_decode``), the hash raster path (``image_gray_raster``,
``gif_frame_rasters``) and the PCM path (``audio_pcm_mono``) keep their
own rules on top of that walk. The walks' bounds checks raise
ValueError, so a truncated container leaks no IndexError/struct.error
from them; the one IDAT inflate both PNG consumers share turns
``zlib.error`` into ValueError too.
``tests/test_multimodal.py::test_one_walker_per_container`` fails on a
second walker.

Scale design:
- media rows are big → ``repartition`` by size budget before mapInPandas
  so each Arrow batch stays within executor memory
  (``spark.sql.execution.arrow.maxRecordsPerBatch`` is the other knob);
- metadata-only queries never touch the binary column (column pruning —
  keep media in a separate parquet column so the scan skips it).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("modality", T.StringType()),  # image | audio | video
        T.StructField("mime_type", T.StringType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("modality", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_sec", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


class DeterministicFakeDecoder:
    """Test stand-in for a real codec: derives fake dimensions/features
    from the byte content deterministically, so the distributed plumbing
    (batching, schema, ordering-independence) is fully testable."""

    @staticmethod
    def decode(content: bytes, modality: str) -> dict:
        h = 0
        for b in (content or b"")[:64]:
            h = (h * 131 + b) % (1 << 31)
        return {
            "width": 64 + h % 1920 if modality == "image" else None,
            "height": 64 + (h >> 8) % 1080 if modality == "image" else None,
            "duration_sec": float(h % 3600) / 10.0 if modality in ("audio", "video") else None,
            "feature": [((h >> i) % 1000) / 1000.0 for i in range(8)],
        }


_FEATURE_BINS = 8


def _feature_from_bytes(data: bytes) -> list[float]:
    """``_FEATURE_BINS``-dim content summary: mean byte value per contiguous stripe,
    normalized to [0, 1]. Cheap, deterministic, library-free."""
    if not data:
        return [0.0] * _FEATURE_BINS
    n = len(data)
    out = []
    for i in range(_FEATURE_BINS):
        lo, hi = (i * n) // _FEATURE_BINS, ((i + 1) * n) // _FEATURE_BINS
        chunk = data[lo:hi] or data[lo : lo + 1]
        out.append(sum(chunk) / (len(chunk) * 255.0) if chunk else 0.0)
    return out


def _decode_bmp(content: bytes) -> dict:
    """BMP (Windows DIB): 14-byte file header ('BM', pixel-data offset at
    byte 10) + BITMAPINFOHEADER (int32 width at 18, int32 height at 22 —
    negative height = top-down rows)."""
    import struct

    if len(content) < 26:
        raise ValueError("truncated BMP header")
    pixel_off, width, height = struct.unpack_from("<I4xii", content, 10)
    pixels = content[pixel_off:]
    return {
        "width": abs(width),
        "height": abs(height),
        "duration_sec": None,
        "feature": _feature_from_bytes(pixels),
    }


_TIFF_TYPES = {1: "B", 3: "H", 4: "I"}  # BYTE, SHORT, LONG


def _tiff_ifds(content: bytes):
    """The one TIFF IFD walk (public TIFF 6.0 spec): byte-order mark
    ('II' little / 'MM' big) + magic 42 + first-IFD offset, then the IFD
    chain (a revisited offset ends it). Yields one list per IFD of
    ``(tag, type, count, values)`` entries — each entry is 12 bytes:
    tag, type, count, value-or-offset — where ``values`` is the decoded
    BYTE/SHORT/LONG tuple (inlined in the value field when it fits in 4
    bytes), or None for other types and for arrays past the payload."""
    import struct

    bo = {"II": "<", "MM": ">"}.get(content[:2].decode("latin1", "replace"))
    if bo is None or len(content) < 4 or struct.unpack_from(bo + "H", content, 2)[0] != 42:
        raise ValueError("not a TIFF header")
    if len(content) < 8:
        raise ValueError("truncated TIFF header")
    ifd = struct.unpack_from(bo + "I", content, 4)[0]
    seen = set()
    while ifd and ifd not in seen and ifd + 2 <= len(content):
        seen.add(ifd)
        n = struct.unpack_from(bo + "H", content, ifd)[0]
        entries = []
        for k in range(n):
            off = ifd + 2 + 12 * k
            if off + 12 > len(content):
                break
            tag, typ, cnt = struct.unpack_from(bo + "HHI", content, off)
            values = None
            if typ in _TIFF_TYPES:
                fmt = f"{bo}{cnt}{_TIFF_TYPES[typ]}"
                size = struct.calcsize(fmt)
                src = off + 8 if size <= 4 else struct.unpack_from(bo + "I", content, off + 8)[0]
                if src + size <= len(content):
                    values = struct.unpack_from(fmt, content, src)
            entries.append((tag, typ, cnt, values))
        yield entries
        nxt_off = ifd + 2 + 12 * n
        if nxt_off + 4 > len(content):
            return
        ifd = struct.unpack_from(bo + "I", content, nxt_off)[0]


def _decode_tiff(content: bytes) -> dict:
    """TIFF metadata extract over :func:`_tiff_ifds`: searches the IFD
    chain for a single SHORT(3) or LONG(4) value of tags 256/257
    (ImageWidth/ImageLength) — the raster itself may be packed/LZW/
    JPEG-coded; the curation-filter fields don't need it."""
    width = height = None
    for entries in _tiff_ifds(content):
        for tag, typ, cnt, values in entries:
            if tag in (256, 257) and cnt == 1 and typ in (3, 4):
                if tag == 256:
                    width = values[0]
                else:
                    height = values[0]
        if width is not None and height is not None:
            break
    if width is None or height is None:
        raise ValueError("TIFF without ImageWidth/ImageLength")
    return {
        "width": width,
        "height": height,
        "duration_sec": None,
        "feature": _feature_from_bytes(content),
    }


def _riff_chunks(content: bytes):
    """The one RIFF walk (WAV and WebP): yield ``(chunk_id, body)`` per
    chunk past the 12-byte 'RIFF' <size> <form> header. Chunks are
    word-aligned; a body is cut short where the payload ends."""
    import struct

    pos = 12
    while pos + 8 <= len(content):
        csz = struct.unpack_from("<I", content, pos + 4)[0]
        yield content[pos : pos + 4], content[pos + 8 : pos + 8 + csz]
        pos += 8 + csz + (csz & 1)


def _wav_chunks(content: bytes) -> tuple[tuple | None, bytes]:
    """WAV's two chunks off :func:`_riff_chunks`: ``(fmt, data)`` — the
    last valid 'fmt ' chunk as (format code, channels, rate, byte rate,
    block align, bits) or None, and the last 'data' body (b"" if none)."""
    import struct

    fmt, data = None, b""
    for cid, body in _riff_chunks(content):
        if cid == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
    return fmt, data


def _decode_wav(content: bytes) -> dict:
    """WAV (RIFF/PCM): 'fmt ' gives channels/rate/bits, 'data' gives
    payload size → duration = data_bytes / byte_rate."""
    fmt, data = _wav_chunks(content)
    if fmt is None or not fmt[3]:
        raise ValueError("WAV without a valid fmt chunk")
    return {
        "width": None,
        "height": None,
        "duration_sec": len(data) / float(fmt[3]),
        "feature": _feature_from_bytes(data),
    }


def _decode_webp(content: bytes) -> dict:
    """WebP (RIFF container, public container+bitstream specs): over
    :func:`_riff_chunks`, dimensions come from whichever variant is
    present —

    - ``VP8 `` (lossy): keyframe start code 0x9D 0x01 0x2A at payload
      bytes 3-5, then 14-bit width/height in the next two LE u16s;
    - ``VP8L`` (lossless): 0x2F signature byte, then 14-bit width-1 /
      height-1 bit-packed across the next 4 bytes;
    - ``VP8X`` (extended): 24-bit LE canvas width-1 / height-1 at payload
      bytes 4-9 (wins over per-frame dims — it IS the canvas).

    Animated WebP (ANMF frames) sums the 24-bit per-frame durations in
    ms, the same duration contract as the GIF decoder. Lossy SAMPLE
    decode (the VP8 DCT stream) stays behind the documented
    NotImplementedError boundary; every metadata field curation filters
    on is parsed here."""
    import struct

    if content[8:12] != b"WEBP":
        raise ValueError("RIFF container is not WEBP")
    width = height = None
    canvas = None
    dur_ms = 0
    animated = False
    for cid, body in _riff_chunks(content):
        if cid == b"VP8 " and len(body) >= 10:
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("VP8 chunk without a keyframe start code")
            width = struct.unpack_from("<H", body, 6)[0] & 0x3FFF
            height = struct.unpack_from("<H", body, 8)[0] & 0x3FFF
        elif cid == b"VP8L" and len(body) >= 5:
            if body[0] != 0x2F:
                raise ValueError("VP8L chunk without its signature byte")
            b = body[1:5]
            width = 1 + (((b[1] & 0x3F) << 8) | b[0])
            height = 1 + (((b[3] & 0x0F) << 10) | (b[2] << 2) | (b[1] >> 6))
        elif cid == b"VP8X" and len(body) >= 10:
            canvas = (
                1 + int.from_bytes(body[4:7], "little"),
                1 + int.from_bytes(body[7:10], "little"),
            )
        elif cid == b"ANMF" and len(body) >= 15:
            animated = True
            dur_ms += int.from_bytes(body[12:15], "little")
    if canvas is not None:
        width, height = canvas
    if width is None:
        raise ValueError("WEBP without a VP8 / VP8L / VP8X chunk")
    return {
        "width": width,
        "height": height,
        "duration_sec": (dur_ms / 1000.0) if animated else None,
        "feature": _feature_from_bytes(content[12:]),
    }


def _decode_ppm(content: bytes) -> dict:
    """PPM binary (P6): ASCII header 'P6 <width> <height> <maxval>' with
    #-comments, then raw RGB triplets."""
    fields: list[int] = []
    pos = 2
    while len(fields) < 3 and pos < len(content):
        c = content[pos : pos + 1]
        if c == b"#":  # comment to end of line
            while pos < len(content) and content[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        elif c.isdigit():
            start = pos
            while pos < len(content) and content[pos : pos + 1].isdigit():
                pos += 1
            fields.append(int(content[start:pos]))
        else:
            raise ValueError("malformed PPM header")
    if len(fields) < 3:
        raise ValueError("truncated PPM header")
    width, height, maxval = fields
    # The header terminator after maxval is ambiguous byte-wise: legal
    # variants (single space/newline, CRLF, trailing comment) differ in
    # length, and the FIRST raster byte may itself be whitespace- or
    # '#'-valued, so no forward scan can tell terminator from data. The
    # raster's size is exact though — 3·w·h samples (2 bytes each above
    # maxval 255) — so anchor it at EOF. Fall back to the single-byte
    # skip for truncated payloads.
    expected = 3 * width * height * (2 if maxval > 255 else 1)
    start = len(content) - expected
    pixels = content[start:] if start >= pos + 1 else content[pos + 1 :]
    return {
        "width": width,
        "height": height,
        "maxval": maxval,
        "duration_sec": None,
        "feature": _feature_from_bytes(pixels),
    }


def _gif_lzw_decode(min_code_size: int, data: bytes, max_pixels: int) -> bytes:
    """GIF's variable-width LZW (spec appendix F): codes are packed
    LSB-first; width starts at min_code_size+1 and grows when the table
    fills 2^width (capped at 12); CLEAR resets the table, END stops.
    Returns the palette-index string. ``min_code_size`` None (the
    payload ended inside the image descriptor) raises ValueError."""
    if min_code_size is None:
        raise ValueError("truncated GIF image descriptor")
    clear = 1 << min_code_size
    end_code = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    acc = accbits = ptr = 0
    prev: bytes | None = None
    while len(out) < max_pixels:
        while accbits < code_size:
            if ptr >= len(data):
                return bytes(out)  # truncated stream: keep what we have
            acc |= data[ptr] << accbits
            ptr += 1
            accbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        accbits -= code_size
        if code == end_code:
            break
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code < len(table):  # clear/end were handled above
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError("corrupt GIF LZW code")
        out += entry
        if prev is not None:
            table.append(prev + entry[:1])
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    return bytes(out[:max_pixels])


def _gif_subblocks(content: bytes, pos: int) -> tuple[bytes, int]:
    """Join a GIF sub-block chain (len-prefixed blocks, 0 ends) starting
    at ``pos``: returns (joined bytes, position past the terminator)."""
    data = bytearray()
    while pos < len(content) and content[pos] != 0:
        data += content[pos + 1 : pos + 1 + content[pos]]
        pos += content[pos] + 1
    return bytes(data), pos + 1


def _gif_blocks(content: bytes):
    """The one GIF block walk: every GIF consumer reads the container
    through it. Yields ``("screen", width, height, gct, bg_index)``
    first, then one event per block in file order:

    - ``("gce", body)`` per Graphic Control extension — its 4 body bytes
      (packed, delay lo/hi in centiseconds, transparent index), SHORTER
      when the payload ends inside it (each consumer keeps its own rule
      for that);
    - ``("image", left, top, w, h, packed, lct, min_code, data)`` per
      image descriptor — ``lct`` is b"" without a local table,
      ``min_code`` None when the payload ends first, ``data`` the joined
      raw LZW sub-blocks. No LZW decoding happens here.

    Structural errors raise ValueError when the walk reaches them, so a
    lazy consumer has already seen every block before them."""
    import struct

    if content[:6] not in (b"GIF87a", b"GIF89a") or len(content) < 13:
        raise ValueError("not a GIF")
    width, height = struct.unpack_from("<HH", content, 6)
    pos = 13
    gct = b""
    if content[10] & 0x80:
        gct = content[pos : pos + 3 * (2 << (content[10] & 7))]
        pos += 3 * (2 << (content[10] & 7))
    yield "screen", width, height, gct, content[11]
    while pos < len(content):
        block = content[pos]
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension
            if pos + 1 >= len(content):
                raise ValueError("truncated GIF extension")
            if content[pos + 1] == 0xF9 and pos + 2 < len(content) and content[pos + 2] >= 4:
                yield "gce", content[pos + 3 : pos + 7]
            _, pos = _gif_subblocks(content, pos + 2)
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(content):
                raise ValueError("truncated GIF image descriptor")
            left, top, fw, fh = struct.unpack_from("<HHHH", content, pos + 1)
            fpacked = content[pos + 9]
            pos += 10
            lct = b""
            if fpacked & 0x80:
                lct = content[pos : pos + 3 * (2 << (fpacked & 7))]
                pos += 3 * (2 << (fpacked & 7))
            min_code = content[pos] if pos < len(content) else None
            data, pos = _gif_subblocks(content, pos + 1)
            yield "image", left, top, fw, fh, fpacked, lct, min_code, data
        else:
            raise ValueError(f"unknown GIF block id 0x{block:02x}")


def _gif_deinterlace(rows):
    """Undo GIF interlace: rows are stored in four passes (8k, 8k+4,
    4k+2, 2k+1); return them top-down."""
    import numpy as np

    h = rows.shape[0]
    order = [*range(0, h, 8), *range(4, h, 8), *range(2, h, 4), *range(1, h, 2)]
    out = np.empty_like(rows)
    out[order] = rows
    return out


def _decode_gif(content: bytes) -> dict:
    """GIF87a/89a over :func:`_gif_blocks`: logical screen → dims; EVERY
    Graphic Control delay sums into the animation duration; the FIRST
    frame's raster is fully LZW-decoded and mapped through its (local or
    global) palette to RGB bytes for the feature histogram. Interlace
    only permutes row order, which the byte histogram is invariant to,
    so no de-interlace pass is needed."""
    walk = _gif_blocks(content)
    _, width, height, gct, _bg = next(walk)
    duration_cs = 0
    frames = 0
    first_frame: dict | None = None
    for kind, *ev in walk:
        if kind == "gce":
            if len(ev[0]) < 3:  # every delay is summed: both bytes must be there
                raise ValueError("truncated GIF extension")
            duration_cs += int.from_bytes(ev[0][1:3], "little")
            continue
        _left, _top, fw, fh, fpacked, lct, min_code, data = ev
        if min_code is None:
            raise ValueError("truncated GIF image descriptor")
        frames += 1
        if first_frame is None:
            idx = _gif_lzw_decode(min_code, data, fw * fh)
            pal = lct or gct
            first_frame = {
                "w": fw, "h": fh,
                "interlaced": bool(fpacked & 0x40),
                "rgb": b"".join(pal[3 * i : 3 * i + 3] for i in idx),
            }
    return {
        "width": width,
        "height": height,
        # animated GIF: delays are centiseconds; single frame → no duration
        "duration_sec": duration_cs / 100.0 if frames > 1 and duration_cs else None,
        "feature": _feature_from_bytes(first_frame["rgb"] if first_frame else b""),
        # raster consumers (image_gray_raster) read the first frame;
        # histogram consumers ignore the extra key
        "first_frame": first_frame,
    }


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type: 0 gray, 2 RGB, 3 palette-index, 4 gray+A, 6 RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(content: bytes) -> tuple[tuple, bytes, bytes]:
    """The one PNG chunk walk (IHDR, PLTE, IDAT until IEND) behind both
    PNG consumers: returns ``(ihdr, plte, idat)`` — the 7 IHDR fields
    (width, height, bit depth, color type, compression, filter,
    interlace), the PLTE body (b"" if none) and the joined IDAT stream.
    A later IHDR/PLTE overrides an earlier one; CRCs are not checked."""
    import struct

    if content[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = b""
    idat = bytearray()
    while pos + 8 <= len(content):
        clen, ctype = struct.unpack_from(">I4s", content, pos)
        body = content[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            if len(body) < 13:
                raise ValueError("truncated IHDR")
            ihdr = struct.unpack_from(">IIBBBBB", body, 0)
        elif ctype == b"PLTE":
            plte = bytes(body)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # length + type + payload-implied CRC
    if ihdr is None:
        raise ValueError("PNG without IHDR")
    return ihdr, plte, bytes(idat)


def _png_unfilter(idat: bytes, ihdr: tuple) -> bytes:
    """Inflate the IDAT stream and invert PNG per-scanline filtering
    (spec §9: None/Sub/Up/Average/Paeth) for the image ``ihdr``
    describes (its color type already validated). Each scanline is 1
    filter-type byte + ``stride`` data bytes; reconstruction references
    the previous (already reconstructed) line."""
    import zlib

    width, height, bit_depth, color_type = ihdr[:4]
    channels = _PNG_CHANNELS[color_type]
    # filtering operates on bytes: bpp = bytes per complete pixel, min 1
    bpp = max(1, (channels * bit_depth) // 8)
    stride = (width * channels * bit_depth + 7) // 8
    try:
        raw = zlib.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"bad PNG IDAT stream: {e}") from e
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        if pos + 1 + stride > len(raw):
            raise ValueError("truncated PNG raster")
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub: left neighbor
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth predictor
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(f"bad PNG filter type {ftype}")
        out += line
        prev = line
    return bytes(out)


def _decode_png(content: bytes) -> dict:
    """PNG (RFC 2083 / W3C spec), pure stdlib: :func:`_png_chunks` →
    IHDR dims + IDAT stream → zlib inflate → per-scanline un-filter.
    Handles all five filter types, bit depths 1/2/4/8/16, color types
    0/2/3/4/6. Adam7-interlaced files raise ValueError (rare on the web;
    a full deinterlacer is not worth the hot-path complexity — route
    those to a codec library build). The feature summarizes the
    RECONSTRUCTED raster, so identical images stored with different
    filter choices featurize identically — which raw-IDAT hashing would
    not give you."""
    ihdr, _plte, idat = _png_chunks(content)
    width, height, _depth, color_type, _comp, _filt, interlace = ihdr
    if interlace:
        raise ValueError("Adam7-interlaced PNG not supported by the stdlib decoder")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"bad PNG color type {color_type}")
    raster = _png_unfilter(idat, ihdr)
    return {
        "width": width,
        "height": height,
        "duration_sec": None,
        "feature": _feature_from_bytes(raster),
    }


# JPEG baseline-sequential decoder (ITU-T T.81 / ISO 10918-1 — public
# spec), pure stdlib + numpy. Zigzag ordering: position k in the entropy-
# coded stream maps to natural raster index _JPEG_ZIGZAG[k].
_JPEG_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)


def _jpeg_idct_matrix():
    """8×8 DCT-II basis C with C[u,x] = c(u)/2·cos((2x+1)uπ/16); the
    2-D IDCT is then Cᵀ·S·C (T.81 A.3.3)."""
    import math

    import numpy as np

    m = np.empty((8, 8))
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = (cu / 2.0) * math.cos((2 * x + 1) * u * math.pi / 16.0)
    return m


def _jpeg_huff_table(bits: list[int], vals: bytes) -> dict:
    """Canonical Huffman table from a DHT segment: (code_length, code) →
    symbol (T.81 C.2 code assignment)."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data with 0xFF00
    byte-unstuffing; restart markers are consumed by :meth:`sync_restart`."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy data")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                m = self.data[self.pos] if self.pos < len(self.data) else None
                if m == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError("unexpected marker inside entropy data")
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Byte-align and consume the RSTn marker at a restart interval."""
        self.nbits = 0
        while self.pos + 1 < len(self.data):
            if self.data[self.pos] == 0xFF and 0xD0 <= self.data[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected JPEG restart marker")


def _jpeg_extend(v: int, t: int) -> int:
    """Sign-extend a t-bit magnitude (T.81 F.2.2.1 EXTEND)."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _jpeg_decode_huff(reader: _JpegBitReader, table: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        if (length, code) in table:
            return table[(length, code)]
    raise ValueError("invalid JPEG huffman code")


def _jpeg_decode_block(reader, dc_tab, ac_tab, pred: int, qt):
    """One 8×8 block: DC diff + AC run-length pairs → dequantized
    natural-order coefficients (T.81 F.2.2)."""
    import numpy as np

    t = _jpeg_decode_huff(reader, dc_tab)
    pred += _jpeg_extend(reader.read_bits(t), t) if t else 0
    coef = np.zeros(64)
    coef[0] = pred * qt[0]
    k = 1
    while k < 64:
        rs = _jpeg_decode_huff(reader, ac_tab)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("JPEG AC coefficient index out of range")
        coef[_JPEG_ZIGZAG[k]] = _jpeg_extend(reader.read_bits(s), s) * qt[k]
        k += 1
    return coef.reshape(8, 8), pred


def _decode_jpeg(content: bytes) -> dict:
    """Baseline-sequential JPEG (SOF0: 8-bit, Huffman, single scan), pure
    stdlib + numpy: marker walk → DQT/DHT/SOF0/SOS, interleaved MCU
    entropy decode with restart-interval support (DRI/RSTn), dequantize →
    IDCT (numpy basis product) → chroma upsample (arbitrary h×v sampling
    factors incl. 4:2:0/4:2:2) → YCbCr→RGB. Progressive (SOF2),
    arithmetic-coded, hierarchical and 12-bit variants raise ValueError —
    route those to a codec-library build (the same boundary policy as
    Adam7 PNG). The feature summarizes the reconstructed interleaved
    raster, so the same image saved by different baseline encoders
    featurizes near-identically."""
    import struct

    import numpy as np

    if content[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qts: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None  # (width, height, [(comp_id, h, v, tq)])
    restart_interval = 0
    pos = 2
    scan = None
    while pos + 4 <= len(content):
        if content[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = content[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI / bare RST
            pos += 2
            continue
        if marker == 0xD9:  # EOI before SOS → structurally incomplete
            break
        seg_len = struct.unpack_from(">H", content, pos + 2)[0]
        body = content[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0x0F
                p += 1
                n = 64 * (2 if pq else 1)
                if pq:
                    qts[tq] = list(struct.unpack_from(f">{64}H", body, p))
                else:
                    qts[tq] = list(body[p : p + 64])
                p += n
        elif marker == 0xC4:  # DHT
            p = 0
            while p + 17 <= len(body):
                tc, th = body[p] >> 4, body[p] & 0x0F
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = body[p + 17 : p + 17 + n]
                (ac_tabs if tc else dc_tabs)[th] = _jpeg_huff_table(bits, vals)
                p += 17 + n
        elif marker == 0xC0 or marker == 0xC1:  # SOF0/1: baseline(+ext) huffman
            prec, height, width, ncomp = struct.unpack_from(">BHHB", body, 0)
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (width, height, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "only baseline-sequential JPEG (SOF0/1) supported by the stdlib decoder"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            ns = body[0]
            scan = [
                (body[1 + 2 * i], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0x0F)
                for i in range(ns)
            ]
            pos = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if frame is None or scan is None:
        raise ValueError("JPEG missing SOF/SOS")
    width, height, comps = frame
    if len(comps) == 1:
        # single-component scans are non-interleaved (T.81 A.2.2): the
        # data unit is ONE block regardless of declared sampling factors
        comps = [(comps[0][0], 1, 1, comps[0][3])]
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    by_id = {cid: (h, v, tq) for cid, h, v, tq in comps}
    idct = _jpeg_idct_matrix()
    planes = []
    meta = []  # (h, v, dc_tab, ac_tab, qt) in scan order
    for cid, td, ta in scan:
        h, v, tq = by_id[cid]
        planes.append(np.zeros((mcus_y * v * 8, mcus_x * h * 8)))
        meta.append((h, v, dc_tabs[td], ac_tabs[ta], qts[tq]))
    reader = _JpegBitReader(content, pos)
    preds = [0] * len(scan)
    mcu_count = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                reader.sync_restart()
                preds = [0] * len(scan)
            for ci, (h, v, dct, act, qt) in enumerate(meta):
                for byi in range(v):
                    for bxi in range(h):
                        coef, preds[ci] = _jpeg_decode_block(
                            reader, dct, act, preds[ci], qt
                        )
                        block = idct.T @ coef @ idct + 128.0
                        y0 = (my * v + byi) * 8
                        x0 = (mx * h + bxi) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = block
            mcu_count += 1
    full = []
    for ci, (h, v, *_rest) in enumerate(meta):
        up = planes[ci].repeat(vmax // v, axis=0).repeat(hmax // h, axis=1)
        full.append(up[:height, :width])
    if len(full) == 3:
        y, cb, cr = full
        r = y + 1.402 * (cr - 128.0)
        g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b = y + 1.772 * (cb - 128.0)
        raster = (
            np.clip(np.stack([r, g, b], axis=-1), 0, 255)
            .round()
            .astype(np.uint8)
            .tobytes()
        )
    else:
        raster = np.clip(full[0], 0, 255).round().astype(np.uint8).tobytes()
    return {
        "width": width,
        "height": height,
        "duration_sec": None,
        "feature": _feature_from_bytes(raster),
        # the full reconstructed raster (uint8, interleaved RGB for
        # 3-component scans, single gray plane otherwise) — consumed by
        # image_gray_raster so the perceptual-hash tier covers JPEG, the
        # dominant web-crawl format (r14; metadata consumers read named
        # fields via .get and ignore it)
        "raster": raster,
        "n_channels": 3 if len(full) == 3 else 1,
    }


# MPEG audio (MP3) header tables — ISO/IEC 11172-3 / 13818-3 public spec.
# Bitrate (kbps) by [version-class][layer][index 1..14]; index 0 = free
# format (frame length not derivable from the header → rejected).
_MP3_BITRATE = {
    # MPEG1
    (1, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (1, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (1, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    # MPEG2 / 2.5 (lower-sampling-frequency extensions share tables)
    (2, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (2, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (2, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
# Sample rate (Hz) by version bits (00=2.5, 10=2, 11=1) and 2-bit index.
_MP3_RATE = {
    0b11: (44100, 48000, 32000),
    0b10: (22050, 24000, 16000),
    0b00: (11025, 12000, 8000),
}


def _decode_mp3(content: bytes) -> dict:
    """MP3 metadata extract: skip any leading ID3v2 tag (synchsafe size),
    then walk MPEG audio frames — each 4-byte header gives version/layer/
    bitrate/sample-rate, the frame length follows arithmetically, and
    duration accumulates samples_per_frame / sample_rate per frame (so VBR
    streams are exact, no Xing header trusted). This is the metadata tier
    a curation pipeline filters on (duration, rate, bitrate class); PCM
    sample decode still needs a codec library."""
    pos = 0
    if content[:3] == b"ID3" and len(content) >= 10:
        # synchsafe 28-bit size; footer flag (bit 4 of flags) adds 10
        size = 0
        for b in content[6:10]:
            size = (size << 7) | (b & 0x7F)
        pos = 10 + size + (10 if content[5] & 0x10 else 0)
    duration = 0.0
    n_frames = 0
    payload_start = pos
    while pos + 4 <= len(content):
        if content[pos : pos + 3] == b"TAG":  # ID3v1 trailer
            break
        b1, b2, b3 = content[pos], content[pos + 1], content[pos + 2]
        if not (b1 == 0xFF and (b2 & 0xE0) == 0xE0):
            if n_frames:  # trailing junk after a valid stream — stop
                break
            pos += 1  # scan forward to the first sync word
            continue
        ver_bits = (b2 >> 3) & 0b11  # 00=2.5 01=reserved 10=2 11=1
        layer_bits = (b2 >> 1) & 0b11  # 01=III 10=II 11=I
        if ver_bits == 0b01 or layer_bits == 0b00:
            raise ValueError("reserved MPEG version/layer bits in frame header")
        layer = 4 - layer_bits  # 1, 2 or 3
        vclass = 1 if ver_bits == 0b11 else 2
        br_idx = (b3 >> 4) & 0xF
        sr_idx = (b3 >> 2) & 0b11
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("free-format or reserved bitrate/sample-rate index")
        bitrate = _MP3_BITRATE[(vclass, layer)][br_idx - 1] * 1000
        rate = _MP3_RATE[ver_bits][sr_idx]
        padding = (b3 >> 1) & 1
        if layer == 1:
            samples, frame_len = 384, (12 * bitrate // rate + padding) * 4
        else:
            samples = 1152 if (layer == 2 or vclass == 1) else 576
            frame_len = samples // 8 * bitrate // rate + padding
        duration += samples / float(rate)
        n_frames += 1
        pos += max(frame_len, 4)
    if not n_frames:
        raise ValueError("no MPEG audio frame found")
    return {
        "width": None,
        "height": None,
        "duration_sec": duration,
        "feature": _feature_from_bytes(content[payload_start:]),
    }


class _FlacBits:
    """Plain MSB-first bit reader (no byte-unstuffing — FLAC streams are
    raw), with byte-position tracking so frame CRC spans are sliceable."""

    __slots__ = ("data", "pos", "acc", "nbits")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read(self, n: int) -> int:
        while self.nbits < n:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC frame")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.nbits += 8
        self.nbits -= n
        v = (self.acc >> self.nbits) & ((1 << n) - 1)
        self.acc &= (1 << self.nbits) - 1
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.acc = 0
        self.nbits = 0


def _flac_crc8(data: bytes) -> int:
    """CRC-8, poly 0x07, init 0 (frame-header checksum per RFC 9639)."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    """CRC-16, poly 0x8005, init 0 (whole-frame checksum per RFC 9639)."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


# frame-header lookup tables (RFC 9639 §9.1): index = the 4-bit field
_FLAC_BLOCKSIZE = (
    None, 192, 576, 1152, 2304, 4608, "u8", "u16",
    256, 512, 1024, 2048, 4096, 8192, 16384, 32768,
)
_FLAC_RATE = (
    "si", 88200, 176400, 192000, 8000, 16000, 22050, 24000,
    32000, 44100, 48000, 96000, "u8k", "u16", "u16x10", None,
)
_FLAC_BPS = ("si", 8, 12, None, 16, 20, 24, 32)
# fixed-predictor coefficients by order (RFC 9639 §9.2.2)
_FLAC_FIXED = ((), (1,), (2, -1), (3, -3, 1), (4, -6, 4, -1))


def _flac_utf8_num(bits: "_FlacBits") -> int:
    """UTF-8-style variable-length frame/sample number (up to 36 bits)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    while b0 & (0x80 >> n):
        n += 1
    if n < 2 or n > 7:
        raise ValueError("malformed FLAC coded number")
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        c = bits.read(8)
        if (c & 0xC0) != 0x80:
            raise ValueError("malformed FLAC coded number continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _flac_residual(bits: "_FlacBits", block_size: int, order: int) -> list[int]:
    """Rice-coded residual section (RFC 9639 §9.2.7): 2-bit method picks
    4- or 5-bit rice parameters, 4-bit partition order; the all-ones
    parameter escapes to raw two's-complement residuals."""
    method = bits.read(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 + method
    escape = (1 << pbits) - 1
    porder = bits.read(4)
    nparts = 1 << porder
    if block_size % nparts:
        raise ValueError("FLAC partition order does not divide block size")
    out: list[int] = []
    for p in range(nparts):
        n = (block_size >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        param = bits.read(pbits)
        if param == escape:
            raw = bits.read(5)
            for _ in range(n):
                out.append(bits.read_signed(raw) if raw else 0)
        else:
            for _ in range(n):
                q = bits.unary()
                v = (q << param) | bits.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag → signed
    return out


def _flac_subframe(bits: "_FlacBits", block_size: int, bps: int) -> list[int]:
    """One subframe (RFC 9639 §9.2): constant / verbatim / fixed-order /
    LPC, each with optional wasted-bits shift."""
    if bits.read(1):
        raise ValueError("FLAC subframe padding bit set")
    ftype = bits.read(6)
    wasted = 0
    if bits.read(1):
        wasted = bits.unary() + 1
    eff = bps - wasted
    if ftype == 0:  # constant
        v = bits.read_signed(eff)
        samples = [v] * block_size
    elif ftype == 1:  # verbatim
        samples = [bits.read_signed(eff) for _ in range(block_size)]
    elif 8 <= ftype <= 12:  # fixed predictor, order 0-4
        order = ftype - 8
        samples = [bits.read_signed(eff) for _ in range(order)]
        resid = _flac_residual(bits, block_size, order)
        coefs = _FLAC_FIXED[order]
        for r in resid:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs))
            samples.append(r + pred)
    elif ftype >= 32:  # LPC, order 1-32
        order = ftype - 31
        samples = [bits.read_signed(eff) for _ in range(order)]
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = bits.read_signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [bits.read_signed(prec) for _ in range(order)]
        resid = _flac_residual(bits, block_size, order)
        for r in resid:
            pred = sum(c * samples[-1 - j] for j, c in enumerate(coefs)) >> shift
            samples.append(r + pred)
    else:
        raise ValueError("reserved FLAC subframe type")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def _flac_pcm(
    content: bytes, frames_start: int, si_rate: int, si_bps: int
) -> tuple[int, list[list[int]]]:
    """Decode every FLAC audio frame from ``frames_start``: returns
    (rate, per-channel sample lists) with bit-exact integers — FLAC is
    lossless. Verifies the CRC-8 header and CRC-16 frame checksums.
    Stereo decorrelation (left/side, right/side, mid/side) is undone per
    RFC 9639 §9.2.1 (the side channel carries one extra bit)."""
    bits = _FlacBits(content, frames_start)
    channels_out: list[list[int]] = []
    rate_out = si_rate
    while bits.pos < len(content):
        frame_head = bits.pos
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("lost FLAC frame sync")
        if bits.read(1):
            raise ValueError("reserved FLAC frame bit set")
        bits.read(1)  # blocking strategy (fixed/variable) — parse only
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        bps_code = bits.read(3)
        if bits.read(1):
            raise ValueError("reserved FLAC frame bit set")
        _flac_utf8_num(bits)  # frame/sample number
        bs = _FLAC_BLOCKSIZE[bs_code]
        if bs is None:
            raise ValueError("reserved FLAC block-size code")
        if bs == "u8":
            bs = bits.read(8) + 1
        elif bs == "u16":
            bs = bits.read(16) + 1
        sr = _FLAC_RATE[sr_code]
        if sr is None:
            raise ValueError("invalid FLAC sample-rate code")
        if sr == "si":
            sr = si_rate
        elif sr == "u8k":
            sr = bits.read(8) * 1000
        elif sr == "u16":
            sr = bits.read(16)
        elif sr == "u16x10":
            sr = bits.read(16) * 10
        rate_out = sr
        bps = _FLAC_BPS[bps_code]
        if bps is None:
            raise ValueError("reserved FLAC sample-size code")
        if bps == "si":
            bps = si_bps
        crc8 = bits.read(8)
        if crc8 != _flac_crc8(content[frame_head : bits.pos - 1]):
            raise ValueError("FLAC frame-header CRC-8 mismatch")
        if ch_code < 8:
            nch = ch_code + 1
            subs = [_flac_subframe(bits, bs, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            nch = 2
            # side channel is the 2nd except right/side, and carries +1 bit
            extra = (0, 1) if ch_code in (8, 10) else (1, 0)
            a = _flac_subframe(bits, bs, bps + extra[0])
            b = _flac_subframe(bits, bs, bps + extra[1])
            if ch_code == 8:  # left/side: right = left - side
                subs = [a, [l - s for l, s in zip(a, b)]]
            elif ch_code == 9:  # right/side: left = side + right
                subs = [[s + r for s, r in zip(a, b)], b]
            else:  # mid/side
                left, right = [], []
                for m, s in zip(a, b):
                    m2 = (m << 1) | (s & 1)
                    left.append((m2 + s) >> 1)
                    right.append((m2 - s) >> 1)
                subs = [left, right]
        else:
            raise ValueError("reserved FLAC channel assignment")
        bits.align()
        if len(content) < bits.pos + 2:
            raise ValueError("truncated FLAC frame footer")
        crc16 = int.from_bytes(content[bits.pos : bits.pos + 2], "big")
        if crc16 != _flac_crc16(content[frame_head : bits.pos]):
            raise ValueError("FLAC frame CRC-16 mismatch")
        bits.pos += 2
        if not channels_out:
            channels_out = [[] for _ in range(nch)]
        if len(channels_out) != nch:
            raise ValueError("FLAC channel count changed mid-stream")
        for ch, samples in zip(channels_out, subs):
            ch.extend(samples)
    return rate_out, channels_out


def _flac_stream(content: bytes) -> tuple[tuple | None, int, bool]:
    """The one FLAC metadata walk (public format spec / RFC 9639): after
    the 'fLaC' magic, metadata blocks — 1-byte header (bit 7 = last,
    bits 0-6 = type, 0 = STREAMINFO) + 24-bit big-endian length.
    STREAMINFO packs sample rate (20 bits), channels-1 (3),
    bits-per-sample-1 (5) and total samples (36). Returns ``(info,
    frames_start, has_frames)``: the FIRST STREAMINFO's (rate, bps,
    total) or None, where the audio frames start, and whether a frame
    sync code sits there. A zero rate is the caller's to reject."""
    pos = 4
    info = None
    while pos + 4 <= len(content):
        hdr = content[pos]
        blen = int.from_bytes(content[pos + 1 : pos + 4], "big")
        body = content[pos + 4 : pos + 4 + blen]
        if (hdr & 0x7F) == 0 and info is None:  # STREAMINFO
            if len(body) < 18:
                raise ValueError("truncated FLAC STREAMINFO block")
            rate = (body[10] << 12) | (body[11] << 4) | (body[12] >> 4)
            bps = ((body[12] & 0x01) << 4 | (body[13] >> 4)) + 1
            total = ((body[13] & 0x0F) << 32) | int.from_bytes(body[14:18], "big")
            info = (rate, bps, total)
        pos += 4 + blen
        if hdr & 0x80:
            break
    start = min(pos, len(content))
    has_frames = (
        start + 2 <= len(content)
        and content[start] == 0xFF
        and (content[start + 1] & 0xFC) == 0xF8
    )
    return info, start, has_frames


def _decode_flac(content: bytes) -> dict:
    """FLAC decode over :func:`_flac_stream`. When audio frames follow
    the metadata, the SAMPLES are decoded too (:func:`_flac_pcm` —
    constant/verbatim/fixed/LPC subframes, rice residuals, stereo
    decorrelation, CRC-verified; bit-exact, FLAC is lossless) and the
    feature summarizes the reconstructed PCM; a metadata-only payload
    falls back to the STREAMINFO duration."""
    info, frames_start, has_frames = _flac_stream(content)
    if info is None:
        raise ValueError("FLAC container without a STREAMINFO block")
    rate, bps, total = info
    if not rate:
        raise ValueError("FLAC STREAMINFO with zero sample rate")
    if not has_frames:
        return {
            "width": None,
            "height": None,
            "duration_sec": total / float(rate),
            "feature": _feature_from_bytes(content[frames_start:]),
        }
    pcm_rate, channels = _flac_pcm(content, frames_start, rate, bps)
    n = len(channels[0]) if channels else 0
    nbytes = (bps + 7) // 8
    pcm = bytearray()
    for i in range(n):
        for ch in channels:
            pcm += int(ch[i]).to_bytes(nbytes, "little", signed=True)
    # frame headers may override the STREAMINFO rate (the u8k/u16/u16x10
    # header codes exist for exactly that); when they do, the frames are
    # the truth and the duration divides by the frame rate
    return {
        "width": None,
        "height": None,
        "duration_sec": (total or n) / float(pcm_rate or rate),
        "feature": _feature_from_bytes(bytes(pcm)),
    }


def _ogg_pages(content: bytes):
    """Yield (header_type, granule, serial, payload) per Ogg page (RFC
    3533): 'OggS' capture + version 0, 1-byte type flags, 64-bit LE
    granule position, 32-bit serial, page sequence, CRC, segment count +
    lacing table sizing the payload."""
    import struct

    pos = 0
    while pos + 27 <= len(content):
        if content[pos : pos + 4] != b"OggS" or content[pos + 4] != 0:
            raise ValueError("malformed Ogg capture pattern")
        htype = content[pos + 5]
        granule = struct.unpack_from("<q", content, pos + 6)[0]
        serial = struct.unpack_from("<I", content, pos + 14)[0]
        nseg = content[pos + 26]
        lacing = content[pos + 27 : pos + 27 + nseg]
        if len(lacing) < nseg:
            raise ValueError("truncated Ogg lacing table")
        body0 = pos + 27 + nseg
        plen = sum(lacing)
        yield htype, granule, serial, content[body0 : body0 + plen]
        pos = body0 + plen


def _decode_ogg(content: bytes) -> dict:
    """Ogg container metadata extract (RFC 3533 page walk + Vorbis I /
    Opus (RFC 7845) identification headers): the BOS page of the first
    audio stream gives codec + rate/channels; the stream's LAST page
    granule position gives total samples — Vorbis counts PCM frames at
    the stream rate, Opus counts 48 kHz samples with pre-skip subtracted.
    Compressed-sample decode still needs a codec library."""
    import struct

    rate = None
    pre_skip = 0
    is_opus = False
    audio_serial = None
    last_granule = 0
    for htype, granule, serial, payload in _ogg_pages(content):
        if htype & 0x02 and audio_serial is None:  # beginning-of-stream
            if payload[:7] == b"\x01vorbis" and len(payload) >= 16:
                rate = struct.unpack_from("<I", payload, 12)[0]
                audio_serial = serial
            elif payload[:8] == b"OpusHead" and len(payload) >= 12:
                pre_skip = struct.unpack_from("<H", payload, 10)[0]
                rate = 48000  # Opus granule positions are ALWAYS 48 kHz
                is_opus = True
                audio_serial = serial
        if serial == audio_serial and granule >= 0:
            last_granule = max(last_granule, granule)
    if rate is None:
        raise ValueError("Ogg container without a Vorbis/Opus id header")
    samples = max(0, last_granule - (pre_skip if is_opus else 0))
    return {
        "width": None,
        "height": None,
        "duration_sec": samples / float(rate),
        "feature": _feature_from_bytes(content),
    }


def _mp4_boxes(content: bytes, start: int, end: int):
    """Yield (box_type, body_start, body_end) over an ISO-BMFF box list.
    Handles 64-bit largesize (size==1) and to-end boxes (size==0)."""
    import struct

    pos = start
    while pos + 8 <= end:
        size = struct.unpack_from(">I", content, pos)[0]
        btype = content[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                break
            size = struct.unpack_from(">Q", content, pos + 8)[0]
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < body - pos:
            raise ValueError("malformed ISO-BMFF box size")
        yield btype, body, min(pos + size, end)
        pos += size


def _decode_mp4(content: bytes) -> dict:
    """MP4/ISO-BMFF metadata extract (ISO/IEC 14496-12 public spec): walk
    the box tree — mvhd gives timescale+duration, the first video trak's
    tkhd gives 16.16-fixed width/height, hdlr tells track kinds. Sample
    decode (H.264/AAC) still needs a codec library; this tier is what a
    corpus pipeline filters/partitions on."""
    import struct

    duration_sec = None
    width = height = None
    has_video = False
    for btype, b0, b1 in _mp4_boxes(content, 0, len(content)):
        if btype != b"moov":
            continue
        for ctype, c0, c1 in _mp4_boxes(content, b0, b1):
            if ctype == b"mvhd" and c1 - c0 >= 20:
                ver = content[c0]
                if ver == 1:
                    timescale = struct.unpack_from(">I", content, c0 + 20)[0]
                    dur = struct.unpack_from(">Q", content, c0 + 24)[0]
                else:
                    timescale = struct.unpack_from(">I", content, c0 + 12)[0]
                    dur = struct.unpack_from(">I", content, c0 + 16)[0]
                if timescale:
                    duration_sec = dur / float(timescale)
            elif ctype == b"trak":
                t_w = t_h = None
                t_video = False
                for ttype, t0, t1 in _mp4_boxes(content, c0, c1):
                    if ttype == b"tkhd":
                        off = t0 + (88 if content[t0] == 1 else 76)
                        if off + 8 <= t1:
                            w_fx, h_fx = struct.unpack_from(">II", content, off)
                            t_w, t_h = w_fx >> 16, h_fx >> 16
                    elif ttype == b"mdia":
                        for mtype, m0, m1 in _mp4_boxes(content, t0, t1):
                            if mtype == b"hdlr" and m1 - m0 >= 12:
                                t_video = content[m0 + 8 : m0 + 12] == b"vide"
                if t_video and not has_video:
                    has_video, width, height = True, t_w, t_h
    if duration_sec is None:
        raise ValueError("ISO-BMFF container without a moov/mvhd box")
    return {
        "width": width,
        "height": height,
        "duration_sec": duration_sec,
        "feature": _feature_from_bytes(content),
    }


def _decode_heif(content: bytes) -> dict:
    """HEIC/AVIF still-image metadata extract (ISO-BMFF item-based
    layout, ISO/IEC 23008-12 public spec): dimensions live in the
    ``meta`` box's property container — meta (a FULL box: 4 bytes of
    version/flags before children) → iprp → ipco → ispe (FULL box:
    version/flags + u32 width + u32 height). Multiple ispe properties
    (thumbnail + primary) may exist; the LARGEST is the primary image.
    HEVC/AV1 tile decode stays behind the lossy-codec boundary; this
    tier is what curation filters on."""
    import struct

    best = None
    for btype, b0, b1 in _mp4_boxes(content, 0, len(content)):
        if btype != b"meta":
            continue
        for ptype, p0, p1 in _mp4_boxes(content, b0 + 4, b1):
            if ptype != b"iprp":
                continue
            for ctype, c0, c1 in _mp4_boxes(content, p0, p1):
                if ctype != b"ipco":
                    continue
                for itype, i0, i1 in _mp4_boxes(content, c0, c1):
                    if itype == b"ispe" and i1 - i0 >= 12:
                        w, h = struct.unpack_from(">II", content, i0 + 4)
                        if best is None or w * h > best[0] * best[1]:
                            best = (w, h)
    if best is None:
        raise ValueError("HEIF/AVIF container without an ispe property")
    return {
        "width": best[0],
        "height": best[1],
        "duration_sec": None,
        "feature": _feature_from_bytes(content),
    }


_HEIF_BRANDS = (b"heic", b"heix", b"hevc", b"mif1", b"msf1", b"avif", b"avis")


def real_decode(content: bytes, modality: str) -> dict:
    """Production decode hook: REAL pure-Python decoders/parsers —
    baseline JPEG (huffman + dequant + IDCT), PNG (zlib inflate +
    un-filter), GIF (full LZW raster decode + palette mapping +
    animation-delay duration), BMP and PPM/P6 images, RIFF/PCM WAV
    audio, FLAC with full SAMPLE decode (fixed/LPC prediction + rice
    residuals + stereo decorrelation, bit-exact and CRC-verified —
    lossless, so no codec library is needed), MP3 frame-walk,
    MP4/ISO-BMFF box-walk and Ogg (Vorbis/Opus) page-walk metadata
    (duration / sample rate / track dimensions — the fields curation
    filters on) — dispatched on magic bytes, so real bytes flow through
    the distributed path end to end (tested in tests/test_multimodal.py).
    LOSSY-codec sample decode (MP3 PCM, H.264 frames, Vorbis/Opus) raises
    NotImplementedError — wire ffmpeg/torchaudio here on a cluster
    image that has them."""
    content = content or b""
    if content[:2] == b"\xff\xd8":
        return _decode_jpeg(content)
    if content[:8] == _PNG_MAGIC:
        return _decode_png(content)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(content)
    if content[:2] == b"BM":
        return _decode_bmp(content)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return _decode_tiff(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return _decode_wav(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        return _decode_webp(content)
    if content[:2] == b"P6":
        return _decode_ppm(content)
    if content[:4] == b"fLaC":
        return _decode_flac(content)
    if content[:4] == b"OggS":
        return _decode_ogg(content)
    if content[4:8] == b"ftyp":
        if content[8:12] in _HEIF_BRANDS:
            return _decode_heif(content)
        return _decode_mp4(content)
    if content[:3] == b"ID3" or (
        len(content) >= 2 and content[0] == 0xFF and (content[1] & 0xE0) == 0xE0
    ):
        return _decode_mp3(content)
    raise NotImplementedError(
        f"no pure-Python decoder for this payload (modality={modality}, "
        f"magic={content[:4]!r}); compressed codecs (ffmpeg/torchaudio) "
        "are not installed in this environment"
    )


def _chunked(batches, batch_rows: int):
    """Re-slice incoming Arrow batches to ≤ batch_rows rows each, INSIDE
    the worker. This bounds the decode working set and per-yield output
    size without mutating ``spark.sql.execution.arrow.maxRecordsPerBatch``
    on the shared session (engine code must not leave lasting side effects
    on a driver-owned session — session.py contract)."""
    for pdf in batches:
        for lo in range(0, len(pdf), batch_rows):
            yield pdf.iloc[lo : lo + batch_rows]


def extract_features(
    media: DataFrame, *, decoder=DeterministicFakeDecoder.decode, batch_rows: int = 64
) -> DataFrame:
    """Decode + featurize via mapInPandas (Arrow-batched, no per-row
    Python overhead). ``batch_rows`` bounds rows-per-decode-chunk for
    large blobs — at 100 TB this is the knob that keeps executors from
    OOMing on 4K video rows (pair with a caller-side
    ``arrow.maxRecordsPerBatch`` / size-based repartition to also bound
    the Arrow transfer batch). Strict: an undecodable payload fails the
    task — :func:`extract_features_tolerant` with ``on_error="raise"``,
    minus its ``decode_error`` column."""
    return extract_features_tolerant(
        media, decoder=decoder, batch_rows=batch_rows, on_error="raise"
    ).drop("decode_error")


# fresh StructType — StructType.add MUTATES its receiver, which would
# corrupt the shared FEATURE_SCHEMA
FEATURE_ERR_SCHEMA = T.StructType(
    [*FEATURE_SCHEMA.fields, T.StructField("decode_error", T.StringType())]
)


def extract_features_tolerant(
    media: DataFrame,
    *,
    decoder=DeterministicFakeDecoder.decode,
    batch_rows: int = 64,
    on_error: str = "null",
) -> DataFrame:
    """The one feature-row loop: :func:`extract_features` with a per-row
    error boundary — undecodable payloads yield NULL fields +
    ``decode_error`` instead of failing the task (``on_error="raise"``
    restores strict mode)."""
    import pandas as pd

    strict = on_error == "raise"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in _chunked(batches, batch_rows):
            out = []
            for _, row in pdf.iterrows():
                rec = {
                    "media_id": row["media_id"],
                    "modality": row["modality"],
                    "width": None,
                    "height": None,
                    "duration_sec": None,
                    "feature": None,
                    "decode_error": None,
                }
                try:
                    d = decoder(row["content"], row["modality"])
                    rec.update(
                        width=d.get("width"),
                        height=d.get("height"),
                        duration_sec=d.get("duration_sec"),
                        feature=d.get("feature"),
                    )
                except Exception as exc:  # noqa: BLE001 — quarantine, don't wedge
                    if strict:
                        raise
                    rec["decode_error"] = f"{type(exc).__name__}: {exc}"
                out.append(rec)
            yield pd.DataFrame(
                out, columns=[f.name for f in FEATURE_ERR_SCHEMA.fields]
            )

    return media.select("media_id", "modality", "content").mapInPandas(
        run, FEATURE_ERR_SCHEMA
    )


# ---------------------------------------------------------------------------
# Image perceptual hashing (r13): near-dup dedup for the image modality
# ---------------------------------------------------------------------------
# aHash (average hash — the classic perceptual fingerprint, public
# algorithm): grayscale -> 8x8 box-averaged grid -> threshold by the grid
# mean -> 64-bit signature. Two encodings of the SAME picture (BMP vs PPM
# vs PNG filter choices), or a re-save with mild noise/brightness shift,
# land within a few Hamming bits — so the TEXT near-dup machinery
# (dedup.sig_hamming_pairs, the SimHash pigeonhole block-LSH) extends to
# images unchanged: hash once, block-join, verify with bit_count(xor).

_GRAY_WEIGHTS = (299, 587, 114)  # ITU-R BT.601 luma, integer form


def image_gray_raster(content: bytes):
    """Decode a supported still-image payload to an (h, w) uint8
    grayscale numpy raster. Supported: PPM P6 (maxval <= 255), BMP
    (24-bit uncompressed), PNG (8-bit depth, color types 0/2,
    non-interlaced), GIF (first frame, LZW-decoded through its palette,
    interlace undone), baseline JPEG (SOF0/1 — huffman + dequant + IDCT
    + upsample via :func:`_decode_jpeg`; progressive/arithmetic stay
    rejected) — the formats whose full rasters the pure-stdlib decoders
    reconstruct. Anything else raises ValueError (the tolerant wrapper
    in :func:`image_ahash` turns that into an err row)."""
    import struct

    import numpy as np

    if content[:2] == b"\xff\xd8":
        # JPEG — the dominant web-crawl image format. _decode_jpeg
        # reconstructs the full raster (it always did, for the feature
        # summary); hashing goes through the SAME RGB -> BT.601 integer
        # luma as every other format, so cross-format re-encodes of one
        # scene land within a small Hamming radius.
        meta = _decode_jpeg(content)
        w, h = meta["width"], meta["height"]
        buf = np.frombuffer(meta["raster"], dtype=np.uint8)
        if meta["n_channels"] == 3:
            return _luma(buf.reshape(h, w, 3))
        return buf.reshape(h, w).copy()
    if content[:2] == b"P6":
        meta = _decode_ppm(content)
        w, h = meta["width"], meta["height"]
        if meta["maxval"] > 255:
            # 16-bit P6 stores 2 bytes/sample; decoding it as 1 byte
            # would yield a garbage raster and a WRONG non-NULL hash —
            # raise so the tolerant wrapper emits an err row instead
            raise ValueError(
                f"unsupported PPM maxval {meta['maxval']} (> 255) for "
                "raster decode"
            )
        expected = 3 * w * h
        px = content[len(content) - expected:]
        if len(px) < expected:
            raise ValueError("truncated PPM raster")
        arr = np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3)
        return _luma(arr)
    if content[:2] == b"BM":
        if len(content) < 34:
            raise ValueError("truncated BMP header")
        pixel_off, w, h_signed, bpp, comp = struct.unpack_from("<I4xii2xHI", content, 10)
        if bpp != 24 or comp != 0:
            raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")
        h = abs(h_signed)
        stride = ((w * 3 + 3) // 4) * 4
        need = stride * h
        px = content[pixel_off:pixel_off + need]
        if len(px) < need:
            raise ValueError("truncated BMP raster")
        rows = np.frombuffer(px, dtype=np.uint8).reshape(h, stride)[:, : w * 3]
        arr = rows.reshape(h, w, 3)[..., ::-1]  # BGR -> RGB
        if h_signed > 0:
            arr = arr[::-1]  # bottom-up storage
        return _luma(arr)
    if content[:6] in (b"GIF87a", b"GIF89a"):
        frame = _decode_gif(content)["first_frame"]
        if not frame:
            raise ValueError("GIF without an image frame")
        fw, fh, rgb = frame["w"], frame["h"], frame["rgb"]
        if len(rgb) != 3 * fw * fh:
            raise ValueError("GIF palette/raster size mismatch")
        arr = np.frombuffer(rgb, dtype=np.uint8).reshape(fh, fw, 3)
        if frame["interlaced"]:
            arr = _gif_deinterlace(arr)
        return _luma(arr)
    if content[:8] == _PNG_MAGIC:
        ihdr, plte, idat = _png_chunks(content)
        width, height, bit_depth, color_type, _c, _f, interlace = ihdr
        # all five 8-bit color types decode (r14 adds palette 3 and the
        # alpha types 4/6 — alpha is DROPPED: hashing wants the rendered
        # luma, and near-dup pairing across a re-save that strips alpha
        # should still land); Adam7 interlace and non-8-bit depths stay
        # the documented codec boundary
        if interlace or bit_depth != 8 or color_type not in _PNG_CHANNELS:
            raise ValueError(
                "unsupported PNG for raster decode "
                f"(depth={bit_depth}, color_type={color_type}, "
                f"interlace={interlace})"
            )
        ch = _PNG_CHANNELS[color_type]
        raster = _png_unfilter(idat, ihdr)
        arr = np.frombuffer(raster, dtype=np.uint8).reshape(
            height, width, ch
        )
        if color_type == 3:  # palette indices -> RGB via PLTE
            if not plte or len(plte) % 3:
                raise ValueError("palette PNG without a valid PLTE chunk")
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            idx = arr.reshape(height, width)
            if idx.max() >= len(pal):
                raise ValueError("PNG palette index out of range")
            return _luma(pal[idx])
        if color_type == 0:
            return arr.reshape(height, width).copy()
        if color_type == 4:  # gray + alpha: keep the gray plane
            return arr[..., 0].copy()
        return _luma(arr[..., :3])  # 2 (RGB) and 6 (RGBA)
    if content[:4] in (b"II*\x00", b"MM\x00*"):
        return _tiff_gray_raster(content)
    raise ValueError("unsupported image container for raster decode")


def _tiff_gray_raster(content: bytes):
    """Uncompressed baseline TIFF (6.0) raster decode for the hash tier
    (r14): first IFD, strip-organized, chunky planar, 8 bits/sample,
    photometric 0/1 (grayscale, WhiteIsZero inverted) or 2 (RGB ->
    BT.601 luma). Compressed/tiled/planar variants raise ValueError (the
    tolerant wrapper emits an err row — the same boundary policy as
    every other format)."""
    import numpy as np

    entries = next(_tiff_ifds(content), None)
    if entries is None:
        raise ValueError("TIFF without a readable IFD")
    tags = {tag: values for tag, _typ, _cnt, values in entries if values is not None}

    def one(tag: int, default=None):
        v = tags.get(tag)
        return v[0] if v else default

    width, height = one(256), one(257)
    if not width or not height:
        raise ValueError("TIFF without ImageWidth/ImageLength")
    if one(259, 1) != 1:
        raise ValueError("compressed TIFF raster unsupported (hash tier)")
    if one(284, 1) != 1:
        raise ValueError("planar TIFF raster unsupported (hash tier)")
    spp = one(277, 1)
    bits = tags.get(258, (8,) * spp)
    if spp not in (1, 3) or any(b != 8 for b in bits):
        raise ValueError(
            f"unsupported TIFF layout (spp={spp}, bits={bits}) for raster decode"
        )
    photo = one(262, 1)
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("TIFF without strip offsets/byte counts")
    data = b"".join(
        content[o : o + c] for o, c in zip(offsets, counts)
    )
    need = width * height * spp
    if len(data) < need:
        raise ValueError("truncated TIFF strips")
    arr = np.frombuffer(data[:need], dtype=np.uint8).reshape(
        height, width, spp
    )
    if spp == 3:
        if photo != 2:
            raise ValueError(f"unsupported TIFF photometric {photo} for RGB")
        return _luma(arr)
    gray = arr.reshape(height, width)
    if photo == 0:  # WhiteIsZero: invert to the BlackIsZero convention
        return (255 - gray).astype(np.uint8)
    if photo != 1:
        raise ValueError(f"unsupported TIFF photometric {photo} for grayscale")
    return gray.copy()


def _luma(rgb) -> "object":
    """Integer BT.601 luma over an (h, w, 3) uint8 array -> (h, w) uint8
    (floor division — engine/platform exact)."""
    import numpy as np

    r = rgb[..., 0].astype(np.uint32)
    g = rgb[..., 1].astype(np.uint32)
    b = rgb[..., 2].astype(np.uint32)
    return (
        (r * _GRAY_WEIGHTS[0] + g * _GRAY_WEIGHTS[1] + b * _GRAY_WEIGHTS[2])
        // 1000
    ).astype(np.uint8)


def ahash64(gray) -> int:
    """64-bit average hash of an (h, w) uint8 grayscale raster: 8x8
    box-averaged grid, bit i*8+j set iff its cell mean >= the grid mean.
    All arithmetic is integer (cell sums, floor-divided means; the final
    comparison uses the exact integer grid total), so the hash replays
    bit-for-bit anywhere. Returned as a SIGNED 64-bit int (two's
    complement for bit 63 — the simhash storage convention, so the
    existing Hamming machinery applies unchanged)."""
    h, w = gray.shape
    if h < 1 or w < 1:
        raise ValueError("empty raster")
    cells = []
    for i in range(8):
        r0, r1 = (i * h) // 8, ((i + 1) * h) // 8
        r1 = max(r1, r0 + 1) if r0 < h else h
        r0 = min(r0, h - 1)
        for j in range(8):
            c0, c1 = (j * w) // 8, ((j + 1) * w) // 8
            c1 = max(c1, c0 + 1) if c0 < w else w
            c0 = min(c0, w - 1)
            block = gray[r0:r1, c0:c1]
            cells.append((int(block.sum()), block.size))
    # exact mean comparison: cell_mean >= grid_mean without floats —
    # (cell_sum / cell_n) >= (total_sum / total_n) <=>
    # cell_sum * total_n >= total_sum * cell_n (all positive ints)
    total_sum = sum(s for s, _ in cells)
    total_n = sum(n for _, n in cells)
    sig = 0
    for b, (s, n) in enumerate(cells):
        if s * total_n >= total_sum * n:
            sig |= 1 << b
    if sig >= 1 << 63:
        sig -= 1 << 64
    return sig


def dhash64(gray) -> int:
    """64-bit difference hash (dHash — the gradient companion to aHash,
    public algorithm): box-average the raster to an 8-row × 9-column
    grid, bit i*8+j set iff cell (i, j) < cell (i, j+1) — each bit is a
    LOCAL horizontal gradient sign, so dHash is invariant to global
    brightness/contrast shifts that move every aHash cell across the
    global mean together. Exact integer comparison per bit
    (sum_a · n_b < sum_b · n_a); same signed-64 storage convention as
    :func:`ahash64`, so the Hamming machinery applies unchanged.
    Near-dup practice: require BOTH hashes within radius (two-signal,
    the score_pairs philosophy) or pick dHash alone for photographic
    content with exposure variation."""
    h, w = gray.shape
    if h < 1 or w < 1:
        raise ValueError("empty raster")

    def cell(i, j, rows, cols):
        r0, r1 = (i * h) // rows, ((i + 1) * h) // rows
        r1 = max(r1, r0 + 1) if r0 < h else h
        r0 = min(r0, h - 1)
        c0, c1 = (j * w) // cols, ((j + 1) * w) // cols
        c1 = max(c1, c0 + 1) if c0 < w else w
        c0 = min(c0, w - 1)
        block = gray[r0:r1, c0:c1]
        return int(block.sum()), block.size

    grid = [[cell(i, j, 8, 9) for j in range(9)] for i in range(8)]
    sig = 0
    for i in range(8):
        for j in range(8):
            (sa, na), (sb, nb) = grid[i][j], grid[i][j + 1]
            if sa * nb < sb * na:
                sig |= 1 << (i * 8 + j)
    if sig >= 1 << 63:
        sig -= 1 << 64
    return sig


def _exact_frame(records: list, schema: "T.StructType") -> "pd.DataFrame":
    """Build the pandas chunk a hash UDF yields WITHOUT pandas' silent
    None -> float64 column coercion: `pd.DataFrame(list_of_dicts)` turns
    an int column containing any None into float64, ROUNDING every
    64-bit hash in the chunk past 2^53 (caught r14: an undecodable
    payload sharing an Arrow chunk with real ones corrupted its
    neighbors' hashes — test frames had hidden it because tiny
    DataFrames spread rows one-per-partition). Object-dtype Series
    preserve python ints exactly; Arrow converts them to the declared
    schema types on the way out."""
    import pandas as pd

    return pd.DataFrame(
        {
            f.name: pd.Series([r.get(f.name) for r in records], dtype=object)
            for f in schema.fields
        },
        columns=[f.name for f in schema.fields],
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("err", T.StringType()),
    ]
)


def image_ahash(
    media: DataFrame,
) -> DataFrame:
    """Perceptual aHash per image row, Arrow-batched (mapInPandas — the
    sanctioned Python path; binary payloads never convert row-at-a-time).
    Undecodable/unsupported payloads yield (ahash NULL, err message)
    instead of failing the job — the extract_features_tolerant contract.
    Output joins the text near-dup machinery directly:
    ``dedup.sig_hamming_pairs(image_ahash(media).where("ahash is not
    null"), id_col="media_id", sig_col="ahash")``."""
    src = media.select(F.col("media_id").cast("string").alias("media_id"), "content")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in _chunked(batches, 64):
            out = []
            for _, row in pdf.iterrows():
                rec = {
                    "media_id": row["media_id"], "ahash": None, "dhash": None,
                    "width": None, "height": None, "err": None,
                }
                try:
                    gray = image_gray_raster(bytes(row["content"]))
                    rec["height"], rec["width"] = (
                        int(gray.shape[0]), int(gray.shape[1])
                    )
                    rec["ahash"] = ahash64(gray)
                    rec["dhash"] = dhash64(gray)
                except Exception as exc:  # noqa: BLE001 — tolerant by contract
                    rec["err"] = f"{type(exc).__name__}: {exc}"
                out.append(rec)
            yield _exact_frame(out, AHASH_SCHEMA)

    return src.mapInPandas(run, AHASH_SCHEMA)


# ---------------------------------------------------------------------------
# Video near-dup (r14): per-frame perceptual hashes -> the same Hamming
# machinery -> a video-level match aggregation
# ---------------------------------------------------------------------------
# The decodable animated format in-tree is GIF (pure-LZW rasters — the
# same boundary policy as the still tier: real bytes flow end to end;
# compressed codecs like H.264 route to a codec-library build). A
# re-encode of the same clip (palette re-ordered, mild brightness shift,
# re-quantized) hashes each frame within a few Hamming bits, so
# dedup.sig_hamming_pairs over (video, frame) signature rows + one
# video-keyed aggregation is video near-dup dedup — no new pair
# machinery, the sig_hamming_pairs contract extends along the frame axis.


def gif_frame_rasters(content: bytes, max_frames: int | None = None) -> list:
    """Decode EVERY frame of a GIF to (h, w) uint8 grayscale rasters on
    the logical-screen canvas — the all-frames extension of the
    first-frame path in :func:`image_gray_raster`. Real decode: per-frame
    LZW through the local-or-global palette, interlace undone, subrect
    frames COMPOSITED onto the persisting canvas (do-not-dispose
    semantics; restore-to-background/previous disposal is approximated as
    do-not-dispose — a documented simplification that only affects clips
    using those modes with transparency), GCE transparency honored
    (transparent pixels leave the canvas unchanged). Returns a list of
    per-frame rasters, one snapshot of the canvas per image block.

    Memory contract: this LIST form materializes every snapshot it
    keeps; ``max_frames`` stops the walk there, since
    :func:`_gif_raster_iter` holds ONE canvas at a time (r15)."""
    frames: list = []
    for g in _gif_raster_iter(content):
        frames.append(g)
        if max_frames is not None and len(frames) >= max_frames:
            break
    if not frames:
        raise ValueError("GIF without an image frame")
    return frames


def _gif_raster_iter(content: bytes):
    """Streaming core of :func:`gif_frame_rasters`: yield one luma
    snapshot per image block, compositing
    onto a single persisting canvas — peak memory is one canvas plus the
    snapshot being yielded, regardless of frame count. Raises the same
    ValueErrors as the list form for malformed payloads encountered up
    to the last frame the consumer pulls."""
    import numpy as np

    walk = _gif_blocks(content)
    _, width, height, gct, bg_index = next(walk)
    if gct and 3 * bg_index + 3 <= len(gct):
        bg_rgb = gct[3 * bg_index : 3 * bg_index + 3]
    else:
        bg_rgb = b"\x00\x00\x00"
    canvas = np.tile(
        np.frombuffer(bg_rgb, dtype=np.uint8), (height, width, 1)
    ).reshape(height, width, 3).copy()
    transparent_idx: int | None = None
    for kind, *ev in walk:
        if kind == "gce":
            gce = ev[0]
            # a cut GCE is the last block: only the fields read must exist
            if not gce or (gce[0] & 0x01 and len(gce) < 4):
                raise ValueError("truncated GIF extension")
            transparent_idx = gce[3] if gce[0] & 0x01 else None
            continue
        left, top, fw, fh, fpacked, lct, min_code, data = ev
        idx = _gif_lzw_decode(min_code, data, fw * fh)
        if len(idx) < fw * fh:
            raise ValueError("truncated GIF frame raster")
        pal = lct or gct
        if not pal:
            raise ValueError("GIF frame without a palette")
        arr = np.frombuffer(idx[: fw * fh], dtype=np.uint8).reshape(fh, fw)
        if fpacked & 0x40:
            arr = _gif_deinterlace(arr)
        pal_arr = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3)
        if arr.max() >= len(pal_arr):
            raise ValueError("GIF palette index out of range")
        rgb = pal_arr[arr]  # (fh, fw, 3)
        region = canvas[top : top + fh, left : left + fw]
        if region.shape[:2] != (fh, fw):
            raise ValueError("GIF frame rect outside logical screen")
        if transparent_idx is not None:
            opaque = arr != transparent_idx
            region[opaque] = rgb[opaque]
        else:
            region[...] = rgb
        yield _luma(canvas)
        transparent_idx = None  # GCE applies to ONE image block


FRAME_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_index", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("ahash", T.LongType()),
        T.StructField("dhash", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("err", T.StringType()),
    ]
)


def video_frame_hashes(
    media: DataFrame,
    *,
    max_frames: int = 16,
) -> DataFrame:
    """Per-frame perceptual signature rows for the video near-dup tier,
    Arrow-batched: one output row per decoded frame (media_id,
    frame_index, n_frames, ahash, dhash, width, height). Animated GIFs
    decode EVERY frame (up to ``max_frames``) via
    :func:`gif_frame_rasters`; any payload :func:`image_gray_raster`
    can decode rides along as a 1-frame clip (a still is a degenerate
    video — mixed feeds need no routing); undecodable payloads yield a
    single tolerant err row. Output feeds
    ``dedup.sig_hamming_pairs``/``video_neardup_pairs`` directly."""
    src = media.select(F.col("media_id").cast("string").alias("media_id"), "content")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in _chunked(batches, 16):
            out = []
            for _, row in pdf.iterrows():
                content = bytes(row["content"]) if row["content"] is not None else b""
                try:
                    if content[:6] in (b"GIF87a", b"GIF89a"):
                        rasters = gif_frame_rasters(content, max_frames=max_frames)
                    else:
                        rasters = [image_gray_raster(content)]
                    n = len(rasters)
                    for i, g in enumerate(rasters):
                        out.append(
                            {
                                "media_id": row["media_id"],
                                "frame_index": i,
                                "n_frames": n,
                                "ahash": ahash64(g),
                                "dhash": dhash64(g),
                                "width": int(g.shape[1]),
                                "height": int(g.shape[0]),
                                "err": None,
                            }
                        )
                except Exception as exc:  # noqa: BLE001 — tolerant by contract
                    out.append(
                        {
                            "media_id": row["media_id"],
                            "frame_index": None,
                            "n_frames": None,
                            "ahash": None,
                            "dhash": None,
                            "width": None,
                            "height": None,
                            "err": f"{type(exc).__name__}: {exc}",
                        }
                    )
            yield _exact_frame(out, FRAME_HASH_SCHEMA)

    return src.mapInPandas(run, FRAME_HASH_SCHEMA)


def video_neardup_pairs(
    frames: DataFrame,
    *,
    sig_col: str = "ahash",
    hamming_threshold: int = 4,
    min_match_frac: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Video near-dup candidate pairs from a per-frame signature table
    (the :func:`video_frame_hashes` output, or any (media_id,
    frame_index, n_frames, <sig>) rows): frame-level Hamming pairs via
    the signature-agnostic ``dedup.sig_hamming_pairs`` (pigeonhole
    block-LSH — NO all-pairs frame join), then ONE video-keyed
    aggregation counting each side's distinct matched frames. A pair
    survives when the better-covered side matches at least
    ``min_match_frac`` of its frames — containment semantics, so a short
    clip embedded in a longer video still pairs (the n-gram containment
    philosophy applied along the time axis).

    Returns (id_a < id_b, n_frames_a, n_frames_b, n_matched_a,
    n_matched_b, frac_a, frac_b, min_hamming).

    Scale shape: the frame table is <= max_frames x |videos| rows of
    8-byte signatures; pair generation is the banded posting-list path
    (bucket-capped); the video aggregation shuffles only surviving frame
    pairs on the (id_a, id_b) key. Frame keys join media_id and
    frame_index with a \\x01 separator — media ids must not contain
    that control byte (same contract as every composite-key operator
    here)."""
    from commercepulse_data_pipeline_spark.operators.dedup import (
        sig_hamming_pairs,
    )

    sigs = _frame_sig_table(frames, sig_col)
    fpairs = sig_hamming_pairs(
        sigs, id_col="fid", sig_col="sig",
        hamming_threshold=hamming_threshold, max_bucket=max_bucket,
    )
    counts = (
        frames.where(F.col(sig_col).isNotNull())
        .groupBy("media_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_frames"))
    )
    return _video_pair_agg(fpairs, counts, min_match_frac)


_FRAME_KEY_SEP = "\x01"


def _frame_sig_table(frames: DataFrame, sig_col: str) -> DataFrame:
    """(fid, sig) rows with the composite video\\x01frame key — media ids
    are contract-clean of the control byte (the composite-key rule every
    operator here follows)."""
    return frames.where(F.col(sig_col).isNotNull()).select(
        F.concat_ws(
            _FRAME_KEY_SEP, F.col("media_id"),
            F.col("frame_index").cast("string"),
        ).alias("fid"),
        F.col(sig_col).alias("sig"),
    )


def _video_pair_agg(
    fpairs: DataFrame, counts: DataFrame, min_match_frac: float
) -> DataFrame:
    """Shared tail of the video pair operators: split the composite
    frame keys, orient each frame pair so the video key is (least,
    greatest), ONE video-keyed aggregation, containment filter."""
    sep = _FRAME_KEY_SEP
    # split the composite frame key back on the separator (ids are
    # contract-clean of \x01, so first == only occurrence)
    vid_a = F.substring_index(F.col("id_a"), sep, 1)
    vid_b = F.substring_index(F.col("id_b"), sep, 1)
    fr_a = F.substring_index(F.col("id_a"), sep, -1)
    fr_b = F.substring_index(F.col("id_b"), sep, -1)
    cross = fpairs.select(
        vid_a.alias("va"), fr_a.alias("fa"),
        vid_b.alias("vb"), fr_b.alias("fb"),
        "hamming",
    ).where(F.col("va") != F.col("vb"))
    # orient each frame pair so the video pair key is (least, greatest) —
    # frame-key ordering does not imply video ordering
    swap = F.col("va") > F.col("vb")
    oriented = cross.select(
        F.when(swap, F.col("vb")).otherwise(F.col("va")).alias("id_a"),
        F.when(swap, F.col("fb")).otherwise(F.col("fa")).alias("f_a"),
        F.when(swap, F.col("va")).otherwise(F.col("vb")).alias("id_b"),
        F.when(swap, F.col("fa")).otherwise(F.col("fb")).alias("f_b"),
        "hamming",
    )
    agg = oriented.groupBy("id_a", "id_b").agg(
        F.countDistinct("f_a").cast("long").alias("n_matched_a"),
        F.countDistinct("f_b").cast("long").alias("n_matched_b"),
        F.min("hamming").cast("long").alias("min_hamming"),
    )
    out = (
        agg.join(counts.withColumnRenamed("media_id", "id_a"), "id_a")
        .withColumnRenamed("n_frames", "n_frames_a")
        .join(counts.withColumnRenamed("media_id", "id_b"), "id_b")
        .withColumnRenamed("n_frames", "n_frames_b")
    )
    frac_a = F.col("n_matched_a") / F.col("n_frames_a")
    frac_b = F.col("n_matched_b") / F.col("n_frames_b")
    return out.select(
        "id_a", "id_b", "n_frames_a", "n_frames_b",
        "n_matched_a", "n_matched_b",
        F.round(frac_a, 6).alias("frac_a"),
        F.round(frac_b, 6).alias("frac_b"),
        "min_hamming",
    ).where(F.greatest(frac_a, frac_b) >= F.lit(min_match_frac))


# ---------------------------------------------------------------------------
# Audio near-dup (r14): temporal energy-envelope hash over REAL PCM ->
# the same Hamming machinery — the third modality on sig_hamming_pairs
# ---------------------------------------------------------------------------
# The decodable-to-samples formats in-tree are WAV (RIFF/PCM) and FLAC
# (full lossless sample decode, CRC-verified) — so a WAV->FLAC re-encode
# of the same recording yields BIT-IDENTICAL PCM and an IDENTICAL hash,
# and the envelope hash's gradient-sign construction makes it exactly
# invariant under constant gain scaling (every window energy scales by
# the same factor; the exact integer comparisons are unchanged). Lossy
# codecs (MP3/Vorbis/Opus) stay at the documented metadata boundary.


def audio_pcm_mono(content: bytes) -> tuple[int, list]:
    """Decode an audio payload to (sample_rate, mono int samples):
    RIFF/PCM WAV (format 1; 8-bit unsigned, 16/24/32-bit signed LE) and
    FLAC (via the bit-exact :func:`_flac_pcm`). Multi-channel mixes down
    as per-sample ``sum(channels) // n_channels`` — floor division, so
    the mixdown replays identically anywhere. Anything else raises
    ValueError (the tolerant wrapper turns that into an err row)."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        fmt, data = _wav_chunks(content)
        if fmt is None:
            raise ValueError("WAV without a valid fmt chunk")
        audio_fmt, n_ch, rate, _brate, _align, bits = fmt
        if audio_fmt != 1:
            raise ValueError(f"unsupported WAV format code {audio_fmt} (PCM only)")
        if bits not in (8, 16, 24, 32) or n_ch < 1:
            raise ValueError(f"unsupported WAV layout (bits={bits}, ch={n_ch})")
        nbytes = bits // 8
        frame = nbytes * n_ch
        n = len(data) // frame
        samples = []
        for i in range(n):
            acc = 0
            base = i * frame
            for c in range(n_ch):
                off = base + c * nbytes
                if bits == 8:
                    acc += data[off] - 128
                else:
                    acc += int.from_bytes(
                        data[off : off + nbytes], "little", signed=True
                    )
            samples.append(acc // n_ch)
        return rate, samples
    if content[:4] == b"fLaC":
        info, frames_start, has_frames = _flac_stream(content)
        if info is None or not info[0]:
            raise ValueError("FLAC container without a valid STREAMINFO")
        if not has_frames:
            raise ValueError("FLAC payload has no audio frames to hash")
        rate, bps, _total = info
        pcm_rate, channels = _flac_pcm(content, frames_start, rate, bps)
        if not channels or not channels[0]:
            raise ValueError("FLAC payload decoded to zero samples")
        n_ch = len(channels)
        n = len(channels[0])
        if n_ch == 1:
            return pcm_rate or rate, list(channels[0])
        samples = [
            sum(ch[i] for ch in channels) // n_ch for i in range(n)
        ]
        return pcm_rate or rate, samples
    raise ValueError("unsupported audio container for PCM decode")


def audio_ehash64(samples) -> int:
    """64-bit temporal energy-envelope hash: split the sample sequence
    into 65 windows (same boundary guards as the image grid), per-window
    energy = sum of |sample| (exact integers), bit k set iff window k's
    MEAN energy < window k+1's — the dHash construction along the time
    axis, compared exactly as sum_a * n_b < sum_b * n_a. Gain-invariant
    by construction: scaling every sample by a positive constant scales
    both sides of each comparison equally. Signed-64 storage (the
    simhash convention), so ``dedup.sig_hamming_pairs`` applies
    unchanged."""
    n = len(samples)
    if n < 1:
        raise ValueError("empty sample sequence")
    wins = []
    for k in range(65):
        a, b = (k * n) // 65, ((k + 1) * n) // 65
        b = max(b, a + 1) if a < n else n
        a = min(a, n - 1)
        e = 0
        for i in range(a, b):
            v = samples[i]
            e += v if v >= 0 else -v
        wins.append((e, b - a))
    sig = 0
    for k in range(64):
        (ea, na), (eb, nb) = wins[k], wins[k + 1]
        if ea * nb < eb * na:
            sig |= 1 << k
    return sig - (1 << 64) if sig >= 1 << 63 else sig


AUDIO_HASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("ehash", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("err", T.StringType()),
    ]
)


def audio_hash(
    media: DataFrame,
) -> DataFrame:
    """Per-row audio energy-envelope hash, Arrow-batched — the audio
    sibling of :func:`image_ahash`. Undecodable payloads yield
    (ehash NULL, err) tolerant rows. Output feeds the text/image Hamming
    machinery directly: ``dedup.sig_hamming_pairs(audio_hash(media)
    .where("ehash is not null"), id_col="media_id", sig_col="ehash")``
    is audio near-dup dedup."""
    src = media.select(F.col("media_id").cast("string").alias("media_id"), "content")

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in _chunked(batches, 32):
            out = []
            for _, row in pdf.iterrows():
                rec = {
                    "media_id": row["media_id"], "ehash": None,
                    "n_samples": None, "sample_rate": None, "err": None,
                }
                try:
                    rate, samples = audio_pcm_mono(bytes(row["content"]))
                    rec["ehash"] = audio_ehash64(samples)
                    rec["n_samples"] = len(samples)
                    rec["sample_rate"] = int(rate)
                except Exception as exc:  # noqa: BLE001 — tolerant by contract
                    rec["err"] = f"{type(exc).__name__}: {exc}"
                out.append(rec)
            yield _exact_frame(out, AUDIO_HASH_SCHEMA)

    return src.mapInPandas(run, AUDIO_HASH_SCHEMA)
