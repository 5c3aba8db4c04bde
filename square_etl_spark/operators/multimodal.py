"""Multimodal column plumbing (extension surface — SURVEY.md §2.10).

Design: image/audio/video content is an opaque ``binary`` column plus
a typed metadata struct — the columnar layout that lets Catalyst prune
bytes out of any query that only touches metadata (Dremel-style
striping; a metadata-only scan never reads the blobs).  Decode /
feature-extract run as Arrow-batched ``mapInPandas`` stages.  Codecs:
PPM (binary P6), 24-bit BMP, PNG (non-interlaced 8-bit gray/RGB/RGBA
via stdlib zlib + filter reconstruction), GIF (stdlib LZW; animated GIFs decode to canvas-composed
frame sequences with transparency + disposal semantics), JPEG —
both baseline sequential AND progressive (SOF2: spectral selection,
successive approximation, EOB runs, refinement correction bits) —
(8-bit Huffman: entropy decode → dequant →
IDCT → chroma upsample → YCbCr→RGB), baseline TIFF (II/MM byte
orders, strips, none/LZW/PackBits compression, horizontal predictor),
TGA (uncompressed + RLE, truecolor/gray), ICO (largest directory
entry, PNG or DIB payload), PCX (RLE, 3-plane RGB or
VGA-paletted), and QOI (all six op types)
images, WAV/AU/AIFF (8/16-bit
integer PCM in all three container families, plus G.711 µ-law/A-law
companded WAV and AU — audioop-reference-exact) and native FLAC (full
lossless decode: Rice residuals, fixed + LPC predictors, stereo
decorrelation, CRC-verified frames) audio, and AVI
(uncompressed 24bpp DIB or MJPG frames) video
are REAL — parsed pure-python + numpy to pixels/samples/frames and
summarized as a 4×4 luminance grid / 16-window RMS energy profile /
16-window temporal luminance profile; formats needing codec
libraries this container doesn't ship (MP3/MP4 →
torchaudio/ffmpeg) remain STUBBED and clearly marked — though
MP4, MP3, WebP, and Ogg (Vorbis/Opus) are still DETECTED and
measured (box walk / frame-header / chunk-header parse) by the
header-only probe, so manifests over those corpora work without any
decode.  Every media_type has ≥1 real codec.
The Spark-side contract — schemas, batch iteration, partitioning — is
real and tested for all of them.

At 100 TB: blobs live in the table (small assets) or as object-store
URIs (large assets) with the same metadata struct; either way the
decode stage is a map-only pass whose parallelism is file-split
driven, and ``spark.sql.files.maxPartitionBytes`` sizes the per-task
batch.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: metadata struct carried next to every blob column.
MEDIA_META = T.StructType(
    [
        T.StructField("media_type", T.StringType(), True),  # image|audio|video
        T.StructField("format", T.StringType(), True),  # png|wav|mp4|...
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("uri", T.StringType(), True),  # set when blob is external
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField("meta", MEDIA_META, True),
    ]
)

#: decode output: fixed-size feature vector per asset.
FEATURE_DIM = 16
DECODED_SCHEMA = (
    f"media_id long, n_bytes long, ok boolean, features array<double>"
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Fixture adapter: treat document text bytes as opaque blobs so the
    multimodal plumbing is exercisable on the driver's tables (no real
    media ships in the fixtures)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.struct(
            F.lit("image").alias("media_type"),
            F.lit("raw").alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ).alias("meta"),
    )


def _parse_ppm(data: bytes):
    """REAL codec: binary PNM family parser — stdlib + numpy only.
    ``P6`` (PPM, raw RGB triples), ``P5`` (PGM, raw grayscale — the
    classic ML-dataset format), and ``P4`` (PBM, packed 1-bit rows,
    1 = black per spec).  Header: magic, width, height, then maxval
    for P5/P6, with whitespace/comment separators.  Returns
    (h, w, 3) uint8."""
    import re

    import numpy as np

    dims = rb"\s+(?:#[^\n]*\s+)*(\d+)\s+(?:#[^\n]*\s+)*(\d+)"
    if data[:2] == b"P4":
        m = re.match(rb"P4" + dims + rb"\s", data)
        if not m:
            raise ValueError("bad PBM (P4) header")
        w, h = (int(g) for g in m.groups())
        maxval = 1
    else:
        m = re.match(
            rb"(P[56])" + dims + rb"\s+(?:#[^\n]*\s+)*(\d+)\s", data
        )
        if not m:
            raise ValueError("not a binary PNM (P4/P5/P6)")
        w, h, maxval = (int(g) for g in m.groups()[1:])
    if (data[:2] != b"P4" and maxval != 255) or w <= 0 or h <= 0:
        raise ValueError(f"unsupported PNM geometry ({w}x{h}, maxval={maxval})")
    if data[:2] == b"P4":  # packed bits, row-aligned to whole bytes
        stride = (w + 7) // 8
        need = stride * h
        raw = data[m.end() : m.end() + need]
        if len(raw) < need:
            raise ValueError("truncated PBM pixel data")
        bits = np.unpackbits(
            np.frombuffer(raw, np.uint8).reshape(h, stride), axis=1
        )[:, :w]
        gray = (1 - bits).astype(np.uint8) * 255  # 1 = black per spec
        return np.repeat(gray[..., None], 3, axis=2)
    ch = 3 if data[:2] == b"P6" else 1
    need = w * h * ch
    px = data[m.end() : m.end() + need]
    if len(px) < need:
        raise ValueError("truncated PNM pixel data")
    px = np.frombuffer(px, np.uint8).reshape(h, w, ch)
    if ch == 1:
        return np.repeat(px, 3, axis=2)
    return np.ascontiguousarray(px)


def _parse_bmp(data: bytes):
    """REAL codec: 24-bit uncompressed BMP parser — stdlib + numpy
    only.  Handles the 4-byte row padding, bottom-up row order, and
    BGR→RGB.  Returns (h, w, 3) uint8."""
    import numpy as np

    if len(data) < 54 or data[:2] != b"BM":
        raise ValueError("not a BMP")
    off = int.from_bytes(data[10:14], "little")
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    compression = int.from_bytes(data[30:34], "little")
    if bpp != 24 or compression != 0:
        raise ValueError(f"only 24bpp uncompressed BMP (got bpp={bpp})")
    bottom_up, h = h > 0, abs(h)
    if w <= 0 or h <= 0:
        raise ValueError("bad BMP geometry")
    stride = (w * 3 + 3) & ~3
    if len(data) < off + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = np.frombuffer(data[off : off + stride * h], np.uint8).reshape(h, stride)
    px = rows[:, : w * 3].reshape(h, w, 3)
    if bottom_up:
        px = px[::-1]
    return px[..., ::-1]  # BGR → RGB


def _parse_png(data: bytes):
    """REAL codec: PNG parser — stdlib zlib + numpy only, no codec
    libraries.  Supports non-interlaced 8-bit-per-channel grayscale
    (color type 0), RGB (2), and RGBA (6); all five scanline filters
    (None/Sub/Up/Average/Paeth) are reconstructed per the PNG spec
    §9 (filtering is byte-wise over the decompressed IDAT stream,
    each scanline prefixed by its filter id).  Alpha is dropped,
    grayscale replicated — returns (h, w, 3) uint8."""
    import zlib

    import numpy as np

    if len(data) < 8 or data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(data):
        ln = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        chunk = data[pos + 8 : pos + 8 + ln]
        if len(chunk) < ln:
            raise ValueError("truncated PNG chunk")
        if typ == b"IHDR":
            ihdr = chunk
        elif typ == b"IDAT":
            idat.append(chunk)
        elif typ == b"IEND":
            break
        pos += 12 + ln  # length + type + data + CRC
    if ihdr is None or len(ihdr) < 13 or not idat:
        raise ValueError("missing IHDR/IDAT")
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    bit_depth, color_type, comp, filt, interlace = ihdr[8:13]
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if bit_depth != 8 or comp != 0 or filt != 0 or interlace != 0 or channels is None:
        raise ValueError(
            f"unsupported PNG (bit_depth={bit_depth}, color_type={color_type}, "
            f"interlace={interlace}) — only 8-bit non-interlaced gray/RGB/RGBA"
        )
    if w <= 0 or h <= 0:
        raise ValueError("bad PNG geometry")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"bad PNG zlib stream: {e}") from e
    stride, bpp = w * channels, channels
    if len(raw) < (stride + 1) * h:
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    p = 0
    for y in range(h):
        f = raw[p]
        cur = np.frombuffer(raw[p + 1 : p + 1 + stride], np.uint8).astype(np.int32)
        p += 1 + stride
        if f == 0:
            pass
        elif f == 1:  # Sub: left neighbor
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 2:  # Up: vectorized over the row
            cur = (cur + prev) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth predictor
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                cur[x] = (cur[x] + pr) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[y] = cur
        prev = cur
    px = out.reshape(h, w, channels)
    if channels == 1:
        px = np.repeat(px, 3, axis=2)
    return px[..., :3]  # RGBA → RGB


def _lzw_decode(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW decode (LSB-first variable-width codes, clear /
    end-of-information codes, 12-bit table cap) — stdlib only."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    code_size = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, total_bits = 0, len(data) * 8
    while bitpos + code_size <= total_bits:
        byte_i = bitpos // 8
        word = int.from_bytes(data[byte_i : byte_i + 4], "little")
        code = (word >> (bitpos % 8)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            table = list(base)
            code_size = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError("bad first LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("LZW code beyond table")
        out += entry
        prev = entry
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
    return bytes(out)


def _parse_gif(data: bytes):
    """REAL codec: GIF87a/89a parser — stdlib LZW + numpy only.
    Global/local color tables, interlaced row reorder, extension-block
    skipping; decodes the FIRST image frame to (h, w, 3) uint8
    (animation frames beyond the first are ignored; transparency is
    treated as the palette color)."""
    import numpy as np

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    packed = data[10]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = np.frombuffer(data[pos : pos + 3 * n], np.uint8)
        if len(gct) < 3 * n:
            raise ValueError("truncated global color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + size-prefixed sub-blocks
            pos += 2
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        if pos + 10 > len(data):
            raise ValueError("truncated image descriptor")
        w = int.from_bytes(data[pos + 5 : pos + 7], "little")
        h = int.from_bytes(data[pos + 7 : pos + 9], "little")
        ipacked = data[pos + 9]
        pos += 10
        ct = gct
        if ipacked & 0x80:  # local color table wins
            n = 2 ** ((ipacked & 0x07) + 1)
            ct = np.frombuffer(data[pos : pos + 3 * n], np.uint8)
            if len(ct) < 3 * n:
                raise ValueError("truncated local color table")
            ct = ct.reshape(n, 3)
            pos += 3 * n
        if ct is None or w <= 0 or h <= 0:
            raise ValueError("missing color table or bad geometry")
        if pos >= len(data):
            raise ValueError("truncated GIF image data")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos] != 0:
            size = data[pos]
            lzw += data[pos + 1 : pos + 1 + size]
            pos += 1 + size
        idx = np.frombuffer(
            _lzw_decode(bytes(lzw), min_code)[: w * h], np.uint8
        )
        if len(idx) < w * h:
            raise ValueError("truncated GIF pixel data")
        if idx.max(initial=0) >= len(ct):
            raise ValueError("palette index out of range")
        rows = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced: 4-pass row order
            order = (
                list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2))
            )
            deinterlaced = np.empty_like(rows)
            deinterlaced[order] = rows
            rows = deinterlaced
        return ct[rows]  # palette lookup → (h, w, 3)
    raise ValueError("no image block in GIF")


def _parse_gif_frames(data: bytes, max_frames: int = 0):
    """REAL codec: ANIMATED GIF decoder — stdlib LZW + numpy only.
    Composes every frame onto the logical-screen canvas with full
    GIF89a animation semantics: per-frame sub-rectangle placement,
    Graphic Control Extension transparency (transparent pixels leave
    the canvas untouched), and disposal methods 0/1 (leave), 2
    (restore background color) and 3 (restore previous canvas).
    Returns a list of (H, W, 3) uint8 canvas snapshots, one per frame
    (``max_frames`` 0 = all).  :func:`_parse_gif` stays the
    single-image fast path (first frame in its OWN rect, no canvas)."""
    import numpy as np

    if len(data) < 13 or data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    W = int.from_bytes(data[6:8], "little")
    H = int.from_bytes(data[8:10], "little")
    if W <= 0 or H <= 0:
        raise ValueError("bad GIF logical screen")
    if W * H > (1 << 24):
        # same cap as the JPEG/QOI parsers: a crafted 13-byte header
        # claiming 65535×65535 must quarantine as ValueError, not
        # trigger a multi-GB canvas allocation (MemoryError escapes
        # the decode stages' ValueError-only quarantine).
        raise ValueError("GIF logical screen too large")
    packed, bg_idx = data[10], data[11]
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 ** ((packed & 0x07) + 1)
        gct = np.frombuffer(data[pos : pos + 3 * n], np.uint8)
        if len(gct) < 3 * n:
            raise ValueError("truncated global color table")
        gct = gct.reshape(n, 3)
        pos += 3 * n
    bg_color = gct[bg_idx] if gct is not None and bg_idx < len(gct) else 0
    canvas = np.zeros((H, W, 3), np.uint8)
    canvas[:] = bg_color
    frames: list = []
    transparent: int | None = None
    disposal = 0
    while pos < len(data):
        block = data[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos + 2 > len(data):
                raise ValueError("truncated GIF extension")
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and pos < len(data) and data[pos] >= 4:
                gce = data[pos + 1 : pos + 1 + data[pos]]
                if len(gce) < 4:
                    raise ValueError("truncated GIF GCE")
                disposal = (gce[0] >> 2) & 0x7
                transparent = gce[3] if gce[0] & 1 else None
            while pos < len(data) and data[pos] != 0:
                pos += 1 + data[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        if pos + 10 > len(data):
            raise ValueError("truncated image descriptor")
        left = int.from_bytes(data[pos + 1 : pos + 3], "little")
        top = int.from_bytes(data[pos + 3 : pos + 5], "little")
        w = int.from_bytes(data[pos + 5 : pos + 7], "little")
        h = int.from_bytes(data[pos + 7 : pos + 9], "little")
        ipacked = data[pos + 9]
        pos += 10
        ct = gct
        if ipacked & 0x80:
            n = 2 ** ((ipacked & 0x07) + 1)
            ct = np.frombuffer(data[pos : pos + 3 * n], np.uint8)
            if len(ct) < 3 * n:
                raise ValueError("truncated local color table")
            ct = ct.reshape(n, 3)
            pos += 3 * n
        if ct is None or w <= 0 or h <= 0:
            raise ValueError("missing color table or bad geometry")
        if left + w > W or top + h > H:
            raise ValueError("GIF frame rect outside logical screen")
        if pos >= len(data):
            raise ValueError("truncated GIF image data")
        min_code = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos] != 0:
            size = data[pos]
            lzw += data[pos + 1 : pos + 1 + size]
            pos += 1 + size
        pos += 1  # sub-block terminator
        idx = np.frombuffer(
            _lzw_decode(bytes(lzw), min_code)[: w * h], np.uint8
        )
        if len(idx) < w * h:
            raise ValueError("truncated GIF pixel data")
        if idx.max(initial=0) >= len(ct):
            raise ValueError("palette index out of range")
        rows = idx.reshape(h, w)
        if ipacked & 0x40:  # interlaced
            order = (
                list(range(0, h, 8)) + list(range(4, h, 8))
                + list(range(2, h, 4)) + list(range(1, h, 2))
            )
            deinterlaced = np.empty_like(rows)
            deinterlaced[order] = rows
            rows = deinterlaced
        prev = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + h, left : left + w]
        colors = ct[rows]
        if transparent is not None:
            mask = rows != transparent
            region[mask] = colors[mask]
        else:
            region[:] = colors
        frames.append(canvas.copy())
        if disposal == 2:  # restore background
            canvas[top : top + h, left : left + w] = bg_color
        elif disposal == 3 and prev is not None:  # restore previous
            canvas = prev
        transparent, disposal = None, 0
        if max_frames and len(frames) >= max_frames:
            break
        if len(frames) * H * W * 3 > (1 << 28):
            # unbounded-caller (max_frames=0) decompression-bomb cap:
            # a tiny blob can declare thousands of frames, each a full
            # canvas copy — quarantine past 256 MB of decoded frames
            # rather than exhaust executor memory.
            raise ValueError("GIF animation too large to decode")
    if not frames:
        raise ValueError("no image block in GIF")
    return frames


def _tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-variant LZW decode — stdlib only.  Differs from the GIF
    variant (:func:`_lzw_decode`) in three spec'd ways: codes are
    packed MSB-first (GIF is LSB-first), the code width grows one code
    EARLY (the TIFF 6.0 "early change" convention: 9→10 bits when the
    table reaches 511 entries, not 512 — likewise 1023/2047), and the
    stream is a single run (no GIF sub-blocks).  Clear=256, EOI=257,
    first dynamic entry 258, 12-bit cap.  Decoding stops at EOI or
    once ``expected`` bytes are produced (strips are size-bounded), so
    output is bounded by min(expected, input growth) — a corrupted
    header can never force an unbounded allocation."""
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = 0
    pos = 0
    while len(out) < expected:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("truncated TIFF LZW stream")
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (acc >> nbits) & ((1 << width) - 1)
        acc &= (1 << nbits) - 1  # keep acc bounded: shifts stay O(1)
        if code == EOI:
            break
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if prev is None:
            if code >= 256:
                raise ValueError("bad first TIFF LZW code")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("TIFF LZW code beyond table")
        out += entry
        prev = entry
        # early change: 9→10 at table length 511 (2^9-1), 10→11 at
        # 1023, 11→12 at 2047; writers must emit CLEAR before 4094.
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1
        if len(table) > 4094:
            raise ValueError("TIFF LZW table overflow (missing clear)")
    return bytes(out)


def _packbits_decode(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF compression 32773) decode — stdlib only.
    Control byte n: 0..127 → copy n+1 literals; -127..-1 → repeat the
    next byte 1-n times; -128 → no-op.  Output bounded by
    ``expected`` (strip sizes are known up front)."""
    out = bytearray()
    pos = 0
    while len(out) < expected:
        if pos >= len(data):
            raise ValueError("truncated PackBits stream")
        n = data[pos] - 256 if data[pos] > 127 else data[pos]
        pos += 1
        if n == -128:
            continue
        if n >= 0:
            lit = data[pos : pos + n + 1]
            if len(lit) < n + 1:
                raise ValueError("truncated PackBits literal run")
            out += lit
            pos += n + 1
        else:
            if pos >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[pos]]) * (1 - n)
            pos += 1
    if len(out) != expected:
        raise ValueError("PackBits run overruns strip size")
    return bytes(out)


def _parse_tiff(data: bytes):
    """REAL codec: baseline TIFF 6.0 parser — stdlib + numpy only.
    Both byte orders (``II``/``MM``), strip-organized 8-bit data,
    compression 1 (none), 5 (LZW with the early-change convention,
    :func:`_tiff_lzw_decode`) and 32773 (PackBits), horizontal-
    differencing predictor (tag 317 = 2), photometric 0 (WhiteIsZero,
    inverted grayscale), 1 (grayscale) and 2 (RGB, alpha/extra sample
    dropped).  Tiled TIFF, 16-bit data, and palette-color raise
    ValueError → quarantine.  Reads IFD0 only (the baseline "image
    file directory"); multi-page files decode their first page like
    GIF decodes its first frame.  Returns (h, w, 3) uint8."""
    import numpy as np

    if len(data) < 8 or data[:4] not in (b"II*\x00", b"MM\x00*"):
        raise ValueError("not a TIFF")
    bo = "little" if data[:2] == b"II" else "big"

    def _u(b: bytes) -> int:
        return int.from_bytes(b, bo)

    ifd_off = _u(data[4:8])
    if ifd_off + 2 > len(data):
        raise ValueError("truncated TIFF IFD offset")
    n_entries = _u(data[ifd_off : ifd_off + 2])
    if ifd_off + 2 + 12 * n_entries > len(data):
        raise ValueError("truncated TIFF IFD")
    _TYPE_SIZE = {1: 1, 3: 2, 4: 4}  # BYTE, SHORT, LONG

    tags: dict[int, list[int]] = {}
    for i in range(n_entries):
        e = ifd_off + 2 + 12 * i
        tag = _u(data[e : e + 2])
        typ = _u(data[e + 2 : e + 4])
        count = _u(data[e + 4 : e + 8])
        if typ not in _TYPE_SIZE:
            continue  # RATIONAL/ASCII metadata tags — not needed
        size = _TYPE_SIZE[typ] * count
        if size <= 4:
            raw = data[e + 8 : e + 8 + size]
        else:
            off = _u(data[e + 8 : e + 12])
            raw = data[off : off + size]
            if len(raw) < size:
                raise ValueError("truncated TIFF tag value")
        step = _TYPE_SIZE[typ]
        tags[tag] = [_u(raw[j : j + step]) for j in range(0, size, step)]

    def one(tag: int, default: int | None = None) -> int:
        v = tags.get(tag)
        if not v:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag}")
            return default
        return v[0]

    w = one(256)
    h = one(257)
    compression = one(259, 1)
    photometric = one(262)
    spp = one(277, 1)
    predictor = one(317, 1)
    bits = tags.get(258, [8] * spp)
    if w <= 0 or h <= 0:
        raise ValueError("bad TIFF geometry")
    if 322 in tags or 323 in tags:
        raise ValueError("tiled TIFF not supported (strips only)")
    if any(b != 8 for b in bits) or len(bits) != spp:
        raise ValueError(f"only 8-bit TIFF samples (bits={bits})")
    if photometric not in (0, 1, 2):
        raise ValueError(f"unsupported TIFF photometric {photometric}")
    if photometric == 2 and spp not in (3, 4):
        raise ValueError(f"RGB TIFF needs 3/4 samples (got {spp})")
    if photometric != 2 and spp != 1:
        raise ValueError(f"grayscale TIFF needs 1 sample (got {spp})")
    if compression not in (1, 5, 32773):
        raise ValueError(f"unsupported TIFF compression {compression}")
    if predictor not in (1, 2):
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    # variants that would silently MIS-decode if ignored → hard reject
    if one(266, 1) != 1:  # FillOrder 2: LSB-first bit packing
        raise ValueError("LSB-first TIFF FillOrder not supported")
    if one(284, 1) != 1:  # PlanarConfiguration 2: separate planes
        raise ValueError("planar TIFF configuration not supported")
    orientation = one(274, 1)
    if not 1 <= orientation <= 8:
        raise ValueError(f"bad TIFF orientation {orientation}")

    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets:
        raise ValueError("TIFF missing strip offsets")
    rows_per_strip = one(278, h)
    if counts is None or len(counts) != len(offsets):
        if compression == 1 and len(offsets) == 1:
            counts = [h * w * spp]  # writers may omit 279 when trivial
        else:
            raise ValueError("TIFF strip counts missing/mismatched")

    row_bytes = w * spp
    raw = bytearray()
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        strip = data[off : off + cnt]
        if len(strip) < cnt:
            raise ValueError("truncated TIFF strip")
        n_rows = min(rows_per_strip, h - si * rows_per_strip)
        if n_rows <= 0:
            raise ValueError("TIFF strip beyond image height")
        expected = n_rows * row_bytes
        if compression == 1:
            if len(strip) < expected:
                raise ValueError("short uncompressed TIFF strip")
            raw += strip[:expected]
        elif compression == 5:
            raw += _tiff_lzw_decode(strip, expected)
        else:
            raw += _packbits_decode(strip, expected)
    if len(raw) != h * row_bytes:
        raise ValueError("TIFF strip data does not cover the image")

    px = np.frombuffer(bytes(raw), np.uint8).reshape(h, w, spp)
    if predictor == 2:  # horizontal differencing: undo per row/channel
        px = np.cumsum(px, axis=1, dtype=np.uint8)
    if photometric == 2:
        px = px[..., :3]  # drop alpha if present
    else:
        gray = px[..., 0]
        if photometric == 0:  # WhiteIsZero
            gray = 255 - gray
        px = np.repeat(gray[..., None], 3, axis=2)
    # EXIF/TIFF orientation (tag 274): normalize to row0=top, col0=left
    # — camera files commonly carry 3/6/8 and ignoring the tag would
    # hand downstream features a rotated image.
    if orientation == 2:
        px = px[:, ::-1]
    elif orientation == 3:
        px = px[::-1, ::-1]
    elif orientation == 4:
        px = px[::-1]
    elif orientation == 5:
        px = px.transpose(1, 0, 2)
    elif orientation == 6:
        px = px.transpose(1, 0, 2)[:, ::-1]
    elif orientation == 7:
        px = px.transpose(1, 0, 2)[::-1, ::-1]
    elif orientation == 8:
        px = px.transpose(1, 0, 2)[::-1]
    return np.ascontiguousarray(px)


#: zigzag scan order: _JPEG_ZZ[k] = linear 8x8 index of the k-th
#: zigzag-ordered coefficient (ITU-T T.81 figure 5).
_JPEG_ZZ = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

_JPEG_DCT_T = None  # lazy 8x8 orthonormal DCT-II matrix (numpy)


def _jpeg_dct_matrix():
    global _JPEG_DCT_T
    if _JPEG_DCT_T is None:
        import math

        import numpy as np

        t = np.empty((8, 8), np.float64)
        for u in range(8):
            c = math.sqrt(0.5) if u == 0 else 1.0
            for x in range(8):
                t[u, x] = 0.5 * c * math.cos((2 * x + 1) * u * math.pi / 16)
        _JPEG_DCT_T = t
    return _JPEG_DCT_T


def _jpeg_build_huff(counts, symbols) -> dict:
    """Canonical JPEG Huffman table → {(code_length, code): symbol}.
    Canonical codes are prefix-free, so keying by exact length removes
    any ambiguity during bit-serial decode."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            if k >= len(symbols):
                raise ValueError("bad JPEG huffman table")
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        if code > (1 << length):  # more codes than the length can hold
            raise ValueError("overfull JPEG huffman table")
        code <<= 1
    return table


class _JpegBits:
    """Accumulator-based bit reader over a JPEG entropy-coded segment:
    un-stuffs 0xFF00, raises ValueError on markers or EOF mid-read
    (truncation → quarantine, never IndexError), and consumes RSTn on
    request.  Bits live MSB-first in an int accumulator refilled a
    byte at a time — much faster than bit-at-a-time reads, and the
    32-bit mask keeps the accumulator a machine int (n never exceeds
    ~23: refills stop once ≥16 bits are buffered)."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.acc, self.n = data, pos, 0, 0

    def _fill(self) -> None:
        """Buffer one more (un-stuffed) byte; ValueError at marker/EOF."""
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("truncated JPEG scan")
        b = d[p]
        if b == 0xFF:
            if p + 1 >= len(d):
                raise ValueError("truncated JPEG scan")
            if d[p + 1] != 0x00:  # a real marker mid-entropy-data
                raise ValueError("JPEG scan ended early")
            self.pos = p + 2  # stuffed 0xFF00 → literal 0xFF
        else:
            self.pos = p + 1
        self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
        self.n += 8

    def bits(self, k: int) -> int:
        while self.n < k:
            self._fill()
        self.n -= k
        return (self.acc >> self.n) & ((1 << k) - 1)

    def restart(self, m: int) -> None:
        """Byte-align and consume the expected RSTm marker."""
        self.acc, self.n = 0, 0
        p = self.pos
        if p + 2 > len(self.data) or self.data[p] != 0xFF:
            raise ValueError("missing JPEG restart marker")
        if self.data[p + 1] != 0xD0 + m:
            raise ValueError("bad JPEG restart marker")
        self.pos = p + 2


def _jpeg_fast_table(table: dict) -> list:
    """8-bit prefix lookup for a canonical table: entry i resolves any
    code of length ≤ 8 whose bits prefix i to (symbol, length) in one
    step — the overwhelmingly common case; longer codes fall back to
    the bit-serial walk."""
    fast: list = [None] * 256
    for (length, code), sym in table.items():
        if length <= 8:
            base = code << (8 - length)
            for suffix in range(1 << (8 - length)):
                fast[base | suffix] = (sym, length)
    return fast


def _jpeg_huffdecode(bits: _JpegBits, table: dict, fast: list) -> int:
    if bits.n < 8:
        try:
            while bits.n < 8:
                bits._fill()
        except ValueError:
            pass  # near end-of-scan: the code may still fit what's left
    if bits.n >= 8:
        hit = fast[(bits.acc >> (bits.n - 8)) & 0xFF]
        if hit is not None:
            bits.n -= hit[1]  # consume only the code's own bits
            return hit[0]
    code = 0
    for length in range(1, 17):  # slow path: codes longer than 8 bits
        code = (code << 1) | bits.bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG huffman code")


def _jpeg_extend(v: int, s: int) -> int:
    """T.81 EXTEND: map the s low-order bits v to the signed value."""
    return v - (1 << s) + 1 if v < (1 << (s - 1)) else v


def _jpeg_progressive_scan(data, pos, body, frame, huff, ri, state):
    """Decode ONE progressive-JPEG scan (ITU-T T.81 §G.2) into the
    accumulated coefficient arrays in ``state``: spectral selection
    (Ss..Se), successive approximation (Ah/Al), interleaved or
    single-component DC scans, single-component AC scans with EOB
    runs, and the refinement correction-bit procedure.  Returns the
    byte position just past the scan's entropy-coded segment."""
    import numpy as np

    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    if "coefs" not in state:
        state["coefs"] = {
            cid: np.zeros((mcuy * vs, mcux * hs, 64), np.int32)
            for cid, hs, vs, tq in comps
        }
    ns = body[0] if body else 0
    if ns < 1 or ns > len(comps) or len(body) < 1 + 2 * ns + 3:
        raise ValueError("bad JPEG progressive SOS")
    sel = []
    for c in range(ns):
        cs, tt = body[1 + 2 * c], body[2 + 2 * c]
        comp = next((x for x in comps if x[0] == cs), None)
        if comp is None:
            raise ValueError("JPEG scan references unknown component")
        sel.append((comp, tt >> 4, tt & 15))
    ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
    ah, al = body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 15
    if se > 63 or ss > se or al > 13 or (ah and ah != al + 1):
        raise ValueError("bad JPEG spectral selection / approximation")
    if ss == 0 and se != 0:
        raise ValueError("JPEG DC scan must have Se = 0")
    if ss > 0 and ns != 1:
        raise ValueError("JPEG AC scans must be single-component")

    bits = _JpegBits(data, pos)
    eobrun = 0
    p1 = 1 << al

    def correction(vec, k):
        """Refinement correction bit for an already-nonzero coef."""
        c = int(vec[k])
        if bits.bits(1) and (c & p1) == 0:
            vec[k] = c + (p1 if c >= 0 else -p1)

    if ss == 0:  # --- DC scan (first or refinement), may interleave
        tabs = []
        for comp, td, ta in sel:
            if ah == 0:
                if (0, td) not in huff:
                    raise ValueError("JPEG scan references missing DHT")
                tabs.append((huff[(0, td)], _jpeg_fast_table(huff[(0, td)])))
            else:
                tabs.append(None)
        preds = [0] * len(sel)

        def dc_block(vec, ci):
            if ah == 0:
                s = _jpeg_huffdecode(bits, *tabs[ci])
                if s > 11:
                    raise ValueError("bad JPEG DC category")
                preds[ci] += _jpeg_extend(bits.bits(s), s) if s else 0
                vec[0] = preds[ci] << al
            elif bits.bits(1):
                vec[0] = int(vec[0]) | p1

        if ns == 1:  # non-interleaved: the component's own block grid
            comp = sel[0][0]
            cid, hs, vs, tq = comp
            arr = state["coefs"][cid]
            bwc = -(-(-(-(w * hs) // hmax)) // 8)  # ceil(ceil(w·hs/hmax)/8)
            bhc = -(-(-(-(h * vs) // vmax)) // 8)
            rst = 0
            for i in range(bhc * bwc):
                if ri and i and i % ri == 0:
                    bits.restart(rst)
                    rst = (rst + 1) & 7
                    preds = [0]
                dc_block(arr[i // bwc, i % bwc], 0)
        else:
            rst = 0
            for m in range(mcuy * mcux):
                if ri and m and m % ri == 0:
                    bits.restart(rst)
                    rst = (rst + 1) & 7
                    preds = [0] * len(sel)
                my, mx = m // mcux, m % mcux
                for ci, (comp, td, ta) in enumerate(sel):
                    cid, hs, vs, tq = comp
                    arr = state["coefs"][cid]
                    for bv in range(vs):
                        for bh in range(hs):
                            dc_block(arr[my * vs + bv, mx * hs + bh], ci)
    else:  # --- AC scan: single component over its own block grid
        comp, td, ta = sel[0]
        cid, hs, vs, tq = comp
        arr = state["coefs"][cid]
        if (1, ta) not in huff:  # both AC phases read the AC table
            raise ValueError("JPEG scan references missing DHT")
        act = (huff[(1, ta)], _jpeg_fast_table(huff[(1, ta)]))
        bwc = -(-(-(-(w * hs) // hmax)) // 8)  # ceil(ceil(w·hs/hmax)/8)
        bhc = -(-(-(-(h * vs) // vmax)) // 8)

        def ac_first(vec):
            nonlocal eobrun
            if eobrun:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                rs = _jpeg_huffdecode(bits, *act)
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:
                        k += 16
                        continue
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += bits.bits(r)
                    return
                k += r
                if k > se or s > 13:
                    raise ValueError("bad JPEG AC coefficient")
                vec[k] = _jpeg_extend(bits.bits(s), s) << al
                k += 1

        def ac_refine(vec):
            nonlocal eobrun
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = _jpeg_huffdecode(bits, *act)
                    r, s = rs >> 4, rs & 15
                    newval = 0
                    if s == 0:
                        if r != 15:  # EOB run starts here
                            eobrun = 1 << r
                            if r:
                                eobrun += bits.bits(r)
                            break
                        # r == 15 (ZRL): skip 16 zero-history coefs
                    else:
                        if s != 1:
                            raise ValueError("bad JPEG AC refinement code")
                        newval = p1 if bits.bits(1) else -p1
                    while k <= se:
                        if int(vec[k]) != 0:
                            correction(vec, k)
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if newval and k <= se:
                        vec[k] = newval
                    k += 1
            if eobrun:
                while k <= se:
                    if int(vec[k]) != 0:
                        correction(vec, k)
                    k += 1
                eobrun -= 1

        block = ac_first if ah == 0 else ac_refine
        rst = 0
        for i in range(bhc * bwc):
            if ri and i and i % ri == 0:
                bits.restart(rst)
                rst = (rst + 1) & 7
                eobrun = 0
            block(arr[i // bwc, i % bwc])

    state["nscans"] = state.get("nscans", 0) + 1
    return bits.pos


def _parse_jpeg(data: bytes):
    """REAL codec: 8-bit JPEG decoder — stdlib + numpy only, no
    codec libraries.  Supports SOF0/SOF1 (baseline/extended
    sequential DCT) AND SOF2 (progressive DCT: spectral selection,
    successive approximation, interleaved/non-interleaved DC scans,
    single-component AC scans with EOB runs and refinement
    correction bits — :func:`_jpeg_progressive_scan`), 1-component
    grayscale and 3-component YCbCr with
    sampling factors 1–2 (4:4:4, 4:2:2, 4:2:0), restart intervals,
    0xFF00 byte stuffing, 8- and 16-bit quantization tables.  Decode:
    Huffman entropy decode → dequantize → de-zigzag → batched 8×8
    IDCT (numpy matrix form) → level shift → chroma upsample (sample
    replication) → YCbCr→RGB (JFIF/Rec.601 full range).  Arithmetic
    coding, 12-bit precision, and 4-component
    (CMYK) files raise ValueError → quarantine.  Returns (h, w, 3)
    uint8.  The reference has no media handling at all (extension
    surface; its ETL is catalog/orders TypeScript, e.g.
    src/etl-square-catalog.ts) — this exists for the 100 TB
    training-data mandate where image corpora are JPEG-dominated."""
    import numpy as np

    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    qt: dict[int, "np.ndarray"] = {}  # id → 64 int32, zigzag order
    huff: dict[tuple[int, int], dict] = {}  # (class, id) → decode table
    frame = None  # (h, w, [[cid, hs, vs, tq], ...])
    ri = 0  # restart interval in MCUs
    scan = None
    progressive = False
    pstate: dict = {}  # progressive coefficient accumulator
    pos = 2
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        while pos < len(data) and data[pos] == 0xFF:
            pos += 1  # skip fill bytes
        if pos >= len(data):
            raise ValueError("truncated JPEG")
        marker = data[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            if progressive and pstate.get("nscans"):
                pstate["done"] = True
                break
            raise ValueError("JPEG has no scan data")
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:  # standalone RST/TEM
            continue
        if pos + 2 > len(data):
            raise ValueError("truncated JPEG segment")
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > len(data):
            raise ValueError("truncated JPEG segment")
        body = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (may hold several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq > 1 or tq > 3:
                    raise ValueError("bad JPEG DQT")
                n = 128 if pq else 64
                if i + n > len(body):
                    raise ValueError("truncated JPEG DQT")
                raw = body[i : i + n]
                qt[tq] = (
                    np.frombuffer(raw, ">u2") if pq else np.frombuffer(raw, np.uint8)
                ).astype(np.int32)
                i += n
        elif marker == 0xC4:  # DHT (may hold several tables)
            i = 0
            while i < len(body):
                if i + 17 > len(body):
                    raise ValueError("truncated JPEG DHT")
                tc, th = body[i] >> 4, body[i] & 15
                if tc > 1 or th > 3:
                    raise ValueError("bad JPEG DHT")
                counts = list(body[i + 1 : i + 17])
                i += 17
                total = sum(counts)
                if i + total > len(body):
                    raise ValueError("truncated JPEG DHT")
                huff[(tc, th)] = _jpeg_build_huff(counts, body[i : i + total])
                i += total
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 sequential, SOF2 prog
            progressive = marker == 0xC2
            if len(body) < 6:
                raise ValueError("truncated JPEG SOF")
            prec = body[0]
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            nc = body[5]
            if prec != 8 or nc not in (1, 3) or w <= 0 or h <= 0:
                raise ValueError(
                    f"unsupported JPEG (precision={prec}, components={nc})"
                )
            if w * h > (1 << 24):  # allocation guard for crafted headers
                raise ValueError("JPEG dimensions too large")
            if len(body) < 6 + 3 * nc:
                raise ValueError("truncated JPEG SOF")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                hs, vs = hv >> 4, hv & 15
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    raise ValueError("unsupported JPEG sampling factors")
                comps.append([cid, hs, vs, tq])
            frame = (h, w, comps)
        elif marker == 0xC3 or 0xC5 <= marker <= 0xCF and marker != 0xC8:
            raise ValueError("unsupported JPEG coding process")
        elif marker == 0xDD:  # DRI
            if len(body) != 2:
                raise ValueError("bad JPEG DRI")
            ri = int.from_bytes(body, "big")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            if progressive:  # decode this scan now; more may follow
                pos = _jpeg_progressive_scan(
                    data, pos, body, frame, huff, ri, pstate
                )
                continue
            if len(body) < 1 or body[0] != len(frame[2]):
                raise ValueError("JPEG scan must cover all components")
            if len(body) < 1 + 2 * body[0] + 3:
                raise ValueError("truncated JPEG SOS")
            tables = {}
            for c in range(body[0]):
                cs, tt = body[1 + 2 * c], body[2 + 2 * c]
                tables[cs] = (tt >> 4, tt & 15)
            scan = (tables, pos)
            break
        # else: APPn/COM — skipped
    if progressive:
        if not pstate.get("done"):
            raise ValueError("truncated progressive JPEG (missing EOI)")
        h, w, comps = frame
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        coefs, quants = [], []
        for cid, hs, vs, tq in comps:
            if tq not in qt:
                raise ValueError("JPEG component references missing DQT")
            coefs.append(pstate["coefs"][cid])
            quants.append(qt[tq])
    else:
        if scan is None:
            raise ValueError("JPEG has no SOS")

        h, w, comps = frame
        sel, start = scan
        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        coefs, dctabs, actabs, quants = [], [], [], []
        for cid, hs, vs, tq in comps:
            if cid not in sel:
                raise ValueError("JPEG scan references unknown component")
            if tq not in qt:
                raise ValueError("JPEG component references missing DQT")
            td, ta = sel[cid]
            if (0, td) not in huff or (1, ta) not in huff:
                raise ValueError("JPEG scan references missing DHT")
            coefs.append(
                np.zeros((mcuy * vs, mcux * hs, 64), np.int32)
            )
            dctabs.append((huff[(0, td)], _jpeg_fast_table(huff[(0, td)])))
            actabs.append((huff[(1, ta)], _jpeg_fast_table(huff[(1, ta)])))
            quants.append(qt[tq])

        bits = _JpegBits(data, start)
        preds = [0] * len(comps)
        rst = 0
        for my in range(mcuy):
            for mx in range(mcux):
                mcu_i = my * mcux + mx
                if ri and mcu_i and mcu_i % ri == 0:
                    bits.restart(rst)
                    rst = (rst + 1) & 7
                    preds = [0] * len(comps)
                for ci, (cid, hs, vs, tq) in enumerate(comps):
                    dct, act, vecs = dctabs[ci], actabs[ci], coefs[ci]
                    for bv in range(vs):
                        for bh in range(hs):
                            vec = vecs[my * vs + bv, mx * hs + bh]
                            s = _jpeg_huffdecode(bits, *dct)
                            if s > 11:
                                raise ValueError("bad JPEG DC category")
                            preds[ci] += _jpeg_extend(bits.bits(s), s) if s else 0
                            vec[0] = preds[ci]
                            k = 1
                            while k < 64:
                                rs = _jpeg_huffdecode(bits, *act)
                                r, s = rs >> 4, rs & 15
                                if s == 0:
                                    if r != 15:
                                        break  # EOB
                                    k += 16
                                    continue
                                k += r
                                if k > 63 or s > 10:
                                    raise ValueError("bad JPEG AC coefficient")
                                vec[k] = _jpeg_extend(bits.bits(s), s)
                                k += 1

    t = _jpeg_dct_matrix()
    planes = []
    for ci, (cid, hs, vs, tq) in enumerate(comps):
        vecs = coefs[ci] * quants[ci]  # dequantize (both zigzag-ordered)
        blocks = np.zeros(vecs.shape, np.float64)
        blocks[..., _JPEG_ZZ] = vecs  # de-zigzag
        nby, nbx = blocks.shape[:2]
        blocks = blocks.reshape(nby, nbx, 8, 8)
        spatial = np.einsum("ux,...uv,vy->...xy", t, blocks, t) + 128.0
        plane = spatial.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        plane = plane.repeat(vmax // vs, axis=0).repeat(hmax // hs, axis=1)
        planes.append(plane[: mcuy * vmax * 8, : mcux * hmax * 8])

    if len(planes) == 1:
        y = np.clip(np.round(planes[0][:h, :w]), 0, 255).astype(np.uint8)
        return np.repeat(y[..., None], 3, axis=2)
    y, cb, cr = (p[:h, :w] for p in planes)
    rgb = np.empty((h, w, 3), np.float64)
    rgb[..., 0] = y + 1.402 * (cr - 128.0)
    rgb[..., 1] = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    rgb[..., 2] = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


_G711_TABLES = None


def _g711_tables():
    """ITU-T G.711 expansion tables, 256 codes → 16-bit linear, built
    from the spec formulas (µ-law: complemented code, bias 132,
    3-bit mantissa shift; A-law: XOR 0x55, segmented with bias 8/264).
    Pinned value-for-value against CPython's `audioop` reference in
    tests.  Returns (ulaw, alaw) float64 arrays scaled to [-1, 1]."""
    global _G711_TABLES
    if _G711_TABLES is None:
        import numpy as np

        ulaw = np.empty(256, np.float64)
        alaw = np.empty(256, np.float64)
        for c in range(256):
            u = ~c & 0xFF
            e, m = (u >> 4) & 7, u & 0xF
            mag = (((m << 3) + 132) << e) - 132
            ulaw[c] = (-mag if u & 0x80 else mag) / 32768.0
            a = c ^ 0x55
            e, m = (a >> 4) & 7, a & 0xF
            t = (m << 4) + 8
            if e > 0:
                t = (t + 256) << (e - 1)
            alaw[c] = (t if a & 0x80 else -t) / 32768.0
        _G711_TABLES = (ulaw, alaw)
    return _G711_TABLES


def _parse_wav(data: bytes):
    """REAL codec: RIFF/WAVE parser — stdlib + numpy only.  Supports
    8-bit unsigned / 16-bit signed little-endian integer PCM plus
    G.711 A-law (format 6) and µ-law (format 7) companded audio
    (telephony-era corpora are full of both), any channel count
    (mono-mixed by mean).  Returns (samples float64 in [-1, 1],
    sample_rate)."""
    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            pcm = body
        pos += 8 + size + (size & 1)  # chunks are even-padded
    if fmt is None or len(fmt) < 16 or pcm is None:
        raise ValueError("missing fmt/data chunk")
    audio_format = int.from_bytes(fmt[0:2], "little")
    n_channels = int.from_bytes(fmt[2:4], "little")
    sample_rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if (
        audio_format not in (1, 6, 7)
        or (audio_format == 1 and bits not in (8, 16))
        or (audio_format in (6, 7) and bits != 8)
        or n_channels < 1
    ):
        raise ValueError(
            f"only integer PCM / G.711 WAV (format={audio_format}, bits={bits})"
        )
    if audio_format in (6, 7):  # G.711 A-law / µ-law companded
        ulaw, alaw = _g711_tables()
        table = ulaw if audio_format == 7 else alaw
        samples = table[np.frombuffer(pcm, np.uint8)]
    elif bits == 8:  # unsigned, midpoint 128
        raw = np.frombuffer(pcm, np.uint8).astype(np.float64)
        samples = (raw - 128.0) / 128.0
    else:  # signed little-endian
        raw = np.frombuffer(pcm[: len(pcm) & ~1], "<i2").astype(np.float64)
        samples = raw / 32768.0
    frames = len(samples) // n_channels
    if frames == 0:
        raise ValueError("empty WAV data chunk")
    samples = samples[: frames * n_channels].reshape(frames, n_channels).mean(axis=1)
    return samples, sample_rate


def _parse_au(data: bytes):
    """REAL codec: Sun/NeXT AU parser — stdlib + numpy only.  Big-endian
    header (magic '.snd', data offset/size, encoding, rate, channels);
    supports encoding 1 (G.711 µ-law — the AU format's historical
    default), 2 (8-bit linear PCM), 3 (16-bit linear PCM), and 27
    (G.711 A-law), any channel count (mono-mixed by mean).  Returns
    (samples float64 in [-1, 1], sample_rate) — same contract as
    :func:`_parse_wav`."""
    import numpy as np

    if len(data) < 24 or data[:4] != b".snd":
        raise ValueError("not an AU file")
    off = int.from_bytes(data[4:8], "big")
    enc = int.from_bytes(data[12:16], "big")
    rate = int.from_bytes(data[16:20], "big")
    n_channels = int.from_bytes(data[20:24], "big")
    if enc not in (1, 2, 3, 27) or n_channels < 1 or rate <= 0 or off < 24:
        raise ValueError(f"unsupported AU (encoding={enc})")
    pcm = data[off:]
    if enc in (1, 27):  # G.711 µ-law / A-law companded
        ulaw, alaw = _g711_tables()
        table = ulaw if enc == 1 else alaw
        samples = table[np.frombuffer(pcm, np.uint8)]
    elif enc == 2:  # 8-bit SIGNED linear (unlike WAV's unsigned 8-bit)
        samples = np.frombuffer(pcm, np.int8).astype(np.float64) / 128.0
    else:  # 16-bit signed BIG-endian
        samples = np.frombuffer(pcm[: len(pcm) & ~1], ">i2").astype(np.float64) / 32768.0
    frames = len(samples) // n_channels
    if frames == 0:
        raise ValueError("empty AU data")
    samples = samples[: frames * n_channels].reshape(frames, n_channels).mean(axis=1)
    return samples, rate


def _parse_f80(b: bytes) -> float:
    """80-bit IEEE 754 extended float (AIFF sample rate): 1 sign,
    15 exponent, 64 mantissa with explicit integer bit."""
    if len(b) != 10:
        raise ValueError("bad 80-bit float")
    sign = -1.0 if b[0] & 0x80 else 1.0
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0.0
    if exp == 0x7FFF:
        raise ValueError("non-finite AIFF sample rate")
    return sign * mant * 2.0 ** (exp - 16383 - 63)


def _parse_aiff(data: bytes):
    """REAL codec: AIFF / AIFF-C parser — stdlib + numpy only.  IFF
    chunk walk: COMM (channels, frames, bit depth, 80-bit-float rate)
    + SSND (offset/blocksize then PCM).  AIFF-C (FORM type ``AIFC``)
    adds a compression type to COMM: ``NONE`` (big-endian, like plain
    AIFF) and ``sowt`` (byte-swapped little-endian 16-bit — the
    Mac-origin convention) are supported; compressed types (ima4,
    ulaw, ...) raise ValueError → quarantine.  Supports 8/16-bit PCM,
    any channel count (mono-mixed).  Returns (samples float64 in
    [-1, 1], sample_rate)."""
    import numpy as np

    if len(data) < 12 or data[:4] != b"FORM" or data[8:12] not in (
        b"AIFF", b"AIFC"
    ):
        raise ValueError("not an AIFF file")
    aifc = data[8:12] == b"AIFC"
    comm = ssnd = None
    little = False
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "big")
        body = pos + 8
        if body + size > len(data):
            raise ValueError("truncated AIFF chunk")
        if cid == b"COMM" and comm is None:
            if size < 18 or (aifc and size < 22):
                raise ValueError("bad AIFF COMM chunk")
            comm = (
                int.from_bytes(data[body : body + 2], "big"),        # channels
                int.from_bytes(data[body + 2 : body + 6], "big"),    # frames
                int.from_bytes(data[body + 6 : body + 8], "big"),    # bits
                _parse_f80(data[body + 8 : body + 18]),              # rate
            )
            if aifc:
                ctype = data[body + 18 : body + 22]
                if ctype == b"sowt":
                    little = True
                elif ctype != b"NONE":
                    raise ValueError(
                        f"unsupported AIFF-C compression {ctype!r}"
                    )
        elif cid == b"SSND" and ssnd is None:
            if size < 8:
                raise ValueError("bad AIFF SSND chunk")
            off = int.from_bytes(data[body : body + 4], "big")
            ssnd = data[body + 8 + off : body + size]
        pos = body + size + (size & 1)  # chunks are even-padded
    if comm is None or ssnd is None:
        raise ValueError("AIFF missing COMM or SSND")
    n_channels, _frames, bits, rate = comm
    if bits not in (8, 16) or n_channels < 1 or not rate > 0:
        raise ValueError(f"unsupported AIFF (bits={bits})")
    if bits == 8:  # signed, unlike WAV
        samples = np.frombuffer(ssnd, np.int8).astype(np.float64) / 128.0
    else:
        dt = "<i2" if little else ">i2"
        samples = np.frombuffer(ssnd[: len(ssnd) & ~1], dt).astype(np.float64) / 32768.0
    frames = len(samples) // n_channels
    if frames == 0:
        raise ValueError("empty AIFF data")
    samples = samples[: frames * n_channels].reshape(frames, n_channels).mean(axis=1)
    return samples, int(round(rate))


def _parse_qoi(data: bytes):
    """REAL codec: QOI ("Quite OK Image", qoiformat.org spec) decoder
    — stdlib + numpy only.  All six op types (RGB, RGBA, INDEX, DIFF,
    LUMA, RUN), the 64-entry hash index, and the 8-byte end marker.
    Alpha is dropped.  Returns (h, w, 3) uint8."""
    import numpy as np

    if len(data) < 22 or data[:4] != b"qoif":
        raise ValueError("not a QOI")
    w = int.from_bytes(data[4:8], "big")
    h = int.from_bytes(data[8:12], "big")
    channels, colorspace = data[12], data[13]
    if channels not in (3, 4) or colorspace > 1 or w <= 0 or h <= 0:
        raise ValueError(f"bad QOI header ({w}x{h}, ch={channels})")
    if w * h > (1 << 24):
        raise ValueError("QOI dimensions too large")
    n = w * h
    out = np.empty((n, 3), np.uint8)
    index = [(0, 0, 0, 0)] * 64
    r = g = b = 0
    a = 255
    pos, i = 14, 0
    while i < n:
        if pos >= len(data):
            raise ValueError("truncated QOI stream")
        op = data[pos]
        pos += 1
        if op == 0xFE:  # RGB
            if pos + 3 > len(data):
                raise ValueError("truncated QOI RGB op")
            r, g, b = data[pos], data[pos + 1], data[pos + 2]
            pos += 3
        elif op == 0xFF:  # RGBA
            if pos + 4 > len(data):
                raise ValueError("truncated QOI RGBA op")
            r, g, b, a = data[pos : pos + 4]
            pos += 4
        elif op >> 6 == 0:  # INDEX
            r, g, b, a = index[op & 0x3F]
        elif op >> 6 == 1:  # DIFF
            r = (r + ((op >> 4) & 3) - 2) & 0xFF
            g = (g + ((op >> 2) & 3) - 2) & 0xFF
            b = (b + (op & 3) - 2) & 0xFF
        elif op >> 6 == 2:  # LUMA
            if pos >= len(data):
                raise ValueError("truncated QOI LUMA op")
            dg = (op & 0x3F) - 32
            b2 = data[pos]
            pos += 1
            r = (r + dg + ((b2 >> 4) & 0xF) - 8) & 0xFF
            g = (g + dg) & 0xFF
            b = (b + dg + (b2 & 0xF) - 8) & 0xFF
        else:  # RUN (1..62 stored as run-1; 63/64 are RGB/RGBA tags)
            run = (op & 0x3F) + 1
            if i + run > n:
                raise ValueError("QOI run overflows image")
            out[i : i + run] = (r, g, b)
            i += run
            continue
        index[(r * 3 + g * 5 + b * 7 + a * 11) % 64] = (r, g, b, a)
        out[i] = (r, g, b)
        i += 1
    if data[pos : pos + 8] != b"\x00" * 7 + b"\x01":
        raise ValueError("QOI missing end marker")
    return out.reshape(h, w, 3)


def _parse_pcx(data: bytes):
    """REAL codec: ZSoft PCX parser — stdlib + numpy only.  RLE
    decoding (0xC0-prefixed runs), row-planar layout, 8 bits per
    plane: 3-plane RGB and 1-plane VGA-paletted (256-color table
    after the 0x0C marker at EOF).  Returns (h, w, 3) uint8."""
    import numpy as np

    if len(data) < 128 or data[0] != 0x0A or data[2] != 1:
        raise ValueError("not an RLE PCX")
    bpp = data[3]
    xmin = int.from_bytes(data[4:6], "little")
    ymin = int.from_bytes(data[6:8], "little")
    xmax = int.from_bytes(data[8:10], "little")
    ymax = int.from_bytes(data[10:12], "little")
    nplanes = data[65]
    bpl = int.from_bytes(data[66:68], "little")
    w, h = xmax - xmin + 1, ymax - ymin + 1
    if bpp != 8 or nplanes not in (1, 3) or w <= 0 or h <= 0 or bpl < w:
        raise ValueError(
            f"unsupported PCX (bpp={bpp}, planes={nplanes}, {w}x{h})"
        )
    total = h * nplanes * bpl
    out = bytearray()
    pos = 128
    while len(out) < total:
        if pos >= len(data):
            raise ValueError("truncated PCX RLE stream")
        b = data[pos]
        pos += 1
        if b >= 0xC0:
            if pos >= len(data):
                raise ValueError("truncated PCX RLE run")
            out += bytes([data[pos]]) * (b & 0x3F)
            pos += 1
        else:
            out.append(b)
    rows = np.frombuffer(bytes(out[:total]), np.uint8).reshape(h, nplanes, bpl)
    px = rows[:, :, :w].transpose(0, 2, 1)  # (h, w, planes)
    if nplanes == 3:
        return np.ascontiguousarray(px)
    # paletted: VGA table = 0x0C marker + 768 bytes, at EXACTLY the
    # last 769 bytes of the file (searching for the marker byte would
    # false-match 0x0C values inside the palette itself)
    if len(data) < pos + 769 or data[-769] != 0x0C:
        raise ValueError("PCX missing VGA palette")
    pal = np.frombuffer(data[-768:], np.uint8).reshape(256, 3)
    return pal[px[..., 0]]


def _parse_tga(data: bytes):
    """REAL codec: Truevision TGA parser — stdlib + numpy only.
    Uncompressed and RLE, truecolor 24/32-bit (BGRA order, alpha
    dropped) and 8-bit grayscale, both vertical origins.  TGA has no
    magic number, so it is decode-by-declared-format only (never
    probed).  Returns (h, w, 3) uint8."""
    import numpy as np

    if len(data) < 18:
        raise ValueError("truncated TGA header")
    idlen, cmaptype, imgtype = data[0], data[1], data[2]
    w = int.from_bytes(data[12:14], "little")
    h = int.from_bytes(data[14:16], "little")
    bpp = data[16]
    top_down = bool(data[17] & 0x20)
    if cmaptype != 0:
        raise ValueError("color-mapped TGA not supported")
    if imgtype in (2, 10):
        if bpp not in (24, 32):
            raise ValueError(f"truecolor TGA needs 24/32 bpp (got {bpp})")
    elif imgtype in (3, 11):
        if bpp != 8:
            raise ValueError(f"grayscale TGA needs 8 bpp (got {bpp})")
    else:
        raise ValueError(f"unsupported TGA image type {imgtype}")
    if w <= 0 or h <= 0:
        raise ValueError("bad TGA geometry")
    px_bytes = bpp // 8
    expected = w * h * px_bytes
    pos = 18 + idlen
    if imgtype in (2, 3):  # uncompressed
        raw = data[pos : pos + expected]
        if len(raw) < expected:
            raise ValueError("truncated TGA pixel data")
    else:  # RLE packets
        out = bytearray()
        while len(out) < expected:
            if pos >= len(data):
                raise ValueError("truncated TGA RLE stream")
            head = data[pos]
            pos += 1
            count = (head & 0x7F) + 1
            if head & 0x80:  # run packet: one pixel repeated
                pix = data[pos : pos + px_bytes]
                if len(pix) < px_bytes:
                    raise ValueError("truncated TGA RLE run")
                out += pix * count
                pos += px_bytes
            else:  # raw packet
                chunk = data[pos : pos + count * px_bytes]
                if len(chunk) < count * px_bytes:
                    raise ValueError("truncated TGA RLE literals")
                out += chunk
                pos += count * px_bytes
        if len(out) != expected:
            raise ValueError("TGA RLE packet overruns image")
        raw = bytes(out)
    px = np.frombuffer(raw, np.uint8).reshape(h, w, px_bytes)
    if not top_down:
        px = px[::-1]  # TGA default origin is bottom-left
    if px_bytes == 1:
        return np.repeat(px, 3, axis=2)
    return np.ascontiguousarray(px[..., 2::-1])  # BGR(A) → RGB, drop A


def _parse_ico(data: bytes):
    """REAL codec: Windows ICO container parser — stdlib + numpy only.
    Reads the icon directory, picks the LARGEST image, and decodes its
    payload: embedded PNG (delegated to :func:`_parse_png`) or a DIB —
    a BITMAPINFOHEADER with doubled height whose XOR image is 32-bit
    BGRA or 24-bit BGR (the trailing AND mask is ignored; 32-bit alpha
    subsumes it for feature purposes).  Favicon corpora from web
    crawls are full of these.  Returns (h, w, 3) uint8."""
    import numpy as np

    if len(data) < 6 or data[:4] != b"\x00\x00\x01\x00":
        raise ValueError("not an ICO")
    count = int.from_bytes(data[4:6], "little")
    if count == 0 or 6 + 16 * count > len(data):
        raise ValueError("truncated ICO directory")
    best = None
    for i in range(count):
        e = 6 + 16 * i
        w = data[e] or 256
        h = data[e + 1] or 256
        size = int.from_bytes(data[e + 8 : e + 12], "little")
        off = int.from_bytes(data[e + 12 : e + 16], "little")
        if best is None or w * h > best[0] * best[1]:
            best = (w, h, off, size)
    w, h, off, size = best
    body = data[off : off + size]
    if len(body) < size or size < 8:
        raise ValueError("truncated ICO image data")
    if body[:8] == b"\x89PNG\r\n\x1a\n":
        return _parse_png(body)
    # DIB: BITMAPINFOHEADER with height doubled for the AND mask
    if len(body) < 40 or int.from_bytes(body[0:4], "little") != 40:
        raise ValueError("unsupported ICO bitmap header")
    bw = int.from_bytes(body[4:8], "little", signed=True)
    bh = int.from_bytes(body[8:12], "little", signed=True) // 2
    bpp = int.from_bytes(body[14:16], "little")
    compression = int.from_bytes(body[16:20], "little")
    if compression != 0 or bpp not in (24, 32):
        raise ValueError(f"only 24/32bpp uncompressed ICO DIB (bpp={bpp})")
    if bw <= 0 or bh <= 0 or bw != w or bh != h:
        raise ValueError("ICO DIB geometry mismatch")
    stride = (bw * (bpp // 8) + 3) & ~3
    need = 40 + stride * bh
    if len(body) < need:
        raise ValueError("truncated ICO DIB pixels")
    rows = np.frombuffer(body[40:need], np.uint8).reshape(bh, stride)
    px = rows[:, : bw * (bpp // 8)].reshape(bh, bw, bpp // 8)
    px = px[::-1]  # bottom-up
    return np.ascontiguousarray(px[..., 2::-1])  # BGR(A) → RGB, drop A


_FLAC_CRC8: list[int] | None = None
_FLAC_CRC16: list[int] | None = None


def _flac_crc_tables() -> tuple[list[int], list[int]]:
    """CRC lookup tables for the two FLAC frame checks: CRC-8 poly
    0x07 (header) and CRC-16 poly 0x8005 (whole frame), both MSB-first
    with init 0.  Check values for b'123456789' — 0xF4 and 0xFEE8 —
    are pinned in tests against the published CRC-8/SMBUS and
    CRC-16/BUYPASS vectors, so the polynomials can't drift into a
    self-consistent-but-nonstandard pair."""
    global _FLAC_CRC8, _FLAC_CRC16
    if _FLAC_CRC8 is None:
        t8, t16 = [], []
        for i in range(256):
            c = i
            for _ in range(8):
                c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
            t8.append(c)
            c = i << 8
            for _ in range(8):
                c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
            t16.append(c)
        _FLAC_CRC8, _FLAC_CRC16 = t8, t16
    return _FLAC_CRC8, _FLAC_CRC16


class _FlacBits:
    """MSB-first bit reader over FLAC subframe data — raises ValueError
    on exhaustion (the quarantine contract; never IndexError)."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes, pos: int):
        self.data, self.pos, self.acc, self.n = data, pos, 0, 0

    def bits(self, k: int) -> int:
        while self.n < k:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= k
        v = (self.acc >> self.n) & ((1 << k) - 1)
        self.acc &= (1 << self.n) - 1  # keep acc bounded: shifts stay O(1)
        return v

    def sbits(self, k: int) -> int:
        v = self.bits(k)
        return v - (1 << k) if v >= (1 << (k - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
            if q > (1 << 24):
                raise ValueError("unbounded FLAC unary run")
        return q

    def align(self) -> int:
        """Drop padding to the next byte boundary; return the byte
        offset of that boundary in ``data``."""
        self.n -= self.n % 8
        return self.pos - self.n // 8


def _flac_residual(bits: _FlacBits, blocksize: int, order: int) -> list[int]:
    """Rice-coded residual section: method 0 (4-bit params) / 1
    (5-bit), 2^partition_order partitions, escape code → raw n-bit."""
    method = bits.bits(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    plen = 4 + method
    escape = (1 << plen) - 1
    po = bits.bits(4)
    n_part = 1 << po
    if blocksize % n_part:
        raise ValueError("FLAC partition order does not divide block size")
    out: list[int] = []
    for i in range(n_part):
        cnt = (blocksize >> po) - (order if i == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC predictor order exceeds first partition")
        p = bits.bits(plen)
        if p == escape:
            nb = bits.bits(5)
            if nb:
                out.extend(bits.sbits(nb) for _ in range(cnt))
            else:
                out.extend([0] * cnt)
        else:
            for _ in range(cnt):
                v = (bits.unary() << p) | (bits.bits(p) if p else 0)
                out.append((v >> 1) ^ -(v & 1))  # zigzag → signed
    return out


_FLAC_FIXED_COEFS = [[], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1]]


def _flac_subframe(bits: _FlacBits, blocksize: int, bps: int) -> list[int]:
    """One subframe: CONSTANT / VERBATIM / FIXED(0-4) / LPC(1-32) with
    the wasted-bits shift."""
    if bits.bits(1):
        raise ValueError("FLAC subframe padding bit set")
    t = bits.bits(6)
    wasted = 0
    if bits.bits(1):
        wasted = 1 + bits.unary()
    eb = bps - wasted
    if eb <= 0 or eb > 33:
        raise ValueError(f"bad FLAC effective sample size {eb}")
    if t == 0:  # CONSTANT
        out = [bits.sbits(eb)] * blocksize
    elif t == 1:  # VERBATIM
        out = [bits.sbits(eb) for _ in range(blocksize)]
    elif 8 <= t <= 12 or t >= 32:  # FIXED order 0-4 / LPC order 1-32
        if t >= 32:
            order = (t & 31) + 1
        else:
            order = t - 8
        if order > blocksize:
            raise ValueError("FLAC predictor order exceeds block size")
        out = [bits.sbits(eb) for _ in range(order)]  # warmup
        if t >= 32:
            prec = bits.bits(4) + 1
            if prec == 16:
                raise ValueError("invalid FLAC LPC precision")
            shift = bits.sbits(5)
            if shift < 0:
                raise ValueError("negative FLAC LPC shift")
            coefs = [bits.sbits(prec) for _ in range(order)]
        else:
            shift, coefs = 0, _FLAC_FIXED_COEFS[order]
        for r in _flac_residual(bits, blocksize, order):
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * out[-1 - j]
            out.append((acc >> shift) + r)
    else:
        raise ValueError(f"reserved FLAC subframe type {t}")
    if wasted:
        out = [v << wasted for v in out]
    return out


#: frame-header sample-size codes → bits per sample (0 = streaminfo)
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _parse_flac(data: bytes):
    """REAL codec: native FLAC decoder — stdlib + numpy only.  Full
    lossless decode path: STREAMINFO metadata, frame headers (UTF-8
    coded numbers, all blocksize/rate/sample-size codes, CRC-8
    verified), subframes CONSTANT / VERBATIM / FIXED orders 0-4 / LPC
    orders 1-32 (quantized coefficients, arithmetic-shift prediction),
    Rice-coded residuals (4- and 5-bit params, partitions, raw
    escape), wasted-bits shift, stereo decorrelation (left/side,
    right/side, mid/side), and frame CRC-16 verified.  Returns
    (samples float64 mono-mixed in [-1, 1], sample_rate) — the same
    contract as :func:`_parse_wav`.  Corrupt streams fail a CRC or a
    structural check → ValueError → quarantine."""
    import numpy as np

    if len(data) < 42 or data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos, si, last = 4, None, False
    while not last:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata header")
        last = bool(data[pos] & 0x80)
        btype = data[pos] & 0x7F
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        if pos + 4 + blen > len(data):
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if blen < 34:
                raise ValueError("short FLAC STREAMINFO")
            si = data[pos + 4 : pos + 4 + 34]
        elif btype == 127:
            raise ValueError("invalid FLAC metadata block type")
        pos += 4 + blen
    if si is None:
        raise ValueError("FLAC missing STREAMINFO")
    rate = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
    n_ch = ((si[12] >> 1) & 0x7) + 1
    bps_si = (((si[12] & 1) << 4) | (si[13] >> 4)) + 1
    if rate == 0:
        raise ValueError("FLAC sample rate is zero")
    if not 4 <= bps_si <= 32:
        raise ValueError(f"bad FLAC sample size {bps_si}")

    crc8_t, crc16_t = _flac_crc_tables()
    channels: list[list[int]] = [[] for _ in range(n_ch)]
    while pos < len(data):
        fs = pos
        if pos + 5 > len(data):
            raise ValueError("truncated FLAC frame header")
        if data[pos] != 0xFF or (data[pos + 1] & 0xFC) != 0xF8:
            raise ValueError("bad FLAC frame sync")
        bs_code = data[pos + 2] >> 4
        sr_code = data[pos + 2] & 0xF
        ch_asgn = data[pos + 3] >> 4
        ss_code = (data[pos + 3] >> 1) & 0x7
        if data[pos + 3] & 1 or bs_code == 0 or sr_code == 15 or ss_code == 3:
            raise ValueError("reserved FLAC frame header value")
        p = pos + 4
        # coded frame/sample number: UTF-8-style, 1-7 bytes
        b0 = data[p]
        ones = 0
        while ones < 8 and b0 & (0x80 >> ones):
            ones += 1
        if ones == 1 or ones > 7:
            raise ValueError("bad FLAC coded number")
        n_num = max(1, ones)
        if p + n_num > len(data):
            raise ValueError("truncated FLAC coded number")
        if any(data[p + j] & 0xC0 != 0x80 for j in range(1, n_num)):
            raise ValueError("bad FLAC coded-number continuation")
        p += n_num
        if bs_code == 1:
            blocksize = 192
        elif 2 <= bs_code <= 5:
            blocksize = 576 << (bs_code - 2)
        elif bs_code == 6:
            if p + 1 > len(data):
                raise ValueError("truncated FLAC block size")
            blocksize = data[p] + 1
            p += 1
        elif bs_code == 7:
            if p + 2 > len(data):
                raise ValueError("truncated FLAC block size")
            blocksize = int.from_bytes(data[p : p + 2], "big") + 1
            p += 2
        else:
            blocksize = 256 << (bs_code - 8)
        if sr_code == 12:
            p += 1
        elif sr_code in (13, 14):
            p += 2
        if p + 1 > len(data):
            raise ValueError("truncated FLAC frame header")
        crc = 0
        for b in data[fs:p]:
            crc = crc8_t[crc ^ b]
        if crc != data[p]:
            raise ValueError("FLAC frame header CRC-8 mismatch")
        p += 1
        bps = bps_si if ss_code == 0 else _FLAC_BPS[ss_code]
        if ch_asgn <= 7:
            if ch_asgn + 1 != n_ch:
                raise ValueError("FLAC frame channel count mismatch")
        elif ch_asgn <= 10:
            if n_ch != 2:
                raise ValueError("FLAC stereo decorrelation needs 2 channels")
        else:
            raise ValueError("reserved FLAC channel assignment")

        bits = _FlacBits(data, p)
        sub = []
        for ci in range(n_ch):
            side = (
                (ch_asgn == 8 and ci == 1)
                or (ch_asgn == 9 and ci == 0)
                or (ch_asgn == 10 and ci == 1)
            )
            sub.append(_flac_subframe(bits, blocksize, bps + (1 if side else 0)))
        byte_end = bits.align()
        crc16 = 0
        for b in data[fs:byte_end]:
            crc16 = ((crc16 << 8) & 0xFFFF) ^ crc16_t[(crc16 >> 8) ^ b]
        if byte_end + 2 > len(data):
            raise ValueError("truncated FLAC frame footer")
        if crc16 != int.from_bytes(data[byte_end : byte_end + 2], "big"):
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos = byte_end + 2

        if ch_asgn == 8:  # left/side: side = L - R
            left, side_ch = sub
            sub = [left, [l - s for l, s in zip(left, side_ch)]]
        elif ch_asgn == 9:  # right/side: side = L - R
            side_ch, right = sub
            sub = [[s + r for s, r in zip(side_ch, right)], right]
        elif ch_asgn == 10:  # mid/side
            mid, side_ch = sub
            left, right = [], []
            for m, s in zip(mid, side_ch):
                m = (m << 1) | (s & 1)
                left.append((m + s) >> 1)
                right.append((m - s) >> 1)
            sub = [left, right]
        for ch, block in zip(channels, sub):
            ch.extend(block)

    if not channels[0]:
        raise ValueError("FLAC has no audio frames")
    arr = np.array(channels, dtype=np.float64)
    return arr.mean(axis=0) / float(1 << (bps_si - 1)), rate


def _parse_avi(data: bytes):
    """REAL codec: AVI (RIFF) parser — stdlib + numpy only.  Walks the
    RIFF/LIST chunk tree, reads the video stream's BITMAPINFOHEADER
    from ``strf``, and extracts every ``..db``/``..dc`` frame from the
    ``movi`` list.  Two frame codecs: 24bpp BI_RGB DIB (bottom-up BGR
    with 4-byte row stride, exactly the BMP pixel layout) and MJPG
    (each chunk a standalone baseline JPEG, decoded via
    :func:`_parse_jpeg`).  Returns a list of (h, w, 3) uint8 frames."""
    import numpy as np

    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI file")
    geom: dict = {}
    frame_spans: list[tuple[int, int]] = []

    # Iterative walk with an explicit stack: a crafted blob with
    # thousands of nested LIST headers must raise ValueError (the
    # quarantine contract), never RecursionError (which would escape
    # decode_media's except-net and kill the whole Spark task).
    stack: list[tuple[int, int]] = [(12, len(data))]
    while stack:
        pos, end = stack.pop()
        while pos + 8 <= end:
            cid = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "little")
            body = pos + 8
            if body + size > end:
                raise ValueError("truncated AVI chunk")
            if cid in (b"RIFF", b"LIST"):
                if len(stack) >= 64:  # no sane AVI nests this deep
                    raise ValueError("AVI chunk nesting too deep")
                stack.append((body + size + (size & 1), end))  # resume after list
                pos, end = body + 4, body + size  # first 4 bytes = list type
                continue
            elif cid == b"strf" and "bpp" not in geom:
                if size < 20:
                    raise ValueError("bad strf (BITMAPINFOHEADER)")
                geom["w"] = int.from_bytes(data[body + 4 : body + 8], "little", signed=True)
                geom["h"] = int.from_bytes(data[body + 8 : body + 12], "little", signed=True)
                geom["bpp"] = int.from_bytes(data[body + 14 : body + 16], "little")
                compression = data[body + 16 : body + 20]
                geom["mjpg"] = compression == b"MJPG"
                if not geom["mjpg"] and (
                    geom["bpp"] != 24 or compression != b"\x00\x00\x00\x00"
                ):
                    raise ValueError(
                        f"only 24bpp uncompressed or MJPG AVI (bpp={geom['bpp']})"
                    )
            elif cid[2:4] in (b"db", b"dc") and size > 0:
                frame_spans.append((body, size))
            pos = body + size + (size & 1)  # chunks are even-padded
    w, h = geom.get("w", 0), geom.get("h", 0)
    if not frame_spans or w <= 0 or h == 0:
        raise ValueError("missing strf geometry or frame data")
    if geom.get("mjpg"):
        # MJPG: every ..db/..dc chunk is a standalone baseline JPEG —
        # the entropy/IDCT machinery is shared with format='jpeg'.
        return [_parse_jpeg(data[s : s + n]) for s, n in frame_spans]
    bottom_up, hh = h > 0, abs(h)
    stride = (w * 3 + 3) & ~3
    frames = []
    for start, size in frame_spans:
        if size < stride * hh:
            raise ValueError("truncated AVI frame")
        rows = np.frombuffer(
            data[start : start + stride * hh], np.uint8
        ).reshape(hh, stride)
        px = rows[:, : w * 3].reshape(hh, w, 3)
        if bottom_up:
            px = px[::-1]
        frames.append(px[..., ::-1])  # BGR → RGB
    return frames


# ---------------------------------------------------------------------------
# REAL codec: WebP lossless (VP8L) — pure python, no codec libraries.
# Implements the public WebP Lossless Bitstream Specification (RFC
# 9649 / Google's VP8L spec): LSB-first bit reading, canonical prefix
# codes (simple + code-length-coded), meta prefix groups, color cache,
# LZ77 backward references with the 120-entry distance plane codes,
# and all four inverse transforms (predictor, color, subtract-green,
# color indexing with sub-byte bundling).  Lossy VP8 payloads stay a
# declared stub (a full DCT intra decoder is out of container scope,
# same posture as MP3/MP4); the r12 verdict's webp close-out is the
# LOSSLESS half, which is stdlib-able.
# ---------------------------------------------------------------------------


class _Vp8lBits:
    """LSB-first bit reader over bytes (VP8L convention: bit 0 of byte
    0 is the first bit of the stream)."""

    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0
        self.nbits = 8 * len(data)

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self.nbits:
            raise ValueError("truncated VP8L bitstream")
        v = 0
        p = self.pos
        for i in range(n):
            v |= ((self.data[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + n
        return v


#: kCodeLengthCodeOrder — the fixed transmission order of the 19
#: code-length code lengths (VP8L spec §6.2.2; same trick as DEFLATE
#: with a VP8L-specific permutation).
_VP8L_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _vp8l_canonical(lengths: list[int]):
    """Canonical prefix decode table from code lengths.

    Returns ``(max_len, table)`` where ``table[(len, code)] = symbol``
    with codes assigned canonically (increasing length, then symbol
    order — the DEFLATE/VP8L rule) and read MSB-first by tree
    descent; or ``(0, symbol)`` for the degenerate single-symbol code
    that consumes no bits.  Incomplete or oversubscribed codes raise
    (quarantine contract)."""
    present = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
    if not present:
        raise ValueError("VP8L: empty prefix code")
    if len(present) == 1:
        return 0, present[0][1]
    max_len = max(ln for ln, _ in present)
    counts = [0] * (max_len + 1)
    for ln, _ in present:
        counts[ln] += 1
    # Kraft completeness: decode dead-ends otherwise
    space = 1 << max_len
    for ln in range(1, max_len + 1):
        space -= counts[ln] << (max_len - ln)
        if space < 0:
            raise ValueError("VP8L: oversubscribed prefix code")
    if space != 0:
        raise ValueError("VP8L: incomplete prefix code")
    table: dict[tuple[int, int], int] = {}
    code = 0
    prev_len = 0
    for ln, sym in sorted(present):
        code <<= ln - prev_len
        prev_len = ln
        table[(ln, code)] = sym
        code += 1
    return max_len, table


def _vp8l_read_sym(br: _Vp8lBits, tree) -> int:
    max_len, table = tree
    if max_len == 0:
        return table  # single-symbol code: 0 bits
    code = 0
    for ln in range(1, max_len + 1):
        code = (code << 1) | br.read(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("VP8L: invalid prefix code word")


def _vp8l_read_code(br: _Vp8lBits, alphabet_size: int):
    """One prefix code: 'simple' (1-2 explicit symbols) or normal
    (code lengths themselves prefix-coded, with 16/17/18 repeats and
    the optional max_symbol cap) — VP8L spec §6.2.1-6.2.2."""
    if br.read(1):  # simple
        num_symbols = br.read(1) + 1
        if br.read(1):  # first symbol in 8 bits
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        if num_symbols == 1:
            if s0 >= alphabet_size:
                raise ValueError("VP8L: simple symbol out of range")
            return (0, s0)
        s1 = br.read(8)
        if s0 >= alphabet_size or s1 >= alphabet_size or s0 == s1:
            raise ValueError("VP8L: bad simple code pair")
        # RFC 9649 §6.2.1: both symbols get code length 1 and the code
        # is built CANONICALLY, so the numerically smaller symbol takes
        # code 0 regardless of read order — an encoder may emit the
        # pair unsorted, and first-read-wins would silently swap pixels
        lo, hi = (s0, s1) if s0 < s1 else (s1, s0)
        return (1, {(1, 0): lo, (1, 1): hi})
    num_cl = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[_VP8L_CL_ORDER[i]] = br.read(3)
    cl_tree = _vp8l_canonical(cl_lengths)
    if br.read(1):  # use max_symbol cap
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    symbol, prev_len = 0, 8
    while symbol < alphabet_size:
        if max_symbol <= 0:
            break
        max_symbol -= 1
        cl = _vp8l_read_sym(br, cl_tree)
        if cl < 16:
            lengths[symbol] = cl
            symbol += 1
            if cl != 0:
                prev_len = cl
        else:
            if cl == 16:
                repeat, fill = 3 + br.read(2), prev_len
            elif cl == 17:
                repeat, fill = 3 + br.read(3), 0
            else:
                repeat, fill = 11 + br.read(7), 0
            if symbol + repeat > alphabet_size:
                raise ValueError("VP8L: code-length repeat overflow")
            for _ in range(repeat):
                lengths[symbol] = fill
                symbol += 1
    return _vp8l_canonical(lengths)


def _vp8l_subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _vp8l_lz77_val(br: _Vp8lBits, code: int) -> int:
    """Prefix-coded LZ77 length/distance value (spec §5.2.2)."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _vp8l_dist_table() -> list[tuple[int, int]]:
    """The 120-entry distance plane-code neighborhood: the closest
    pixels (x, y) with y ≥ 0 (and x > 0 on the current row), ordered
    by squared distance, then higher row first, then positive x
    before negative — the generation rule behind the spec's explicit
    table (verified against its published leading entries: (0,1),
    (1,0), (1,1), (-1,1), (0,2), (2,0), (1,2), (-1,2), (2,1),
    (-2,1), ...)."""
    cands = [(x, 0) for x in range(1, 9)] + [
        (x, y) for y in range(1, 9) for x in range(-8, 9)
    ]
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1], -p[0]))
    return cands[:120]


_VP8L_DIST = _vp8l_dist_table()


def _vp8l_decode_image(br: _Vp8lBits, w: int, h: int, is_level0: bool) -> list[int]:
    """Decode one entropy-coded VP8L image of w×h ARGB pixels.

    At level 0 (the spatially coded main image) this additionally
    reads the optional meta prefix-code image; transforms are read by
    the CALLER (they exist only at level 0 and change xsize before
    this runs)."""
    if w <= 0 or h <= 0 or w * h > 1 << 24:
        raise ValueError("VP8L: unreasonable image geometry")
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L: bad color-cache size")
    meta = None
    meta_w = 0
    huff_bits = 0
    num_groups = 1
    if is_level0 and br.read(1):
        huff_bits = br.read(3) + 2
        meta_w = _vp8l_subsample(w, huff_bits)
        meta_h = _vp8l_subsample(h, huff_bits)
        meta = _vp8l_decode_image(br, meta_w, meta_h, False)
        meta = [((px >> 8) & 0xFFFF) for px in meta]
        num_groups = max(meta) + 1
    cache_size = (1 << cache_bits) if cache_bits else 0
    alphabets = (256 + 24 + cache_size, 256, 256, 256, 40)
    groups = [
        tuple(_vp8l_read_code(br, a) for a in alphabets)
        for _ in range(num_groups)
    ]
    cache = [0] * cache_size
    n = w * h
    pixels = [0] * n
    pos = 0
    g = groups[0]
    while pos < n:
        if meta is not None:
            x, y = pos % w, pos // w
            g = groups[meta[(y >> huff_bits) * meta_w + (x >> huff_bits)]]
        s = _vp8l_read_sym(br, g[0])
        if s < 256:  # literal: G then R, B, A from their own codes
            red = _vp8l_read_sym(br, g[1])
            blue = _vp8l_read_sym(br, g[2])
            alpha = _vp8l_read_sym(br, g[3])
            px = (alpha << 24) | (red << 16) | (s << 8) | blue
            pixels[pos] = px
            pos += 1
            if cache_size:
                cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        elif s < 280:  # LZ77 backward reference
            length = _vp8l_lz77_val(br, s - 256)
            dcode = _vp8l_lz77_val(br, _vp8l_read_sym(br, g[4]))
            if dcode > 120:
                dist = dcode - 120
            else:
                xo, yo = _VP8L_DIST[dcode - 1]
                dist = max(1, xo + yo * w)
            if dist > pos or pos + length > n:
                raise ValueError("VP8L: backward reference out of range")
            for _ in range(length):
                px = pixels[pos - dist]
                pixels[pos] = px
                pos += 1
                if cache_size:
                    cache[((0x1E35A7BD * px) & 0xFFFFFFFF) >> (32 - cache_bits)] = px
        else:  # color-cache hit
            if not cache_size:
                raise ValueError("VP8L: cache symbol without a cache")
            pixels[pos] = cache[s - 280]
            pos += 1
    return pixels


def _vp8l_avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _vp8l_add_px(a: int, b: int) -> int:
    """Component-wise mod-256 pixel addition."""
    return (
        (((a >> 24) + (b >> 24)) & 0xFF) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) & 0xFF) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) & 0xFF) << 8
        | (((a & 0xFF) + (b & 0xFF)) & 0xFF)
    )


def _vp8l_predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _vp8l_avg2(_vp8l_avg2(left, tr), top)
    if mode == 6:
        return _vp8l_avg2(left, tl)
    if mode == 7:
        return _vp8l_avg2(left, top)
    if mode == 8:
        return _vp8l_avg2(tl, top)
    if mode == 9:
        return _vp8l_avg2(top, tr)
    if mode == 10:
        return _vp8l_avg2(_vp8l_avg2(left, tl), _vp8l_avg2(top, tr))
    ch = lambda p, i: (p >> i) & 0xFF  # noqa: E731
    if mode == 11:  # Select
        p_l = p_t = 0
        for i in (24, 16, 8, 0):
            pred = ch(left, i) + ch(top, i) - ch(tl, i)
            p_l += abs(pred - ch(left, i))
            p_t += abs(pred - ch(top, i))
        return left if p_l < p_t else top
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for i in (24, 16, 8, 0):
            out |= clamp(ch(left, i) + ch(top, i) - ch(tl, i)) << i
        return out
    if mode == 13:  # ClampAddSubtractHalf
        ave = _vp8l_avg2(left, top)
        out = 0
        for i in (24, 16, 8, 0):
            d = ch(ave, i) - ch(tl, i)
            half = d // 2 if d >= 0 else -((-d) // 2)  # C trunc-toward-0
            out |= clamp(ch(ave, i) + half) << i
        return out
    raise ValueError(f"VP8L: invalid predictor mode {mode}")


def _vp8l_ct_delta(pred: int, color: int) -> int:
    """ColorTransformDelta: signed-int8 product, arithmetic >>5."""
    p = pred - 256 if pred >= 128 else pred
    c = color - 256 if color >= 128 else color
    return (p * c) >> 5


def _vp8l_inverse_transforms(pixels: list[int], w: int, h: int, transforms) -> tuple[list[int], int]:
    """Apply inverse transforms in reverse read order (spec §3);
    returns (pixels, final_width) — color indexing restores the
    pre-bundling width."""
    for t in reversed(transforms):
        kind = t[0]
        if kind == 2:  # subtract green
            for i, px in enumerate(pixels):
                gshift = (px >> 8) & 0xFF
                r = (((px >> 16) & 0xFF) + gshift) & 0xFF
                b = ((px & 0xFF) + gshift) & 0xFF
                pixels[i] = (px & 0xFF00FF00) | (r << 16) | b
        elif kind == 0:  # predictor
            _, bits, sub_w, sub = t
            for pos in range(w * h):
                x, y = pos % w, pos // w
                if pos == 0:
                    pred = 0xFF000000
                elif y == 0:
                    pred = pixels[pos - 1]
                elif x == 0:
                    pred = pixels[pos - w]
                else:
                    mode = (sub[(y >> bits) * sub_w + (x >> bits)] >> 8) & 0xFF
                    left = pixels[pos - 1]
                    top = pixels[pos - w]
                    tl = pixels[pos - w - 1]
                    # x = w-1 wraps: "top-right" is the first pixel of
                    # the CURRENT row (flat-index convention, spec §4.4)
                    tr = pixels[pos - w + 1]
                    pred = _vp8l_predict(mode, left, top, tl, tr)
                pixels[pos] = _vp8l_add_px(pixels[pos], pred)
        elif kind == 1:  # color transform
            _, bits, sub_w, sub = t
            for pos in range(w * h):
                x, y = pos % w, pos // w
                cte = sub[(y >> bits) * sub_w + (x >> bits)]
                g2r = cte & 0xFF            # blue channel
                g2b = (cte >> 8) & 0xFF     # green channel
                r2b = (cte >> 16) & 0xFF    # red channel
                px = pixels[pos]
                green = (px >> 8) & 0xFF
                red = (((px >> 16) & 0xFF) + _vp8l_ct_delta(g2r, green)) & 0xFF
                blue = ((px & 0xFF) + _vp8l_ct_delta(g2b, green)
                        + _vp8l_ct_delta(r2b, red)) & 0xFF
                pixels[pos] = (px & 0xFF00FF00) | (red << 16) | blue
        elif kind == 3:  # color indexing (palette, maybe bundled)
            _, bits, palette, full_w = t
            if bits == 0:
                pixels = [
                    palette[(px >> 8) & 0xFF] if ((px >> 8) & 0xFF) < len(palette) else 0
                    for px in pixels
                ]
            else:
                bpp = 8 >> bits           # index bits per pixel
                mask = (1 << bpp) - 1
                out = [0] * (full_w * h)
                for y in range(h):
                    for x in range(full_w):
                        packed = (pixels[y * w + (x >> bits)] >> 8) & 0xFF
                        idx = (packed >> (bpp * (x & ((1 << bits) - 1)))) & mask
                        out[y * full_w + x] = (
                            palette[idx] if idx < len(palette) else 0
                        )
                pixels = out
                w = full_w
    return pixels, w


def _parse_vp8l(payload: bytes):
    """VP8L chunk payload → (h, w, 3) uint8 RGB (alpha dropped, same
    contract as the other image parsers)."""
    import numpy as np

    if not payload or payload[0] != 0x2F:
        raise ValueError("bad VP8L signature")
    br = _Vp8lBits(payload[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha-is-used hint
    if br.read(3) != 0:
        raise ValueError("unknown VP8L version")
    transforms = []
    seen = set()
    xsize = w
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError("VP8L: duplicate transform")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / color: block-coded subimage
            bits = br.read(3) + 2
            sw = _vp8l_subsample(xsize, bits)
            sh = _vp8l_subsample(h, bits)
            sub = _vp8l_decode_image(br, sw, sh, False)
            transforms.append((ttype, bits, sw, sub))
        elif ttype == 2:
            transforms.append((2,))
        else:  # color indexing
            n_colors = br.read(8) + 1
            pal = _vp8l_decode_image(br, n_colors, 1, False)
            for i in range(1, n_colors):  # subtraction-coded entries
                pal[i] = _vp8l_add_px(pal[i], pal[i - 1])
            bits = 0 if n_colors > 16 else (1 if n_colors > 4 else (2 if n_colors > 2 else 3))
            transforms.append((3, bits, pal, xsize))
            xsize = _vp8l_subsample(xsize, bits)
    pixels = _vp8l_decode_image(br, xsize, h, True)
    pixels, _ = _vp8l_inverse_transforms(pixels, xsize, h, transforms)
    arr = np.array(pixels, dtype=np.uint32).reshape(h, w)
    rgb = np.empty((h, w, 3), dtype=np.uint8)
    rgb[..., 0] = (arr >> 16) & 0xFF
    rgb[..., 1] = (arr >> 8) & 0xFF
    rgb[..., 2] = arr & 0xFF
    return rgb


def _parse_webp(data: bytes):
    """REAL codec: WebP container walk → VP8L lossless decode.

    Handles bare ``VP8L`` files and extended ``VP8X`` layouts (the
    VP8L chunk is found wherever it sits).  Lossy ``VP8 `` payloads
    raise NotImplementedError — the DECLARED stub (full DCT intra
    decoder out of scope, like MP3/MP4); malformed bytes raise
    ValueError (quarantine)."""
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("not a WebP")
    pos = 12
    saw_lossy = False
    while pos + 8 <= len(data):
        fourcc = data[pos : pos + 4]
        size = int.from_bytes(data[pos + 4 : pos + 8], "little")
        body = data[pos + 8 : pos + 8 + size]
        if fourcc == b"VP8L":
            if len(body) < size:
                raise ValueError("truncated VP8L chunk")
            return _parse_vp8l(body)
        if fourcc == b"VP8 ":
            saw_lossy = True
        pos += 8 + size + (size & 1)
    if saw_lossy:
        raise NotImplementedError("lossy VP8 payload: declared stub")
    raise ValueError("WebP without a VP8L chunk")


def _temporal_features(frames) -> list[float]:
    """FEATURE_DIM-window mean-luminance-over-time profile — the video
    analog of the audio RMS envelope: per frame, mean Rec.601 luminance
    in [0, 1]; frames integer-split into 16 windows (≥1-frame floor)."""
    import numpy as np

    lum = np.array([0.299, 0.587, 0.114])
    lums = [
        float((f.astype(np.float64) @ lum).mean()) / 255.0 for f in frames
    ]
    n = len(lums)
    feats = []
    for i in range(FEATURE_DIM):
        s0 = (i * n) // FEATURE_DIM
        s1 = max(s0 + 1, ((i + 1) * n) // FEATURE_DIM)
        feats.append(round(sum(lums[s0:s1]) / (s1 - s0), 6))
    return feats


def _rms_features(samples) -> list[float]:
    """FEATURE_DIM-window RMS energy profile — the audio analog of the
    4×4 luminance grid: a real, classic loudness-envelope descriptor.
    Window bounds are integer-split with a ≥1-sample floor, so any
    length (even 1 sample) fills all 16 cells."""
    import numpy as np

    n = len(samples)
    feats = []
    for i in range(FEATURE_DIM):
        s0 = (i * n) // FEATURE_DIM
        s1 = max(s0 + 1, ((i + 1) * n) // FEATURE_DIM)
        w = samples[s0:s1]
        feats.append(round(float(np.sqrt(np.mean(w * w))), 6))
    return feats


def _grid_features(px) -> list[float]:
    """4×4 mean-luminance grid descriptor (FEATURE_DIM=16): a real,
    classic tiny-image feature.  Block bounds are integer-split with a
    ≥1-pixel floor so any geometry (even 1×1) fills all 16 cells."""
    import numpy as np

    h, w, _ = px.shape
    lum = px.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    grid = 4
    feats = []
    for i in range(grid):
        r0 = (i * h) // grid
        r1 = max(r0 + 1, ((i + 1) * h) // grid)
        for j in range(grid):
            c0 = (j * w) // grid
            c1 = max(c0 + 1, ((j + 1) * w) // grid)
            feats.append(round(float(lum[r0:r1, c0:c1].mean()) / 255.0, 6))
    return feats


def _decode_blob(content: bytes, media_type: str, fmt: str | None = None) -> list[float]:
    """bytes → fixed FEATURE_DIM float feature vector.

    REAL codecs (pure python + stdlib zlib + numpy, nothing beyond the
    container): ``format='ppm'`` (binary P6), ``format='bmp'`` (24-bit
    uncompressed), and ``format='png'`` (non-interlaced 8-bit
    gray/RGB/RGBA, all five scanline filters) are parsed to pixels and
    summarized as a 4×4 luminance-grid descriptor; ``format='wav'``
    (8/16-bit integer PCM or G.711 µ-law/A-law, any channel count) is
    parsed to mono samples and summarized as a 16-window RMS energy
    profile;
    ``format='gif'`` (GIF87a/89a, stdlib LZW decode, global/local
    palettes, interlace) decodes the first frame like the other image
    codecs; ``format='jpeg'`` (baseline sequential 8-bit, Huffman,
    4:4:4/4:2:2/4:2:0 and grayscale, restart intervals) is fully
    decoded — entropy decode, dequant, IDCT, chroma upsample,
    YCbCr→RGB — pure python + numpy; ``format='tiff'`` (baseline
    TIFF 6.0: II/MM byte orders, strips, compression none/LZW
    early-change/PackBits, horizontal predictor, gray/RGB),
    ``format='tga'`` (uncompressed/RLE truecolor + gray, both
    origins), ``format='ico'`` (largest icon, PNG or 24/32-bit
    DIB payload), ``format='pcx'`` (RLE, 3-plane RGB or
    VGA-paletted), and ``format='qoi'`` (full op set + hash index)
    decode
    like the other image codecs; ``format='au'`` (Sun/NeXT, 8/16
    bit linear PCM) and ``format='aiff'`` (IFF COMM/SSND, 8/16-bit
    big-endian PCM, 80-bit-float rate) parse like WAV to mono samples
    → RMS profile; ``format='flac'`` (native FLAC: CONSTANT/VERBATIM/
    FIXED/LPC subframes, Rice residuals, wasted bits, left-side/
    right-side/mid-side stereo, CRC-8 + CRC-16 verified) decodes
    losslessly to the same mono-samples contract; ``format='avi'``
    (uncompressed
    24bpp DIB or MJPG frames) is parsed to frames and summarized as a
    16-window temporal luminance profile; ``media_type='video',
    format='gif'`` runs the animated-GIF canvas composer
    (:func:`_parse_gif_frames`) to the same temporal-profile contract.  Every other format keeps
    the STUB below — MP3/MP4 need codec
    libraries (torchaudio, ffmpeg) this container doesn't
    ship; swap the stub for a real codec without touching any Spark
    plumbing.  Malformed bytes raise ValueError → the decode stage
    marks the row ok=false (quarantine posture, not task failure).
    """
    if media_type not in ("image", "audio", "video"):
        raise NotImplementedError(f"no codec for media_type={media_type!r}")
    if media_type == "image" and fmt in ("ppm", "pgm", "pbm"):
        return _grid_features(_parse_ppm(bytes(content)))
    if media_type == "image" and fmt == "bmp":
        return _grid_features(_parse_bmp(bytes(content)))
    if media_type == "image" and fmt == "png":
        return _grid_features(_parse_png(bytes(content)))
    if media_type == "image" and fmt == "gif":
        return _grid_features(_parse_gif(bytes(content)))
    if media_type == "image" and fmt == "jpeg":
        return _grid_features(_parse_jpeg(bytes(content)))
    if media_type == "image" and fmt == "tiff":
        return _grid_features(_parse_tiff(bytes(content)))
    if media_type == "image" and fmt == "tga":
        return _grid_features(_parse_tga(bytes(content)))
    if media_type == "image" and fmt == "pcx":
        return _grid_features(_parse_pcx(bytes(content)))
    if media_type == "image" and fmt == "qoi":
        return _grid_features(_parse_qoi(bytes(content)))
    if media_type == "image" and fmt == "ico":
        return _grid_features(_parse_ico(bytes(content)))
    if media_type == "audio" and fmt == "wav":
        samples, _rate = _parse_wav(bytes(content))
        return _rms_features(samples)
    if media_type == "audio" and fmt == "au":
        samples, _rate = _parse_au(bytes(content))
        return _rms_features(samples)
    if media_type == "audio" and fmt == "aiff":
        samples, _rate = _parse_aiff(bytes(content))
        return _rms_features(samples)
    if media_type == "audio" and fmt == "flac":
        samples, _rate = _parse_flac(bytes(content))
        return _rms_features(samples)
    if media_type == "video" and fmt == "avi":
        return _temporal_features(_parse_avi(bytes(content)))
    if media_type == "video" and fmt == "gif":
        # animated GIF as a video asset: canvas-composed frames
        # (GCE transparency + disposal semantics) → temporal profile,
        # same contract as AVI.  media_type='image'/gif above stays
        # the first-frame grid-feature fast path.
        return _temporal_features(_parse_gif_frames(bytes(content)))
    if media_type == "image" and fmt == "webp":
        try:
            return _grid_features(_parse_webp(bytes(content)))
        except NotImplementedError:
            pass  # lossy VP8 payload: DECLARED stub (no DCT decoder
            # in-container, same posture as MP3/MP4) — falls through
            # to the deterministic fake so the row still flows
    # STUB path: deterministic fake — bucket byte sums over windows
    if not content:
        return [0.0] * FEATURE_DIM
    step = max(1, len(content) // FEATURE_DIM)
    feats = []
    for i in range(FEATURE_DIM):
        window = content[i * step : (i + 1) * step] or b"\x00"
        feats.append(round(sum(window) / (255.0 * len(window)), 6))
    return feats


#: detected_format → (media_type, format) for detection-based decode
#: dispatch; only formats with a REAL decoder appear (mp3/mp4/ogg
#: probe fine but have no in-container decoder, so detection falls
#: back to the declared metadata for them; webp decodes the LOSSLESS
#: VP8L payload for real and keeps lossy VP8 on the declared stub).
_DETECTED_DECODERS = {
    **{f: ("image", f) for f in
       ("ppm", "pgm", "pbm", "bmp", "png", "gif", "jpeg", "tiff",
        "ico", "pcx", "qoi", "webp")},
    **{f: ("audio", f) for f in ("wav", "au", "aiff", "flac")},
    "avi": ("video", "avi"),
}


def decode_media(media: DataFrame, detect: bool = False) -> DataFrame:
    """Arrow-batched decode stage: binary blobs → feature vectors.

    ``mapInPandas`` streams Arrow record batches through Python once;
    each batch is decoded in bulk and yields a narrow result frame
    (features only — the blob column does NOT survive the stage, so
    downstream shuffles never carry bytes).  Failures are per-row
    (ok=false), matching the engine's quarantine posture (E1) rather
    than failing the task.

    ``detect=True`` dispatches on the blob's MAGIC BYTES instead of
    trusting ``meta.format`` — real corpora routinely mislabel
    containers (a .png that is actually a BMP), and declared-format
    dispatch would quarantine rows a probe-then-decode pass handles
    fine.  Detection falls back to the declared metadata when the
    container is unrecognized or has no in-container decoder
    (mp3/mp4/webp/ogg).  TGA is declared-only either way (it has no
    magic number).

    Parallelism floor (r16; guide §2.5 input skew): the decode is the
    CPU term of the stage — pure-Python codecs at ~0.5 ms/blob — and
    a small single-file source (one parquet row group) otherwise
    feeds the whole corpus to ONE task.  When the input arrives with
    fewer partitions than the cluster's default parallelism, fan out
    first; at real corpus scale the input is already many-partition
    and this is a no-op, so no payload shuffle is added where it
    matters.

    Known limits of the conditional (r17, ADVICE): (a)
    ``media.rdd.getNumPartitions()`` compiles the upstream physical
    plan once per call — acceptable here because decode stages are
    constructed once per pipeline, not per row/batch; (b) it observes
    the PRE-AQE initial partitioning, so an input that is wide at
    plan time but AQE-coalesced at runtime is not floored — that
    input had enough source splits for the scheduler to re-widen
    (AQE coalesces only small partitions), while the case the floor
    exists for (one narrow file scan / single row group) IS visible
    pre-AQE.  The wide-input zero-Exchange posture and the narrow-
    input RoundRobin fan-out are both pinned in tests/test_plans.py."""
    import pandas as pd

    par = media.sparkSession.sparkContext.defaultParallelism
    if media.rdd.getNumPartitions() < par:
        media = media.repartition(par)

    def decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"media_id": [], "n_bytes": [], "ok": [], "features": []}
            for mid, blob, meta in zip(
                pdf["media_id"], pdf["content"], pdf["meta"], strict=True
            ):
                media_type = (meta or {}).get("media_type")
                fmt = (meta or {}).get("format")
                raw = bytes(blob or b"")
                if detect:
                    try:
                        found = _probe_blob(raw)["detected_format"]
                        if found in _DETECTED_DECODERS:
                            media_type, fmt = _DETECTED_DECODERS[found]
                    except ValueError:
                        pass  # unrecognized container: declared wins
                out["media_id"].append(mid)
                out["n_bytes"].append(len(blob) if blob is not None else 0)
                try:
                    feats = _decode_blob(raw, media_type, fmt)
                    out["ok"].append(True)
                    out["features"].append(feats)
                except (NotImplementedError, ValueError):
                    out["ok"].append(False)
                    out["features"].append(None)
            yield pd.DataFrame(out)

    return media.mapInPandas(decode, schema=DECODED_SCHEMA)


PROBED_SCHEMA = (
    "media_id long, detected_format string, width int, height int, "
    "sample_rate int, n_bytes long, ok boolean"
)


def _probe_blob(data: bytes) -> dict:
    """Header-only metadata probe: detect the container by magic bytes
    and read geometry/rate WITHOUT decoding any pixel/sample payload.
    Raises ValueError for unrecognized or truncated headers (same
    quarantine contract as the decoders)."""
    out = {"detected_format": None, "width": None, "height": None,
           "sample_rate": None, "bitrate_kbps": None, "duration_ms": None,
           "n_tracks": None}
    if data[:2] in (b"P4", b"P5", b"P6"):
        import re as _re

        m = _re.match(
            rb"P[456]\s+(?:#[^\n]*\s+)*(\d+)\s+(?:#[^\n]*\s+)*(\d+)\s",
            data,
        )
        if not m:
            raise ValueError("bad PNM header")
        fmt = {b"P4": "pbm", b"P5": "pgm", b"P6": "ppm"}[data[:2]]
        out.update(detected_format=fmt, width=int(m.group(1)),
                   height=int(m.group(2)))
    elif data[:2] == b"BM":
        if len(data) < 26:
            raise ValueError("truncated BMP header")
        out.update(
            detected_format="bmp",
            width=int.from_bytes(data[18:22], "little", signed=True),
            height=abs(int.from_bytes(data[22:26], "little", signed=True)),
        )
    elif data[:8] == b"\x89PNG\r\n\x1a\n":
        if len(data) < 24 or data[12:16] != b"IHDR":
            raise ValueError("truncated PNG header")
        out.update(
            detected_format="png",
            width=int.from_bytes(data[16:20], "big"),
            height=int.from_bytes(data[20:24], "big"),
        )
    elif data[:4] in (b"II*\x00", b"MM\x00*"):
        # read IFD0's width/height tags only — never touches strips
        bo = "little" if data[:2] == b"II" else "big"
        if len(data) < 8:
            raise ValueError("truncated TIFF header")
        ifd = int.from_bytes(data[4:8], bo)
        if ifd + 2 > len(data):
            raise ValueError("truncated TIFF IFD")
        n = int.from_bytes(data[ifd : ifd + 2], bo)
        if ifd + 2 + 12 * n > len(data):
            raise ValueError("truncated TIFF IFD")
        dims = {}
        for i in range(n):
            e = ifd + 2 + 12 * i
            tag = int.from_bytes(data[e : e + 2], bo)
            typ = int.from_bytes(data[e + 2 : e + 4], bo)
            if tag in (256, 257) and typ in (3, 4):
                width_bytes = 2 if typ == 3 else 4
                dims[tag] = int.from_bytes(data[e + 8 : e + 8 + width_bytes], bo)
        if 256 not in dims or 257 not in dims:
            raise ValueError("TIFF IFD lacks geometry tags")
        out.update(detected_format="tiff", width=dims[256], height=dims[257])
    elif data[:6] in (b"GIF87a", b"GIF89a"):
        if len(data) < 10:
            raise ValueError("truncated GIF header")
        out.update(
            detected_format="gif",
            width=int.from_bytes(data[6:8], "little"),
            height=int.from_bytes(data[8:10], "little"),
        )
    elif data[:2] == b"\xff\xd8":
        # walk marker segments to SOF0/1 — header-only, never enters
        # the entropy-coded scan
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                raise ValueError("bad JPEG marker stream")
            while pos < len(data) and data[pos] == 0xFF:
                pos += 1
            if pos >= len(data):
                break
            marker = data[pos]
            pos += 1
            if marker in (0xD9, 0xDA):  # EOI / SOS without SOF seen
                break
            if 0xD0 <= marker <= 0xD7 or marker == 0x01:
                continue
            if pos + 2 > len(data):
                break
            seglen = int.from_bytes(data[pos : pos + 2], "big")
            if seglen < 2 or pos + seglen > len(data):
                raise ValueError("truncated JPEG segment")
            if marker in (0xC0, 0xC1, 0xC2) and seglen >= 7:
                out.update(
                    detected_format="jpeg",
                    height=int.from_bytes(data[pos + 3 : pos + 5], "big"),
                    width=int.from_bytes(data[pos + 5 : pos + 7], "big"),
                )
                return out
            pos += seglen
        raise ValueError("JPEG has no SOF header")
    elif data[:4] == b"RIFF" and data[8:12] == b"WAVE":
        pos = 12
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "little")
            if cid == b"fmt " and size >= 16:
                out.update(
                    detected_format="wav",
                    sample_rate=int.from_bytes(
                        data[pos + 12 : pos + 16], "little"
                    ),
                )
                return out
            pos += 8 + size + (size & 1)
        raise ValueError("WAV has no fmt chunk")
    elif data[:4] == b"qoif":
        if len(data) < 14:
            raise ValueError("truncated QOI header")
        out.update(
            detected_format="qoi",
            width=int.from_bytes(data[4:8], "big"),
            height=int.from_bytes(data[8:12], "big"),
        )
    elif data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        # WebP: geometry from the first VP8/VP8L/VP8X chunk header —
        # decode itself needs libwebp (manifest-only, like MP4/MP3)
        if len(data) < 20:
            raise ValueError("truncated WebP header")
        ct = data[12:16]
        if ct == b"VP8X" and len(data) >= 30:
            out.update(
                detected_format="webp",
                width=int.from_bytes(data[24:27], "little") + 1,
                height=int.from_bytes(data[27:30], "little") + 1,
            )
        elif ct == b"VP8L" and len(data) >= 25 and data[20] == 0x2F:
            packed = int.from_bytes(data[21:25], "little")
            out.update(
                detected_format="webp",
                width=(packed & 0x3FFF) + 1,
                height=((packed >> 14) & 0x3FFF) + 1,
            )
        elif ct == b"VP8 " and len(data) >= 30 and data[23:26] == b"\x9d\x01\x2a":
            out.update(
                detected_format="webp",
                width=int.from_bytes(data[26:28], "little") & 0x3FFF,
                height=int.from_bytes(data[28:30], "little") & 0x3FFF,
            )
        else:
            raise ValueError("unrecognized WebP chunk layout")
    elif data[:4] == b"OggS":
        # Ogg: rate from the id header in the first page — Vorbis
        # ("\x01vorbis", u32 LE at +12) or Opus ("OpusHead", u32 LE
        # input rate at +12).  DURATION from the LAST page's granule
        # position (r12 verdict item 3): a proper page walk (27-byte
        # header + segment table + body lengths), never a byte scan
        # for "OggS" (the capture pattern legally appears inside
        # packet bodies).  Vorbis granule = PCM samples at the id
        # rate; Opus granule is ALWAYS 48 kHz minus the OpusHead
        # pre-skip.  Payload decode still needs codec libs
        # (manifest-only posture, like MP3/MP4).
        if len(data) < 28:
            raise ValueError("truncated Ogg page")
        nseg = data[26]
        body = 27 + nseg
        seg = data[body : body + 64]
        pre_skip = 0
        if seg[:8] == b"OpusHead" and len(seg) >= 16:
            kind = "opus"
            pre_skip = int.from_bytes(seg[10:12], "little")
            out.update(
                detected_format="ogg",
                sample_rate=int.from_bytes(seg[12:16], "little"),
            )
        elif seg[:7] == b"\x01vorbis" and len(seg) >= 16:
            kind = "vorbis"
            out.update(
                detected_format="ogg",
                sample_rate=int.from_bytes(seg[12:16], "little"),
            )
        else:
            raise ValueError("unrecognized Ogg stream type")
        # page walk → last COMPLETE page's granule (-1 = no packet
        # ends on the page → skipped); truncated tail pages are
        # tolerated (header-sampled blobs), duration just reflects
        # the last complete page seen
        last_granule = None
        pos = 0
        while pos + 27 <= len(data) and data[pos : pos + 4] == b"OggS":
            ns = data[pos + 26]
            if pos + 27 + ns > len(data):
                break
            body_len = sum(data[pos + 27 : pos + 27 + ns])
            if pos + 27 + ns + body_len > len(data):
                break
            granule = int.from_bytes(data[pos + 6 : pos + 14], "little")
            if granule != 0xFFFFFFFFFFFFFFFF:
                last_granule = granule
            pos += 27 + ns + body_len
        if last_granule is not None:
            if kind == "opus":
                samples = max(0, last_granule - pre_skip)
                out["duration_ms"] = samples * 1000 // 48000
            elif out["sample_rate"]:
                out["duration_ms"] = (
                    last_granule * 1000 // out["sample_rate"]
                )
    elif len(data) >= 12 and data[0] == 0x0A and data[2] == 1 and data[1] in (0, 2, 3, 4, 5):
        out.update(
            detected_format="pcx",
            width=int.from_bytes(data[8:10], "little")
            - int.from_bytes(data[4:6], "little") + 1,
            height=int.from_bytes(data[10:12], "little")
            - int.from_bytes(data[6:8], "little") + 1,
        )
    elif data[:4] == b"\x00\x00\x01\x00" and len(data) >= 8:
        # ICO: geometry of the largest directory entry (0 byte = 256).
        # TGA is deliberately absent here — it has no magic number.
        n = int.from_bytes(data[4:6], "little")
        if n == 0 or 6 + 16 * n > len(data):
            raise ValueError("truncated ICO directory")
        bw = bh = 0
        for i in range(n):
            e = 6 + 16 * i
            ww, hh = data[e] or 256, data[e + 1] or 256
            if ww * hh > bw * bh:
                bw, bh = ww, hh
        out.update(detected_format="ico", width=bw, height=bh)
    elif data[:4] == b"fLaC":
        # STREAMINFO is mandatory first block; rate sits at fixed offsets
        if len(data) < 22 or (data[4] & 0x7F) != 0:
            raise ValueError("FLAC missing leading STREAMINFO")
        sr = (data[18] << 12) | (data[19] << 4) | (data[20] >> 4)
        if sr == 0:
            raise ValueError("FLAC sample rate is zero")
        out.update(detected_format="flac", sample_rate=sr)
    elif data[:4] == b".snd":
        if len(data) < 24:
            raise ValueError("truncated AU header")
        out.update(
            detected_format="au",
            sample_rate=int.from_bytes(data[16:20], "big"),
        )
    elif data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        pos = 12
        while pos + 8 <= len(data):
            cid = data[pos : pos + 4]
            size = int.from_bytes(data[pos + 4 : pos + 8], "big")
            if cid == b"COMM" and size >= 18 and pos + 8 + 18 <= len(data):
                out.update(
                    detected_format="aiff",
                    sample_rate=int(round(_parse_f80(
                        data[pos + 16 : pos + 26]
                    ))),
                )
                return out
            pos += 8 + size + (size & 1)
        raise ValueError("AIFF has no COMM header")
    elif data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        # find the first strf BITMAPINFOHEADER (bounded iterative walk,
        # same nesting cap as the full parser)
        stack = [(12, len(data))]
        while stack:
            pos, end = stack.pop()
            while pos + 8 <= end:
                cid = data[pos : pos + 4]
                size = int.from_bytes(data[pos + 4 : pos + 8], "little")
                body = pos + 8
                if body + size > end:
                    raise ValueError("truncated AVI chunk")
                if cid in (b"RIFF", b"LIST"):
                    if len(stack) >= 64:
                        raise ValueError("AVI chunk nesting too deep")
                    stack.append((body + size + (size & 1), end))
                    pos, end = body + 4, body + size
                    continue
                if cid == b"strf" and size >= 12:
                    out.update(
                        detected_format="avi",
                        width=int.from_bytes(
                            data[body + 4 : body + 8], "little", signed=True
                        ),
                        height=abs(int.from_bytes(
                            data[body + 8 : body + 12], "little", signed=True
                        )),
                    )
                    return out
                pos = body + size + (size & 1)
        raise ValueError("AVI has no strf header")
    elif len(data) >= 12 and data[4:8] == b"ftyp":
        # ISO BMFF (MP4/MOV/M4A): full header walk — moov→mvhd for
        # movie duration (timescale units → ms), trak count, and the
        # FIRST video trak's tkhd geometry (16.16 fixed point).
        # Decode itself stays stubbed (needs ffmpeg-class codecs) —
        # but manifests over MP4 corpora need exactly this
        # header-only pass.
        #
        # TRUNCATION is expected, not malformed: the manifest pass
        # typically samples a blob's first N KB, and a faststart MP4's
        # mdat (or a tail box) then overruns the sample.  A box that
        # runs past the available bytes STOPS the walk and the probe
        # returns whatever it has collected so far (r10 review fix —
        # the pre-r10 code returned early on video geometry, so
        # header-sampled MP4s probed fine; the full walk must not
        # regress them to quarantine).  Structurally bad SIZES
        # (size < 8, largesize < 16) still raise.
        stack = [(0, len(data))]
        n_tracks = 0
        truncated = False
        while stack and not truncated:
            pos, end = stack.pop()
            while pos + 8 <= end:
                size = int.from_bytes(data[pos : pos + 4], "big")
                btype = data[pos + 4 : pos + 8]
                body = pos + 8
                if size == 1:  # 64-bit largesize
                    if body + 8 > end:
                        truncated = True
                        break
                    size = int.from_bytes(data[body : body + 8], "big")
                    body += 8
                    if size < 16:
                        raise ValueError("bad MP4 largesize")
                elif size == 0:  # box extends to end of file
                    size = end - pos
                elif size < 8:
                    raise ValueError("bad MP4 box size")
                if btype in (b"moov", b"trak"):
                    # container boxes: descend even when the box is cut
                    # by the sample — the available prefix still holds
                    # mvhd / leading traks (clamp, don't quarantine)
                    if btype == b"trak":
                        n_tracks += 1
                    if len(stack) >= 64:
                        raise ValueError("MP4 box nesting too deep")
                    stack.append((min(pos + size, end), end))
                    pos, end = body, min(pos + size, end)
                    continue
                if pos + size > end:
                    truncated = True
                    break
                if btype == b"mvhd" and body + 1 <= pos + size:
                    v = data[body]
                    if v == 1 and body + 32 <= pos + size:
                        ts = int.from_bytes(data[body + 20 : body + 24], "big")
                        dur = int.from_bytes(data[body + 24 : body + 32], "big")
                    elif v == 0 and body + 20 <= pos + size:
                        ts = int.from_bytes(data[body + 12 : body + 16], "big")
                        dur = int.from_bytes(data[body + 16 : body + 20], "big")
                    else:
                        ts = dur = 0
                    if ts:
                        out["duration_ms"] = dur * 1000 // ts
                if (
                    btype == b"tkhd"
                    and size >= body - pos + 4
                    and out["width"] is None  # first video track wins
                ):
                    v = data[body]
                    geo = body + (88 if v == 1 else 76)
                    if geo + 8 <= pos + size:
                        tw = int.from_bytes(data[geo : geo + 4], "big") >> 16
                        th = int.from_bytes(data[geo + 4 : geo + 8], "big") >> 16
                        if tw and th:  # audio tracks carry 0x0 geometry
                            out.update(width=tw, height=th)
                pos += size
        out.update(detected_format="mp4", n_tracks=n_tracks)
    elif (
        data[:3] == b"ID3"
        or (len(data) >= 4 and data[0] == 0xFF and data[1] & 0xE0 == 0xE0)
    ):
        # MPEG audio (MP3): optional ID3v2 tag, then a frame header —
        # version/layer/rate fields are enough for the manifest pass;
        # decode stays stubbed (needs a polyphase/IMDCT codec lib).
        pos = 0
        if data[:3] == b"ID3":
            if len(data) < 10 or any(b & 0x80 for b in data[6:10]):
                raise ValueError("bad ID3v2 tag header")
            tag = (data[6] << 21) | (data[7] << 14) | (data[8] << 7) | data[9]
            pos = 10 + tag
        if pos + 4 > len(data):
            raise ValueError("truncated MPEG audio frame header")
        h0, h1, h2 = data[pos], data[pos + 1], data[pos + 2]
        if h0 != 0xFF or h1 & 0xE0 != 0xE0:
            raise ValueError("no MPEG audio frame sync")
        version = (h1 >> 3) & 0x3  # 0=MPEG2.5, 2=MPEG2, 3=MPEG1
        layer = (h1 >> 1) & 0x3  # 1=III, 2=II, 3=I
        sr_idx = (h2 >> 2) & 0x3
        if version == 1 or layer == 0 or sr_idx == 3 or (h2 >> 4) == 0xF:
            raise ValueError("reserved MPEG audio header value")
        sr = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}[version][sr_idx]
        out.update(detected_format="mp3", sample_rate=sr)
        # bitrate from the (version, layer) table; CBR duration
        # estimate over the post-tag byte count.  Free-format
        # (index 0) has no declared bitrate → both stay NULL.
        br_idx = h2 >> 4
        if br_idx:
            if version == 3:  # MPEG1
                table = {
                    3: (32, 64, 96, 128, 160, 192, 224, 256,
                        288, 320, 352, 384, 416, 448),  # layer I
                    2: (32, 48, 56, 64, 80, 96, 112, 128,
                        160, 192, 224, 256, 320, 384),  # layer II
                    1: (32, 40, 48, 56, 64, 80, 96, 112,
                        128, 160, 192, 224, 256, 320),  # layer III
                }[layer]
            else:  # MPEG2 / MPEG2.5
                table = {
                    3: (32, 48, 56, 64, 80, 96, 112, 128,
                        144, 160, 176, 192, 224, 256),  # layer I
                    2: (8, 16, 24, 32, 40, 48, 56, 64,
                        80, 96, 112, 128, 144, 160),  # layer II
                    1: (8, 16, 24, 32, 40, 48, 56, 64,
                        80, 96, 112, 128, 144, 160),  # layer III
                }[layer]
            br = table[br_idx - 1]
            out.update(
                bitrate_kbps=br,
                # kbps = bits per millisecond, so this is exact
                # integer ms for the CBR assumption
                duration_ms=(len(data) - pos) * 8 // br,
            )
    else:
        raise ValueError("unrecognized media container")
    return out


def probe_media(media: DataFrame) -> DataFrame:
    """Header-only metadata extraction over binary media columns: the
    manifest-building primitive for a 100 TB corpus — detect the real
    container by magic bytes (ignoring whatever ``meta.format``
    claims) and extract geometry / sample rate from the first bytes of
    each blob, WITHOUT decoding payloads.  Arrow-batched
    ``mapInPandas`` like :func:`decode_media`; the blob does not
    survive the stage.  At scale this is the cheap first pass that
    validates/repairs declared metadata before any decode compute is
    spent; unrecognized or truncated headers quarantine per-row
    (ok=false), never fail the task."""
    return _probe_rows(
        media,
        PROBED_SCHEMA,
        ("detected_format", "width", "height", "sample_rate"),
    )


PROBED_AV_SCHEMA = (
    "media_id long, detected_format string, sample_rate int, "
    "bitrate_kbps int, duration_ms long, n_tracks int, "
    "n_bytes long, ok boolean"
)


def probe_av_manifest(media: DataFrame) -> DataFrame:
    """Audio/video manifest probe — :func:`probe_media`'s sibling for
    the A/V columns ``_probe_blob`` extracts beyond geometry: MP3
    bitrate + CBR duration estimate from the frame header, MP4 movie
    duration (mvhd timescale→ms) + trak count.  This is the
    header-only pass that builds a duration/bitrate manifest over an
    MP4/MP3 corpus WHOSE PAYLOAD DECODE STAYS STUBBED (no codec libs
    in this container): the manifest is real, the sample decode is
    not — exactly the split a 100 TB video-corpus curation pipeline
    needs first (total hours, per-shard duration budgets, bitrate
    histograms) before any GPU-decode compute is scheduled.
    Same Arrow-batched ``mapInPandas`` / per-row-quarantine contract
    as :func:`probe_media`."""
    return _probe_rows(
        media,
        PROBED_AV_SCHEMA,
        ("detected_format", "sample_rate", "bitrate_kbps", "duration_ms",
         "n_tracks"),
    )


def _probe_rows(
    media: DataFrame, schema: str, cols: tuple[str, ...]
) -> DataFrame:
    """The per-blob loop behind :func:`probe_media` and
    :func:`probe_av_manifest`: ``_probe_blob`` each ``content`` blob in
    an Arrow-batched ``mapInPandas`` and emit ``(media_id, *cols,
    n_bytes, ok)`` — a header ``_probe_blob`` rejects quarantines its
    row (``ok`` false, ``cols`` NULL) instead of failing the task."""
    import pandas as pd

    def probe(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"media_id": [], **{k: [] for k in cols}, "n_bytes": [], "ok": []}
            for mid, blob in zip(pdf["media_id"], pdf["content"], strict=True):
                raw = bytes(blob or b"")
                out["media_id"].append(mid)
                out["n_bytes"].append(len(raw))
                try:
                    info = _probe_blob(raw)
                    out["ok"].append(True)
                except ValueError:
                    info = {}
                    out["ok"].append(False)
                for k in cols:
                    out[k].append(info.get(k))
            yield pd.DataFrame(out)

    return media.mapInPandas(probe, schema=schema)


RESIZED_SCHEMA = (
    "media_id long, width int, height int, channels int, content binary"
)


_IMAGE_PARSERS = {}  # populated below, after the parsers are defined


def _resample_nearest(px, width: int, height: int):
    """Nearest-neighbor resample (h,w,3) → (height,width,3): the
    index-map formulation (src = floor((dst + 0.5) · src/dst)) — two
    fancy-index numpy ops, no Python pixel loop."""
    import numpy as np

    h, w, _ = px.shape
    rows = np.minimum(((np.arange(height) + 0.5) * h / height).astype(int), h - 1)
    cols = np.minimum(((np.arange(width) + 0.5) * w / width).astype(int), w - 1)
    return px[rows][:, cols]


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """Arrow-batched image resize stage — REAL for the decodable
    formats (``meta.format`` in ppm/bmp/png/gif/jpeg/tiff/tga/ico,
    i.e. the
    ``_IMAGE_PARSERS`` dispatch table: decode → nearest-neighbor
    resample → raw RGB bytes out), STUB for everything else
    (deterministic truncate/pad, so the Spark contract — schema,
    per-batch iteration, blob-in/blob-out, original blob does not
    survive the stage — stays pinned even for formats whose codec libs
    this container doesn't ship).  BOTH paths emit exactly
    ``width*height*3`` bytes; the ``channels`` column records
    provenance (3 = real interleaved RGB, 1 = stub bytes zero-padded
    to the same contract size), so downstream consumers get one
    size invariant and an explicit flag for which path produced the
    blob.  Undecodable bytes in a decodable format fall back to the
    stub rather than failing the task (quarantine posture lives in
    :func:`decode_media`; resize is best-effort by design).
    """
    import pandas as pd

    target = width * height * 3

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {
                "media_id": [],
                "width": [],
                "height": [],
                "channels": [],
                "content": [],
            }
            metas = pdf["meta"] if "meta" in pdf.columns else [None] * len(pdf)
            for mid, blob, meta in zip(
                pdf["media_id"], pdf["content"], metas, strict=True
            ):
                raw = bytes(blob or b"")
                fmt = (meta or {}).get("format")
                resized = None
                channels = 3
                parser = _IMAGE_PARSERS.get(fmt)
                if parser is not None:
                    try:  # REAL: decode + resample
                        resized = _resample_nearest(
                            parser(raw), width, height
                        ).tobytes()
                    except ValueError:
                        resized = None
                if resized is None:
                    # STUB: same w*h*3 size contract as the real path
                    resized = raw[:target].ljust(target, b"\x00")
                    channels = 1
                out["media_id"].append(mid)
                out["width"].append(width)
                out["height"].append(height)
                out["channels"].append(channels)
                out["content"].append(resized)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=RESIZED_SCHEMA)


FRAMES_SCHEMA = "media_id long, frame_idx int, frame binary"


def sample_frames(media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8) -> DataFrame:
    """Frame-sampling stage for video blobs — a 1-to-N ``mapInPandas``
    expansion (each asset yields up to ``max_frames`` rows), the
    multimodal analog of J4's explode.

    REAL for ``meta.format == 'avi'`` (uncompressed 24bpp DIB or MJPG
    frames) and ``'gif'`` (animated GIF: canvas-composed frames with
    GCE transparency + disposal semantics, :func:`_parse_gif_frames`):
    frames are decoded and emitted as raw RGB bytes, evenly
    subsampled to ``max_frames`` when the clip is longer; STUB for
    formats needing ffmpeg/pyav (fixed-stride byte windows stand in
    as "frames").
    The Spark contract pinned either way: output cardinality is
    data-driven per input row (generator semantics), ordering within
    an asset is by frame_idx, and blobs never join the shuffle unless
    selected.
    """
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {"media_id": [], "frame_idx": [], "frame": []}
            metas = pdf["meta"] if "meta" in pdf.columns else [None] * len(pdf)
            for mid, blob, meta in zip(
                pdf["media_id"], pdf["content"], metas, strict=True
            ):
                raw = bytes(blob or b"")
                frames = None
                fmt = (meta or {}).get("format")
                if fmt in ("avi", "gif"):
                    try:  # REAL: decoded frames, evenly subsampled
                        decoded = (
                            _parse_avi(raw)
                            if fmt == "avi"
                            else _parse_gif_frames(raw)
                        )
                        n = len(decoded)
                        take = (
                            range(n)
                            if n <= max_frames
                            else [(i * n) // max_frames for i in range(max_frames)]
                        )
                        frames = [decoded[i].tobytes() for i in take]
                    except ValueError:
                        frames = None
                if frames is None:
                    # STUB: fixed-stride byte windows
                    frames = [
                        raw[i * every_n_bytes : (i + 1) * every_n_bytes]
                        for i in range(
                            min(max_frames, max(1, len(raw) // every_n_bytes))
                        )
                    ]
                for i, fr in enumerate(frames):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame"].append(fr)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAMES_SCHEMA)


# decodable-image dispatch for resize (defined after the parsers exist)
_IMAGE_PARSERS.update(
    {
        "ppm": _parse_ppm,
        "pgm": _parse_ppm,
        "pbm": _parse_ppm,
        "bmp": _parse_bmp,
        "png": _parse_png,
        "gif": _parse_gif,
        "jpeg": _parse_jpeg,
        "tiff": _parse_tiff,
        "tga": _parse_tga,
        "ico": _parse_ico,
        "pcx": _parse_pcx,
        "qoi": _parse_qoi,
    }
)
