"""Resize / frame-sample mapInPandas stages + JSON quarantine ingest."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from square_etl_spark.io import json_ingest_quarantine
from square_etl_spark.operators.multimodal import (
    documents_as_media,
    resize_images,
    sample_frames,
)


def _media(spark):
    docs = spark.createDataFrame(
        [(1, "x" * 200), (2, "y" * 10), (3, "")],
        "doc_id long, text string",
    )
    return documents_as_media(docs)


def test_resize_contract(spark):
    out = {r.media_id: r for r in resize_images(_media(spark), 8, 4).collect()}
    assert set(out) == {1, 2, 3}
    for r in out.values():
        assert (r.width, r.height) == (8, 4)
        assert len(r.content) == 96  # every blob normalized to w*h*3
        assert r.channels == 1       # stub provenance (text blobs)
    assert bytes(out[2].content[:10]) == b"y" * 10  # content, then zero padding
    # schema excludes the original blob/meta — nothing heavy survives
    assert set(resize_images(_media(spark), 8, 4).columns) == {
        "media_id", "width", "height", "channels", "content",
    }


def test_frame_sampling_is_1_to_n(spark):
    out = sample_frames(_media(spark), every_n_bytes=64, max_frames=8).collect()
    per_asset = {}
    for r in out:
        per_asset.setdefault(r.media_id, []).append(r)
    assert len(per_asset[1]) == 3  # 200 bytes / 64 → 3 frames
    assert len(per_asset[2]) == 1  # short blob still yields one frame
    idxs = sorted(r.frame_idx for r in per_asset[1])
    assert idxs == [0, 1, 2]
    assert bytes(per_asset[1][0].frame) == b"x" * 64


def test_json_quarantine_splits_bad_rows(spark):
    raw = spark.createDataFrame(
        [
            (1, '{"k": 5, "state": "IN_STOCK"}'),
            (2, "not json at all {{{"),
            (3, None),  # null payload is NOT a parse failure
        ],
        "id long, raw_payload string",
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("state", T.StringType()),
        ]
    )
    valid, rejects = json_ingest_quarantine(raw, "raw_payload", schema)
    v = {r.id: r for r in valid.collect()}
    assert set(v) == {1, 3}
    assert v[1].k == 5 and v[1].state == "IN_STOCK"
    assert v[1].raw_payload is not None  # escape hatch preserved
    r = rejects.collect()
    assert [x.id for x in r] == [2]
    assert r[0].raw_payload.startswith("not json")


def test_declared_schema_tolerates_file_schema_evolution(spark, tmp_path):
    """Schema evolution posture (SURVEY.md §1.3): files written before a
    column existed read cleanly under the declared superset schema —
    the missing column is NULL — and the raw_payload escape hatch
    recovers fields that were never promoted to columns."""
    import os

    old = spark.createDataFrame(
        [(1, '{"k": 5, "new_field": "x"}')], "id long, raw_payload string"
    )
    new = spark.createDataFrame(
        [(2, '{"k": 6}', "promoted")], "id long, raw_payload string, status string"
    )
    path = os.path.join(tmp_path, "evolving")
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=0"))
    new.write.mode("append").parquet(os.path.join(path, "batch=1"))

    declared = "id long, raw_payload string, status string"
    got = {r.id: r for r in spark.read.schema(declared).parquet(path).collect()}
    assert got[1].status is None          # pre-evolution file → NULL column
    assert got[2].status == "promoted"
    # raw_payload recovers what schema never had
    recovered = (
        spark.read.schema(declared)
        .parquet(path)
        .selectExpr("id", "get_json_object(raw_payload, '$.new_field') nf")
        .collect()
    )
    assert {r.id: r.nf for r in recovered} == {1: "x", 2: None}


# ---------------------------------------------------------------------------
# REAL codecs: binary PPM (P6) + 24-bit BMP, parsed pure-python+numpy to
# pixels and summarized as the 4x4 luminance-grid descriptor.
# ---------------------------------------------------------------------------


def _media_df(spark, blob, fmt, media_type="image"):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, content binary"
    ).withColumn(
        "meta",
        F.struct(
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit(None).cast("string").alias("uri"),
        ),
    )


def test_decode_media_fans_out_narrow_input(spark):
    """r16 optimization pin: decode_media's pure-Python codecs are the
    stage's CPU term, so an input narrower than the default
    parallelism (a small single-row-group file scan) must be fanned
    out to defaultParallelism tasks before the Arrow stage — and the
    fan-out must not change the decoded rows."""
    from square_etl_spark.operators.multimodal import decode_media

    row = b"\x00\x00\x00" * 4 + b"\xff\xff\xff" * 4
    blob = b"P6\n8 8\n255\n" + row * 8
    media = _media_df(spark, blob, "ppm").coalesce(1)
    out = decode_media(media)
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    got = out.collect()[0]
    assert got.ok is True and got.features == [0.0, 0.0, 1.0, 1.0] * 4


def test_decode_media_real_ppm_codec(spark):
    from square_etl_spark.operators.multimodal import decode_media

    # 8x8 PPM: left half black, right half white -> the 4x4 luminance
    # grid must be exactly [0, 0, 1, 1] on every row
    row = b"\x00\x00\x00" * 4 + b"\xff\xff\xff" * 4
    blob = b"P6\n8 8\n255\n" + row * 8
    out = decode_media(_media_df(spark, blob, "ppm")).collect()[0]
    assert out.ok is True
    assert out.features == [0.0, 0.0, 1.0, 1.0] * 4


def test_decode_media_real_bmp_codec(spark):
    from square_etl_spark.operators.multimodal import decode_media

    # 2x2 BMP (24bpp, bottom-up, 2-byte row padding):
    #   top:    red   green
    #   bottom: blue  white
    bottom = b"\xff\x00\x00" + b"\xff\xff\xff" + b"\x00\x00"  # BGR + pad
    top = b"\x00\x00\xff" + b"\x00\xff\x00" + b"\x00\x00"
    header = (
        b"BM"
        + (54 + 16).to_bytes(4, "little")
        + b"\x00\x00\x00\x00"
        + (54).to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)   # width
        + (2).to_bytes(4, "little", signed=True)   # height (bottom-up)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")                # BI_RGB
        + b"\x00" * 20
    )
    blob = header + bottom + top
    out = decode_media(_media_df(spark, blob, "bmp")).collect()[0]
    assert out.ok is True
    r, g, b, w = 0.299, 0.587, 0.114, 1.0
    assert out.features == [r, r, g, g] * 2 + [b, b, w, w] * 2


def _encode_png(px, color_type, filters):
    """Minimal PNG ENCODER for the tests: 8-bit, non-interlaced, one
    explicit filter id per scanline (so the decoder's reconstruction of
    every filter type is exercised against spec-filtered bytes)."""
    import struct
    import zlib

    import numpy as np

    h, w = px.shape[:2]
    ch = 1 if px.ndim == 2 else px.shape[2]
    rows = px.reshape(h, w * ch).astype(np.int32)
    bpp = ch
    raw = bytearray()
    for y, f in zip(range(h), filters, strict=True):
        cur = rows[y]
        prev = rows[y - 1] if y > 0 else np.zeros_like(cur)
        line = np.zeros_like(cur)
        for x in range(len(cur)):
            a = int(cur[x - bpp]) if x >= bpp else 0
            b = int(prev[x])
            c = int(prev[x - bpp]) if x >= bpp else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:  # Paeth
                pa, pb, pc = abs(b - c), abs(a - c), abs(a + b - 2 * c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            line[x] = (int(cur[x]) - pred) & 0xFF
        raw.append(f)
        raw.extend(line.astype(np.uint8).tobytes())

    def chunk(typ, data):
        return (
            len(data).to_bytes(4, "big")
            + typ + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_parser_roundtrip_all_filters():
    """decode(encode(px)) == px for every scanline filter type
    (None/Sub/Up/Average/Paeth) and every supported color type —
    deterministic pseudo-random pixels so filter arithmetic (mod-256
    wraparound, bpp offsets) is fully exercised."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_png

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    for filters in ([0] * 5, [1] * 5, [2] * 5, [3] * 5, [4] * 5, [0, 1, 2, 3, 4]):
        got = _parse_png(_encode_png(px, 2, filters))
        assert np.array_equal(got, px), f"filters={filters}"
    # RGBA: alpha dropped, RGB planes exact
    rgba = rng.integers(0, 256, (3, 3, 4), dtype=np.uint8)
    assert np.array_equal(_parse_png(_encode_png(rgba, 6, [4, 3, 1])), rgba[..., :3])
    # grayscale: replicated to 3 channels
    gray = rng.integers(0, 256, (4, 2), dtype=np.uint8)
    got = _parse_png(_encode_png(gray, 0, [2, 4, 1, 3]))
    assert np.array_equal(got, np.repeat(gray[..., None], 3, axis=2))


def test_decode_media_real_png_codec(spark):
    """Exact-feature pin, like the PPM/BMP tests: an 8x8 PNG with the
    left half black / right half white (Paeth+Sub filtered rows) must
    produce the exact [0, 0, 1, 1] luminance grid on every row."""
    import numpy as np

    from square_etl_spark.operators.multimodal import decode_media

    px = np.zeros((8, 8, 3), np.uint8)
    px[:, 4:] = 255
    blob = _encode_png(px, 2, [4, 1, 4, 1, 4, 1, 4, 1])
    out = decode_media(_media_df(spark, blob, "png")).collect()[0]
    assert out.ok is True
    assert out.features == [0.0, 0.0, 1.0, 1.0] * 4


def test_decode_media_malformed_image_quarantines(spark):
    from square_etl_spark.operators.multimodal import decode_media

    out = decode_media(_media_df(spark, b"not an image at all", "ppm")).collect()[0]
    assert out.ok is False and out.features is None
    # and a malformed BMP likewise (row-level ok=false, not task failure)
    out = decode_media(_media_df(spark, b"BMgarbage", "bmp")).collect()[0]
    assert out.ok is False and out.features is None
    # malformed PNGs: bad signature, truncated chunk, corrupt zlib,
    # interlaced (unsupported) — all quarantine, none crash the task
    from square_etl_spark.operators.multimodal import _parse_png
    import struct
    import zlib

    import pytest

    good = _encode_png(
        __import__("numpy").zeros((2, 2, 3), "uint8"), 2, [0, 0]
    )
    for bad in [
        b"\x89PNG\r\n\x1a\nnope",
        good[:20],
        good.replace(zlib.compress(b"\x00" * 0), b"", 1)[:30],
    ]:
        with pytest.raises(ValueError):
            _parse_png(bad)
    # interlace flag set → explicit unsupported error
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1)
    crc = zlib.crc32(b"IHDR" + ihdr).to_bytes(4, "big")
    interlaced = (
        b"\x89PNG\r\n\x1a\n"
        + len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr + crc
        + good[8 + 12 + 13 :]
    )
    with pytest.raises(ValueError, match="interlace"):
        _parse_png(interlaced)
    out = decode_media(_media_df(spark, b"\x89PNG\r\n\x1a\ngarbage", "png")).collect()[0]
    assert out.ok is False and out.features is None


def test_decode_media_stub_formats_still_flow(spark):
    # mp3 remains a STUB codec (no codec libs in container):
    # deterministic fake features, row still flows (png/gif/jpeg —
    # and as of r13, lossless webp — all graduated to real codecs)
    from square_etl_spark.operators.multimodal import FEATURE_DIM, decode_media

    out = decode_media(
        _media_df(spark, b"arbitrary bytes here", "mp3", media_type="audio")
    ).collect()[0]
    assert out.ok is True and len(out.features) == FEATURE_DIM


# ---------------------------------------------------------------------------
# REAL audio codec: RIFF/WAVE integer PCM -> mono samples -> 16-window
# RMS energy profile.
# ---------------------------------------------------------------------------


def _encode_wav(data, bits=16, channels=1, rate=8000, extra_chunk=None):
    """Minimal WAV ENCODER for the tests. ``data`` is raw sample bytes."""
    import struct

    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate,
        rate * channels * bits // 8, channels * bits // 8, bits,
    )
    chunks = b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    if extra_chunk is not None:  # odd-sized chunk exercises even-padding
        chunks += b"LIST" + len(extra_chunk).to_bytes(4, "little") + extra_chunk
        if len(extra_chunk) & 1:
            chunks += b"\x00"
    chunks += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + (4 + len(chunks)).to_bytes(4, "little") + b"WAVE" + chunks


def test_wav_parser_stereo_mix_8bit_and_chunk_padding():
    import struct

    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_wav

    # 16-bit stereo: L=+8192, R=-8192 -> mono mean exactly 0
    frames = 12
    data = b"".join(struct.pack("<hh", 8192, -8192) for _ in range(frames))
    samples, rate = _parse_wav(_encode_wav(data, 16, 2, 44100))
    assert rate == 44100 and len(samples) == frames
    assert np.allclose(samples, 0.0)
    # 8-bit unsigned mono: 128 is silence, 255 ~ +0.992, 0 = -1.0
    samples, _ = _parse_wav(_encode_wav(bytes([128, 255, 0]), 8, 1))
    assert np.allclose(samples, [0.0, 127 / 128.0, -1.0])
    # an odd-sized LIST chunk before data must be skipped (even-padded)
    samples, _ = _parse_wav(
        _encode_wav(bytes([128, 128]), 8, 1, extra_chunk=b"abc")
    )
    assert np.allclose(samples, [0.0, 0.0])


def test_decode_media_real_wav_codec(spark):
    """Exact-feature pin: a constant-amplitude +-0.5 square wave has RMS
    exactly 0.5 in every one of the 16 windows."""
    import struct

    from square_etl_spark.operators.multimodal import decode_media

    data = b"".join(
        struct.pack("<h", 16384 if i % 2 == 0 else -16384) for i in range(160)
    )
    out = decode_media(
        _media_df(spark, _encode_wav(data), "wav", media_type="audio")
    ).collect()[0]
    assert out.ok is True
    assert out.features == [0.5] * 16


def test_decode_media_malformed_wav_quarantines(spark):
    import struct

    import pytest

    from square_etl_spark.operators.multimodal import _parse_wav, decode_media

    # float PCM (format 3) is explicitly unsupported, not mis-decoded
    fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    float_wav = (
        b"RIFF" + (4 + 8 + len(fmt) + 8).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + (0).to_bytes(4, "little")
    )
    for bad in [b"RIFFgarbage", _encode_wav(b"", 16, 1), float_wav]:
        with pytest.raises(ValueError):
            _parse_wav(bad)
    out = decode_media(
        _media_df(spark, b"RIFFnope", "wav", media_type="audio")
    ).collect()[0]
    assert out.ok is False and out.features is None


# ---------------------------------------------------------------------------
# REAL video codec: uncompressed AVI (RIFF) -> DIB frames -> 16-window
# temporal luminance profile.
# ---------------------------------------------------------------------------


def _encode_avi(frames_rgb, bottom_up=True):
    """Minimal AVI ENCODER for the tests: RIFF('AVI ') with a hdrl list
    (zeroed avih/strh, real BITMAPINFOHEADER strf) and a movi list of
    00db DIB frames (bottom-up BGR, 4-byte row stride)."""
    import numpy as np

    h, w, _ = frames_rgb[0].shape
    stride = (w * 3 + 3) & ~3

    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    strf = (
        (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + (h if bottom_up else -h).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little")          # BI_RGB
        + b"\x00" * 20
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", b"\x00" * 56)
        + lst(b"strl", chunk(b"strh", b"\x00" * 56) + chunk(b"strf", strf)),
    )
    movi_body = b""
    for f in frames_rgb:
        bgr = f[..., ::-1]
        if bottom_up:
            bgr = bgr[::-1]
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        movi_body += chunk(b"00db", rows.tobytes())
    body = b"AVI " + hdrl + lst(b"movi", movi_body)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def test_avi_parser_roundtrip_and_orientation():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_avi

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (3, 2, 3), dtype=np.uint8) for _ in range(4)]
    for bottom_up in (True, False):
        got = _parse_avi(_encode_avi(frames, bottom_up=bottom_up))
        assert len(got) == 4
        for a, b in zip(got, frames, strict=True):
            assert np.array_equal(a, b), f"bottom_up={bottom_up}"


def test_decode_media_real_avi_codec(spark):
    """Exact-feature pin: 4 frames fading black -> white give a
    monotone step temporal-luminance profile (4 windows per frame)."""
    import numpy as np

    from square_etl_spark.operators.multimodal import decode_media

    levels = [0, 85, 170, 255]
    frames = [np.full((2, 2, 3), v, np.uint8) for v in levels]
    out = decode_media(
        _media_df(spark, _encode_avi(frames), "avi", media_type="video")
    ).collect()[0]
    assert out.ok is True
    want = []
    for v in levels:
        want += [round(v / 255.0, 6)] * 4
    assert out.features == want


def test_decode_media_malformed_avi_quarantines(spark):
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _parse_avi, decode_media

    good = _encode_avi([np.zeros((2, 2, 3), np.uint8)])
    # ~4000 nested LIST headers: must raise ValueError (nesting cap),
    # never RecursionError — that would escape the quarantine net and
    # kill the whole Spark task, not just the row.
    nested = b""
    for _ in range(4000):
        nested = b"LIST" + len(nested + b"movi").to_bytes(4, "little") + b"movi" + nested
    deep = b"RIFF" + len(nested + b"AVI ").to_bytes(4, "little") + b"AVI " + nested
    for bad in [b"RIFFxxxxAVI", good[:40], good[:-8], deep]:
        with pytest.raises(ValueError):
            _parse_avi(bad)
    out = decode_media(
        _media_df(spark, b"RIFF\x04\x00\x00\x00AVI ", "avi", media_type="video")
    ).collect()[0]
    assert out.ok is False and out.features is None


def test_resize_real_for_decodable_formats(spark):
    """meta.format in ppm/bmp/png -> REAL decode + nearest-neighbor
    resample to raw w*h*3 RGB bytes (not the stub's truncate/pad)."""
    import numpy as np

    row = b"\x00\x00\x00" * 4 + b"\xff\xff\xff" * 4
    blob = b"P6\n8 8\n255\n" + row * 8        # left half black, right white
    out = resize_images(_media_df(spark, blob, "ppm"), 4, 2).collect()[0]
    got = np.frombuffer(bytes(out.content), np.uint8).reshape(2, 4, 3)
    want = np.zeros((2, 4, 3), np.uint8)
    want[:, 2:] = 255                          # halves survive the resample
    assert np.array_equal(got, want)
    assert (out.width, out.height, out.channels) == (4, 2, 3)
    # undecodable bytes in a decodable format fall back to the stub,
    # SAME w*h*3 size contract, channels=1 provenance
    out = resize_images(_media_df(spark, b"P6 garbage", "ppm"), 4, 2).collect()[0]
    assert len(out.content) == 24 and out.channels == 1


def test_sample_frames_real_for_avi(spark):
    """meta.format == 'avi' -> REAL decoded RGB frames, evenly
    subsampled to max_frames when the clip is longer."""
    import numpy as np

    frames = [np.full((2, 2, 3), v, np.uint8) for v in range(6)]
    media = _media_df(spark, _encode_avi(frames), "avi", media_type="video")
    got = sorted(
        sample_frames(media, max_frames=3).collect(), key=lambda r: r.frame_idx
    )
    assert [r.frame_idx for r in got] == [0, 1, 2]
    # even subsample of 6 frames to 3: indices 0, 2, 4
    for r, src in zip(got, [0, 2, 4], strict=True):
        assert bytes(r.frame) == frames[src].tobytes()


# ---------------------------------------------------------------------------
# REAL GIF codec: LZW decode + palette lookup + interlace reorder.
# ---------------------------------------------------------------------------


def _lzw_encode(indices, min_code_size):
    """Real GIF-variant LZW ENCODER for the tests (emit-then-add, width
    bump when the added code reaches 2^width, 12-bit cap with CLEAR)."""
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    def fresh():
        return {bytes([i]): i for i in range(clear)}, end + 1, min_code_size + 1

    table, next_code, width = fresh()
    codes = [(clear, width)]
    w = b""
    for k in indices:
        wk = w + bytes([k])
        if wk in table:
            w = wk
            continue
        codes.append((table[w], width))
        if next_code < 4096:
            table[wk] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:  # table full: clear and restart
            codes.append((clear, width))
            table, next_code, width = fresh()
        w = bytes([k])
    if w:
        codes.append((table[w], width))
    codes.append((end, width))
    # pack LSB-first
    acc = bitlen = 0
    out = bytearray()
    for code, cw in codes:
        acc |= code << bitlen
        bitlen += cw
        while bitlen >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            bitlen -= 8
    if bitlen:
        out.append(acc & 0xFF)
    return bytes(out)


def _encode_gif(rows, palette, min_code_size=2, interlace=False):
    """Minimal GIF89a ENCODER: global color table, one image block,
    optional interlace (rows stored in 4-pass order)."""
    import numpy as np

    h, w = rows.shape
    n = len(palette)
    ct_bits = max(1, (n - 1).bit_length())
    ct = bytearray()
    for r, g, b in palette:
        ct += bytes([r, g, b])
    ct += b"\x00" * (3 * ((1 << ct_bits) - n))
    header = (
        b"GIF89a"
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x80 | (ct_bits - 1), 0, 0])
        + ct
    )
    store = rows
    if interlace:
        order = (
            list(range(0, h, 8)) + list(range(4, h, 8))
            + list(range(2, h, 4)) + list(range(1, h, 2))
        )
        store = rows[order]
    lzw = _lzw_encode(store.reshape(-1).tolist(), min_code_size)
    sub = b""
    for i in range(0, len(lzw), 255):
        blockb = lzw[i : i + 255]
        sub += bytes([len(blockb)]) + blockb
    img = (
        b"\x2c" + b"\x00" * 4
        + w.to_bytes(2, "little") + h.to_bytes(2, "little")
        + bytes([0x40 if interlace else 0])
        + bytes([min_code_size]) + sub + b"\x00"
    )
    # a graphic-control extension before the image pins extension skipping
    ext = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    return header + ext + img + b"\x3b"


def test_gif_lzw_roundtrip_with_width_growth():
    """decode(encode(idx)) == idx on a random 4-color stream long
    enough to force several code-width bumps — validates the
    emit-then-add / grow-at-capacity synchronization both ways."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _lzw_decode

    rng = np.random.default_rng(9)
    idx = rng.integers(0, 4, 5000).astype(np.uint8).tolist()
    assert list(_lzw_decode(_lzw_encode(idx, 2), 2)) == idx


def test_gif_parser_palette_and_interlace():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_gif

    palette = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0)]
    rng = np.random.default_rng(4)
    rows = rng.integers(0, 4, (9, 5)).astype(np.uint8)  # odd h: all 4 passes
    want = np.array(palette, np.uint8)[rows]
    for interlace in (False, True):
        got = _parse_gif(_encode_gif(rows, palette, interlace=interlace))
        assert np.array_equal(got, want), f"interlace={interlace}"


def test_decode_media_real_gif_codec(spark):
    """Exact-feature pin like the other image codecs: 8x8 left-half
    black / right-half white GIF -> [0, 0, 1, 1] per grid row."""
    import numpy as np

    from square_etl_spark.operators.multimodal import decode_media

    rows = np.zeros((8, 8), np.uint8)
    rows[:, 4:] = 1
    blob = _encode_gif(rows, [(0, 0, 0), (255, 255, 255)])
    out = decode_media(_media_df(spark, blob, "gif")).collect()[0]
    assert out.ok is True
    assert out.features == [0.0, 0.0, 1.0, 1.0] * 4


def test_decode_media_malformed_gif_quarantines(spark):
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _parse_gif, decode_media

    good = _encode_gif(
        np.zeros((2, 2), np.uint8), [(0, 0, 0), (255, 255, 255)]
    )
    for bad in [b"GIF89a", good[:20], good[:-6], b"GIF89x" + good[6:]]:
        with pytest.raises(ValueError):
            _parse_gif(bad)
    out = decode_media(_media_df(spark, b"GIF89a!!!", "gif")).collect()[0]
    assert out.ok is False and out.features is None


def test_all_parsers_valueerror_only_under_truncation_and_corruption():
    """Quarantine safety net: every codec must raise ValueError (the
    type decode_media converts to ok=false) — never IndexError /
    struct.error / numpy errors — for EVERY truncation point and under
    random single-byte corruption.  A non-ValueError escape would fail
    whole Spark tasks instead of quarantining rows."""
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _parse_avi,
        _parse_bmp,
        _parse_gif,
        _parse_jpeg,
        _parse_png,
        _parse_ppm,
        _parse_tiff,
        _parse_wav,
    )

    rng = np.random.default_rng(2)
    px = rng.integers(0, 256, (5, 4, 3), dtype=np.uint8)
    stride = (4 * 3 + 3) & ~3
    bmp_rows = np.zeros((5, stride), np.uint8)
    bmp_rows[:, :12] = px[::-1][..., ::-1].reshape(5, 12)
    bmp = (
        b"BM" + (54 + 5 * 16).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (4).to_bytes(4, "little", signed=True)
        + (5).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 20
        + bmp_rows.tobytes()
    )
    cases = [
        (_parse_png, _encode_png(px, 2, [0, 1, 2, 3, 4])),
        (_parse_wav, _encode_wav(bytes(range(100)), 8, 1)),
        (_parse_avi, _encode_avi([px, px])),
        (_parse_ppm, b"P6\n4 5\n255\n" + px.tobytes()),
        (_parse_gif, _encode_gif(
            rng.integers(0, 2, (6, 6)).astype(np.uint8),
            [(0, 0, 0), (9, 9, 9)],
        )),
        (_parse_bmp, bmp),
        (_parse_jpeg, _encode_jpeg(
            rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
        )[0]),
        (_parse_tiff, _encode_tiff(px, compression=5, predictor=2)),
    ]
    for parser, blob in cases:
        parser(blob)  # sanity: the full blob parses
        for cut in range(len(blob)):
            try:
                parser(blob[:cut])
            except ValueError:
                pass
        for _ in range(100):
            b = bytearray(blob)
            i = int(rng.integers(0, len(b)))
            b[i] = int(rng.integers(0, 256))
            try:
                parser(bytes(b))
            except ValueError:
                pass


# ---------------------------------------------------------------------------
# REAL image codec: baseline sequential JPEG (huffman + IDCT + YCbCr)
# ---------------------------------------------------------------------------


class _JpegBitWriter:
    """Test-side bit writer: MSB-first, 0xFF00 byte stuffing, 1-padding."""

    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def put(self, v, k):
        for i in range(k - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def pad(self):
        while self.n:
            self.put(1, 1)


def _jpeg_seg(marker, body):
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _jpeg_dct_mat():
    import numpy as np

    t = np.empty((8, 8), np.float64)
    for u in range(8):
        c = 0.5 ** 0.5 if u == 0 else 1.0
        for x in range(8):
            t[u, x] = 0.5 * c * np.cos((2 * x + 1) * u * np.pi / 16)
    return t


def _encode_jpeg(px, subsample=False, qy=None, qc=None, restart=0, sampling=None):
    """Minimal baseline JPEG ENCODER for the tests — independent
    implementation (RGB→YCbCr, optional chroma subsampling, FDCT,
    quantize, fixed 8-bit canonical huffman codes, stuffing, optional
    DRI/RSTn).  ``sampling`` is the luma (hs, vs) pair — (2, 2) is
    4:2:0, (2, 1) is 4:2:2; ``subsample=True`` is shorthand for
    (2, 2).  Returns (blob, coeff_planes) where coeff_planes are the
    QUANTIZED zigzag coefficient arrays per component, so tests can
    compute the expected decode independently of the decoder's
    bitstream logic."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _JPEG_ZZ

    h, w = px.shape[:2]
    qy = np.ones(64, np.int64) if qy is None else np.asarray(qy, np.int64)
    qc = qy if qc is None else np.asarray(qc, np.int64)
    rgb = px.astype(np.float64)
    y = 0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
    cb = 128 - 0.168736 * rgb[..., 0] - 0.331264 * rgb[..., 1] + 0.5 * rgb[..., 2]
    cr = 128 + 0.5 * rgb[..., 0] - 0.418688 * rgb[..., 1] - 0.081312 * rgb[..., 2]
    hs, vs = sampling if sampling else ((2, 2) if subsample else (1, 1))
    mw, mh = 8 * hs, 8 * vs
    mcux, mcuy = -(-w // mw), -(-h // mh)

    def edge_pad(p, ph, pw):
        out = np.empty((ph, pw), np.float64)
        out[: p.shape[0], : p.shape[1]] = p
        out[p.shape[0]:, : p.shape[1]] = p[-1:, :]
        out[:, p.shape[1]:] = out[:, p.shape[1] - 1 : p.shape[1]]
        return out

    planes = [edge_pad(y, mcuy * mh, mcux * mw)]
    for c in (cb, cr):
        p = edge_pad(c, mcuy * mh, mcux * mw)
        if (hs, vs) != (1, 1):
            p = p.reshape(mcuy * 8, vs, mcux * 8, hs).mean(axis=(1, 3))
        planes.append(p)

    t = _jpeg_dct_mat()

    def to_coeffs(plane, q):
        nby, nbx = plane.shape[0] // 8, plane.shape[1] // 8
        blocks = plane.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3) - 128.0
        f = np.einsum("ux,...xy,vy->...uv", t, blocks, t)
        zz = f.reshape(nby, nbx, 64)[..., _JPEG_ZZ]
        return np.round(zz / q).astype(np.int64)

    coeffs = [to_coeffs(planes[0], qy), to_coeffs(planes[1], qc),
              to_coeffs(planes[2], qc)]

    def category(d):
        return abs(int(d)).bit_length()

    # token pass to collect symbols, then fixed 8-bit canonical codes
    samplings = [(hs, vs), (1, 1), (1, 1)]
    dc_syms, ac_syms = set(), {0x00}
    mcu_tokens = []  # per MCU: list of (dc_s, dc_bits_val, [(ac_sym, s, val)...])
    preds = [0, 0, 0]
    for my in range(mcuy):
        for mx in range(mcux):
            if restart and (my * mcux + mx) % restart == 0 and (my or mx):
                preds = [0, 0, 0]
            blk_toks = []
            for ci, (chs, cvs) in enumerate(samplings):
                for bv in range(cvs):
                    for bh in range(chs):
                        vec = coeffs[ci][my * cvs + bv, mx * chs + bh]
                        d = int(vec[0]) - preds[ci]
                        preds[ci] = int(vec[0])
                        s = category(d)
                        dc_syms.add(s)
                        acs = []
                        run = 0
                        for k in range(1, 64):
                            v = int(vec[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                acs.append((0xF0, 0, 0))
                                ac_syms.add(0xF0)
                                run -= 16
                            sv = category(v)
                            acs.append(((run << 4) | sv, sv, v))
                            ac_syms.add((run << 4) | sv)
                            run = 0
                        if run:
                            acs.append((0x00, 0, 0))  # EOB
                        blk_toks.append((s, d, acs))
            mcu_tokens.append(blk_toks)

    def huff(symbols):
        symbols = sorted(symbols)
        assert len(symbols) <= 255
        counts = bytes([0] * 7 + [len(symbols)] + [0] * 8)
        return counts, bytes(symbols), {sym: i for i, sym in enumerate(symbols)}

    dc_counts, dc_symbolbytes, dc_code = huff(dc_syms)
    ac_counts, ac_symbolbytes, ac_code = huff(ac_syms)

    head = b"\xff\xd8"
    head += _jpeg_seg(0xDB, b"\x00" + bytes(int(v) & 0xFF for v in qy))
    if not np.array_equal(qy, qc):
        head += _jpeg_seg(0xDB, b"\x01" + bytes(int(v) & 0xFF for v in qc))
    qcid = 0 if np.array_equal(qy, qc) else 1
    head += _jpeg_seg(
        0xC0,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + bytes([1, (hs << 4) | vs, 0])
        + bytes([2, 0x11, qcid]) + bytes([3, 0x11, qcid]),
    )
    head += _jpeg_seg(0xC4, b"\x00" + dc_counts + dc_symbolbytes)
    head += _jpeg_seg(0xC4, b"\x10" + ac_counts + ac_symbolbytes)
    if restart:
        head += _jpeg_seg(0xDD, restart.to_bytes(2, "big"))
    head += _jpeg_seg(
        0xDA, b"\x03" + bytes([1, 0x00, 2, 0x00, 3, 0x00]) + b"\x00\x3f\x00"
    )

    bw = _JpegBitWriter()
    body = bytearray()
    rst = 0
    for i, blk_toks in enumerate(mcu_tokens):
        if restart and i and i % restart == 0:
            bw.pad()
            body += bw.out
            bw = _JpegBitWriter()
            body += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) & 7
        for s, d, acs in blk_toks:
            bw.put(dc_code[s], 8)
            if s:
                bw.put(d if d >= 0 else d + (1 << s) - 1, s)
            for sym, sv, v in acs:
                bw.put(ac_code[sym], 8)
                if sv:
                    bw.put(v if v >= 0 else v + (1 << sv) - 1, sv)
    bw.pad()
    body += bw.out
    return head + bytes(body) + b"\xff\xd9", coeffs


def _expected_jpeg_decode(coeffs, h, w, sampling, qy, qc):
    """Independent expected-decode path from QUANTIZED coefficients:
    dequant + de-zigzag + IDCT + upsample + YCbCr→RGB, written from
    the spec — validates the decoder's bitstream/entropy layer exactly
    (same coefficients in, so outputs must agree to ±1)."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _JPEG_ZZ

    t = _jpeg_dct_mat()
    qs = [qy, qc, qc]
    planes = []
    for ci, vec in enumerate(coeffs):
        deq = vec.astype(np.float64) * qs[ci]
        blocks = np.zeros(deq.shape, np.float64)
        blocks[..., _JPEG_ZZ] = deq
        nby, nbx = blocks.shape[:2]
        blocks = blocks.reshape(nby, nbx, 8, 8)
        sp = np.einsum("ux,...uv,vy->...xy", t, blocks, t) + 128.0
        plane = sp.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        if ci > 0:
            hs, vs = sampling
            plane = plane.repeat(vs, axis=0).repeat(hs, axis=1)
        planes.append(plane[:h, :w])
    y, cb, cr = planes
    rgb = np.empty((h, w, 3), np.float64)
    rgb[..., 0] = y + 1.402 * (cr - 128.0)
    rgb[..., 1] = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    rgb[..., 2] = y + 1.772 * (cb - 128.0)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


def test_jpeg_uniform_gray_exact_all_sampling():
    """Uniform gray + all-ones quant tables decode BIT-EXACTLY (only
    the DC coefficient is nonzero and quantization divides it
    exactly) — for 4:4:4 and 4:2:0, across gray values."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    for v in (0, 1, 77, 128, 200, 254, 255):
        img = np.full((16, 16, 3), v, np.uint8)
        for subsample in (False, True):
            blob, _ = _encode_jpeg(img, subsample=subsample)
            got = _parse_jpeg(blob)
            assert got.shape == (16, 16, 3)
            assert (got == v).all(), (v, subsample)


def test_jpeg_bitstream_matches_independent_idct_path():
    """Random image, 4:4:4, all-ones quant: the decoder must reproduce
    the independently-computed dequant+IDCT+color-convert of the very
    coefficients the encoder wrote (±1 for float rounding at .5
    boundaries).  Non-multiple-of-8 size exercises edge-block crop."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (13, 11, 3), dtype=np.uint8)
    qy = np.ones(64, np.int64)
    blob, coeffs = _encode_jpeg(img, subsample=False)
    got = _parse_jpeg(blob)
    want = _expected_jpeg_decode(coeffs, 13, 11, (1, 1), qy, qy)
    assert int(np.abs(got.astype(int) - want.astype(int)).max()) <= 1


def test_jpeg_420_restart_interval_and_quality_roundtrip():
    """4:2:0 with a realistic non-flat quant table and DRI=2: decodes,
    is identical to the no-restart encoding of the same image (restart
    markers are pure framing), matches the independent IDCT path, and
    stays within a sane lossy error bound of the original."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    # smooth gradient: lossy error bounds are only meaningful for
    # low-frequency content (JPEG deliberately discards noise)
    yy, xx = np.mgrid[0:24, 0:21]
    base = np.stack(
        [60 + 3 * xx + 2 * yy, 80 + 2 * xx + yy, 100 + xx + 2 * yy], axis=2
    ).astype(np.uint8)
    qy = np.clip(np.arange(64) // 4 + 2, 2, 18).astype(np.int64)  # zigzag ramp
    qc = np.full(64, 12, np.int64)
    with_rst, coeffs = _encode_jpeg(base, subsample=True, qy=qy, qc=qc, restart=2)
    no_rst, _ = _encode_jpeg(base, subsample=True, qy=qy, qc=qc, restart=0)
    a = _parse_jpeg(with_rst)
    b = _parse_jpeg(no_rst)
    assert np.array_equal(a, b)
    want = _expected_jpeg_decode(coeffs, 24, 21, (2, 2), qy, qc)
    assert int(np.abs(a.astype(int) - want.astype(int)).max()) <= 1
    # lossy sanity vs the original (quant ≤ 18, chroma subsampled)
    assert float(np.abs(a.astype(int) - base.astype(int)).mean()) < 12.0


def test_jpeg_rejects_unsupported_variants():
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _parse_jpeg

    img = np.full((8, 8, 3), 99, np.uint8)
    blob, _ = _encode_jpeg(img)
    # a BASELINE scan relabeled SOF2 is malformed progressive (its SOS
    # has Ss=0, Se=63 — a DC scan must have Se=0); real progressive
    # streams decode, see test_jpeg_progressive_matches_baseline_decode
    prog = blob.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError):
        _parse_jpeg(prog)
    # 12-bit precision
    i = blob.index(b"\xff\xc0")
    twelve = blob[: i + 4] + b"\x0c" + blob[i + 5 :]
    with pytest.raises(ValueError):
        _parse_jpeg(twelve)
    # crafted huge dimensions must be rejected before allocation
    huge = blob[: i + 5] + b"\xff\xff\xff\xff" + blob[i + 9 :]
    with pytest.raises(ValueError):
        _parse_jpeg(huge)
    with pytest.raises(ValueError):
        _parse_jpeg(b"\xff\xd8\xff\xd9")  # SOI+EOI, no scan


def test_jpeg_truncation_and_corruption_valueerror_only():
    """The standard quarantine fuzz net, JPEG edition: every truncation
    point and 300 random single-byte corruptions must either decode or
    raise ValueError — nothing else escapes to kill a Spark task."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(13)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    blob, _ = _encode_jpeg(img, subsample=True, restart=1)
    _parse_jpeg(blob)  # sanity
    for cut in range(len(blob)):
        try:
            _parse_jpeg(blob[:cut])
        except ValueError:
            pass
    for _ in range(300):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] = int(rng.integers(0, 256))
        try:
            _parse_jpeg(bytes(b))
        except ValueError:
            pass


def test_decode_media_real_jpeg_and_quarantine(spark):
    """format='jpeg' rides the REAL codec path end-to-end through
    decode_media: uniform gray v → every luminance grid cell is
    exactly v/255; malformed JPEG bytes quarantine as ok=false."""
    import numpy as np

    from square_etl_spark.operators.multimodal import decode_media

    blob, _ = _encode_jpeg(np.full((16, 16, 3), 190, np.uint8), subsample=True)
    out = decode_media(_media_df(spark, blob, "jpeg")).collect()[0]
    assert out.ok is True
    assert out.features == [round(190 / 255.0, 6)] * 16
    bad = decode_media(_media_df(spark, b"\xff\xd8junk", "jpeg")).collect()[0]
    assert bad.ok is False and bad.features is None


def test_mjpeg_avi_frames_decode():
    """AVI with fourcc MJPG: every movi chunk is a standalone baseline
    JPEG; _parse_avi must route frames through the JPEG codec."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_avi

    frames = []
    for v in (10, 120, 250):
        blob, _ = _encode_jpeg(np.full((16, 16, 3), v, np.uint8))
        frames.append(blob)

    def chunk(cid, body):
        pad = b"\x00" if len(body) & 1 else b""
        return cid + len(body).to_bytes(4, "little") + body + pad

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    strf = (
        (40).to_bytes(4, "little")
        + (16).to_bytes(4, "little", signed=True)
        + (16).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + b"MJPG" + b"\x00" * 20
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", b"\x00" * 56)
        + lst(b"strl", chunk(b"strh", b"\x00" * 56) + chunk(b"strf", strf)),
    )
    movi = b"".join(chunk(b"00dc", f) for f in frames)
    body = b"AVI " + hdrl + lst(b"movi", movi)
    avi = b"RIFF" + len(body).to_bytes(4, "little") + body
    got = _parse_avi(avi)
    assert len(got) == 3
    for px, v in zip(got, (10, 120, 250), strict=True):
        assert px.shape == (16, 16, 3) and (px == v).all()


def test_jpeg_422_asymmetric_sampling():
    """4:2:2 (luma 2×1, chroma half-width full-height) exercises the
    asymmetric chroma upsample axis: uniform gray stays bit-exact, and
    a random image must match the independent IDCT path."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    img = np.full((16, 16, 3), 133, np.uint8)
    blob, _ = _encode_jpeg(img, sampling=(2, 1))
    assert (_parse_jpeg(blob) == 133).all()

    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (10, 19, 3), dtype=np.uint8)
    qy = np.ones(64, np.int64)
    blob, coeffs = _encode_jpeg(img, sampling=(2, 1))
    got = _parse_jpeg(blob)
    want = _expected_jpeg_decode(coeffs, 10, 19, (2, 1), qy, qy)
    assert int(np.abs(got.astype(int) - want.astype(int)).max()) <= 1


def test_jpeg_grayscale_single_component():
    """1-component JPEG: decoder must replicate luma into RGB, handle
    multi-MCU DC prediction, and crop non-multiple-of-8 geometry.
    Uniform gray with all-ones quant is bit-exact."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    def gray_jpeg(v, h, w):
        def seg(marker, body):
            return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

        head = b"\xff\xd8"
        head += seg(0xDB, b"\x00" + b"\x01" * 64)
        head += seg(
            0xC0,
            b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big")
            + b"\x01" + b"\x01\x11\x00",
        )
        head += seg(0xC4, b"\x00" + bytes([0] * 7 + [12] + [0] * 8) + bytes(range(12)))
        head += seg(0xC4, b"\x10" + bytes([1] + [0] * 15) + b"\x00")
        head += seg(0xDA, b"\x01" + b"\x01\x00" + b"\x00\x3f\x00")
        bw = _JpegBitWriter()
        nblocks = (-(-h // 8)) * (-(-w // 8))
        for i in range(nblocks):  # DC diff only nonzero for block 0
            d = 8 * (v - 128) if i == 0 else 0
            s = abs(d).bit_length()
            bw.put(s, 8)
            if s:
                bw.put(d if d >= 0 else d + (1 << s) - 1, s)
            bw.put(0, 1)  # EOB
        bw.pad()
        return head + bytes(bw.out) + b"\xff\xd9"

    for v, (h, w) in [(0, (8, 8)), (140, (12, 9)), (255, (16, 24))]:
        got = _parse_jpeg(gray_jpeg(v, h, w))
        assert got.shape == (h, w, 3)
        assert (got == v).all(), (v, h, w)


def test_resize_real_for_jpeg(spark):
    """jpeg participates in the real-resize dispatch: a decodable JPEG
    is decoded + resampled (channels=3), not stub-truncated."""
    import numpy as np

    blob, _ = _encode_jpeg(np.full((16, 16, 3), 205, np.uint8), subsample=True)
    out = resize_images(_media_df(spark, blob, "jpeg"), 4, 4).collect()[0]
    assert (out.width, out.height, out.channels) == (4, 4, 3)
    got = np.frombuffer(bytes(out.content), np.uint8)
    assert (got == 205).all()


def test_jpeg_zigzag_and_dct_matrix_against_spec():
    """The encoder and decoder SHARE _JPEG_ZZ and the DCT matrix, so a
    wrong table would cancel out in every roundtrip test — validate
    both against independently-derived ground truth instead: the
    zigzag order is reconstructed from its defining diagonal traversal
    (ITU-T T.81 figure 5), and the DCT matrix must be orthogonal with
    the constant basis row (IDCT of a DC-only block is uniform)."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _JPEG_ZZ, _jpeg_dct_matrix

    order = []
    for d in range(15):  # anti-diagonals r+c = d
        cells = [(r, d - r) for r in range(max(0, d - 7), min(d, 7) + 1)]
        if d % 2 == 0:
            cells.reverse()  # even diagonals run bottom-left → top-right
        order += [r * 8 + c for r, c in cells]
    assert _JPEG_ZZ == order

    t = _jpeg_dct_matrix()
    assert np.allclose(t @ t.T, np.eye(8), atol=1e-12)  # orthonormal
    assert np.allclose(t[0], 1 / np.sqrt(8))            # constant DC basis


def test_probe_blob_all_formats_header_only():
    """_probe_blob detects every real container by magic bytes and
    reads geometry/rate from the header alone — including when only
    the header bytes are present (payload never touched)."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _probe_blob

    px = np.zeros((5, 4, 3), np.uint8)
    jpeg, _ = _encode_jpeg(np.zeros((16, 16, 3), np.uint8))
    cases = [
        (b"P6\n4 5\n255\n" + px.tobytes(), ("ppm", 4, 5, None)),
        (_encode_png(px, 2, [0] * 5), ("png", 4, 5, None)),
        (_encode_gif(np.zeros((6, 6), np.uint8), [(0, 0, 0), (9, 9, 9)]),
         ("gif", 6, 6, None)),
        (jpeg, ("jpeg", 16, 16, None)),
        (_encode_wav(bytes(range(100)), 8, 1, rate=44100),
         ("wav", None, None, 44100)),
        (_encode_avi([px, px]), ("avi", 4, 5, None)),
    ]
    for blob, (fmt, w, h, rate) in cases:
        got = _probe_blob(blob)
        assert got["detected_format"] == fmt, fmt
        assert got["width"] == w and got["height"] == h, fmt
        assert got["sample_rate"] == rate, fmt
        # header-only: the payload can be absent entirely (PPM header
        # is self-delimiting; drop everything after it)
        if fmt == "ppm":
            assert _probe_blob(b"P6\n4 5\n255\n")["width"] == 4


def test_probe_blob_valueerror_only_fuzz():
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _probe_blob

    rng = np.random.default_rng(19)
    jpeg, _ = _encode_jpeg(np.zeros((8, 8, 3), np.uint8))
    blobs = [jpeg, _encode_wav(bytes(range(64)), 8, 1),
             _encode_avi([np.zeros((2, 2, 3), np.uint8)])]
    for blob in blobs:
        for cut in range(len(blob)):
            try:
                _probe_blob(blob[:cut])
            except ValueError:
                pass
        for _ in range(100):
            b = bytearray(blob)
            i = int(rng.integers(0, len(b)))
            b[i] = int(rng.integers(0, 256))
            try:
                _probe_blob(bytes(b))
            except ValueError:
                pass
    with pytest.raises(ValueError):
        _probe_blob(b"not a media file at all")
    with pytest.raises(ValueError):
        _probe_blob(b"")


def test_probe_media_detects_real_container_ignoring_claimed_format(spark):
    """probe_media trusts magic bytes, not meta.format: a blob claimed
    to be 'png' that is actually a BMP probes as bmp; junk quarantines
    as ok=false with nulls."""
    from square_etl_spark.operators.multimodal import probe_media

    bmp_header = (
        b"BM" + (54 + 16).to_bytes(4, "little") + b"\x00" * 4
        + (54).to_bytes(4, "little") + (40).to_bytes(4, "little")
        + (2).to_bytes(4, "little", signed=True)
        + (2).to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + b"\x00" * 20 + b"\x00" * 16
    )
    out = probe_media(_media_df(spark, bmp_header, "png")).collect()[0]
    assert out.ok is True and out.detected_format == "bmp"
    assert (out.width, out.height) == (2, 2)
    bad = probe_media(_media_df(spark, b"garbage", "png")).collect()[0]
    assert bad.ok is False and bad.detected_format is None


# ---------------------------------------------------------------------------
# REAL audio codecs: AU (Sun/NeXT) + AIFF — big-endian PCM containers,
# same mono-mix + 16-window RMS contract as WAV.
# ---------------------------------------------------------------------------


def _encode_au(data, encoding=3, rate=8000, channels=1, annotation=b""):
    """Minimal AU ENCODER for the tests: big-endian header, optional
    annotation field (exercises non-minimal data offsets)."""
    off = 24 + len(annotation)
    return (
        b".snd" + off.to_bytes(4, "big") + len(data).to_bytes(4, "big")
        + encoding.to_bytes(4, "big") + rate.to_bytes(4, "big")
        + channels.to_bytes(4, "big") + annotation + data
    )


def _f80(x):
    """Encode a positive number as an 80-bit IEEE extended float."""
    import math

    if x == 0:
        return b"\x00" * 10
    m, e = math.frexp(x)              # x = m * 2**e, m in [0.5, 1)
    mant = int(m * (1 << 64))         # explicit integer bit at 2**63
    return (e - 1 + 16383).to_bytes(2, "big") + mant.to_bytes(8, "big")


def _encode_aiff(data, bits=16, rate=8000, channels=1, ssnd_offset=0):
    """Minimal AIFF ENCODER for the tests: COMM + SSND (with optional
    leading offset bytes, exercising the offset field)."""
    frames = len(data) // (channels * bits // 8)
    comm = (
        channels.to_bytes(2, "big") + frames.to_bytes(4, "big")
        + bits.to_bytes(2, "big") + _f80(rate)
    )
    ssnd_body = (
        ssnd_offset.to_bytes(4, "big") + (0).to_bytes(4, "big")
        + b"\x7f" * ssnd_offset + data
    )
    chunks = b"COMM" + len(comm).to_bytes(4, "big") + comm
    chunks += b"SSND" + len(ssnd_body).to_bytes(4, "big") + ssnd_body
    if len(ssnd_body) & 1:
        chunks += b"\x00"
    return b"FORM" + (4 + len(chunks)).to_bytes(4, "big") + b"AIFF" + chunks


def test_au_parser_encodings_and_offset():
    import struct

    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_au

    # 16-bit BE, annotation shifts the data offset
    pcm = b"".join(struct.pack(">h", v) for v in (16384, -16384, 0, 8192))
    samples, rate = _parse_au(
        _encode_au(pcm, 3, 44100, 1, annotation=b"meta")
    )
    assert rate == 44100
    assert np.allclose(samples, [0.5, -0.5, 0.0, 0.25])
    # 8-bit SIGNED (unlike WAV's unsigned 8-bit), stereo mono-mix
    samples, _ = _parse_au(_encode_au(bytes([64, 192, 0, 0]), 2, 8000, 2))
    assert np.allclose(samples, [(0.5 - 0.5) / 2, 0.0])


def test_aiff_parser_f80_rate_and_ssnd_offset():
    import struct

    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_aiff, _parse_f80

    for rate in (8000, 11025, 22050, 44100, 48000, 96000):
        assert _parse_f80(_f80(rate)) == rate
    pcm = b"".join(struct.pack(">h", v) for v in (16384, -16384, 8192, -8192))
    samples, rate = _parse_aiff(
        _encode_aiff(pcm, 16, 44100, 1, ssnd_offset=6)
    )
    assert rate == 44100
    assert np.allclose(samples, [0.5, -0.5, 0.25, -0.25])
    # 8-bit signed stereo mono-mix
    samples, _ = _parse_aiff(_encode_aiff(bytes([64, 64, 192, 192]), 8, 8000, 2))
    assert np.allclose(samples, [0.5, -0.5])


def test_decode_media_real_au_aiff_codecs(spark):
    """Exact-feature pin for both containers: a constant-amplitude
    ±0.5 square wave has RMS exactly 0.5 in all 16 windows."""
    import struct

    from square_etl_spark.operators.multimodal import decode_media

    pcm = b"".join(
        struct.pack(">h", 16384 if i % 2 == 0 else -16384) for i in range(160)
    )
    for fmt, blob in [
        ("au", _encode_au(pcm, 3, 8000, 1)),
        ("aiff", _encode_aiff(pcm, 16, 8000, 1)),
    ]:
        out = decode_media(_media_df(spark, blob, fmt, media_type="audio")).collect()[0]
        assert out.ok is True, fmt
        assert out.features == [0.5] * 16, fmt
        bad = decode_media(
            _media_df(spark, blob[:10], fmt, media_type="audio")
        ).collect()[0]
        assert bad.ok is False, fmt


def test_au_aiff_probe_and_fuzz():
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _parse_aiff,
        _parse_au,
        _probe_blob,
    )

    au = _encode_au(bytes(range(100)), 2, 22050, 1)
    aiff = _encode_aiff(bytes(range(100)), 8, 44100, 1)
    assert _probe_blob(au) == {
        "detected_format": "au", "width": None, "height": None,
        "sample_rate": 22050, "bitrate_kbps": None, "duration_ms": None,
        "n_tracks": None,
    }
    assert _probe_blob(aiff)["detected_format"] == "aiff"
    assert _probe_blob(aiff)["sample_rate"] == 44100
    rng = np.random.default_rng(23)
    for parser, blob in [(_parse_au, au), (_parse_aiff, aiff)]:
        parser(blob)  # sanity
        for cut in range(len(blob)):
            for fn in (parser, _probe_blob):
                try:
                    fn(blob[:cut])
                except ValueError:
                    pass
        for _ in range(150):
            b = bytearray(blob)
            i = int(rng.integers(0, len(b)))
            b[i] = int(rng.integers(0, 256))
            for fn in (parser, _probe_blob):
                try:
                    fn(bytes(b))
                except ValueError:
                    pass


# ---------------------------------------------------------------------------
# REAL image codec: baseline TIFF (II/MM, strips, none/LZW/PackBits)
# ---------------------------------------------------------------------------


def _tiff_lzw_encode(data: bytes) -> bytes:
    """Test-side TIFF LZW encoder: MSB-first packing, TIFF 6.0
    early-change width growth.  The spec decoder's table runs one add
    behind the encoder's, so width bumps are driven off a SHADOW of
    the decoder's table length — that pins the decoder's early-change
    convention at the exact code-stream positions a conforming writer
    produces."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            out.append((acc >> (nbits - 8)) & 0xFF)
            nbits -= 8

    def width_for(shadow_len: int) -> int:
        if shadow_len < 511:
            return 9
        if shadow_len < 1023:
            return 10
        if shadow_len < 2047:
            return 11
        return 12

    table = {bytes([i]): i for i in range(256)}
    next_code, shadow, n_emitted = 258, 258, 0
    emit(CLEAR, width_for(shadow))
    w = b""
    for byte in data:
        c = bytes([byte])
        if w + c in table:
            w = w + c
            continue
        emit(table[w], width_for(shadow))
        if n_emitted > 0:
            shadow += 1  # decoder adds an entry per code after the first
        n_emitted += 1
        table[w + c] = next_code
        next_code += 1
        w = c
        if next_code > 4093:  # restart before the decoder's 4094 cap
            emit(CLEAR, width_for(shadow))
            table = {bytes([i]): i for i in range(256)}
            next_code, shadow, n_emitted = 258, 258, 0
    if w:
        emit(table[w], width_for(shadow))
        if n_emitted > 0:
            shadow += 1
        n_emitted += 1
    emit(EOI, width_for(shadow))
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """Test-side PackBits encoder: greedy runs ≥3 as repeats, else
    literal groups (both capped at 128)."""
    out = bytearray()
    i = 0
    while i < len(data):
        run = 1
        while (run < 128 and i + run < len(data)
               and data[i + run] == data[i]):
            run += 1
        if run >= 3:
            out += bytes([256 - (run - 1), data[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < len(data) and i - lit_start < 128:
            run = 1
            while (run < 3 and i + run < len(data)
                   and data[i + run] == data[i]):
                run += 1
            if run >= 3:
                break
            i += 1
        n = i - lit_start
        out += bytes([n - 1]) + data[lit_start:i]
    return bytes(out)


def _encode_tiff(px, byte_order="little", compression=1, photometric=None,
                 predictor=1, rows_per_strip=None, alpha=False):
    """Test-side baseline TIFF writer.  ``px`` is (h, w, 3) uint8 for
    RGB (``photometric=2``) or (h, w) uint8 for grayscale
    (``photometric`` 1 = BlackIsZero, 0 = WhiteIsZero — pixel values
    are stored as given; interpretation is the reader's job).
    ``alpha=True`` appends a constant 0x80 alpha sample (spp=4)."""
    import numpy as np

    bo = byte_order

    def pk(v, n):
        return int(v).to_bytes(n, bo)

    if px.ndim == 2:
        photometric = 1 if photometric is None else photometric
        spp = 1
        sample_rows = px[..., None]
    else:
        photometric = 2 if photometric is None else photometric
        if alpha:
            a = np.full(px.shape[:2] + (1,), 0x80, np.uint8)
            sample_rows = np.concatenate([px, a], axis=2)
        else:
            sample_rows = px
        spp = sample_rows.shape[2]
    h, w = sample_rows.shape[:2]
    rps = h if rows_per_strip is None else rows_per_strip

    strips = []
    for s0 in range(0, h, rps):
        rows = sample_rows[s0 : s0 + rps].astype(np.uint8)
        if predictor == 2:
            d = rows.astype(np.int16)
            d[:, 1:] = d[:, 1:] - d[:, :-1]
            rows = (d % 256).astype(np.uint8)
        raw = rows.tobytes()
        if compression == 5:
            strips.append(_tiff_lzw_encode(raw))
        elif compression == 32773:
            strips.append(_packbits_encode(raw))
        else:
            strips.append(raw)

    body = bytearray()
    offsets, counts = [], []
    data_start = 8
    for s in strips:
        offsets.append(data_start + len(body))
        counts.append(len(s))
        body += s
    aux_start = data_start + len(body)
    aux = bytearray()

    def arr_value(values, typ_size, typ_pack):
        """Inline if it fits 4 bytes (left-justified) else aux offset."""
        raw = b"".join(typ_pack(v) for v in values)
        if len(raw) <= 4:
            return raw + b"\x00" * (4 - len(raw)), None
        off = aux_start + len(aux)
        aux.extend(raw)
        return pk(off, 4), off

    entries = []  # (tag, type, count, 4-byte value field)

    def add(tag, typ, values):
        size = {3: 2, 4: 4}[typ]
        val, _ = arr_value(values, size, lambda v: pk(v, size))
        entries.append((tag, typ, len(values), val))

    add(256, 3, [w])
    add(257, 3, [h])
    add(258, 3, [8] * spp)
    add(259, 3, [compression])
    add(262, 3, [photometric])
    add(273, 4, offsets)
    add(277, 3, [spp])
    add(278, 3, [rps])
    add(279, 4, counts)
    if predictor != 1:
        add(317, 3, [predictor])
    entries.sort()  # IFD entries must be tag-ascending per spec

    ifd_off = aux_start + len(aux)
    ifd = bytearray(pk(len(entries), 2))
    for tag, typ, count, val in entries:
        ifd += pk(tag, 2) + pk(typ, 2) + pk(count, 4) + val
    ifd += pk(0, 4)  # next-IFD pointer: none

    magic = b"II*\x00" if bo == "little" else b"MM\x00*"
    return bytes(magic + pk(ifd_off, 4) + body + aux + ifd)


def test_tiff_lzw_roundtrip_early_change():
    """Encoder/decoder roundtrip across the 9→10→11→12-bit early-change
    boundaries and a mid-stream CLEAR (table restart), on repetitive,
    random, and mixed payloads."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _tiff_lzw_decode

    rng = np.random.default_rng(7)
    payloads = [
        b"",
        b"\x00" * 10,
        bytes(range(256)) * 2,
        bytes(rng.integers(0, 256, 3000, dtype=np.uint8)),   # > 511 adds
        bytes(rng.integers(0, 256, 20000, dtype=np.uint8)),  # forces CLEAR
        (b"abcab" * 2000) + bytes(rng.integers(0, 256, 5000, dtype=np.uint8)),
    ]
    for p in payloads:
        enc = _tiff_lzw_encode(p)
        assert _tiff_lzw_decode(enc, len(p)) == p
    # random data barely compresses; the 20 k payload must have crossed
    # the 4093-entry table cap, i.e. contained a mid-stream CLEAR
    assert len(_tiff_lzw_encode(payloads[4])) > 4093


def test_packbits_roundtrip():
    import numpy as np

    from square_etl_spark.operators.multimodal import _packbits_decode

    rng = np.random.default_rng(11)
    payloads = [
        b"\x00" * 400,
        bytes(rng.integers(0, 4, 500, dtype=np.uint8)),
        bytes(rng.integers(0, 256, 500, dtype=np.uint8)),
        b"\xaa",
    ]
    for p in payloads:
        assert _packbits_decode(_packbits_encode(p), len(p)) == p


def test_tiff_parser_variants_exact():
    """Every supported axis decodes bit-exact: both byte orders, all
    three compressions, multi-strip layout, horizontal predictor,
    grayscale both photometrics, and RGBA alpha-drop."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_tiff

    rng = np.random.default_rng(13)
    px = rng.integers(0, 256, (16, 12, 3), dtype=np.uint8)
    for kw in [
        dict(byte_order="little", compression=1),
        dict(byte_order="big", compression=1),
        dict(byte_order="little", compression=5),
        dict(byte_order="big", compression=5, predictor=2),
        dict(byte_order="little", compression=32773),
        dict(byte_order="big", compression=32773, rows_per_strip=5),
        dict(byte_order="little", compression=5, rows_per_strip=3,
             predictor=2),
        dict(byte_order="little", compression=1, alpha=True),
    ]:
        got = _parse_tiff(_encode_tiff(px, **kw))
        assert np.array_equal(got, px), kw
    gray = rng.integers(0, 256, (9, 7), dtype=np.uint8)
    got = _parse_tiff(_encode_tiff(gray, photometric=1, compression=5))
    assert np.array_equal(got, np.repeat(gray[..., None], 3, axis=2))
    # WhiteIsZero: stored values invert on read
    got = _parse_tiff(_encode_tiff(gray, photometric=0))
    assert np.array_equal(got, np.repeat((255 - gray)[..., None], 3, axis=2))


def test_tiff_rejects_unsupported_variants():
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _parse_tiff

    px = np.zeros((4, 4, 3), np.uint8)
    blob = bytearray(_encode_tiff(px, predictor=2))  # tag 317 present

    def with_tag(tag, value):
        """Rewrite a SHORT IFD value in place (little-endian fixture)."""
        b = bytearray(blob)
        ifd = int.from_bytes(b[4:8], "little")
        n = int.from_bytes(b[ifd : ifd + 2], "little")
        for i in range(n):
            e = ifd + 2 + 12 * i
            if int.from_bytes(b[e : e + 2], "little") == tag:
                b[e + 8 : e + 10] = int(value).to_bytes(2, "little")
        return bytes(b)

    for tag, value, why in [
        (259, 7, "jpeg-in-tiff compression"),
        (262, 3, "palette color"),
        (258, 16, "16-bit samples"),
        (317, 3, "floating-point predictor"),
    ]:
        with pytest.raises(ValueError):
            _parse_tiff(with_tag(tag, value)), why
    with pytest.raises(ValueError):
        _parse_tiff(b"II+\x00" + bytes(blob[4:]))  # BigTIFF magic 43


def test_decode_media_real_tiff_codec(spark):
    """e2e through decode_media: exact 4x4 luminance grid from a TIFF
    blob; malformed TIFF quarantines ok=false."""
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _grid_features,
        decode_media,
    )

    rng = np.random.default_rng(17)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    blob = _encode_tiff(px, compression=5, predictor=2, rows_per_strip=4)
    out = decode_media(_media_df(spark, blob, "tiff")).collect()[0]
    assert out.ok
    assert out.features == _grid_features(px)
    bad = decode_media(
        _media_df(spark, blob[:40], "tiff")
    ).collect()[0]
    assert not bad.ok


def test_resize_real_for_tiff(spark):
    import numpy as np

    row = np.zeros((8, 8, 3), np.uint8)
    row[:, 4:] = 255  # left half black, right half white
    blob = _encode_tiff(row, compression=32773)
    out = resize_images(_media_df(spark, blob, "tiff"), 4, 2).collect()[0]
    got = np.frombuffer(bytes(out.content), np.uint8).reshape(2, 4, 3)
    want = np.zeros((2, 4, 3), np.uint8)
    want[:, 2:] = 255
    assert np.array_equal(got, want)
    assert (out.width, out.height, out.channels) == (4, 2, 3)


def test_tiff_probe_and_fuzz():
    """Header-only probe reads geometry without touching strips (both
    byte orders); parser + probe raise ValueError only, at every
    truncation point and under random corruption."""
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _parse_tiff,
        _probe_blob,
    )

    rng = np.random.default_rng(29)
    px = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
    for bo in ("little", "big"):
        blob = _encode_tiff(px, byte_order=bo, compression=5)
        got = _probe_blob(blob)
        assert got["detected_format"] == "tiff"
        assert (got["width"], got["height"]) == (5, 6)
    blob = _encode_tiff(px, compression=5, predictor=2, rows_per_strip=2)
    _parse_tiff(blob)  # sanity: full blob parses
    for cut in range(len(blob)):
        for fn in (_parse_tiff, _probe_blob):
            try:
                fn(blob[:cut])
            except ValueError:
                pass
    for _ in range(300):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] = int(rng.integers(0, 256))
        for fn in (_parse_tiff, _probe_blob):
            try:
                fn(bytes(b))
            except ValueError:
                pass


# ---------------------------------------------------------------------------
# REAL audio codec: native FLAC (subframes + Rice residuals + stereo)
# ---------------------------------------------------------------------------


class _FlacBitWriter:
    """Test-side MSB-first bit writer with zero-padding to byte."""

    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def w(self, value: int, k: int) -> None:
        assert 0 <= value < (1 << k), (value, k)
        self.acc = (self.acc << k) | value
        self.n += k
        while self.n >= 8:
            self.out.append((self.acc >> (self.n - 8)) & 0xFF)
            self.n -= 8

    def sw(self, value: int, k: int) -> None:
        self.w(value & ((1 << k) - 1), k)

    def align(self) -> None:
        if self.n:
            self.w(0, 8 - self.n)

    def bytes_(self) -> bytes:
        assert self.n == 0
        return bytes(self.out)


def _flac_crc8(bs: bytes) -> int:
    from square_etl_spark.operators.multimodal import _flac_crc_tables

    t8, _ = _flac_crc_tables()
    crc = 0
    for b in bs:
        crc = t8[crc ^ b]
    return crc


def _flac_crc16(bs: bytes) -> int:
    from square_etl_spark.operators.multimodal import _flac_crc_tables

    _, t16 = _flac_crc_tables()
    crc = 0
    for b in bs:
        crc = ((crc << 8) & 0xFFFF) ^ t16[(crc >> 8) ^ b]
    return crc


def _flac_write_residual(bw, residual, order, part_order=0, escape_bits=None):
    """Rice method 0: partitions, adaptive param, or raw escape when
    ``escape_bits`` is given."""
    bw.w(0, 2)  # coding method 0: 4-bit rice params
    bw.w(part_order, 4)
    blocksize = len(residual) + order
    n_part = 1 << part_order
    assert blocksize % n_part == 0
    idx = 0
    for i in range(n_part):
        cnt = (blocksize >> part_order) - (order if i == 0 else 0)
        part = residual[idx : idx + cnt]
        idx += cnt
        if escape_bits is not None:
            bw.w(0xF, 4)
            bw.w(escape_bits, 5)
            for r in part:
                bw.sw(r, escape_bits)
            continue
        zz = [(r << 1) if r >= 0 else ((-r) << 1) - 1 for r in part]
        p = max(0, (max(zz).bit_length() - 2) if zz and max(zz) else 0)
        p = min(p, 14)  # 15 is the method-0 escape code
        bw.w(p, 4)
        for v in zz:
            q = v >> p
            for _ in range(q):
                bw.w(0, 1)
            bw.w(1, 1)
            if p:
                bw.w(v & ((1 << p) - 1), p)


def _flac_write_subframe(bw, samples, bps, kind="verbatim", wasted=0,
                         part_order=0, escape_bits=None, lpc=None):
    """kind: constant | verbatim | fixed<order> | lpc (with
    ``lpc=(coefs, shift, precision)``)."""
    bw.w(0, 1)  # padding bit
    if kind == "constant":
        type_code = 0
    elif kind == "verbatim":
        type_code = 1
    elif kind.startswith("fixed"):
        type_code = 8 + int(kind[5:])
    else:
        type_code = 32 + (len(lpc[0]) - 1)
    bw.w(type_code, 6)
    if wasted:
        assert all(s % (1 << wasted) == 0 for s in samples)
        bw.w(1, 1)
        for _ in range(wasted - 1):
            bw.w(0, 1)
        bw.w(1, 1)
        samples = [s >> wasted for s in samples]
    else:
        bw.w(0, 1)
    eb = bps - wasted
    if kind == "constant":
        assert len(set(samples)) == 1
        bw.sw(samples[0], eb)
    elif kind == "verbatim":
        for s in samples:
            bw.sw(s, eb)
    elif kind.startswith("fixed"):
        order = int(kind[5:])
        coefs = [[], [1], [2, -1], [3, -3, 1], [4, -6, 4, -1]][order]
        for s in samples[:order]:
            bw.sw(s, eb)
        residual = [
            samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coefs))
            for i in range(order, len(samples))
        ]
        _flac_write_residual(bw, residual, order, part_order, escape_bits)
    else:
        coefs, shift, prec = lpc
        order = len(coefs)
        for s in samples[:order]:
            bw.sw(s, eb)
        bw.w(prec - 1, 4)
        bw.sw(shift, 5)
        for c in coefs:
            bw.sw(c, prec)
        residual = [
            samples[i]
            - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, len(samples))
        ]
        _flac_write_residual(bw, residual, order, part_order, escape_bits)


def _encode_flac(chans, rate=44100, bps=16, blocksize=192, mode="independent",
                 subframe="verbatim", wasted=0, part_order=0,
                 escape_bits=None, lpc=None):
    """Test-side FLAC writer: fLaC magic + STREAMINFO, then frames of
    ``blocksize`` (short last frame allowed).  ``mode``: independent |
    left_side | right_side | mid_side.  Subframe options apply to
    every channel."""
    n_ch = len(chans)
    total = len(chans[0])
    assert all(len(c) == total for c in chans)
    si = _FlacBitWriter()
    si.w(min(blocksize, total) or blocksize, 16)
    si.w(blocksize, 16)
    si.w(0, 24)
    si.w(0, 24)
    si.w(rate, 20)
    si.w(n_ch - 1, 3)
    si.w(bps - 1, 5)
    si.w(total, 36)
    stream = bytearray(b"fLaC" + bytes([0x80]) + (34).to_bytes(3, "big")
                       + si.bytes_() + b"\x00" * 16)
    asgn = {"independent": n_ch - 1, "left_side": 8, "right_side": 9,
            "mid_side": 10}[mode]
    ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6}[bps]
    frame_no = 0
    for s0 in range(0, total, blocksize):
        block = [c[s0 : s0 + blocksize] for c in chans]
        bs = len(block[0])
        hdr = bytearray([0xFF, 0xF8, 0x70, (asgn << 4) | (ss_code << 1)])
        assert frame_no < 128  # single-byte coded number
        hdr.append(frame_no)
        hdr += (bs - 1).to_bytes(2, "big")
        hdr.append(_flac_crc8(hdr))
        bw = _FlacBitWriter()
        if mode == "independent":
            subs = [(ch, bps) for ch in block]
        elif mode == "left_side":
            side = [l - r for l, r in zip(block[0], block[1])]
            subs = [(block[0], bps), (side, bps + 1)]
        elif mode == "right_side":
            side = [l - r for l, r in zip(block[0], block[1])]
            subs = [(side, bps + 1), (block[1], bps)]
        else:  # mid_side
            mid = [(l + r) >> 1 for l, r in zip(block[0], block[1])]
            side = [l - r for l, r in zip(block[0], block[1])]
            subs = [(mid, bps), (side, bps + 1)]
        for samples, cbps in subs:
            kind = subframe
            order = (len(lpc[0]) if kind == "lpc"
                     else int(kind[5:]) if kind.startswith("fixed") else 0)
            if order >= len(samples):
                kind = "verbatim"  # short last frame: order must fit
            _flac_write_subframe(bw, samples, cbps, kind=kind,
                                 wasted=wasted, part_order=part_order,
                                 escape_bits=escape_bits,
                                 lpc=lpc if kind == "lpc" else None)
        bw.align()
        frame = bytes(hdr) + bw.bytes_()
        stream += frame + _flac_crc16(frame).to_bytes(2, "big")
        frame_no += 1
    return bytes(stream)


def test_flac_crc_check_values():
    """Pin the CRC polynomials against the published check values so
    encoder/decoder can't drift into a self-consistent nonstandard
    pair: CRC-8/SMBUS(0x07)=0xF4, CRC-16/BUYPASS(0x8005)=0xFEE8."""
    assert _flac_crc8(b"123456789") == 0xF4
    assert _flac_crc16(b"123456789") == 0xFEE8


def _flac_expected(chans, bps):
    import numpy as np

    return np.array(chans, dtype=np.float64).mean(axis=0) / float(1 << (bps - 1))


def test_flac_roundtrip_subframe_types():
    """Lossless roundtrip for every subframe type, Rice partitions,
    raw-escape residuals, wasted bits, and a short last frame."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_flac

    rng = np.random.default_rng(31)
    mono = [int(v) for v in rng.integers(-2000, 2000, 500)]
    cases = [
        dict(subframe="verbatim"),
        dict(subframe="constant"),
        dict(subframe="fixed0"),
        dict(subframe="fixed1"),
        dict(subframe="fixed2", part_order=2),
        dict(subframe="fixed3"),
        dict(subframe="fixed4", escape_bits=20),
        dict(subframe="lpc", lpc=([1229, -205], 10, 12)),
        dict(subframe="fixed2", wasted=2),
    ]
    for kw in cases:
        sig = mono
        if kw["subframe"] == "constant":
            sig = [137] * 500
        if kw.get("wasted"):
            sig = [s << kw["wasted"] for s in mono]
        blob = _encode_flac([sig], blocksize=192, **kw)
        samples, rate = _parse_flac(blob)
        assert rate == 44100
        assert np.array_equal(samples, _flac_expected([sig], 16)), kw


def test_flac_stereo_decorrelation_modes():
    """left/side, right/side, mid/side all reconstruct the same L/R as
    the independent encoding — bit-exact."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_flac

    rng = np.random.default_rng(37)
    left = [int(v) for v in rng.integers(-5000, 5000, 384)]
    right = [int(v) for v in rng.integers(-5000, 5000, 384)]
    want = _flac_expected([left, right], 16)
    for mode in ("independent", "left_side", "right_side", "mid_side"):
        samples, _ = _parse_flac(
            _encode_flac([left, right], mode=mode, subframe="fixed2")
        )
        assert np.array_equal(samples, want), mode


def test_flac_bit_depths():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_flac

    rng = np.random.default_rng(41)
    for bps, lim in [(8, 100), (12, 1500), (16, 20000), (20, 300000),
                     (24, 5000000)]:
        sig = [int(v) for v in rng.integers(-lim, lim, 200)]
        samples, _ = _parse_flac(_encode_flac([sig], bps=bps))
        assert np.array_equal(samples, _flac_expected([sig], bps)), bps


def test_flac_rejects_corrupt_crc_and_reserved():
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _parse_flac

    rng = np.random.default_rng(43)
    sig = [int(v) for v in rng.integers(-100, 100, 192)]
    blob = bytearray(_encode_flac([sig]))
    good = bytes(blob)
    _parse_flac(good)  # sanity
    flipped = bytearray(good)
    flipped[-1] ^= 0xFF  # frame CRC-16 byte
    with pytest.raises(ValueError):
        _parse_flac(bytes(flipped))
    flipped = bytearray(good)
    flipped[46] ^= 0x04  # reserved bit in frame header byte 3
    with pytest.raises(ValueError):
        _parse_flac(bytes(flipped))
    with pytest.raises(ValueError):
        _parse_flac(b"fLaX" + good[4:])


def test_decode_media_real_flac_codec(spark):
    """e2e through decode_media: FLAC features equal the RMS profile of
    the decoded mono mix; malformed FLAC quarantines ok=false."""
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _rms_features,
        decode_media,
    )

    rng = np.random.default_rng(47)
    left = [int(v) for v in rng.integers(-20000, 20000, 700)]
    right = [int(v) for v in rng.integers(-20000, 20000, 700)]
    blob = _encode_flac([left, right], mode="mid_side", subframe="fixed2")
    out = decode_media(
        _media_df(spark, blob, "flac", media_type="audio")
    ).collect()[0]
    assert out.ok
    assert out.features == _rms_features(_flac_expected([left, right], 16))
    bad = decode_media(
        _media_df(spark, blob[:60], "flac", media_type="audio")
    ).collect()[0]
    assert not bad.ok


def test_flac_probe_and_fuzz():
    """Header-only probe reads the sample rate from STREAMINFO; parser
    and probe raise ValueError only at every truncation point and
    under random corruption (CRCs catch what structure checks miss)."""
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _parse_flac,
        _probe_blob,
    )

    rng = np.random.default_rng(53)
    sig = [int(v) for v in rng.integers(-3000, 3000, 400)]
    blob = _encode_flac([sig], rate=48000, subframe="fixed1")
    got = _probe_blob(blob)
    assert got["detected_format"] == "flac"
    assert got["sample_rate"] == 48000
    _parse_flac(blob)  # sanity
    for cut in range(len(blob)):
        for fn in (_parse_flac, _probe_blob):
            try:
                fn(blob[:cut])
            except ValueError:
                pass
    for _ in range(300):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] = int(rng.integers(0, 256))
        for fn in (_parse_flac, _probe_blob):
            try:
                fn(bytes(b))
            except ValueError:
                pass


# ---------------------------------------------------------------------------
# Header-only probe for the stubbed-decode containers: MP4 / MP3
# ---------------------------------------------------------------------------


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def _encode_mp4(width=None, height=None, tkhd_version=0) -> bytes:
    """Minimal ISO BMFF: ftyp + moov(trak(tkhd)); geometry as 16.16
    fixed point, zero for audio-only."""
    long_fields = 8 if tkhd_version == 1 else 4
    tkhd = bytes([tkhd_version, 0, 0, 0])
    tkhd += b"\x00" * (3 * long_fields + 4 + 4)   # ctime mtime id resv dur
    tkhd += b"\x00" * 8                            # reserved
    tkhd += b"\x00" * 8 + b"\x00" * 36             # layer/group/vol + matrix
    tkhd += ((width or 0) << 16).to_bytes(4, "big")
    tkhd += ((height or 0) << 16).to_bytes(4, "big")
    moov = _mp4_box(b"moov", _mp4_box(b"trak", _mp4_box(b"tkhd", tkhd)))
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    return ftyp + moov


def _encode_mp3_header(rate=44100, id3=False) -> bytes:
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[rate]
    frame = bytes([0xFF, 0xFB, 0x90 | (sr_idx << 2), 0x00]) + b"\x00" * 100
    if id3:
        tag_body = b"\x00" * 37
        return (b"ID3\x04\x00\x00" + bytes([0, 0, 0, len(tag_body)])
                + tag_body + frame)
    return frame


def test_probe_mp4_mp3_header_only():
    import numpy as np

    from square_etl_spark.operators.multimodal import _probe_blob

    got = _probe_blob(_encode_mp4(640, 360))
    assert got["detected_format"] == "mp4"
    assert (got["width"], got["height"]) == (640, 360)
    got = _probe_blob(_encode_mp4(1920, 1080, tkhd_version=1))
    assert (got["width"], got["height"]) == (1920, 1080)
    got = _probe_blob(_encode_mp4())  # audio-only: geometry absent
    assert got["detected_format"] == "mp4"
    assert got["width"] is None and got["height"] is None
    for rate in (44100, 48000, 32000):
        for id3 in (False, True):
            got = _probe_blob(_encode_mp3_header(rate, id3=id3))
            assert got["detected_format"] == "mp3", (rate, id3)
            assert got["sample_rate"] == rate
    # fuzz: ValueError only under truncation + corruption
    rng = np.random.default_rng(59)
    for blob in (_encode_mp4(640, 360), _encode_mp3_header(id3=True)):
        for cut in range(len(blob)):
            try:
                _probe_blob(blob[:cut])
            except ValueError:
                pass
        for _ in range(200):
            b = bytearray(blob)
            i = int(rng.integers(0, len(b)))
            b[i] = int(rng.integers(0, 256))
            try:
                _probe_blob(bytes(b))
            except ValueError:
                pass


# ---------------------------------------------------------------------------
# G.711 µ-law / A-law companded audio (WAV formats 6/7, AU encodings 1/27)
# ---------------------------------------------------------------------------


def test_g711_tables_match_audioop_reference():
    """Pin both expansion tables value-for-value against CPython's
    audioop (the stdlib G.711 reference implementation) across all 256
    codes."""
    import warnings

    import numpy as np

    from square_etl_spark.operators.multimodal import _g711_tables

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    codes = bytes(range(256))
    ulaw, alaw = _g711_tables()
    ref_u = np.frombuffer(audioop.ulaw2lin(codes, 2), "<i2")
    ref_a = np.frombuffer(audioop.alaw2lin(codes, 2), "<i2")
    assert np.array_equal(ulaw * 32768.0, ref_u.astype(np.float64))
    assert np.array_equal(alaw * 32768.0, ref_a.astype(np.float64))


def test_wav_au_g711_decode_and_fuzz(spark):
    """µ-law WAV (format 7), A-law WAV (format 6), µ-law AU
    (encoding 1), A-law AU (encoding 27) all decode through the real
    parsers to the audioop-reference samples; e2e through decode_media;
    truncation/corruption stays ValueError-only."""
    import warnings

    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _parse_au,
        _parse_wav,
        _rms_features,
        decode_media,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    rng = np.random.default_rng(61)
    codes = bytes(int(v) for v in rng.integers(0, 256, 300))

    def wav_blob(fmt_code):
        return (b"RIFF" + (36 + len(codes)).to_bytes(4, "little")
                + b"WAVEfmt " + (16).to_bytes(4, "little")
                + fmt_code.to_bytes(2, "little") + (1).to_bytes(2, "little")
                + (8000).to_bytes(4, "little") + (8000).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + (8).to_bytes(2, "little")
                + b"data" + len(codes).to_bytes(4, "little") + codes)

    def au_blob(enc):
        return (b".snd" + (24).to_bytes(4, "big")
                + len(codes).to_bytes(4, "big") + enc.to_bytes(4, "big")
                + (8000).to_bytes(4, "big") + (1).to_bytes(4, "big") + codes)

    ref_u = np.frombuffer(audioop.ulaw2lin(codes, 2), "<i2").astype(np.float64) / 32768.0
    ref_a = np.frombuffer(audioop.alaw2lin(codes, 2), "<i2").astype(np.float64) / 32768.0
    cases = [
        (_parse_wav, wav_blob(7), ref_u),
        (_parse_wav, wav_blob(6), ref_a),
        (_parse_au, au_blob(1), ref_u),
        (_parse_au, au_blob(27), ref_a),
    ]
    for parser, blob, want in cases:
        samples, rate = parser(blob)
        assert rate == 8000
        assert np.array_equal(samples, want), parser.__name__

    out = decode_media(
        _media_df(spark, wav_blob(7), "wav", media_type="audio")
    ).collect()[0]
    assert out.ok
    assert out.features == _rms_features(ref_u)

    for parser, blob, _ in cases[:1] + cases[2:3]:
        for cut in range(len(blob)):
            try:
                parser(blob[:cut])
            except ValueError:
                pass
        for _ in range(150):
            b = bytearray(blob)
            i = int(rng.integers(0, len(b)))
            b[i] = int(rng.integers(0, 256))
            try:
                parser(bytes(b))
            except ValueError:
                pass


# ---------------------------------------------------------------------------
# REAL image codecs: TGA (uncompressed + RLE) and ICO (PNG or DIB payload)
# ---------------------------------------------------------------------------


def _encode_tga(px, rle=False, top_down=False, alpha=False):
    """Test-side TGA writer: (h,w,3) RGB or (h,w) gray uint8."""
    import numpy as np

    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        body_px = px[..., None]
        bpp = 8
        imgtype = 3
    else:
        bgr = px[..., ::-1]
        if alpha:
            a = np.full((h, w, 1), 0xCC, np.uint8)
            body_px = np.concatenate([bgr, a], axis=2)
            bpp = 32
        else:
            body_px = bgr
            bpp = 24
        imgtype = 2
    if not top_down:
        body_px = body_px[::-1]
    raw = body_px.tobytes()
    nbytes = bpp // 8
    if rle:
        imgtype += 8
        out = bytearray()
        pixels = [raw[i : i + nbytes] for i in range(0, len(raw), nbytes)]
        i = 0
        while i < len(pixels):
            run = 1
            while (run < 128 and i + run < len(pixels)
                   and pixels[i + run] == pixels[i]):
                run += 1
            if run >= 2:
                out += bytes([0x80 | (run - 1)]) + pixels[i]
                i += run
            else:
                j = i + 1
                while (j < len(pixels) and j - i < 128
                       and not (j + 1 < len(pixels)
                                and pixels[j] == pixels[j + 1])):
                    j += 1
                out += bytes([j - i - 1]) + b"".join(pixels[i:j])
                i = j
        raw = bytes(out)
    header = bytes([0, 0, imgtype]) + b"\x00" * 9
    header += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    header += bytes([bpp, 0x20 if top_down else 0x00])
    return header + raw


def _encode_ico(px, payload="dib"):
    """Test-side ICO writer around a single (h,w,3) image: 32-bit BGRA
    DIB (doubled height + empty AND mask) or embedded PNG."""
    import numpy as np

    h, w = px.shape[:2]
    if payload == "png":
        body = _encode_png(px, 2, [0] * h)
    else:
        bgra = np.concatenate(
            [px[..., ::-1], np.full((h, w, 1), 0xFF, np.uint8)], axis=2
        )[::-1]
        mask_stride = ((w + 31) // 32) * 4
        body = ((40).to_bytes(4, "little")
                + w.to_bytes(4, "little", signed=True)
                + (h * 2).to_bytes(4, "little", signed=True)
                + (1).to_bytes(2, "little") + (32).to_bytes(2, "little")
                + (0).to_bytes(4, "little") + b"\x00" * 20
                + bgra.tobytes() + b"\x00" * (mask_stride * h))
    entry = (bytes([w % 256, h % 256, 0, 0]) + (1).to_bytes(2, "little")
             + (32).to_bytes(2, "little") + len(body).to_bytes(4, "little")
             + (22).to_bytes(4, "little"))
    return b"\x00\x00\x01\x00" + (1).to_bytes(2, "little") + entry + body


def test_tga_parser_variants_exact():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_tga

    rng = np.random.default_rng(67)
    px = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    for kw in [dict(), dict(rle=True), dict(top_down=True),
               dict(alpha=True), dict(rle=True, top_down=True, alpha=True)]:
        got = _parse_tga(_encode_tga(px, **kw))
        assert np.array_equal(got, px), kw
    gray = rng.integers(0, 256, (5, 6), dtype=np.uint8)
    got = _parse_tga(_encode_tga(gray, rle=True))
    assert np.array_equal(got, np.repeat(gray[..., None], 3, axis=2))
    # highly repetitive image exercises long RLE runs
    flat = np.full((16, 16, 3), 77, np.uint8)
    assert np.array_equal(_parse_tga(_encode_tga(flat, rle=True)), flat)


def test_ico_parser_png_and_dib_payloads():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_ico, _probe_blob

    rng = np.random.default_rng(71)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    for payload in ("dib", "png"):
        got = _parse_ico(_encode_ico(px, payload=payload))
        assert np.array_equal(got, px), payload
    info = _probe_blob(_encode_ico(px))
    assert info["detected_format"] == "ico"
    assert (info["width"], info["height"]) == (16, 16)


def test_tga_ico_decode_media_and_fuzz(spark):
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _grid_features,
        _parse_ico,
        _parse_tga,
        _probe_blob,
        decode_media,
    )

    rng = np.random.default_rng(73)
    px = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    for fmt, blob in [("tga", _encode_tga(px, rle=True)),
                      ("ico", _encode_ico(px))]:
        out = decode_media(_media_df(spark, blob, fmt)).collect()[0]
        assert out.ok, fmt
        assert out.features == _grid_features(px), fmt
        bad = decode_media(_media_df(spark, blob[:10], fmt)).collect()[0]
        assert not bad.ok, fmt
    for parser, blob in [(_parse_tga, _encode_tga(px, rle=True)),
                         (_parse_ico, _encode_ico(px)),
                         (_parse_ico, _encode_ico(px, payload="png"))]:
        parser(blob)  # sanity
        for cut in range(len(blob)):
            try:
                parser(blob[:cut])
            except ValueError:
                pass
        for _ in range(200):
            b = bytearray(blob)
            i = int(rng.integers(0, len(b)))
            b[i] = int(rng.integers(0, 256))
            for fn in (parser, _probe_blob):
                try:
                    fn(bytes(b))
                except ValueError:
                    pass


# ---------------------------------------------------------------------------
# Animated GIF: canvas composition, transparency, disposal methods
# ---------------------------------------------------------------------------


def _encode_gif_anim(screen_wh, palette, frames, bg_idx=0):
    """Test-side animated GIF writer.  ``frames`` is a list of dicts:
    {idx: 2-D index array, left, top, disposal, transparent}."""
    import numpy as np

    W, H = screen_wh
    n = max(2, len(palette))
    bits = max(1, (n - 1).bit_length())
    n_pad = 1 << bits
    out = bytearray(b"GIF89a")
    out += W.to_bytes(2, "little") + H.to_bytes(2, "little")
    out += bytes([0x80 | (bits - 1), bg_idx, 0])
    for r, g, b in list(palette) + [(0, 0, 0)] * (n_pad - len(palette)):
        out += bytes([r, g, b])
    for fr in frames:
        idx = np.asarray(fr["idx"], np.uint8)
        h, w = idx.shape
        disposal = fr.get("disposal", 0)
        transparent = fr.get("transparent")
        gce = bytes([
            (disposal << 2) | (1 if transparent is not None else 0),
            0, 0,
            transparent if transparent is not None else 0,
        ])
        out += bytes([0x21, 0xF9, 4]) + gce + b"\x00"
        out += bytes([0x2C])
        out += fr.get("left", 0).to_bytes(2, "little")
        out += fr.get("top", 0).to_bytes(2, "little")
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += bytes([0x00])  # no local table, not interlaced
        min_code = max(2, bits)
        lzw = _lzw_encode(idx.ravel().tolist(), min_code)
        out += bytes([min_code])
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3B"
    return bytes(out)


def test_gif_animation_composition_and_disposal():
    """Frame-over-frame canvas semantics: sub-rect placement,
    transparent pixels leaving the canvas intact, disposal 2 restoring
    background, disposal 3 restoring the previous canvas."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_gif_frames

    pal = [(10, 10, 10), (200, 0, 0), (0, 200, 0), (0, 0, 200)]
    # frame 1: full 4x4 of color 1; frame 2: 2x2 patch of color 2 at
    # (1,1) with disposal 2 (restore bg); frame 3: 2x2 patch color 3
    # at (0,0) where index 0 is transparent
    f1 = {"idx": np.full((4, 4), 1), "disposal": 1}
    f2 = {"idx": np.full((2, 2), 2), "left": 1, "top": 1, "disposal": 2}
    f3 = {"idx": np.array([[3, 0], [0, 3]]), "transparent": 0}
    blob = _encode_gif_anim((4, 4), pal, [f1, f2, f3])
    frames = _parse_gif_frames(blob)
    assert len(frames) == 3
    want1 = np.tile(np.array(pal[1], np.uint8), (4, 4, 1))
    assert np.array_equal(frames[0], want1)
    want2 = want1.copy()
    want2[1:3, 1:3] = pal[2]
    assert np.array_equal(frames[1], want2)
    # disposal 2 restored the 2x2 rect to BACKGROUND (palette 0), then
    # frame 3 painted color 3 at (0,0)/(1,1) with 0 transparent
    want3 = want1.copy()
    want3[1:3, 1:3] = pal[0]
    want3[0, 0] = pal[3]
    want3[1, 1] = pal[3]
    assert np.array_equal(frames[2], want3)
    # disposal 3: a frame rendered on top, then next frame sees the
    # canvas as it was BEFORE it
    g1 = {"idx": np.full((4, 4), 1), "disposal": 1}
    g2 = {"idx": np.full((4, 4), 2), "disposal": 3}
    g3 = {"idx": np.array([[3]]), "left": 0, "top": 0}
    fr = _parse_gif_frames(_encode_gif_anim((4, 4), pal, [g1, g2, g3]))
    assert np.array_equal(fr[1], np.tile(np.array(pal[2], np.uint8), (4, 4, 1)))
    want = np.tile(np.array(pal[1], np.uint8), (4, 4, 1))
    want[0, 0] = pal[3]
    assert np.array_equal(fr[2], want)
    assert len(_parse_gif_frames(blob, max_frames=2)) == 2


def test_sample_frames_real_for_animated_gif(spark):
    import numpy as np

    from square_etl_spark.operators.multimodal import sample_frames

    pal = [(0, 0, 0), (255, 255, 255)]
    frames = [{"idx": np.full((3, 3), i % 2), "disposal": 1} for i in range(5)]
    blob = _encode_gif_anim((3, 3), pal, frames)
    out = sample_frames(
        _media_df(spark, blob, "gif", media_type="video"), max_frames=8
    ).collect()
    assert len(out) == 5
    for i, row in enumerate(sorted(out, key=lambda r: r.frame_idx)):
        v = 255 if i % 2 else 0
        got = np.frombuffer(bytes(row.frame), np.uint8).reshape(3, 3, 3)
        assert (got == v).all(), i


def test_gif_frames_fuzz_valueerror_only():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_gif_frames

    rng = np.random.default_rng(79)
    pal = [(0, 0, 0), (9, 9, 9), (99, 99, 99), (200, 200, 200)]
    blob = _encode_gif_anim((5, 5), pal, [
        {"idx": rng.integers(0, 4, (5, 5)), "disposal": 1},
        {"idx": rng.integers(0, 4, (2, 3)), "left": 2, "top": 1,
         "transparent": 1, "disposal": 2},
    ])
    _parse_gif_frames(blob)  # sanity
    for cut in range(len(blob)):
        try:
            _parse_gif_frames(blob[:cut])
        except ValueError:
            pass
    for _ in range(300):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] = int(rng.integers(0, 256))
        try:
            _parse_gif_frames(bytes(b))
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation
# ---------------------------------------------------------------------------


def _encode_jpeg_progressive(px, al=1, split=20, sampling=None, qy=None,
                             restart=0):
    """Test-side PROGRESSIVE JPEG encoder (ITU-T T.81 §G.1): reuses the
    baseline encoder's quantized coefficients, then writes a scan
    script — interleaved DC first (point transform = arithmetic
    shift), DC refinements, per-component AC first scans in two
    spectral bands (point transform = truncate toward zero), then AC
    refinement scans with the correction-bit buffering rules (ZRL
    flushed at the first significant-or-history coefficient after >15
    insignificant zeros, EOB carrying trailing correction bits)."""
    import numpy as np

    _, coeffs = _encode_jpeg(px, sampling=sampling, qy=qy)
    h, w = px.shape[:2]
    hs, vs = sampling if sampling else (1, 1)
    samplings = [(hs, vs), (1, 1), (1, 1)]
    mcux, mcuy = -(-w // (8 * hs)), -(-h // (8 * vs))
    q = np.ones(64, np.int64) if qy is None else np.asarray(qy, np.int64)

    head = b"\xff\xd8"
    head += _jpeg_seg(0xDB, b"\x00" + bytes(int(v) & 0xFF for v in q))
    if restart:
        head += _jpeg_seg(0xDD, restart.to_bytes(2, "big"))
    head += _jpeg_seg(
        0xC2,
        b"\x08" + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03"
        + bytes([1, (hs << 4) | vs, 0]) + bytes([2, 0x11, 0])
        + bytes([3, 0x11, 0]),
    )

    def huffseg(symbols, cls):
        symbols = sorted(symbols)
        counts = [0] * 7 + [len(symbols)] + [0] * 8
        code = {sym: i for i, sym in enumerate(symbols)}
        seg = _jpeg_seg(
            0xC4, bytes([cls << 4] + counts) + bytes(symbols)
        )
        return seg, code

    def sos(comp_specs, ss, se, ah, a_l):
        body = bytes([len(comp_specs)])
        for cid, td, ta in comp_specs:
            body += bytes([cid, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | a_l])
        return _jpeg_seg(0xDA, body)

    def mcu_blocks():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, (chs, cvs) in enumerate(samplings):
                    for bv in range(cvs):
                        for bh in range(chs):
                            yield ci, coeffs[ci][my * cvs + bv, mx * chs + bh]

    stream = bytearray(head)

    def rst_marker(bw, state):
        bw.pad()
        bw.out += bytes([0xFF, 0xD0 + state[0]])
        state[0] = (state[0] + 1) & 7

    # ---- DC first scan (all components interleaved, Al = al)
    toks, syms, preds = [], set(), [0, 0, 0]
    for ci, vec in mcu_blocks():
        t = int(vec[0]) >> al  # DC point transform: arithmetic shift
        d = t - preds[ci]
        preds[ci] = t
        s = abs(d).bit_length()
        syms.add(s)
        toks.append((s, d))
    # recompute tokens with per-restart prediction resets if needed
    if restart:
        toks, preds, i = [], [0, 0, 0], 0
        per_mcu = sum(chs * cvs for chs, cvs in samplings)
        for ci, vec in mcu_blocks():
            if i % (restart * per_mcu) == 0 and i:
                preds = [0, 0, 0]
            i += 1
            t = int(vec[0]) >> al
            d = t - preds[ci]
            preds[ci] = t
            s = abs(d).bit_length()
            syms.add(s)
            toks.append((s, d))
    seg, code = huffseg(syms, 0)
    bw = _JpegBitWriter()
    rst = [0]
    per_mcu = sum(chs * cvs for chs, cvs in samplings)
    for i, (s, d) in enumerate(toks):
        if restart and i and i % (restart * per_mcu) == 0:
            rst_marker(bw, rst)
        bw.put(code[s], 8)
        if s:
            bw.put(d if d >= 0 else d + (1 << s) - 1, s)
    bw.pad()
    stream += seg + sos([(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, 0, al)
    stream += bytes(bw.out)

    # ---- DC refinement scans (Ah = level+1, Al = level)
    for level in range(al - 1, -1, -1):
        bw = _JpegBitWriter()
        rst = [0]
        for i, (ci, vec) in enumerate(mcu_blocks()):
            if restart and i and i % (restart * per_mcu) == 0:
                rst_marker(bw, rst)
            bw.put((int(vec[0]) >> level) & 1, 1)
        bw.pad()
        stream += sos(
            [(1, 0, 0), (2, 0, 0), (3, 0, 0)], 0, 0, level + 1, level
        )
        stream += bytes(bw.out)

    # ---- AC scans, per component, two spectral bands
    def comp_blocks(ci):
        chs, cvs = samplings[ci]
        bwc = -(-(-(-(w * chs) // hs)) // 8)
        bhc = -(-(-(-(h * cvs) // vs)) // 8)
        for i in range(bhc * bwc):
            yield coeffs[ci][i // bwc, i % bwc]

    def ac_first(ci, ss, se, a_l, emit, code=None, on_block=None):
        for bi, vec in enumerate(comp_blocks(ci)):
            if on_block:
                on_block(bi)
            run = 0
            for k in range(ss, se + 1):
                v = int(vec[k])
                t = (abs(v) >> a_l) * (1 if v > 0 else -1)
                if t == 0:
                    run += 1
                    continue
                while run > 15:
                    emit(0xF0, None, [])
                    run -= 16
                s = abs(t).bit_length()
                emit((run << 4) | s,
                     (t if t >= 0 else t + (1 << s) - 1, s), [])
                run = 0
            if run:
                emit(0x00, None, [])

    def ac_refine(ci, ss, se, a_l, emit, code=None, on_block=None):
        for bi, vec in enumerate(comp_blocks(ci)):
            if on_block:
                on_block(bi)
            run, corrections = 0, []
            for k in range(ss, se + 1):
                a = abs(int(vec[k]))
                now = a >> a_l
                if now == 0:
                    run += 1
                    continue
                while run > 15:
                    emit(0xF0, None, corrections)
                    corrections = []
                    run -= 16
                if now > 1:  # history-nonzero: buffer the next bit
                    corrections.append(now & 1)
                    continue
                emit((run << 4) | 1,
                     (1 if int(vec[k]) > 0 else 0, 1), corrections)
                corrections = []
                run = 0
            if run or corrections:
                emit(0x00, None, corrections)

    for ci in range(3):
        bands = [(1, split), (split + 1, 63)]
        for ss, se in bands:
            for phase, levels in (("first", [al]),
                                  ("refine", range(al - 1, -1, -1))):
                for level in levels:
                    fn = ac_first if phase == "first" else ac_refine
                    syms = set()
                    fn(ci, ss, se, level,
                       lambda sym, extra, corr: syms.add(sym))
                    seg, code = huffseg(syms or {0x00}, 1)
                    bw = _JpegBitWriter()
                    rst = [0]

                    def emit(sym, extra, corr):
                        bw.put(code[sym], 8)
                        if extra is not None:
                            bw.put(*extra)
                        for b in corr:
                            bw.put(b, 1)

                    def on_block(bi):
                        if restart and bi and bi % restart == 0:
                            rst_marker(bw, rst)

                    fn(ci, ss, se, level, emit, on_block=on_block)
                    bw.pad()
                    ah = 0 if phase == "first" else level + 1
                    stream += seg + sos([(ci + 1, 0, 0)], ss, se, ah, level)
                    stream += bytes(bw.out)

    return bytes(stream) + b"\xff\xd9"


def test_jpeg_progressive_matches_baseline_decode():
    """The whole point of progressive coding: the SAME quantized
    coefficients, delivered across a scan script, must reconstruct the
    IDENTICAL image.  Random images across sampling modes and two
    successive-approximation depths, compared pixel-exact against the
    baseline decode."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(83)
    for sampling in [(1, 1), (2, 2), (2, 1)]:
        for al in (1, 2):
            px = rng.integers(0, 256, (24, 17, 3), dtype=np.uint8)
            base, _ = _encode_jpeg(px, sampling=sampling)
            prog = _encode_jpeg_progressive(px, al=al, sampling=sampling)
            assert np.array_equal(_parse_jpeg(prog), _parse_jpeg(base)), (
                sampling, al)


def test_jpeg_progressive_uniform_gray_exact():
    """All-ones quant + uniform gray decodes bit-exact through the
    progressive path (only DC survives; AC scans are pure EOB)."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    for v in (0, 7, 128, 255):
        px = np.full((16, 16, 3), v, np.uint8)
        got = _parse_jpeg(_encode_jpeg_progressive(px, al=1, sampling=(2, 2)))
        assert (got == v).all(), v


def test_jpeg_progressive_fuzz_valueerror_only():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(89)
    px = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    blob = _encode_jpeg_progressive(px, al=1, sampling=(2, 2))
    _parse_jpeg(blob)  # sanity
    for cut in range(len(blob)):
        try:
            _parse_jpeg(blob[:cut])
        except ValueError:
            pass
    for _ in range(250):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] = int(rng.integers(0, 256))
        try:
            _parse_jpeg(bytes(b))
        except ValueError:
            pass


def test_jpeg_progressive_restart_intervals():
    """RSTn markers inside progressive scans: DC prediction and EOB-run
    state reset at each restart, in interleaved DC scans AND
    per-component AC scans — decode must stay pixel-identical to the
    restart-free stream."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_jpeg

    rng = np.random.default_rng(97)
    px = rng.integers(0, 256, (40, 33, 3), dtype=np.uint8)
    plain = _parse_jpeg(_encode_jpeg_progressive(px, al=1, sampling=(2, 2)))
    for ri in (1, 3):
        blob = _encode_jpeg_progressive(px, al=1, sampling=(2, 2), restart=ri)
        assert np.array_equal(_parse_jpeg(blob), plain), ri


def test_tiff_orientation_and_misdecode_rejections():
    """Orientation tag 274 normalizes all 8 EXIF poses to
    row0=top/col0=left; FillOrder 2 and PlanarConfiguration 2 (which
    would silently mis-decode if ignored) hard-reject."""
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _parse_tiff

    rng = np.random.default_rng(101)
    px = rng.integers(0, 256, (6, 4, 3), dtype=np.uint8)

    def with_short_tag(blob, tag, value):
        """Append/patch a SHORT tag by rebuilding the IFD in place is
        complex; instead splice the tag value into an existing one via
        the encoder being extended — simpler: rewrite entry if present
        else rebuild via direct IFD surgery."""
        b = bytearray(blob)
        ifd = int.from_bytes(b[4:8], "little")
        n = int.from_bytes(b[ifd : ifd + 2], "little")
        entries = [bytes(b[ifd + 2 + 12 * i : ifd + 14 + 12 * i])
                   for i in range(n)]
        new = (tag.to_bytes(2, "little") + (3).to_bytes(2, "little")
               + (1).to_bytes(4, "little")
               + int(value).to_bytes(2, "little") + b"\x00\x00")
        entries = sorted(
            [e for e in entries
             if int.from_bytes(e[:2], "little") != tag] + [new]
        )
        out = (bytes(b[:ifd]) + len(entries).to_bytes(2, "little")
               + b"".join(entries) + b"\x00\x00\x00\x00")
        return out

    base = _encode_tiff(px)
    want = {
        1: px,
        2: px[:, ::-1],
        3: px[::-1, ::-1],
        4: px[::-1],
        5: px.transpose(1, 0, 2),
        6: px.transpose(1, 0, 2)[:, ::-1],
        7: px.transpose(1, 0, 2)[::-1, ::-1],
        8: px.transpose(1, 0, 2)[::-1],
    }
    for o, exp in want.items():
        got = _parse_tiff(with_short_tag(base, 274, o))
        assert np.array_equal(got, exp), o
    for tag, val in [(266, 2), (284, 2), (274, 9), (274, 0)]:
        with pytest.raises(ValueError):
            _parse_tiff(with_short_tag(base, tag, val))


def test_aifc_sowt_and_none_decode():
    """AIFF-C: 'NONE' decodes like plain AIFF; 'sowt' is byte-swapped
    little-endian 16-bit; compressed types quarantine."""
    import numpy as np

    import pytest

    from square_etl_spark.operators.multimodal import _parse_aiff, _probe_blob

    rng = np.random.default_rng(103)
    samples = rng.integers(-20000, 20000, 200).astype(np.int16)

    def aifc(ctype, pcm):
        comm = ((1).to_bytes(2, "big") + len(samples).to_bytes(4, "big")
                + (16).to_bytes(2, "big")
                + b"\x40\x0e\xac\x44\x00\x00\x00\x00\x00\x00"  # 44100 f80
                + ctype + b"\x00\x00")  # pstring name (empty, padded)
        ssnd = (0).to_bytes(4, "big") + (0).to_bytes(4, "big") + pcm
        chunks = (b"COMM" + len(comm).to_bytes(4, "big") + comm
                  + b"SSND" + len(ssnd).to_bytes(4, "big") + ssnd)
        return b"FORM" + (4 + len(chunks)).to_bytes(4, "big") + b"AIFC" + chunks

    want = samples.astype(np.float64) / 32768.0
    got_be, rate = _parse_aiff(aifc(b"NONE", samples.astype(">i2").tobytes()))
    assert rate == 44100 and np.array_equal(got_be, want)
    got_le, _ = _parse_aiff(aifc(b"sowt", samples.astype("<i2").tobytes()))
    assert np.array_equal(got_le, want)
    assert _probe_blob(aifc(b"sowt", b""))["sample_rate"] == 44100
    with pytest.raises(ValueError):
        _parse_aiff(aifc(b"ima4", samples.tobytes()))


def test_pcx_parser_rgb_and_paletted():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_pcx, _probe_blob

    rng = np.random.default_rng(107)

    def rle(row_bytes):
        out = bytearray()
        i = 0
        while i < len(row_bytes):
            run = 1
            while (run < 63 and i + run < len(row_bytes)
                   and row_bytes[i + run] == row_bytes[i]):
                run += 1
            if run > 1 or row_bytes[i] >= 0xC0:
                out += bytes([0xC0 | run, row_bytes[i]])
            else:
                out.append(row_bytes[i])
            i += run
        return bytes(out)

    def encode(px, pal=None):
        h, w = px.shape[:2]
        nplanes = 1 if pal is not None else 3
        bpl = w + (w & 1)  # even bytes-per-line like real writers
        head = bytearray(128)
        head[0], head[1], head[2], head[3] = 0x0A, 5, 1, 8
        head[4:6] = (0).to_bytes(2, "little")
        head[6:8] = (0).to_bytes(2, "little")
        head[8:10] = (w - 1).to_bytes(2, "little")
        head[10:12] = (h - 1).to_bytes(2, "little")
        head[65] = nplanes
        head[66:68] = bpl.to_bytes(2, "little")
        body = bytearray()
        for y in range(h):
            if nplanes == 3:
                for c in range(3):
                    row = bytes(px[y, :, c]) + b"\x00" * (bpl - w)
                    body += rle(row)
            else:
                row = bytes(px[y]) + b"\x00" * (bpl - w)
                body += rle(row)
        blob = bytes(head) + bytes(body)
        if pal is not None:
            blob += b"\x0c" + bytes(np.asarray(pal, np.uint8).ravel())
        return blob

    px = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    got = _parse_pcx(encode(px))
    assert np.array_equal(got, px)
    info = _probe_blob(encode(px))
    assert info["detected_format"] == "pcx"
    assert (info["width"], info["height"]) == (7, 9)
    pal = rng.integers(0, 256, (256, 3), dtype=np.uint8)
    idx = rng.integers(0, 256, (5, 6), dtype=np.uint8)
    got = _parse_pcx(encode(idx, pal=pal))
    assert np.array_equal(got, pal[idx])
    # fuzz: ValueError only
    blob = encode(px)
    for cut in range(len(blob)):
        for fn in (_parse_pcx, _probe_blob):
            try:
                fn(blob[:cut])
            except ValueError:
                pass
    for _ in range(250):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] = int(rng.integers(0, 256))
        for fn in (_parse_pcx, _probe_blob):
            try:
                fn(bytes(b))
            except ValueError:
                pass


def test_pnm_family_pgm_pbm():
    """P5 grayscale and P4 packed-bitmap decode exactly; probe reports
    the accurate family name per magic."""
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_ppm, _probe_blob

    rng = np.random.default_rng(109)
    gray = rng.integers(0, 256, (5, 7), dtype=np.uint8)
    pgm = b"P5\n7 5\n255\n" + gray.tobytes()
    got = _parse_ppm(pgm)
    assert np.array_equal(got, np.repeat(gray[..., None], 3, axis=2))
    assert _probe_blob(pgm)["detected_format"] == "pgm"
    bits = rng.integers(0, 2, (4, 11), dtype=np.uint8)
    packed = np.packbits(bits, axis=1)
    pbm = b"P4\n11 4\n" + packed.tobytes()
    got = _parse_ppm(pbm)
    want = np.repeat(((1 - bits) * 255).astype(np.uint8)[..., None], 3, axis=2)
    assert np.array_equal(got, want)
    info = _probe_blob(pbm)
    assert info["detected_format"] == "pbm"
    assert (info["width"], info["height"]) == (11, 4)
    # fuzz both
    for blob in (pgm, pbm):
        for cut in range(len(blob)):
            for fn in (_parse_ppm, _probe_blob):
                try:
                    fn(blob[:cut])
                except ValueError:
                    pass


# ---------------------------------------------------------------------------
# QOI codec + WebP/Ogg header-only probes
# ---------------------------------------------------------------------------


def _encode_qoi(px):
    """Test-side QOI encoder exercising all six op types."""
    import numpy as np

    h, w = px.shape[:2]
    out = bytearray(b"qoif" + w.to_bytes(4, "big") + h.to_bytes(4, "big")
                    + bytes([3, 0]))
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    flat = px.reshape(-1, 3)
    i = 0
    while i < len(flat):
        r, g, b = (int(v) for v in flat[i])
        cur = (r, g, b, 255)
        if cur == prev:
            run = 1
            while (run < 62 and i + run < len(flat)
                   and tuple(int(v) for v in flat[i + run]) == (r, g, b)):
                run += 1
            out.append(0xC0 | (run - 1))
            i += run
            continue
        hidx = (r * 3 + g * 5 + b * 7 + 255 * 11) % 64
        if index[hidx] == cur:
            out.append(hidx)
        else:
            dr = (r - prev[0] + 128) % 256 - 128
            dg = (g - prev[1] + 128) % 256 - 128
            db = (b - prev[2] + 128) % 256 - 128
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
            elif (-32 <= dg <= 31 and -8 <= dr - dg <= 7
                  and -8 <= db - dg <= 7):
                out.append(0x80 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out += bytes([0xFE, r, g, b])
        index[hidx] = cur
        prev = cur
        i += 1
    return bytes(out) + b"\x00" * 7 + b"\x01"


def test_qoi_roundtrip_and_probe():
    import numpy as np

    from square_etl_spark.operators.multimodal import _parse_qoi, _probe_blob

    rng = np.random.default_rng(113)
    # smooth image → DIFF/LUMA/RUN/INDEX ops; random → RGB ops
    smooth = np.cumsum(rng.integers(-2, 3, (16, 16, 3)), axis=1).astype(np.uint8)
    noisy = rng.integers(0, 256, (9, 5, 3), dtype=np.uint8)
    flat = np.full((4, 4, 3), 77, np.uint8)
    for px in (smooth, noisy, flat):
        blob = _encode_qoi(px)
        assert np.array_equal(_parse_qoi(blob), px)
    info = _probe_blob(_encode_qoi(noisy))
    assert info["detected_format"] == "qoi"
    assert (info["width"], info["height"]) == (5, 9)
    blob = _encode_qoi(smooth)
    for cut in range(len(blob)):
        for fn in (_parse_qoi, _probe_blob):
            try:
                fn(blob[:cut])
            except ValueError:
                pass
    for _ in range(250):
        b = bytearray(blob)
        i = int(rng.integers(0, len(b)))
        b[i] = int(rng.integers(0, 256))
        for fn in (_parse_qoi, _probe_blob):
            try:
                fn(bytes(b))
            except ValueError:
                pass


def test_webp_ogg_probe_header_only():
    import numpy as np

    from square_etl_spark.operators.multimodal import _probe_blob

    def riff_webp(chunk):
        return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk

    # VP8 lossy: chunk header + 3-byte frame tag + start code + dims
    vp8 = riff_webp(b"VP8 " + (10).to_bytes(4, "little")
                    + b"\x00\x00\x00" + b"\x9d\x01\x2a"
                    + (640).to_bytes(2, "little") + (360).to_bytes(2, "little"))
    got = _probe_blob(vp8)
    assert got["detected_format"] == "webp"
    assert (got["width"], got["height"]) == (640, 360)
    # VP8L lossless: signature byte + 14+14 bit packed dims
    packed = (99 | (49 << 14)).to_bytes(4, "little")  # 100x50 stored -1
    vp8l = riff_webp(b"VP8L" + (5).to_bytes(4, "little") + b"\x2f" + packed)
    got = _probe_blob(vp8l)
    assert (got["width"], got["height"]) == (100, 50)
    # VP8X extended: flags + 24-bit dims - 1
    vp8x = riff_webp(b"VP8X" + (10).to_bytes(4, "little") + b"\x00" * 4
                     + (1919).to_bytes(3, "little") + (1079).to_bytes(3, "little"))
    got = _probe_blob(vp8x)
    assert (got["width"], got["height"]) == (1920, 1080)

    def ogg_page(payload):
        nseg = 1
        return (b"OggS" + b"\x00\x02" + b"\x00" * 20
                + bytes([nseg, len(payload)]) + payload)

    opus = ogg_page(b"OpusHead" + bytes([1, 2]) + b"\x00\x00"
                    + (48000).to_bytes(4, "little") + b"\x00" * 3)
    got = _probe_blob(opus)
    assert got["detected_format"] == "ogg"
    assert got["sample_rate"] == 48000
    vorbis = ogg_page(b"\x01vorbis" + b"\x00" * 5
                      + (44100).to_bytes(4, "little") + b"\x00" * 8)
    got = _probe_blob(vorbis)
    assert got["sample_rate"] == 44100
    rng = np.random.default_rng(127)
    for blob in (vp8, vp8l, opus, vorbis):
        for cut in range(len(blob)):
            try:
                _probe_blob(blob[:cut])
            except ValueError:
                pass
        for _ in range(150):
            b = bytearray(blob)
            i = int(rng.integers(0, len(b)))
            b[i] = int(rng.integers(0, 256))
            try:
                _probe_blob(bytes(b))
            except ValueError:
                pass


def test_decode_media_detect_dispatches_on_magic_bytes(spark):
    """detect=True decodes a blob whose declared format lies (a 'png'
    that is actually a BMP, a 'wav' that is actually FLAC) by
    dispatching on magic bytes; declared-format dispatch quarantines
    the same rows.  Unrecognized containers fall back to the declared
    metadata (the stub path), and TGA still decodes by declaration."""
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _grid_features,
        _rms_features,
        decode_media,
    )

    rng = np.random.default_rng(131)
    px = rng.integers(0, 256, (8, 8, 3), dtype=np.uint8)
    bmp_blob = _encode_tiff(px)  # actually a TIFF, declared png
    out = decode_media(_media_df(spark, bmp_blob, "png"), detect=True).collect()[0]
    assert out.ok and out.features == _grid_features(px)
    assert not decode_media(_media_df(spark, bmp_blob, "png")).collect()[0].ok

    sig = [int(v) for v in rng.integers(-3000, 3000, 300)]
    flac_blob = _encode_flac([sig])  # declared wav, actually FLAC
    out = decode_media(
        _media_df(spark, flac_blob, "wav", media_type="audio"), detect=True
    ).collect()[0]
    assert out.ok
    assert out.features == _rms_features(_flac_expected([sig], 16))

    # no magic (TGA): declared dispatch still applies under detect=True
    tga_blob = _encode_tga(px, rle=True)
    out = decode_media(_media_df(spark, tga_blob, "tga"), detect=True).collect()[0]
    assert out.ok and out.features == _grid_features(px)


def test_decode_media_video_gif_temporal_profile(spark):
    """media_type='video', format='gif' runs the animated-GIF canvas
    composer through decode_media to the temporal-profile contract:
    2 frames → windows 1-8 are frame 1's mean luminance, 9-16 frame
    2's — the same dispatch shape as AVI."""
    import numpy as np

    from square_etl_spark.operators.multimodal import (
        _parse_gif_frames,
        _temporal_features,
        decode_media,
    )

    pal = [(10, 10, 10), (250, 250, 250)]
    frames = [
        {"idx": np.zeros((2, 2), int)},
        # transparency on idx 0: three canvas pixels stay at pal[0]
        {"idx": np.array([[0, 0], [0, 1]]), "transparent": 0},
    ]
    blob = _encode_gif_anim((2, 2), pal, frames)
    out = decode_media(
        _media_df(spark, blob, "gif", media_type="video")
    ).collect()[0]
    assert out.ok
    assert out.features == _temporal_features(_parse_gif_frames(blob))
    assert out.features[0] == round(10 / 255.0, 6)
    assert out.features[15] == round((3 * 10 + 250) / 4.0 / 255.0, 6)


def test_gif_frames_logical_screen_bomb_guard():
    """A 13-byte header claiming 65535×65535 must raise ValueError
    (quarantine), not allocate a multi-GB canvas."""
    import pytest

    from square_etl_spark.operators.multimodal import _parse_gif_frames

    blob = (
        b"GIF89a"
        + (65535).to_bytes(2, "little") * 2
        + bytes([0x00, 0x00, 0x00])
        + b"\x3B"
    )
    with pytest.raises(ValueError, match="too large"):
        _parse_gif_frames(blob)


def test_gif_frames_animation_bomb_cap():
    """An unbounded-caller decode (max_frames=0) of a GIF whose frames
    would compose past 256 MB of canvas snapshots quarantines with
    ValueError instead of exhausting executor memory; a bounded caller
    (the frame sampler's max_frames) is unaffected."""
    import numpy as np
    import pytest

    from square_etl_spark.operators.multimodal import _parse_gif_frames

    # 1024×1024 canvas → 3 MiB/frame-snapshot → cap trips at ~85 frames
    one_px = {"idx": np.zeros((1, 1), int), "disposal": 1}
    blob = _encode_gif_anim((1024, 1024), [(0, 0, 0), (1, 1, 1)],
                            [one_px] * 100)
    with pytest.raises(ValueError, match="too large"):
        _parse_gif_frames(blob)
    assert len(_parse_gif_frames(blob, max_frames=3)) == 3


def test_csv_ingest_quarantine_splits_malformed_fields(spark):
    """from_csv PERMISSIVE split: well-typed lines pass, a non-numeric
    field or over-wide line quarantines, and the raw line survives on
    both branches."""
    from pyspark.sql import types as T

    from square_etl_spark.io import csv_ingest_quarantine

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("amount", T.DoubleType()),
    ])
    raw = spark.createDataFrame(
        [("1,alpha,10.5",), ("2,beta,oops",), ("3,gamma,7.25,extra",),
         ("4,delta,0.0",)],
        "line string",
    )
    valid, rejects = csv_ingest_quarantine(raw, "line", schema)
    ok = {r.id: (r.name, r.amount, r.line) for r in valid.collect()}
    assert ok == {1: ("alpha", 10.5, "1,alpha,10.5"),
                  4: ("delta", 0.0, "4,delta,0.0")}
    bad = sorted(r.line for r in rejects.collect())
    assert bad == ["2,beta,oops", "3,gamma,7.25,extra"]


def test_png_decoder_bit_exact_all_grays():
    """The r08 PNG LUT contract, pinned without Spark: for every gray
    v, the constructed zlib PNG decodes to a 4×4 grid of exactly v
    (chunk walk → inflate → unfilter → pixels)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    from square_etl_spark.operators.multimodal import _parse_png
    from square_etl_spark.queries import _uniform_gray_png

    for v in (0, 1, 127, 128, 254, 255):
        blob = _uniform_gray_png(v)
        assert len(blob) == 128
        px = _parse_png(blob[: blob.index(b"IEND") + 8])  # parser also
        # accepts the padded blob — both paths must agree
        px2 = _parse_png(blob)
        assert (px == px2).all()
        assert px.shape == (4, 4, 3)
        assert (px == v).all()


def _mp4_boxes(mvhd: bytes, traks: list[bytes]) -> bytes:
    import struct

    ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4
    body = mvhd + b"".join(traks)
    return ftyp + struct.pack(">I", 8 + len(body)) + b"moov" + body


def test_probe_blob_mp3_bitrate_duration_and_free_format():
    from square_etl_spark.operators.multimodal import _probe_blob

    # MPEG1 L3, bitrate idx 9 = 128 kbps, 44100, 20-byte ID3 pad
    id3 = b"ID3" + bytes([3, 0, 0, 0, 0, 0, 20]) + b"\x00" * 20
    blob = id3 + bytes([0xFF, 0xFB, (9 << 4), 0x00]) + b"\x00" * 100
    r = _probe_blob(blob)
    assert (r["detected_format"], r["sample_rate"], r["bitrate_kbps"]) == (
        "mp3", 44100, 128)
    assert r["duration_ms"] == (104 * 8) // 128
    # MPEG2 layer II uses the low-rate table
    h1 = 0xE0 | (2 << 3) | (2 << 1) | 1
    r2 = _probe_blob(bytes([0xFF, h1, (3 << 4) | (1 << 2), 0]) + b"\x00" * 60)
    assert (r2["sample_rate"], r2["bitrate_kbps"]) == (24000, 24)
    # free format (idx 0): declared bitrate/duration stay NULL
    r3 = _probe_blob(bytes([0xFF, 0xFB, 0x00, 0x00]) + b"\x00" * 50)
    assert r3["bitrate_kbps"] is None and r3["duration_ms"] is None


def test_probe_blob_mp4_mvhd_versions_tracks_and_geometry():
    import struct

    from square_etl_spark.operators.multimodal import _probe_blob

    trak = struct.pack(">I", 8) + b"trak"
    mvhd0 = (struct.pack(">I", 28) + b"mvhd" + b"\x00" * 12
             + struct.pack(">II", 1000, 4321))
    r = _probe_blob(_mp4_boxes(mvhd0, [trak, trak]))
    assert (r["duration_ms"], r["n_tracks"], r["width"]) == (4321, 2, None)
    # version-1 mvhd: 64-bit duration at the v1 offsets
    mvhd1 = (struct.pack(">I", 40) + b"mvhd" + b"\x01" + b"\x00" * 19
             + struct.pack(">I", 600) + struct.pack(">Q", 1234))
    r1 = _probe_blob(_mp4_boxes(mvhd1, [trak]))
    assert (r1["duration_ms"], r1["n_tracks"]) == (1234 * 1000 // 600, 1)
    # first video trak's geometry still reported alongside the counts
    tkhd = (struct.pack(">I", 92) + b"tkhd" + b"\x00" * 76
            + struct.pack(">II", 640 << 16, 480 << 16))
    trak_v = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    r2 = _probe_blob(_mp4_boxes(mvhd0, [trak_v, trak]))
    assert (r2["width"], r2["height"], r2["n_tracks"], r2["duration_ms"]) == (
        640, 480, 2, 4321)


def test_probe_av_manifest_quarantines_junk(spark):
    from square_etl_spark.operators.multimodal import probe_av_manifest

    media = spark.createDataFrame(
        [(1, bytes([0xFF, 0xFB, (9 << 4), 0x00]) + b"\x00" * 96),
         (2, b"NOT-A-MEDIA-CONTAINER"), (3, None)],
        "media_id long, content binary",
    )
    rows = {r["media_id"]: r for r in probe_av_manifest(media).collect()}
    assert rows[1]["ok"] and rows[1]["detected_format"] == "mp3"
    assert rows[1]["duration_ms"] == (100 * 8) // 128
    assert not rows[2]["ok"] and rows[2]["detected_format"] is None
    assert not rows[3]["ok"] and rows[3]["n_bytes"] == 0


def test_probe_blob_mp4_tolerates_header_sampled_truncation():
    """A faststart MP4 sampled to its first N KB (mdat declared size
    overruns the sample) must still probe — duration, track count,
    geometry — not quarantine; even a cut INSIDE moov keeps whatever
    parsed before the cut.  Structurally bad sizes still raise."""
    import struct

    import pytest as _pytest

    from square_etl_spark.operators.multimodal import _probe_blob

    ftyp = struct.pack(">I", 16) + b"ftypisom" + b"\x00" * 4
    mvhd = (struct.pack(">I", 28) + b"mvhd" + b"\x00" * 12
            + struct.pack(">II", 1000, 4321))
    trak = struct.pack(">I", 8) + b"trak"
    tkhd = (struct.pack(">I", 92) + b"tkhd" + b"\x00" * 76
            + struct.pack(">II", 640 << 16, 480 << 16))
    trak_v = struct.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = (struct.pack(">I", 8 + len(mvhd) + len(trak_v) + len(trak))
            + b"moov" + mvhd + trak_v + trak)
    mdat = struct.pack(">I", 100000) + b"mdat" + b"\x00" * 64
    blob = ftyp + moov + mdat
    r = _probe_blob(blob)
    assert (r["width"], r["height"], r["n_tracks"], r["duration_ms"]) == (
        640, 480, 2, 4321)
    # cut inside moov right after mvhd: duration survives
    r2 = _probe_blob(blob[: 16 + 8 + len(mvhd) + 10])
    assert r2["detected_format"] == "mp4" and r2["duration_ms"] == 4321
    # every truncation point parses or raises ValueError — never crashes
    for cut in range(12, len(blob), 7):
        try:
            _probe_blob(blob[:cut])
        except ValueError:
            pass
    # structurally bad size is still malformed
    with _pytest.raises(ValueError):
        _probe_blob(ftyp + struct.pack(">I", 3) + b"abcd")


# ---------------------------------------------------------------------------
# REAL codec: WebP lossless (VP8L) — round-trip against a test-side
# encoder (simple + full huffman codes, 17/18 zero-run RLE, color
# cache, LZ77 plane/direct distances, subtract-green, palette
# bundling), hand-built bitstreams for the predictor / color / meta
# prefix-group paths the encoder does not emit, the standard
# quarantine fuzz net, and decode_media end-to-end.  The oracle query
# `multimodal_decode_webp` rides the same decoder (queries.py).
# ---------------------------------------------------------------------------


class _Vp8lW:
    """LSB-first bit writer (the encoder mirror of _Vp8lBits)."""

    def __init__(self):
        self.bits = []

    def put(self, val, n):
        for i in range(n):
            self.bits.append((val >> i) & 1)

    def put_code(self, code, length):  # code words emit MSB-first
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def bytes(self):
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            if b:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)


def _huff_lengths(freqs, max_len=15):
    import heapq

    syms = sorted(freqs)
    if len(syms) == 1:
        return {syms[0]: 0}
    h = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(h)
    depth = dict.fromkeys(syms, 0)
    cnt = len(h)
    while len(h) > 1:
        f1, _, g1 = heapq.heappop(h)
        f2, _, g2 = heapq.heappop(h)
        for s in g1 + g2:
            depth[s] += 1
        cnt += 1
        heapq.heappush(h, (f1 + f2, cnt, g1 + g2))
    assert max(depth.values()) <= max_len, depth
    return depth


def _canon(lengths):
    out = {}
    code = prev = 0
    for ln, sym in sorted((ln, s) for s, ln in lengths.items() if ln > 0):
        code <<= ln - prev
        prev = ln
        out[sym] = (code, ln)
        code += 1
    return out


_CL_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


def _emit_prefix_code(w, lengths_by_sym, alphabet_size):
    used = sorted(lengths_by_sym)
    if len(used) == 1:
        w.put(1, 1); w.put(0, 1); w.put(1, 1); w.put(used[0], 8)
        return {used[0]: (0, 0)}
    if len(used) == 2:
        # emit the pair DESCENDING on purpose: RFC 9649 builds the
        # 2-symbol simple code canonically (code 0 = smaller symbol,
        # independent of read order), so writing it unsorted makes
        # EVERY round-trip exercise the canonical path — a
        # first-read-wins decoder regression breaks all of them, not
        # just the dedicated unsorted-pair pin
        w.put(1, 1); w.put(1, 1); w.put(1, 1)
        w.put(used[1], 8); w.put(used[0], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}
    w.put(0, 1)  # normal path
    seq, pos = [], 0
    while pos < alphabet_size:  # zero runs via cl-symbols 17/18
        ln = lengths_by_sym.get(pos, 0)
        if ln == 0:
            run = 0
            while pos + run < alphabet_size and lengths_by_sym.get(pos + run, 0) == 0:
                run += 1
            while run > 0:
                if run >= 11:
                    r = min(run, 138); seq.append((18, r - 11, 7))
                elif run >= 3:
                    r = run; seq.append((17, r - 3, 3))
                else:
                    r = 1; seq.append((0, 0, 0))
                run -= r
                pos += r
        else:
            seq.append((ln, 0, 0))
            pos += 1
    cl_freq = {}
    for s, _, _ in seq:
        cl_freq[s] = cl_freq.get(s, 0) + 1
    cl_lengths = _huff_lengths(cl_freq, max_len=7)
    if len(cl_freq) == 1:  # keep the cl code COMPLETE (decoder rejects)
        only = next(iter(cl_freq))
        cl_lengths = {only: 1, (0 if only != 0 else 1): 1}
    w.put(15, 4)
    for s in _CL_ORDER:
        w.put(cl_lengths.get(s, 0), 3)
    cl_codes = _canon(cl_lengths)
    w.put(0, 1)  # no max_symbol cap
    for s, ev, en in seq:
        c, ln = cl_codes[s]
        w.put_code(c, ln)
        if en:
            w.put(ev, en)
    return _canon(lengths_by_sym)


def _lz77_bucket(value):
    v = value - 1
    if v < 4:
        return v, 0, 0
    b = v.bit_length() - 1
    second = (v >> (b - 1)) & 1
    return 2 * b + second, value - ((2 + second) << (b - 1)) - 1, b - 1


def _vp8l_encode_image(wtr, px, cache_bits, use_lz77, lz77_plane, is_main):
    if cache_bits:
        wtr.put(1, 1); wtr.put(cache_bits, 4)
    else:
        wtr.put(0, 1)
    if is_main:
        wtr.put(0, 1)  # no meta prefix codes
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size
    tokens, pos, n = [], 0, len(px)
    while pos < n:
        if use_lz77 and pos > 0 and px[pos] == px[pos - 1]:
            run = 0
            while pos + run < n and px[pos + run] == px[pos - 1 + run]:
                run += 1
            if run >= 3:
                tokens.append(("copy", run, 1))
                for k in range(run):
                    p = px[pos + k]
                    if cache_size:
                        cache[((0x1E35A7BD * p) & 0xFFFFFFFF) >> (32 - cache_bits)] = p
                pos += run
                continue
        p = px[pos]
        if cache_size:
            hidx = ((0x1E35A7BD * p) & 0xFFFFFFFF) >> (32 - cache_bits)
            if cache[hidx] == p and pos > 0:
                tokens.append(("cache", hidx)); pos += 1
                continue
            cache[hidx] = p
        tokens.append(("lit", (p >> 24) & 0xFF, (p >> 16) & 0xFF,
                       (p >> 8) & 0xFF, p & 0xFF))
        pos += 1
    fg, fr, fb, fa, fd = {}, {}, {}, {}, {}

    def bump(d, k):
        d[k] = d.get(k, 0) + 1

    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            bump(fg, g); bump(fr, r); bump(fb, b); bump(fa, a)
        elif t[0] == "cache":
            bump(fg, 280 + t[1])
        else:
            bump(fg, 256 + _lz77_bucket(t[1])[0])
            bump(fd, _lz77_bucket(2 if lz77_plane else t[2] + 120)[0])
    for d in (fr, fb, fa, fd):
        if not d:
            d[0] = 1
    tabs = [
        _emit_prefix_code(wtr, _huff_lengths(f), a)
        for f, a in zip((fg, fr, fb, fa, fd),
                        (280 + cache_size, 256, 256, 256, 40))
    ]
    tg, tr, tb, ta, td = tabs

    def emit(tab, sym):
        c, ln = tab[sym]
        wtr.put_code(c, ln)

    for t in tokens:
        if t[0] == "lit":
            _, a, r, g, b = t
            emit(tg, g); emit(tr, r); emit(tb, b); emit(ta, a)
        elif t[0] == "cache":
            emit(tg, 280 + t[1])
        else:
            lcode, ev, en = _lz77_bucket(t[1])
            emit(tg, 256 + lcode)
            if en:
                wtr.put(ev, en)
            dcode, ev, en = _lz77_bucket(2 if lz77_plane else t[2] + 120)
            emit(td, dcode)
            if en:
                wtr.put(ev, en)


def _encode_vp8l(pixels, w_px, h_px, *, cache_bits=0, use_lz77=False,
                 lz77_plane=False, subtract_green=False, palette=False):
    assert len(pixels) == w_px * h_px
    px = list(pixels)
    wtr = _Vp8lW()
    wtr.put(w_px - 1, 14); wtr.put(h_px - 1, 14); wtr.put(0, 1); wtr.put(0, 3)
    main_w = w_px
    if subtract_green:
        wtr.put(1, 1); wtr.put(2, 2)
        px = [
            (p & 0xFF00FF00)
            | (((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF) << 16)
            | (((p & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF)
            for p in px
        ]
    if palette:
        pal = sorted(set(px))
        n = len(pal)
        assert n <= 256
        idx = {p: i for i, p in enumerate(pal)}
        bits = 0 if n > 16 else (1 if n > 4 else (2 if n > 2 else 3))
        wtr.put(1, 1); wtr.put(3, 2); wtr.put(n - 1, 8)

        def sub_px(a, b):
            return ((((a >> 24) - (b >> 24)) & 0xFF) << 24
                    | ((((a >> 16) & 0xFF) - ((b >> 16) & 0xFF)) & 0xFF) << 16
                    | ((((a >> 8) & 0xFF) - ((b >> 8) & 0xFF)) & 0xFF) << 8
                    | (((a & 0xFF) - (b & 0xFF)) & 0xFF))

        deltas = [pal[0]] + [sub_px(pal[i], pal[i - 1]) for i in range(1, n)]
        _vp8l_encode_image(wtr, deltas, 0, False, False, is_main=False)
        if bits:
            bpp, ppp = 8 >> bits, 1 << bits
            packed_w = (w_px + ppp - 1) // ppp
            out = []
            for y in range(h_px):
                for xp in range(packed_w):
                    v = 0
                    for k in range(ppp):
                        x = xp * ppp + k
                        if x < w_px:
                            v |= idx[px[y * w_px + x]] << (bpp * k)
                    out.append(v << 8)
            px, main_w = out, packed_w
        else:
            px = [idx[p] << 8 for p in px]
    wtr.put(0, 1)  # terminate transform list
    _vp8l_encode_image(wtr, px, cache_bits, use_lz77, lz77_plane, is_main=True)
    payload = b"\x2f" + wtr.bytes()
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _check_vp8l_roundtrip(pixels, w, h, **kw):
    from square_etl_spark.operators.multimodal import _parse_webp

    out = _parse_webp(_encode_vp8l(pixels, w, h, **kw))
    assert out.shape == (h, w, 3), (out.shape, kw)
    for i, p in enumerate(pixels):
        y, x = divmod(i, w)
        exp = ((p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF)
        got = tuple(int(v) for v in out[y, x])
        assert got == exp, (kw, (x, y), exp, got)


def test_vp8l_roundtrip_literals_and_simple_codes():
    import random

    rng = random.Random(42)
    for _ in range(4):  # full-huffman literal path, incl. 17/18 RLE
        w, h = rng.randint(1, 17), rng.randint(1, 9)
        _check_vp8l_roundtrip(
            [0xFF000000 | rng.getrandbits(24) for _ in range(w * h)], w, h
        )
    for _ in range(4):  # few-color: simple 1/2-symbol codes
        w, h = rng.randint(2, 16), rng.randint(2, 12)
        colors = [0xFF000000 | rng.getrandbits(24) for _ in range(3)]
        _check_vp8l_roundtrip([rng.choice(colors) for _ in range(w * h)], w, h)


def test_vp8l_roundtrip_color_cache_and_lz77():
    import random

    rng = random.Random(7)
    for _ in range(3):
        w, h = rng.randint(4, 20), rng.randint(3, 10)
        colors = [0xFF000000 | rng.getrandbits(24) for _ in range(6)]
        _check_vp8l_roundtrip(
            [rng.choice(colors) for _ in range(w * h)], w, h, cache_bits=4
        )
    for _ in range(3):
        w, h = rng.randint(6, 24), rng.randint(3, 8)
        pixels = []
        while len(pixels) < w * h:
            pixels.extend([0xFF000000 | rng.getrandbits(24)] * rng.randint(1, 9))
        pixels = pixels[: w * h]
        # direct distances (>120), plane-code distance 2 (=left
        # neighbor), and LZ77 composed with the color cache
        _check_vp8l_roundtrip(pixels, w, h, use_lz77=True)
        _check_vp8l_roundtrip(pixels, w, h, use_lz77=True, lz77_plane=True)
        _check_vp8l_roundtrip(pixels, w, h, use_lz77=True, cache_bits=3)


def test_vp8l_roundtrip_transforms():
    import random

    rng = random.Random(13)
    for _ in range(3):  # subtract-green
        w, h = rng.randint(2, 12), rng.randint(2, 12)
        _check_vp8l_roundtrip(
            [0xFF000000 | rng.getrandbits(24) for _ in range(w * h)],
            w, h, subtract_green=True,
        )
    for ncol in (2, 3, 4, 13, 17, 200):  # palette bundling widths 3,2,1,0
        w, h = 23, 7
        colors = [0xFF000000 | rng.getrandbits(24) for _ in range(ncol)]
        pixels = [rng.choice(colors) for _ in range(w * h)]
        _check_vp8l_roundtrip(pixels, w, h, palette=True)
        _check_vp8l_roundtrip(pixels, w, h, palette=True, subtract_green=True)


def _vp8l_stream(w_px, h_px, body_bits):
    """Wrap hand-written bitstream fragments into a full WebP blob."""
    wtr = _Vp8lW()
    wtr.put(w_px - 1, 14); wtr.put(h_px - 1, 14); wtr.put(0, 1); wtr.put(0, 3)
    for val, n in body_bits:
        wtr.put(val, n)
    payload = b"\x2f" + wtr.bytes()
    chunk = b"VP8L" + len(payload).to_bytes(4, "little") + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def _simple1(sym):
    """Bit ops for a single-symbol simple prefix code (0-bit reads)."""
    return [(1, 1), (0, 1), (1, 1), (sym, 8)]


def _lit_codes(g, r=0, b=0, a=0, dist=0):
    """Five single-symbol codes: every pixel decodes to one literal
    with zero data bits — the hand-construction workhorse."""
    return _simple1(g) + _simple1(r) + _simple1(b) + _simple1(a) + _simple1(dist)


def test_vp8l_predictor_transform_hand_built():
    """Predictor transform, hand-computed expectations: a 2x2 image,
    one 4x4 block (size_bits=2 -> 1x1 mode subimage).  Residuals are
    spelled out per pixel via a 2-symbol green code; the expected
    pixels add the predictor per spec (top-left=black, first row=L,
    first column=T, interior=mode)."""
    from square_etl_spark.operators.multimodal import _parse_webp

    def build(mode, residuals):
        # transform: predictor, size_bits=2; mode subimage = 1 literal
        body = [(1, 1), (0, 2), (0, 3)]
        body += [(0, 1)]  # subimage: no color cache
        body += _lit_codes(g=mode)  # 1x1 subimage pixel: green=mode
        body += [(0, 1)]  # end transforms
        body += [(0, 1), (0, 1)]  # main: no cache, no meta
        # greens of the 4 residuals via a 2-symbol simple code; the
        # other channels are per-pixel too, so use 2-symbol codes on
        # every channel keyed by explicit bit emissions
        g0, g1 = residuals[0][2], residuals[1][2]
        # to keep the hand-construction tractable, all four residuals
        # share channel values except green: r/b/a single-symbol
        body += [(1, 1), (1, 1), (1, 1), (g0, 8), (g1, 8)]  # green simple-2
        body += _simple1(residuals[0][1])  # red
        body += _simple1(residuals[0][3])  # blue
        body += _simple1(residuals[0][0])  # alpha
        body += _simple1(0)  # distance
        for sel in residuals[4]:  # 4 pixels: green selector bits
            body += [(sel, 1)]
        return _vp8l_stream(2, 2, body)

    # mode 2 (= top).  residuals: alpha=0, red=1, blue=3, greens 5/9
    # p00 = black + (0,1,5,3) = (ff,01,05,03)
    # p01 = p00 + (0,1,9,3)   = (ff,02,0e,06)   (first row: pred=L)
    # p10 = p00 + (0,1,5,3)   = (fe,02,0a,06)   (first col: pred=T)
    # p11 = p01 + (0,1,9,3)   = (fe,03,17,09)   (mode 2: pred=T=p01)
    blob = build(2, [(0, 1, 5, 3), (0, 1, 9, 3), None, None, (0, 1, 0, 1)])
    out = _parse_webp(blob)
    assert [tuple(int(v) for v in out[y, x]) for y in (0, 1) for x in (0, 1)] == [
        (0x01, 0x05, 0x03), (0x02, 0x0E, 0x06),
        (0x02, 0x0A, 0x06), (0x03, 0x17, 0x09),
    ]
    # mode 12 (ClampAddSubtractFull) differs from mode 2 only at p11:
    # pred = clamp(L + T - TL) = clamp(p10 + p01 - p00)
    #      = (fe,03,13,09); p11 = pred + (0,1,9,3) = (fe,04,1c,0c)
    blob = build(12, [(0, 1, 5, 3), (0, 1, 9, 3), None, None, (0, 1, 0, 1)])
    out = _parse_webp(blob)
    assert tuple(int(v) for v in out[1, 1]) == (0x04, 0x1C, 0x0C)


def test_vp8l_color_transform_hand_built():
    """Color transform, hand-computed: 2x1 image, one block, transform
    element (g2r=2, g2b=3, r2b=4).  Signed int8 deltas with >>5:
    green=100 -> red += (2*100)>>5 = 6; blue += (3*100)>>5=9 plus
    (4*red')>>5; green=200 (int8 -56) -> red += (2*-56)>>5 = -4."""
    from square_etl_spark.operators.multimodal import _parse_webp

    body = [(1, 1), (1, 2), (0, 3)]  # color transform, size_bits=2
    body += [(0, 1)]  # subimage: no cache
    # cte pixel: blue=g2r=2, green=g2b=3, red=r2b=4
    body += _simple1(3) + _simple1(4) + _simple1(2) + _simple1(0) + _simple1(0)
    body += [(0, 1)]  # end transforms
    body += [(0, 1), (0, 1)]  # main: no cache, no meta
    # two literals: greens 100/200 (2-symbol), red=10, blue=20, a=0
    body += [(1, 1), (1, 1), (1, 1), (100, 8), (200, 8)]
    body += _simple1(10) + _simple1(20) + _simple1(0) + _simple1(0)
    body += [(0, 1), (1, 1)]  # pixel greens: 100 then 200
    out = _parse_webp(_vp8l_stream(2, 1, body))
    # g=100: red = 10 + 6 = 16; blue = 20 + 9 + (4*16)>>5=2 -> 31
    assert tuple(int(v) for v in out[0, 0]) == (16, 100, 31)
    # g=200: red = (10 - 4) & 0xff = 6; int8(6)=6
    #        blue = 20 + ((3*-56)>>5 = -6) + ((4*6)>>5 = 0) = 14
    assert tuple(int(v) for v in out[0, 1]) == (6, 200, 14)


def test_vp8l_meta_prefix_groups_hand_built():
    """Meta prefix codes: an 8x1 image, huff_bits=2 (4-pixel blocks ->
    2x1 meta image selecting groups 0/1) — left half decodes through
    group 0 (gray 10), right half through group 1 (gray 200)."""
    from square_etl_spark.operators.multimodal import _parse_webp

    body = [(0, 1)]  # no transforms
    body += [(0, 1)]  # main: no color cache
    body += [(1, 1), (0, 3)]  # meta prefix codes, huff_bits = 2
    # meta image 2x1 (entropy image, NOT level0): no cache; green
    # 2-symbol {0,1}; r/b/a/dist single-0 — pixel green = group index
    body += [(0, 1)]
    body += [(1, 1), (1, 1), (1, 1), (0, 8), (1, 8)]
    body += _simple1(0) + _simple1(0) + _simple1(0) + _simple1(0)
    body += [(0, 1), (1, 1)]  # meta pixels: group 0 then group 1
    # two groups x five codes, all single-symbol literals
    body += _lit_codes(g=10, r=10, b=10, a=255)    # group 0
    body += _lit_codes(g=200, r=200, b=200, a=255)  # group 1
    out = _parse_webp(_vp8l_stream(8, 1, body))
    assert [int(out[0, x, 1]) for x in range(8)] == [10] * 4 + [200] * 4


def test_vp8l_simple2_code_canonical_unsorted_pair():
    """RFC 9649 §6.2.1: a 2-symbol simple code assigns BOTH symbols
    length 1 and builds the code canonically, so the numerically
    smaller symbol takes code 0 even when the encoder writes the pair
    unsorted (s0 > s1).  Our own test encoder and libwebp both happen
    to emit pairs pre-sorted, so this hand-built stream is the only
    coverage of the unsorted case — first-read-wins decoding would
    silently swap the two symbols' pixels with no quarantine error."""
    from square_etl_spark.operators.multimodal import _parse_webp

    body = [(0, 1)]  # no transforms
    body += [(0, 1), (0, 1)]  # main: no color cache, no meta
    # green: 2-symbol simple code written UNSORTED — 9 before 5
    body += [(1, 1), (1, 1), (1, 1), (9, 8), (5, 8)]
    body += _simple1(1)  # red
    body += _simple1(3)  # blue
    body += _simple1(255)  # alpha
    body += _simple1(0)  # distance
    body += [(0, 1), (1, 1)]  # selectors: pixel0 = code 0, pixel1 = code 1
    out = _parse_webp(_vp8l_stream(2, 1, body))
    # canonical: code 0 -> min(9, 5) = 5, code 1 -> 9
    assert tuple(int(v) for v in out[0, 0]) == (1, 5, 3)
    assert tuple(int(v) for v in out[0, 1]) == (1, 9, 3)


def test_vp8l_fuzz_valueerror_only():
    """Quarantine net: every truncation and 300 random single-byte
    corruptions of valid VP8L blobs either decode or raise ValueError
    (NotImplementedError only for the declared lossy-VP8 stub) —
    never IndexError/KeyError/infinite work."""
    import random

    from square_etl_spark.operators.multimodal import _parse_webp

    rng = random.Random(99)
    colors = [0xFF000000 | rng.getrandbits(24) for _ in range(5)]
    blobs = [
        _encode_vp8l([rng.choice(colors) for _ in range(48)], 8, 6,
                     cache_bits=3, use_lz77=True),
        _encode_vp8l([rng.choice(colors) for _ in range(21)], 7, 3,
                     palette=True, subtract_green=True),
    ]
    for blob in blobs:
        for cut in range(len(blob)):
            try:
                _parse_webp(blob[:cut])
            except (ValueError, NotImplementedError):
                pass
        for _ in range(300):
            b = bytearray(blob)
            i = rng.randrange(len(b))
            b[i] ^= 1 << rng.randrange(8)
            try:
                _parse_webp(bytes(b))
            except (ValueError, NotImplementedError):
                pass


def test_decode_media_webp_real_and_lossy_stub(spark):
    from square_etl_spark.operators.multimodal import FEATURE_DIM, decode_media

    # real VP8L: half black / half white 8x8 -> grid rows [0,0,1,1]
    pixels = [
        0xFF000000 if x < 4 else 0xFFFFFFFF
        for y in range(8) for x in range(8)
    ]
    out = decode_media(
        _media_df(spark, _encode_vp8l(pixels, 8, 8), "webp")
    ).collect()[0]
    assert out.ok is True
    assert out.features == [0.0, 0.0, 1.0, 1.0] * 4
    # lossy VP8 payload: DECLARED stub -> deterministic fake, flows
    vp8 = (b"RIFF" + (22).to_bytes(4, "little") + b"WEBP"
           + b"VP8 " + (10).to_bytes(4, "little")
           + b"\x00\x00\x00" + b"\x9d\x01\x2a"
           + (16).to_bytes(2, "little") + (16).to_bytes(2, "little"))
    out = decode_media(_media_df(spark, vp8, "webp")).collect()[0]
    assert out.ok is True and len(out.features) == FEATURE_DIM
    # junk declared webp: quarantined, not crashed
    out = decode_media(_media_df(spark, b"not a webp at all", "webp")).collect()[0]
    assert out.ok is False and out.features is None
    # detection-based dispatch finds the VP8L decoder from magic bytes
    out = decode_media(
        _media_df(spark, _encode_vp8l(pixels, 8, 8), "png"), detect=True
    ).collect()[0]
    assert out.ok is True and out.features == [0.0, 0.0, 1.0, 1.0] * 4


def _ogg_page(payload, granule, *, header_type=0, seq=0):
    """One single-segment Ogg page (payload < 255 bytes)."""
    assert len(payload) < 255 and granule >= 0
    return (b"OggS" + bytes([0, header_type])
            + granule.to_bytes(8, "little")
            + b"\x01\x02\x03\x04"          # serial
            + seq.to_bytes(4, "little")    # page sequence
            + b"\x00\x00\x00\x00"          # crc (unchecked by the probe)
            + bytes([1, len(payload)]) + payload)


def test_ogg_duration_from_last_page_granule():
    from square_etl_spark.operators.multimodal import _probe_blob

    vorbis_id = (b"\x01vorbis" + b"\x00" * 5
                 + (44100).to_bytes(4, "little") + b"\x00" * 8)
    blob = (_ogg_page(vorbis_id, 0, header_type=2)
            + _ogg_page(b"\x05comment", 0, seq=1)
            + _ogg_page(b"audio0", 22050, seq=2)
            + _ogg_page(b"audio1", 88200, seq=3))
    got = _probe_blob(blob)
    assert got["detected_format"] == "ogg"
    assert got["sample_rate"] == 44100
    assert got["duration_ms"] == 2000  # 88200 samples @ 44.1 kHz

    # Opus: granule always at 48 kHz, minus the OpusHead pre-skip
    opus_id = (b"OpusHead" + bytes([1, 2])
               + (312).to_bytes(2, "little")          # pre-skip
               + (48000).to_bytes(4, "little") + b"\x00" * 3)
    blob = (_ogg_page(opus_id, 0, header_type=2)
            + _ogg_page(b"OpusTags", 0, seq=1)
            + _ogg_page(b"audio", 48000 + 312, seq=2))
    got = _probe_blob(blob)
    assert got["duration_ms"] == 1000

    # -1 granule (no packet ends on the page) is skipped
    cont = (b"OggS" + bytes([0, 1]) + b"\xff" * 8
            + b"\x01\x02\x03\x04" + (3).to_bytes(4, "little")
            + b"\x00" * 4 + bytes([1, 4]) + b"cont")
    blob = (_ogg_page(vorbis_id, 0, header_type=2)
            + _ogg_page(b"audio0", 44100, seq=2) + cont)
    assert _probe_blob(blob)["duration_ms"] == 1000

    # truncated tail page (header-sampled blob): last COMPLETE page wins
    blob = (_ogg_page(vorbis_id, 0, header_type=2)
            + _ogg_page(b"audio0", 44100, seq=2)
            + _ogg_page(b"audio1", 88200, seq=3)[:20])
    assert _probe_blob(blob)["duration_ms"] == 1000


def test_probe_av_manifest_carries_ogg_duration(spark):
    from pyspark.sql import functions as F  # noqa: F811

    from square_etl_spark.operators.multimodal import probe_av_manifest

    vorbis_id = (b"\x01vorbis" + b"\x00" * 5
                 + (32000).to_bytes(4, "little") + b"\x00" * 8)
    blob = (_ogg_page(vorbis_id, 0, header_type=2)
            + _ogg_page(b"a", 16000, seq=1))
    media = spark.createDataFrame(
        [(1, bytearray(blob))], "media_id long, content binary"
    )
    row = probe_av_manifest(media).collect()[0]
    assert row.detected_format == "ogg"
    assert row.sample_rate == 32000 and row.duration_ms == 500
