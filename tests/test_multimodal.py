from __future__ import annotations

import pytest

from big_data_processing_spark.functions.multimodal import (
    MEDIA_SCHEMA,
    decode_image_real,
    decode_image_stub,
    extract_image_features,
    sample_video_frames,
)


@pytest.fixture()
def media(spark):
    rows = [
        (1, "image", b"\x00\x01\x02\x03" * 64, "image/png", 8, 8, None),
        (2, "image", b"\xff" * 100, "image/jpeg", 10, 10, None),
        (3, "image", None, "image/png", None, None, None),  # corrupt/missing
        (4, "video", b"\x10\x20\x30" * 500, "video/mp4", 64, 48, 3500),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_image_features_batch_shape(media):
    out = extract_image_features(media, dim=8)
    rows = {r.media_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].n_bytes == 256 and rows[1].decode_ok
    assert not rows[3].decode_ok and rows[3].n_bytes == 0
    assert len(rows[1].feat) == 8
    assert all(0.0 <= v <= 1.0 for v in rows[1].feat)


def test_stub_decode_deterministic():
    a = decode_image_stub(b"hello world" * 10)
    b = decode_image_stub(b"hello world" * 10)
    assert a == b and len(a) == 8


def test_real_decode_rejects_unknown_magic():
    # a 4-byte fragment is not the full 8-byte PNG signature, so it
    # routes to the honest NotImplementedError for unknown formats
    with pytest.raises(NotImplementedError):
        decode_image_real(b"\x89PNG")


def test_sample_video_frames(media):
    out = sample_video_frames(media, every_ms=1000).collect()
    # 3500 ms video, sampled at 0,1000,2000,3000
    assert [r.frame_ts_ms for r in out] == [0, 1000, 2000, 3000]
    assert all(r.media_id == 4 for r in out)


def _bmp_bytes(pixels, bottom_up=True):
    """Hand-rolled 24-bit BI_RGB BMP from a row-major RGB pixel
    list-of-rows (top-down logical order)."""
    import struct

    h = len(pixels)
    w = len(pixels[0])
    stride = (w * 3 + 3) & ~3
    raster = b""
    rows = pixels[::-1] if bottom_up else pixels
    for row in rows:
        line = b"".join(bytes([b, g, r]) for (r, g, b) in row)
        raster += line + b"\x00" * (stride - len(line))
    data_offset = 14 + 40
    size = data_offset + len(raster)
    header = struct.pack("<2sIHHI", b"BM", size, 0, 0, data_offset)
    h_field = h if bottom_up else -h
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, h_field, 1, 24, 0, len(raster),
        2835, 2835, 0, 0,
    )
    return header + dib + raster


def test_decode_netpbm_p6_and_p5():
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_netpbm,
        make_ppm,
    )

    img = decode_netpbm(make_ppm(4, 3, seed=5))
    assert img.shape == (3, 4, 3)
    # pixel (x=2, y=1, c=0) = (5 + 6 + 7) % 256
    assert img[1, 2, 0] == 18
    # P5 grayscale with a comment in the header
    p5 = b"P5\n# test comment\n2 2\n255\n" + bytes([0, 64, 128, 255])
    g = decode_netpbm(p5)
    assert g.shape == (2, 2)
    assert list(g.ravel()) == [0, 64, 128, 255]
    assert g.dtype == np.uint8


def test_decode_bmp_bottom_up_and_top_down():
    px = [
        [(255, 0, 0), (0, 255, 0)],
        [(0, 0, 255), (10, 20, 30)],
    ]
    from big_data_processing_spark.functions.multimodal import decode_bmp

    for bottom_up in (True, False):
        img = decode_bmp(_bmp_bytes(px, bottom_up=bottom_up))
        assert img.shape == (2, 2, 3)
        assert tuple(img[0, 0]) == (255, 0, 0)
        assert tuple(img[1, 1]) == (10, 20, 30)


def test_decode_image_real_rejects_compressed():
    import pytest as _pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_image_real,
    )

    # WebP magic routes to the REAL decoders (VP8L and, as of round
    # 11, lossy VP8 too — functions/vp8.py): a container with no
    # image chunk is malformed-stream ValueError, and so is a
    # truncated lossy VP8 payload; junk JPEG bodies stay ValueError
    webp_magic = b"RIFF\x00\x00\x00\x00WEBP" + b"\x00" * 8
    with _pytest.raises(ValueError):
        decode_image_real(webp_magic)
    lossy = b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00"
    with _pytest.raises(ValueError):
        decode_image_real(lossy)
    with _pytest.raises(ValueError):
        decode_image_real(b"\xff\xd8\xff\xe0" + b"\x00" * 16)


def test_extract_image_features_real_end_to_end(spark):
    from pyspark.sql import Row

    from big_data_processing_spark.functions.multimodal import (
        extract_image_features_real,
        image_to_features,
        decode_netpbm,
        make_ppm,
    )

    rows = [
        Row(media_id=1, content=bytearray(make_ppm(8, 8, seed=1))),
        Row(media_id=2, content=bytearray(make_ppm(16, 4, seed=9))),
        Row(media_id=3, content=bytearray(b"\xff\xd8not an image")),
        Row(media_id=4, content=None),
    ]
    out = {
        r.media_id: r
        for r in extract_image_features_real(
            spark.createDataFrame(rows), dim=4
        ).collect()
    }
    assert out[1].decode_ok and out[2].decode_ok
    assert not out[3].decode_ok and not out[4].decode_ok
    # distributed features equal the local reference computation
    import numpy as np

    ref = image_to_features(decode_netpbm(make_ppm(8, 8, seed=1)), 4)
    assert np.allclose(out[1].feat, ref, atol=1e-6)
    assert out[3].feat == [0.0] * 4


def test_wav_roundtrip_and_chunk_walker():
    import struct

    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_wav,
        make_wav,
    )

    wav = make_wav(100, seed=7, sample_rate=16000)
    rate, v = decode_wav(wav)
    assert rate == 16000 and v.size == 100 and v.dtype == np.dtype("<i2")
    assert v[0] == 7 * 31 - 32768
    assert v[1] == (7 * 31 + 737) % 65536 - 32768

    # chunk walker: unknown odd-sized chunk BEFORE fmt must be
    # skipped with word alignment, not break parsing
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    reordered = wav[:12] + junk + wav[12:]
    rate2, v2 = decode_wav(reordered)
    assert rate2 == 16000 and (v2 == v).all()


def test_wav_decode_rejects_unsupported():
    import struct

    import pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_wav,
        make_wav,
    )

    with pytest.raises(ValueError):
        decode_wav(b"nonsense")
    with pytest.raises(ValueError):
        decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")  # no chunks
    wav = bytearray(make_wav(10, seed=1))
    wav[22] = 2  # claim stereo on a 10-sample PCM16 stream: the 20
    # data bytes still split into whole 4-byte frames, so it decodes
    # as 5 interleaved frames rather than raising
    rate, v = decode_wav(bytes(wav))
    assert v.shape == (5, 2)
    wav = bytearray(make_wav(10, seed=1))
    wav[20] = 3  # IEEE-float tag with a 16-bit width: illegal combo
    with pytest.raises(ValueError):
        decode_wav(bytes(wav))
    # a truncated buffer (chunk size overruns) raises — corruption
    # is never silently decoded to fewer samples
    wav = bytes(make_wav(10, seed=1))
    with pytest.raises(ValueError):
        decode_wav(wav[:-3])
    # odd-length PCM16 data chunk is corruption, not a dropped byte
    odd = bytearray(make_wav(10, seed=1))
    odd[40:44] = struct.pack("<I", 19)  # data size 20 → 19
    with pytest.raises(ValueError):
        decode_wav(bytes(odd[:-1]))


def test_png_roundtrip_all_filters():
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_png,
        make_png,
    )

    # 6 rows → filters 0,1,2,3,4,0 all exercised; decode must
    # reconstruct the exact raster through zlib + unfilter
    img = decode_png(make_png(8, 6, seed=13))
    assert img.shape == (6, 8, 3)
    xs = np.arange(8).reshape(1, 8, 1)
    ys = np.arange(6).reshape(6, 1, 1)
    cs = np.arange(3).reshape(1, 1, 3)
    want = ((13 + 3 * xs + 7 * ys + 11 * cs) % 256).astype(np.uint8)
    assert (img == want).all()
    # grayscale color type decodes to 2-D
    g = decode_png(make_png(5, 7, seed=3, color_type=0))
    assert g.shape == (7, 5)
    wantg = ((3 + 3 * np.arange(5).reshape(1, 5)
              + 7 * np.arange(7).reshape(7, 1)) % 256).astype(np.uint8)
    assert (g == wantg).all()


def test_png_rejects_malformed():
    import struct
    import zlib

    import pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_image_real,
        decode_png,
        make_png,
    )

    with pytest.raises(ValueError):
        decode_png(b"not a png")
    png = make_png(4, 4, seed=1)
    # chop IEND (12 bytes) plus part of IDAT's CRC: the IDAT chunk
    # now declares more bytes than remain → overrun error
    with pytest.raises(ValueError):
        decode_png(png[:-16])
    # flipping the interlace flag (IHDR byte 28: 8 sig + 8 chunk hdr
    # + 12) on a stream ENCODED non-interlaced makes the Adam7 pass
    # layout disagree with the payload → structural ValueError, not
    # a wrong image
    lace = bytearray(png)
    lace[28] = 1
    ihdr = bytes(lace[16:29])
    lace[29:33] = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
    with pytest.raises(ValueError):
        decode_png(bytes(lace))
    # decode_image_real routes PNG by signature
    assert decode_image_real(png).shape == (4, 4, 3)


def test_png_palette_roundtrip():
    import numpy as np
    import pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_png,
        make_png,
    )

    img = decode_png(make_png(7, 5, seed=41, color_type=3))
    assert img.shape == (5, 7, 3)
    ys, xs = np.mgrid[0:5, 0:7]
    idx = (41 + 3 * xs + 7 * ys) % 256
    want = np.stack(
        [(41 + p * idx) % 256 for p in (3, 7, 11)], axis=-1
    ).astype(np.uint8)
    assert (img == want).all()
    # palette PNG with the PLTE chunk stripped → ValueError
    png = make_png(4, 4, seed=1, color_type=3)
    plte_at = png.find(b"PLTE") - 4
    plte_len = 12 + int.from_bytes(png[plte_at : plte_at + 4], "big")
    with pytest.raises(ValueError):
        decode_png(png[:plte_at] + png[plte_at + plte_len :])


def test_make_bmp_roundtrip():
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_bmp,
        make_bmp,
    )

    # w=6 → stride 20 with 2 pad bytes: padding + bottom-up flip +
    # BGR swap all exercised
    img = decode_bmp(make_bmp(6, 7, seed=9))
    assert img.shape == (7, 6, 3)
    ys, xs, cs = np.mgrid[0:7, 0:6, 0:3]
    want = ((9 + 3 * xs + 7 * ys + 11 * cs) % 256).astype(np.uint8)
    assert (img == want).all()


def test_decode_media_stats_mixed_formats(spark):
    from big_data_processing_spark.functions.multimodal import (
        decode_media_stats,
        make_bmp,
        make_png,
        make_ppm,
    )

    rows = [
        (0, make_ppm(8, 6, seed=0)),
        (1, make_png(9, 5, seed=1)),
        (2, make_png(7, 5, seed=2, color_type=3)),
        (3, make_bmp(6, 7, seed=3)),
        (4, b"\xff\xd8\xff\xe0" + bytes(12)),  # undecodable JPEG
        (5, None),  # missing payload
    ]
    df = spark.createDataFrame(rows, "media_id long, content binary")
    got = {r.media_id: r for r in decode_media_stats(df).collect()}
    assert (got[0].width, got[0].height, got[0].decode_ok) == (8, 6, True)
    assert (got[1].width, got[1].height) == (9, 5)
    assert (got[2].width, got[2].height) == (7, 5)
    assert (got[3].width, got[3].height) == (6, 7)
    # per-row failure tolerance: bad rows flag, never raise
    assert not got[4].decode_ok and got[4].n_bytes == 16
    assert not got[5].decode_ok and got[5].n_bytes == 0
    assert all(got[i].decode_ok for i in range(4))


def test_png_16bit_roundtrip():
    import numpy as np
    import pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_png,
        make_png,
    )

    # 6 rows -> every scanline filter; bpp-offset unfilter (6 bytes
    # per RGB16 pixel) must reconstruct the exact uint16 raster
    img = decode_png(make_png(8, 6, seed=13, depth=16))
    assert img.dtype == np.uint16 and img.shape == (6, 8, 3)
    xs = np.arange(8).reshape(1, 8, 1)
    ys = np.arange(6).reshape(6, 1, 1)
    cs = np.arange(3).reshape(1, 1, 3)
    want = (((13 + 3 * xs + 7 * ys + 11 * cs) % 256) * 257).astype(
        np.uint16
    )
    assert (img == want).all()
    # 16-bit grayscale decodes to 2-D uint16
    g = decode_png(make_png(5, 7, seed=3, color_type=0, depth=16))
    assert g.dtype == np.uint16 and g.shape == (7, 5)
    wantg = (((3 + 3 * np.arange(5).reshape(1, 5)
               + 7 * np.arange(7).reshape(7, 1)) % 256) * 257).astype(
        np.uint16
    )
    assert (g == wantg).all()
    # spec forbids 16-bit palette; generator and decoder both refuse
    with pytest.raises(ValueError):
        make_png(4, 4, seed=1, color_type=3, depth=16)
    # an IHDR depth the spec does not define anywhere → ValueError
    import struct
    import zlib

    png = bytearray(make_png(4, 4, seed=1, color_type=0))
    png[24] = 3  # IHDR bit-depth field: 3 is illegal for every type
    ihdr = bytes(png[16:29])
    png[29:33] = struct.pack(
        ">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    with pytest.raises(ValueError):
        decode_png(bytes(png))


def test_png_adam7_and_subbyte_roundtrip():
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_png,
        make_png,
    )

    def want_gray(w, h, seed, depth):
        mod = 1 << min(depth, 8)
        g = ((seed + 3 * np.arange(w).reshape(1, w)
              + 7 * np.arange(h).reshape(h, 1)) % mod)
        return g * 257 if depth == 16 else g

    # Adam7 RGB8: 13x11 exercises all 7 passes with ragged tails
    img = decode_png(make_png(13, 11, seed=77, interlaced=True))
    xs = np.arange(13).reshape(1, 13, 1)
    ys = np.arange(11).reshape(11, 1, 1)
    cs = np.arange(3).reshape(1, 1, 3)
    assert (img == (77 + 3 * xs + 7 * ys + 11 * cs) % 256).all()
    # Adam7 16-bit gray (bpp=2 through per-pass filters)
    g16 = decode_png(
        make_png(9, 7, seed=5, color_type=0, depth=16, interlaced=True)
    )
    assert g16.dtype == np.uint16
    assert (g16 == want_gray(9, 7, 5, 16)).all()
    # sub-byte grays: MSB-first unpack with row-pad truncation
    for depth in (1, 2, 4):
        g = decode_png(make_png(9, 7, seed=5, color_type=0, depth=depth))
        assert (g == want_gray(9, 7, 5, depth)).all(), depth
    # 4-bit palette (15 < 2^4 indices through a 16-entry PLTE),
    # interlaced for good measure
    p4 = decode_png(
        make_png(9, 7, seed=41, color_type=3, depth=4, interlaced=True)
    )
    idx = want_gray(9, 7, 41, 4)
    pal = np.array([3, 7, 11]).reshape(1, 1, 3)
    assert (p4 == (41 + pal * idx[:, :, None]) % 256).all()
    # a 1x1 interlaced image lives entirely in pass 1
    one = decode_png(
        make_png(1, 1, seed=9, color_type=0, depth=8, interlaced=True)
    )
    assert one.shape == (1, 1) and int(one[0, 0]) == 9 % 256


def test_wav_uncompressed_family_roundtrip():
    import numpy as np
    import pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_wav,
        make_wav,
    )

    # stereo PCM16: interleaved frames -> (n, 2), formula over the
    # interleaved index
    rate, v = decode_wav(make_wav(6, seed=3, channels=2))
    jj = np.arange(12).reshape(6, 2)
    assert v.shape == (6, 2) and v.dtype == np.int16
    assert (v == (3 * 31 + jj * 737) % 65536 - 32768).all()
    # PCM8 is UNSIGNED per spec
    rate, v = decode_wav(make_wav(9, seed=4, bits=8))
    assert v.dtype == np.uint8
    assert (v == (4 * 31 + np.arange(9) * 737) % 256).all()
    # PCM24: 3-byte little-endian two's complement, sign-extended
    rate, v = decode_wav(make_wav(7, seed=5, bits=24))
    want = (5 * 31 + np.arange(7) * 737) % (1 << 24) - (1 << 23)
    assert v.dtype == np.int32 and (v == want).all()
    # float32 (format tag 3): dyadic rationals decode exactly
    rate, v = decode_wav(make_wav(8, seed=6, bits=32, audio_format=3))
    want = ((6 * 31 + np.arange(8) * 737) % 65536 - 32768) / 32768.0
    assert v.dtype == np.float32
    assert (v.astype(np.float64) == want).all()
    # a data chunk that is not whole frames is corruption
    import struct

    b = bytearray(make_wav(4, seed=1, channels=2))
    sz = struct.unpack("<I", b[4:8])[0]
    b[4:8] = struct.pack("<I", sz - 1)
    dlen = struct.unpack("<I", b[40:44])[0]
    b[40:44] = struct.pack("<I", dlen - 1)
    with pytest.raises(ValueError):
        decode_wav(bytes(b[:-1]))
    # compressed format tags stay an honest NotImplementedError
    adpcm = bytearray(make_wav(4, seed=1))
    adpcm[20:22] = struct.pack("<H", 2)  # fmt tag: MS ADPCM
    with pytest.raises(NotImplementedError):
        decode_wav(bytes(adpcm))


def test_netpbm_wide_and_bmp_palette_roundtrip():
    import numpy as np
    import pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_bmp,
        decode_netpbm,
        make_bmp8,
        make_ppm,
    )

    # netpbm wide form: maxval > 255 -> big-endian 2-byte samples,
    # decoded to native uint16
    img = decode_netpbm(make_ppm(5, 4, seed=9, maxval=1023))
    assert img.dtype == np.uint16 and img.shape == (4, 5, 3)
    xs = np.arange(5).reshape(1, 5, 1)
    ys = np.arange(4).reshape(4, 1, 1)
    cs = np.arange(3).reshape(1, 1, 3)
    assert (img == (9 + 3 * xs + 7 * ys + 11 * cs) % 1024).all()
    # maxval 0 / >= 65536 are out of spec
    bad = make_ppm(2, 2, seed=1).replace(b"\n255\n", b"\n65536\n", 1)
    with pytest.raises(ValueError):
        decode_netpbm(bad)
    # 8-bit paletted BMP: BGRX table lookup, stride padding (w=7 ->
    # stride 8), bottom-up flip
    img = decode_bmp(make_bmp8(7, 5, seed=41))
    idx = (41 + 3 * np.arange(7).reshape(1, 7)
           + 7 * np.arange(5).reshape(5, 1)) % 256
    p = np.array([3, 7, 11]).reshape(1, 1, 3)
    assert img.shape == (5, 7, 3)
    assert (img == (41 + p * idx[:, :, None]) % 256).all()
    # RLE compression stays an honest NotImplementedError
    import struct

    rle = bytearray(make_bmp8(4, 4, seed=1))
    rle[30:34] = struct.pack("<I", 1)  # biCompression = BI_RLE8
    with pytest.raises(NotImplementedError):
        decode_bmp(bytes(rle))


def test_extract_audio_features_real_float_and_int(spark):
    """Float WAVs (format tag 3) must accumulate in float64 — the old
    astype(int64) truncated every [-1,1) sample to 0/-1 and reported
    near-silence with decode_ok=True (ADVICE r7, medium)."""
    import numpy as np
    from pyspark.sql import Row

    from big_data_processing_spark.functions.multimodal import (
        decode_wav,
        extract_audio_features_real,
        make_wav,
    )

    f32 = make_wav(64, seed=5, bits=32, audio_format=3)
    i16 = make_wav(64, seed=5)
    rows = [
        Row(media_id=1, content=bytearray(f32)),
        Row(media_id=2, content=bytearray(i16)),
        Row(media_id=3, content=bytearray(b"RIFFgarbage")),
    ]
    out = {
        r.media_id: r
        for r in extract_audio_features_real(
            spark.createDataFrame(rows)
        ).collect()
    }
    assert out[1].decode_ok and out[2].decode_ok and not out[3].decode_ok
    # local reference computation, float64 accumulation
    _, v = decode_wav(f32)
    a = v.astype(np.float64)
    assert abs(out[1].rms - float(np.sqrt((a * a).sum() / a.size))) < 1e-12
    assert abs(out[1].peak - float(np.abs(a).max())) < 1e-12
    # the truncation bug made rms ~<=1.0; real float stream rms is ~0.57
    # of full scale and must NOT be near zero
    assert out[1].rms > 0.1
    # integer path unchanged (int64 accumulation, exact)
    _, w = decode_wav(i16)
    b = w.astype(np.int64)
    assert out[2].peak == float(np.abs(b).max())
    assert abs(out[2].rms - float(np.sqrt(float((b * b).sum()) / b.size))) < 1e-9


def test_avi_roundtrip_and_chunk_walker():
    """decode_avi (r7 verdict #6): make_avi round-trips every frame
    exactly (stride padding, bottom-up flip, BGR swap), unknown
    chunks are skipped, truncated/declared-overrun chunks raise,
    compressed fourccs stay an honest NotImplementedError."""
    import struct

    import numpy as np
    import pytest as _pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_avi,
        make_avi,
    )

    avi = make_avi(7, 5, 4, seed=3, fps=25)
    fps, frames = decode_avi(avi)
    assert fps == 25.0 and frames.shape == (4, 5, 7, 3)
    y, x, c = np.mgrid[0:5, 0:7, 0:3]
    for f in range(4):
        assert (frames[f] == (3 + 3 * x + 7 * y + 11 * c + 13 * f) % 256).all()
    # unknown top-level chunk is skipped (walker, not offset math)
    extra = b"JUNK" + struct.pack("<I", 4) + b"abcd"
    patched = (
        avi[:8] + avi[8:12] + extra + avi[12:]
    )
    patched = patched[:4] + struct.pack("<I", len(patched) - 8) + patched[8:]
    fps2, frames2 = decode_avi(patched)
    assert (frames2 == frames).all()
    # declared size overrunning the buffer is corruption
    with _pytest.raises(ValueError):
        decode_avi(avi[: len(avi) // 2])
    with _pytest.raises(ValueError):
        decode_avi(b"RIFFxxxxWAVE")
    # MJPG is a REAL decode path since round 11: flipping the fourcc
    # over raw (non-JFIF) frame chunks is now a malformed-stream
    # ValueError from the per-frame JPEG decode, not an absent-codec
    # NotImplementedError
    i = avi.find(b"strf")
    bad = bytearray(avi)
    struct.pack_into("<I", bad, i + 8 + 16, 0x47504A4D)
    with _pytest.raises(ValueError):
        decode_avi(bytes(bad))
    # inter-frame codecs stay an honest NotImplementedError
    bad_h264 = bytearray(avi)
    struct.pack_into("<I", bad_h264, i + 8 + 16, 0x34363248)  # 'H264'
    with _pytest.raises(NotImplementedError):
        decode_avi(bytes(bad_h264))


def test_avi_audio_stream_first_and_rec_lists():
    """r8 ADVICE: an 'auds' strl declared BEFORE the video strl must
    not have its strf (a WAVEFORMATEX) parsed as a BITMAPINFOHEADER
    — the strh fccType gates strf parsing; frames wrapped in 'rec '
    LISTs inside movi (CD-ROM interleave grouping) must still be
    collected."""
    import struct

    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_avi,
        make_avi,
    )

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def lst(subtype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", subtype + body)

    base = make_avi(6, 4, 3, seed=5, fps=10)
    _, want = decode_avi(base)

    # rebuild: hdrl = avih + strl(auds) + strl(vids), movi wraps each
    # frame chunk in its own 'rec ' LIST
    w, h, n, stride = 6, 4, 3, (6 * 3 + 3) & ~3
    avih = chunk(
        b"avih",
        struct.pack("<14I", 100_000, 0, 0, 0, n, 0, 2,
                    stride * h, w, h, 0, 0, 0, 0),
    )
    # audio stream header + WAVEFORMATEX strf: wFormatTag=1 (PCM),
    # 2ch, 44100 Hz — bytes that parsed as BITMAPINFOHEADER would
    # yield nonsense width/height/compression
    strh_a = chunk(
        b"strh",
        b"auds" + b"\x00" * 4 + struct.pack(
            "<IHHIIIIIIIII", 0, 0, 0, 0, 1, 44100, 0, 0, 0, 0, 0, 0),
    )
    strf_a = chunk(
        b"strf", struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    )
    strh_v = chunk(
        b"strh",
        b"vids" + b"DIB " + struct.pack(
            "<IHHIIIIIIIII", 0, 0, 0, 0, 1, 10, 0, n,
            stride * h, 0, 0, 0),
    )
    strf_v = chunk(
        b"strf",
        struct.pack("<IiiHHIIiiII",
                    40, w, h, 1, 24, 0, stride * h, 2835, 2835, 0, 0),
    )
    y, x, c = np.mgrid[0:h, 0:w, 0:3]
    recs = []
    for f in range(n):
        rgb = ((5 + 3 * x + 7 * y + 11 * c + 13 * f) % 256).astype(
            np.uint8
        )
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, : w * 3] = rgb[:, :, ::-1].reshape(h, w * 3)
        recs.append(lst(b"rec ", chunk(b"00db", rows[::-1].tobytes())))
    hdrl = lst(
        b"hdrl",
        avih + lst(b"strl", strh_a + strf_a) + lst(b"strl", strh_v + strf_v),
    )
    movi = lst(b"movi", b"".join(recs))
    body = b"AVI " + hdrl + movi
    avi = b"RIFF" + struct.pack("<I", len(body)) + body

    fps, frames = decode_avi(avi)
    assert fps == 10.0
    assert frames.shape == (3, 4, 6, 3)
    assert (frames == want).all()


def test_sample_video_frames_real_isolation(spark):
    """sample_video_frames_real: per-row failure isolation (corrupt
    blob -> one decode_ok=False row, never a dead batch) and exact
    per-frame features."""
    import numpy as np
    from pyspark.sql import Row

    from big_data_processing_spark.functions.multimodal import (
        decode_avi,
        make_avi,
        sample_video_frames_real,
    )

    rows = [
        Row(media_id=1, content=bytearray(make_avi(6, 4, 5, seed=9))),
        Row(media_id=2, content=bytearray(b"RIFFgarbage")),
        Row(media_id=3, content=None),
    ]
    out = sample_video_frames_real(
        spark.createDataFrame(rows), every_n=2
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r.media_id, []).append(r)
    assert [r.frame for r in sorted(got[1], key=lambda r: r.frame)] == [0, 2, 4]
    _, frames = decode_avi(make_avi(6, 4, 5, seed=9))
    for r in got[1]:
        a = frames[r.frame].astype(np.int64)
        assert r.checksum == int(a.sum()) and r.n_frames == 5
        assert abs(r.mean_pixel - float(a.mean())) < 1e-12
        assert r.decode_ok
    assert len(got[2]) == 1 and not got[2][0].decode_ok
    assert len(got[3]) == 1 and not got[3][0].decode_ok


def test_jpeg_zigzag_and_tables():
    """Generated zigzag order matches the spec's published sequence
    (first two anti-diagonal runs + last entry), and the Annex K
    Huffman specs are internally consistent (BITS sums = value
    counts, canonical codes fit their lengths)."""
    from big_data_processing_spark.functions.multimodal import (
        _JPEG_HUFF_AC_CHROMA,
        _JPEG_HUFF_AC_LUMA,
        _JPEG_HUFF_DC_CHROMA,
        _JPEG_HUFF_DC_LUMA,
        _JPEG_ZZ,
        _jpeg_build_decode_table,
    )

    flat = [r * 8 + c for r, c in _JPEG_ZZ]
    assert flat[:10] == [0, 1, 8, 16, 9, 2, 3, 10, 17, 24]
    assert flat[-3:] == [55, 62, 63]
    assert sorted(flat) == list(range(64))
    for bits, vals in (
        _JPEG_HUFF_DC_LUMA, _JPEG_HUFF_DC_CHROMA,
        _JPEG_HUFF_AC_LUMA, _JPEG_HUFF_AC_CHROMA,
    ):
        assert sum(bits) == len(vals)
        table = _jpeg_build_decode_table(bits, vals)
        assert len(table) == len(vals)  # prefix-free by construction
        for (length, code) in table:
            assert code < (1 << length)


def test_jpeg_q100_444_roundtrip_exact():
    """Quality 100 + 4:4:4: every quant step is 1 and the DCT is
    orthonormal, so encode→decode must reproduce the raster
    EXACTLY — the strongest self-consistency proof available
    without an external codec (it pins marker layout, Huffman
    coding, zigzag, dequant and IDCT as exact inverses)."""
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_jpeg,
        make_jpeg,
    )

    out = decode_jpeg(
        make_jpeg(16, 16, seed=3, subsampling="4:4:4", quality=100)
    )
    y, x, c = np.mgrid[0:16, 0:16, 0:3]
    assert (out == (3 + 3 * x + 7 * y + 11 * c) % 256).all()


def test_jpeg_grayscale_and_subsampled_tolerance():
    """Lossy paths stay inside analytic bounds: grayscale q95 within
    +-2 of the source on a wrap-free gradient; 4:2:0 chroma within
    the box-downsample bound on the same gradient."""
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_jpeg,
        make_jpeg,
    )

    # seed + 3*23 + 7*15 = seed + 174 < 256: no modular wrap -> the
    # plane is a pure linear gradient, quantization error is the
    # only loss
    out = decode_jpeg(make_jpeg(24, 16, seed=2, grayscale=True,
                                quality=95))
    yg, xg = np.mgrid[0:16, 0:24]
    ref = (2 + 3 * xg + 7 * yg).astype(np.float64)
    assert out.shape == (16, 24)
    assert np.abs(out.astype(np.float64) - ref).max() <= 2.0

    # color 4:2:0 on a wrap-free gradient (seed+174+22 < 256)
    out = decode_jpeg(make_jpeg(24, 16, seed=2, quality=95))
    c = np.arange(3).reshape(1, 1, 3)
    ref = (2 + 3 * xg[..., None] + 7 * yg[..., None] + 11 * c).astype(
        np.float64
    )
    assert out.shape == (16, 24, 3)
    # box 2x2 chroma average + nearest upsample shifts chroma by at
    # most half the local gradient step (5 per px horiz/vert in Cb/
    # Cr space) plus quant error
    assert np.abs(out.astype(np.float64) - ref).max() <= 12.0


def test_jpeg_restart_intervals_and_odd_dims():
    """DRI/RSTn: the restart-interval stream contains real RSTn
    markers, decodes identically to the unrestarted stream, and odd
    (non-MCU-multiple) dims crop correctly."""
    from big_data_processing_spark.functions.multimodal import (
        decode_jpeg,
        make_jpeg,
    )

    plain = make_jpeg(19, 13, seed=9, quality=75)
    rst = make_jpeg(19, 13, seed=9, quality=75, restart_interval=1)
    assert any(
        bytes([0xFF, 0xD0 + m]) in rst for m in range(8)
    )
    a, b = decode_jpeg(plain), decode_jpeg(rst)
    assert a.shape == (13, 19, 3)
    assert (a == b).all()


def test_jpeg_malformed_and_unsupported():
    """ValueError for malformed streams (the mixed-format query's
    junk-JPEG rows rely on this), NotImplementedError for
    arithmetic-coded variants — per-row isolation upstream depends
    on both."""
    import pytest as _pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_image_real,
        decode_jpeg,
        make_jpeg,
    )

    with _pytest.raises(ValueError):
        decode_jpeg(b"\xff\xd8\xff\xe0" + bytes(12))  # junk body
    good = make_jpeg(16, 16, seed=1)
    with _pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated entropy data
    # flip SOF0 -> SOF2: the baseline full-band scan header
    # (Ss=0, Se=63) is ILLEGAL in a progressive frame — the
    # multi-scan decoder must reject it, not misdecode it
    i = good.find(b"\xff\xc0")
    with _pytest.raises(ValueError):
        decode_jpeg(good[:i] + b"\xff\xc2" + good[i + 2 :])
    # arithmetic-coded progressive stays an honest refusal
    with _pytest.raises(NotImplementedError):
        decode_jpeg(good[:i] + b"\xff\xca" + good[i + 2 :])
    # dispatcher routes JPEG magic to the real decoder
    img = decode_image_real(good)
    assert img.shape == (16, 16, 3)


def test_jpeg_standalone_markers():
    """TEM (0x01) and stray RSTn before SOS are standalone markers
    with NO length word (r9 ADVICE): the walk must skip exactly two
    bytes, not misparse them as length-prefixed segments."""
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        decode_jpeg,
        make_jpeg,
    )

    good = make_jpeg(16, 16, seed=5)
    base = decode_jpeg(good)
    # inject TEM + a stray RST3 right after SOI
    patched = good[:2] + b"\xff\x01\xff\xd3" + good[2:]
    assert (decode_jpeg(patched) == base).all()


def test_jpeg_progressive_matches_baseline():
    """Progressive (SOF2) and baseline serializations of the SAME
    quantized coefficient blocks must decode bit-identically —
    spectral selection + successive approximation reconstruct every
    coefficient exactly (r9 verdict #4)."""
    from big_data_processing_spark.functions.multimodal import (
        decode_jpeg,
        make_jpeg,
        texture_raster,
    )

    cases = [
        dict(w=24, h=16, kw=dict(grayscale=True, quality=90)),
        dict(w=16, h=16, kw=dict(subsampling="4:4:4", quality=100)),
        dict(w=19, h=13, kw=dict(quality=75, restart_interval=2)),
        dict(w=40, h=33, kw=dict(quality=50)),
    ]
    for i, c in enumerate(cases):
        base = decode_jpeg(make_jpeg(c["w"], c["h"], seed=i + 1, **c["kw"]))
        prog = decode_jpeg(
            make_jpeg(c["w"], c["h"], seed=i + 1, progressive=True,
                      **c["kw"])
        )
        assert base.shape == prog.shape and (base == prog).all(), c
    t = texture_raster(24, 16, 7)
    base = decode_jpeg(
        make_jpeg(24, 16, 7, subsampling="4:4:4", quality=100, raster=t)
    )
    prog = decode_jpeg(
        make_jpeg(24, 16, 7, subsampling="4:4:4", quality=100, raster=t,
                  progressive=True)
    )
    assert (base == prog).all()


def test_jpeg_progressive_entropy_paths():
    """White-box coefficient-level round-trip through EVERY
    progressive entropy path: EOBRUN > 1 across all-zero blocks,
    ZRL inside AC-first, double-ZRL inside AC-refine (a newly
    nonzero coefficient after 34 zero-history positions),
    correction bits buffered through EOB runs, newly-nonzero
    coefficients appearing only at the LAST approximation level,
    negative values, and the same stream again under restart
    markers. Expected pixels are computed independently via
    dezigzag + IDCT."""
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        _JPEG_ZZ,
        _jpeg_dct_matrix,
        _jpeg_emit_progressive,
        decode_jpeg,
    )

    n = 12  # 48x16 grayscale: 6x2 blocks, unit quant steps
    blocks = np.zeros((n, 64), dtype=np.int64)
    blocks[0, :6] = [35, -3, 2, -1, 1, -2]  # dense low band
    blocks[1, 0] = -17
    blocks[1, 30] = 9  # 23 zeros inside band 6-63 -> ZRL in first scan
    blocks[2, 40] = 1  # invisible at Al=1; refine crosses 34 zeros (2 ZRLs)
    blocks[2, 5] = -1  # newly nonzero only at the last level of band 1-5
    for i in range(3, 9):  # all-zero AC bands -> EOBRUN accumulation
        blocks[i, 0] = (i - 6) * 4
    blocks[9, 6] = -2  # history coefficient: correction bit in refine
    blocks[9, 63] = 3  # band-edge history bits
    blocks[10, 1] = -5  # Al=2 first scan value -1, two refine levels
    blocks[10, 2] = 7
    # block 11 entirely zero

    qts = [np.ones(64, dtype=np.int32)]
    zz_r = np.array([r for r, _ in _JPEG_ZZ])
    zz_c = np.array([c for _, c in _JPEG_ZZ])
    dct = _jpeg_dct_matrix()
    blk = np.zeros((n, 8, 8))
    blk[:, zz_r, zz_c] = blocks
    spatial = np.einsum("uy,nuv,vx->nyx", dct, blk, dct) + 128.0
    expect = (
        spatial.reshape(2, 6, 8, 8).transpose(0, 2, 1, 3).reshape(16, 48)
    )
    expect = np.clip(np.round(expect), 0, 255).astype(np.uint8)

    for dri in (0, 5, 1):
        stream = _jpeg_emit_progressive(
            48, 16, True, [(1, 1)], [0], qts, [blocks], [0],
            6, 2, 1, 1, dri,
        )
        img = decode_jpeg(stream)
        assert img.shape == (16, 48)
        assert (img == expect).all(), f"restart_interval={dri}"


def test_image_dhash_properties():
    """dHash contract: identical rasters hash identically; a
    quality-100 4:4:4 JPEG re-encode stays within hamming 2; a
    small local edit within 1; structurally different textures are
    far; too-small images raise (kernel maps that to
    decode_ok=False)."""
    import numpy as np
    import pytest as _pytest

    from big_data_processing_spark.functions.multimodal import (
        bmp_from_raster,
        decode_image_real,
        image_dhash,
        make_jpeg,
        texture_raster,
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    t = texture_raster(24, 16, 5)
    h0 = image_dhash(decode_image_real(bmp_from_raster(t)))
    assert h0 == image_dhash(t)  # decode is lossless for BMP
    h1 = image_dhash(
        decode_image_real(
            make_jpeg(24, 16, 5, subsampling="4:4:4", quality=100,
                      raster=t)
        )
    )
    assert ham(h0, h1) <= 2
    t2 = t.astype(np.int16)
    t2[5:8, 9:12] += 4
    h2 = image_dhash(np.clip(t2, 0, 255).astype(np.uint8))
    assert ham(h0, h2) <= 1
    other = image_dhash(texture_raster(24, 16, 6))
    assert ham(h0, other) > 10
    with _pytest.raises(ValueError):
        image_dhash(np.zeros((4, 4), dtype=np.uint8))


def test_hash64_near_dup_pairs_banding_exact(spark):
    """The generalized 64-bit banded pairing (shared by simhash and
    image dHash): at max_hamming 3 with 4 x 16-bit chunks, banding
    is LOSSLESS by pigeonhole — the plan's output must equal the
    brute-force threshold truth, including a planted pair differing
    in exactly 3 bits spread over 3 chunks and a 4-bit pair that
    must NOT appear."""
    from big_data_processing_spark.functions.dedup import (
        hash64_near_dup_pairs,
    )

    base = 0x123456789ABCDEF0
    rows = [
        (1, base),
        (2, base ^ (1 << 0) ^ (1 << 17) ^ (1 << 34)),  # 3 bits, 3 chunks
        (3, base ^ (1 << 1) ^ (1 << 18) ^ (1 << 35) ^ (1 << 52)),  # 4 bits
        (4, -(1 << 63) | base),  # sign bit set: unsigned chunk math
        (5, (-(1 << 63) | base) ^ (1 << 62)),  # 1 bit from 4
    ]
    df = spark.createDataFrame(rows, "id long, h long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in hash64_near_dup_pairs(df, "id", "h", 3).collect()
    }
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    want = {
        (a, b): ham(ha, hb)
        for a, ha in rows
        for b, hb in rows
        if a < b and ham(ha, hb) <= 3
    }
    assert got == want
    assert (1, 2) in got and got[(1, 2)] == 3
    assert (4, 5) in got and got[(4, 5)] == 1
    assert not any(3 in p for p in got)


def test_hash64_near_dup_pairs_any_threshold(spark):
    """r9 ADVICE: the chunk count derives from max_hamming, so the
    pigeonhole guarantee holds at ANY threshold — a 4-bit pair with
    one flipped bit in each of the old 4 fixed 16-bit chunks (the
    documented silent-false-negative case) MUST appear at
    max_hamming=4; max_hamming=0 degenerates to an exact-equality
    join; out-of-range thresholds raise. The same holds at the
    32-bit width of the md5 SimHash twin."""
    import pytest as _pytest

    from big_data_processing_spark.functions.dedup import (
        hash64_near_dup_pairs,
    )

    base = 0x0F0F0F0F0F0F0F0F
    rows = [
        (1, base),
        # 4 bits spread across all four 16-bit quarters: invisible
        # to the old fixed 4-chunk banding, required at threshold 4
        (2, base ^ (1 << 4) ^ (1 << 20) ^ (1 << 36) ^ (1 << 52)),
        (3, base),  # exact duplicate for the max_hamming=0 path
    ]
    df = spark.createDataFrame(rows, "id long, h long")
    got4 = {
        (r.id_a, r.id_b): r.hamming
        for r in hash64_near_dup_pairs(df, "id", "h", 4).collect()
    }
    assert got4[(1, 2)] == 4 and got4[(2, 3)] == 4 and got4[(1, 3)] == 0
    got0 = {
        (r.id_a, r.id_b)
        for r in hash64_near_dup_pairs(df, "id", "h", 0).collect()
    }
    assert got0 == {(1, 3)}
    for bad in (-1, 64):
        with _pytest.raises(ValueError):
            hash64_near_dup_pairs(df, "id", "h", bad)

    # width 32 (the md5 SimHash twin): one flipped bit in each 8-bit
    # quarter defeats a fixed 4 x 8-bit split, never the derived one
    base32 = 0x0F0F0F0F
    rows32 = [
        (1, base32),
        (2, base32 ^ (1 << 4) ^ (1 << 12) ^ (1 << 20) ^ (1 << 28)),
        (3, base32),
    ]
    df32 = spark.createDataFrame(rows32, "id long, h long")
    got32 = {
        (r.id_a, r.id_b): r.hamming
        for r in hash64_near_dup_pairs(df32, "id", "h", 4, width=32).collect()
    }
    assert got32 == {(1, 2): 4, (2, 3): 4, (1, 3): 0}
    got32_0 = {
        (r.id_a, r.id_b)
        for r in hash64_near_dup_pairs(df32, "id", "h", 0, width=32).collect()
    }
    assert got32_0 == {(1, 3)}
    with _pytest.raises(ValueError):
        hash64_near_dup_pairs(df32, "id", "h", 32, width=32)


def test_audio_fingerprint_contract():
    """audio_fingerprint64: gain-invariant (loud-band threshold
    scales with the signal), stable under 8-bit requantization,
    discriminates distinct melodies, and rejects too-short clips.
    The PCM8 codec loop goes through the REAL decode_wav unsigned
    branch."""
    import numpy as np
    import pytest as _pytest

    from big_data_processing_spark.functions.multimodal import (
        audio_fingerprint64,
        decode_wav,
        wav_from_samples,
    )
    from big_data_processing_spark.functions.fixtures import (
        _afp_fixture,
        _afp_signal,
    )

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    h = {}
    for g in (0, 1, 5):
        for v in range(3):
            rate, samples = decode_wav(_afp_fixture(3 * g + v))
            h[(g, v)] = audio_fingerprint64(samples, rate)
    for g in (0, 1, 5):
        assert ham(h[(g, 0)], h[(g, 1)]) <= 5  # gain + dither
        assert ham(h[(g, 0)], h[(g, 2)]) <= 5  # 8-bit requantize
    assert ham(h[(0, 0)], h[(1, 0)]) >= 10
    assert ham(h[(0, 0)], h[(5, 0)]) >= 10
    # pure gain change is EXACTLY invariant
    x = _afp_signal(2)
    r, s = decode_wav(wav_from_samples(x))
    r2, s2 = decode_wav(wav_from_samples(0.25 * x))
    assert audio_fingerprint64(s, r) == audio_fingerprint64(s2, r2)
    # stereo mixes down; short clips raise
    stereo = np.stack([np.asarray(s), np.asarray(s)], axis=1)
    assert audio_fingerprint64(stereo, r) == audio_fingerprint64(s, r)
    with _pytest.raises(ValueError):
        audio_fingerprint64(np.zeros(10), 8000)


def test_mjpeg_avi_closed_loop():
    """Motion-JPEG AVI: decode_avi's MJPG branch must return exactly
    what standalone decode_jpeg yields per frame chunk, across
    qualities and dims — the closed loop the registered
    video_frame_features_mjpeg oracle is pinned on. Other compressed
    fourccs keep the honest NotImplementedError."""
    import struct

    import numpy as np
    import pytest as _pytest

    from big_data_processing_spark.functions.multimodal import (
        decode_avi,
        decode_jpeg,
        make_avi_mjpeg,
        make_jpeg,
    )

    for (w, h, nf, seed, q) in ((16, 16, 3, 7, 90), (24, 16, 4, 11, 60)):
        data = make_avi_mjpeg(w, h, nf, seed, quality=q)
        fps, frames = decode_avi(data)
        assert frames.shape == (nf, h, w, 3) and fps == 10.0
        y, x, c = np.mgrid[0:h, 0:w, 0:3]
        for f in range(nf):
            rgb = ((seed + 3 * x + 7 * y + 11 * c + 13 * f) % 256).astype(
                np.uint8
            )
            ref = decode_jpeg(make_jpeg(w, h, seed, raster=rgb, quality=q))
            assert (frames[f] == ref).all()

    # an unknown compressed fourcc still raises honestly
    data = make_avi_mjpeg(16, 16, 1, 1)
    bad = data.replace(b"MJPG", b"H264")
    with _pytest.raises(NotImplementedError):
        decode_avi(bad)


def test_fixture_media_worker_function_skips_plans(spark, monkeypatch):
    """The function fixture_media hands to mapInPandas must unpickle
    in a fresh interpreter without importing any plans module: one
    that did would load the whole query registry in every Python
    worker. Only module-level fixtures of functions/fixtures.py are
    accepted."""
    import os
    import pickle
    import subprocess
    import sys

    from pyspark import cloudpickle

    from big_data_processing_spark.functions.fixtures import (
        _jpeg_fixture,
        fixture_media,
    )
    from tests.conftest import SF0001

    captured = []
    monkeypatch.setattr(
        type(spark.range(1)),  # the session's concrete DataFrame class
        "mapInPandas",
        lambda self, fn, schema: captured.append((fn, schema)),
    )
    fixture_media(spark, SF0001, 3, _jpeg_fixture)
    (fn, schema), = captured
    assert schema == "media_id long, content binary"

    code = """
import pickle, sys
import pandas as pd
fn = pickle.loads(sys.stdin.buffer.read())
(out,) = fn(iter([pd.DataFrame({"doc_id": [0, 1, 2]})]))
plans = sorted(
    m for m in sys.modules if m.startswith("big_data_processing_spark.plans")
)
sys.stdout.buffer.write(pickle.dumps((out, plans)))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps(fn),
        capture_output=True,
        cwd=root,
        env={**os.environ, "PYTHONPATH": root},
        check=True,
    )
    out, plans = pickle.loads(proc.stdout)
    assert plans == []
    assert list(out["media_id"]) == [0, 1, 2]
    assert list(out["content"]) == [_jpeg_fixture(i) for i in range(3)]

    with pytest.raises(ValueError):
        fixture_media(spark, SF0001, 3, lambda i: b"")
