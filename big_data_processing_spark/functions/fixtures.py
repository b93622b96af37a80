"""Deterministic media fixtures for the registered codec queries,
and :func:`fixture_media`, the one frame that turns a fixture into
``(media_id long, content binary)`` rows on the executors.

The by-reference pickling rule. Spark ships a ``mapInPandas``
function to its Python workers with cloudpickle. A module-level
function pickles BY REFERENCE, so unpickling it imports its module.
A fixture or kernel that lives in a ``plans/*`` module therefore
makes every fresh worker import the whole query registry
(``plans/__init__`` -> ``registry._load_all()``), including the
driver-side oracle-value computations (WebP encodes, pHash decodes,
...): measured at ~2.4 s per worker, which dominated the codec
queries' stage time (gif_frame_features: 23 s executorRunTime for
~1 ms of codec work per GIF).

:func:`fixture_media` keeps that crossing cheap in one place:

- its batch function is nested, so it pickles by value;
- it accepts only fixtures defined at module level here, which
  pickle by reference to this leaf module, so a worker imports this
  file and the codec modules the fixture calls, nothing more;
- its pyspark and catalog imports stay inside the function body, so
  a worker's import of this module stays light.

The plans modules import the fixtures back for their oracle-value
computations at registration.
"""

from __future__ import annotations


def fixture_media(spark, sf_dir: str, n_docs: int, fixture):
    """``(media_id long, content binary)`` for every ``doc_id <
    n_docs`` of the documents table, spread on doc_id, with
    ``content = fixture(doc_id)`` computed executor-side.

    ``fixture`` must be a module-level function of this module (see
    the module docstring); anything else raises ``ValueError``."""
    if getattr(fixture, "__module__", None) != __name__:
        raise ValueError(
            f"fixture {fixture!r} is not a function of {__name__}"
        )
    from pyspark.sql import functions as F

    from big_data_processing_spark.partitioning import spread
    from big_data_processing_spark.sources.catalog import load_table

    ids = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < n_docs),
        "doc_id",
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": pdf["doc_id"].map(lambda i: fixture(int(i))),
                }
            )

    return ids.mapInPandas(gen, schema="media_id long, content binary")


def _image_mix_fixture(i: int) -> bytes:
    """Mixed-format fixture by doc_id mod 5: P6 netpbm, RGB PNG,
    palette PNG, 24-bit BMP, and a JPEG magic with a junk body that
    no decoder accepts. Each format has distinct dims."""
    from big_data_processing_spark.functions.multimodal import (
        make_bmp,
        make_png,
        make_ppm,
    )

    f = i % 5
    if f == 0:
        return make_ppm(8, 6, seed=i)
    if f == 1:
        return make_png(9, 5, seed=i)
    if f == 2:
        return make_png(7, 5, seed=i, color_type=3)
    if f == 3:
        return make_bmp(6, 7, seed=i)
    return b"\xff\xd8\xff\xe0" + bytes(12)  # JFIF magic, junk body


def _png16_fixture(i: int) -> bytes:
    """16-bit PNG by doc_id parity: 8x6 gray or 7x5 RGB."""
    from big_data_processing_spark.functions.multimodal import make_png

    if i % 2 == 0:
        return make_png(8, 6, seed=i, color_type=0, depth=16)
    return make_png(7, 5, seed=i, color_type=2, depth=16)


def _png_interlaced_fixture(i: int) -> bytes:
    """PNG by doc_id mod 4: Adam7 RGB8 (13x11, every pass non-empty),
    Adam7 16-bit gray, Adam7 4-bit palette, and plain 2-bit gray."""
    from big_data_processing_spark.functions.multimodal import make_png

    f = i % 4
    if f == 0:
        return make_png(13, 11, seed=i, interlaced=True)
    if f == 1:
        return make_png(9, 7, seed=i, color_type=0, depth=16, interlaced=True)
    if f == 2:
        return make_png(9, 7, seed=i, color_type=3, depth=4, interlaced=True)
    return make_png(8, 6, seed=i, color_type=0, depth=2)


def _avi_fixture(i: int) -> bytes:
    """Uncompressed 24-bit AVI: (8 + i mod 5) x (6 + i mod 3) pixels,
    4 + i mod 3 frames."""
    from big_data_processing_spark.functions.multimodal import make_avi

    return make_avi(8 + i % 5, 6 + i % 3, 4 + i % 3, seed=i)


def _jpeg_fixture(i: int) -> bytes:
    """Deterministic JPEG fixture mix keyed by doc_id — one variant
    per structural decoder path: grayscale single-component, 4:2:0
    interleaved color, 4:4:4 at quality 100 (mathematically exact
    round-trip: all quant steps 1, DCT orthonormal), and odd-dims
    4:2:0 with DRI/RSTn restart intervals."""
    from big_data_processing_spark.functions.multimodal import make_jpeg

    f = i % 4
    if f == 0:
        return make_jpeg(24, 16, seed=i, grayscale=True, quality=90)
    if f == 1:
        return make_jpeg(24, 16, seed=i, quality=90)
    if f == 2:
        return make_jpeg(16, 16, seed=i, subsampling="4:4:4", quality=100)
    return make_jpeg(19, 13, seed=i, quality=75, restart_interval=2)


def _jpeg_prog_fixture(i: int) -> bytes:
    """Progressive-JPEG fixture mix keyed by doc_id — one variant
    per multi-scan decoder path: grayscale (single-component scans
    only), 4:2:0 interleaved-DC + per-component AC scans, 4:4:4 at
    quality 100 (coefficients reconstruct exactly through spectral
    selection + successive approximation, so the decoded raster
    equals the baseline encoding's), and odd-dims 4:2:0 with
    DRI/RSTn restarts inside every scan type."""
    from big_data_processing_spark.functions.multimodal import make_jpeg

    f = i % 4
    if f == 0:
        return make_jpeg(
            24, 16, seed=i, grayscale=True, quality=90, progressive=True
        )
    if f == 1:
        return make_jpeg(24, 16, seed=i, quality=85, progressive=True)
    if f == 2:
        return make_jpeg(
            16, 16, seed=i, subsampling="4:4:4", quality=100,
            progressive=True,
        )
    return make_jpeg(
        19, 13, seed=i, quality=75, restart_interval=2, progressive=True
    )


def _phash_fixture(i: int) -> bytes:
    """Image near-dup fixture mix: 32 texture groups × 3 variants —
    the lossless original (BMP), a quality-100 4:4:4 JPEG re-encode
    (the classic same-image-different-file near-dup), and a small
    local pixel edit (watermark/crop-class change). Measured dHash
    hamming: ≤ 2 within a group, ≥ 22 across groups at these
    texture params."""
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        bmp_from_raster,
        make_jpeg,
        texture_raster,
    )

    group, variant = i // 3, i % 3
    t = texture_raster(24, 16, group)
    if variant == 0:
        return bmp_from_raster(t)
    if variant == 1:
        return make_jpeg(
            24, 16, group, subsampling="4:4:4", quality=100, raster=t
        )
    t2 = t.astype(np.int16)
    t2[5:8, 9:12] += 4
    return bmp_from_raster(np.clip(t2, 0, 255).astype(np.uint8))


def _webp_fixture(i: int) -> bytes:
    """WebP-lossless fixture mix keyed by doc_id — one variant per
    VP8L bitstream family: plain literals, LZ77 + color cache,
    SUBTRACT_GREEN + per-block PREDICTOR (all 14 modes via the
    (bx+by) mod 14 schedule), cross-COLOR transform, bundled
    palettes at 2- and 4-bit packing, meta prefix-code groups, and
    an unbundled 8-bit palette — odd dims included."""
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        texture_raster,
    )
    from big_data_processing_spark.functions.webp import (
        make_webp_lossless,
    )

    f = i % 8
    if f in (0, 1, 2, 3, 6):
        t = texture_raster(21 if f == 3 else 24, 13 if f == 3 else 16, i)
        kw = (
            dict(),
            dict(use_lz77=True, cache_bits=5),
            dict(subtract_green=True, predictor=True, use_lz77=True,
                 cache_bits=4),
            dict(color_transform=True, subtract_green=True,
                 predictor=True),
            None,
            None,
            dict(meta_bits=2, use_lz77=True),
        )[f]
        return make_webp_lossless(t, **kw)
    ncol = {4: 12, 5: 3, 7: 40}[f]
    idx = (np.arange(16 * 20) * (i % 11 + 3)) % ncol
    pal = np.stack(
        [
            (np.arange(ncol) * 53 + i) % 256,
            (np.arange(ncol) * 97 + 2 * i) % 256,
            (np.arange(ncol) * 31 + 5 * i) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    return make_webp_lossless(
        pal[idx].reshape(16, 20, 3), palette=True
    )


def _afp_melodies(n_groups: int = 32) -> list[list[int]]:
    """32 deterministic 8-segment band melodies, greedily chosen so
    every pair differs in >= 5 segments (LCG high bits — the low
    bits of a power-of-two LCG cycle too fast to search with).
    Distinct melodies put the fingerprint's loud-band bits >= 10
    apart; re-renders of the SAME melody land at hamming 0."""
    out: list[list[int]] = []
    state = 12345

    def nxt() -> int:
        nonlocal state
        state = (state * 1103515245 + 12345) % (1 << 31)
        return state >> 16

    while len(out) < n_groups:
        cand = [nxt() % 8 for _ in range(8)]
        if all(
            sum(a != b for a, b in zip(cand, m)) >= 5 for m in out
        ):
            out.append(cand)
    return out


_AFP_SR = 8000


_AFP_N = 4096


def _afp_signal(g: int):
    """Group g's melody rendered as one 0.8-amplitude tone per
    segment, at the geometric center of its fingerprint band."""
    import numpy as np

    edges = np.geomspace(200.0, 3800.0, 9)
    centers = np.sqrt(edges[:-1] * edges[1:])
    t = np.arange(_AFP_N // 8) / _AFP_SR
    return np.concatenate([
        0.8 * np.sin(2 * np.pi * centers[b] * t + 0.2 * s)
        for s, b in enumerate(_afp_melodies()[g])
    ])


def _afp_fixture(i: int) -> bytes:
    """Audio near-dup fixture mix: 32 melodies × 3 renders — the
    original PCM16, a half-gain + deterministic-dither re-render
    (the classic same-master-different-level near-dup), and an
    8-bit requantized copy written as a REAL PCM8 WAV (a lossy
    codec loop through decode_wav's unsigned-8-bit branch)."""
    import numpy as np

    from big_data_processing_spark.functions.multimodal import (
        wav_from_samples,
    )

    g, variant = i // 3, i % 3
    x = _afp_signal(g)
    if variant == 0:
        return wav_from_samples(x, _AFP_SR)
    if variant == 1:
        dither = np.sin(np.arange(_AFP_N) * (g + 17) * 1.7) * 0.01
        return wav_from_samples(0.5 * x + dither, _AFP_SR)
    # PCM8: header for unsigned 8-bit mono
    import struct

    u8 = (
        np.round(np.clip(x, -1, 1) * 127) + 128
    ).astype(np.uint8).tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(u8)) + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, _AFP_SR, _AFP_SR, 1, 8)
        + b"data" + struct.pack("<I", len(u8)) + u8
    )


def _recompress_raster(g: int, w: int = 32, h: int = 24):
    """Sinusoid texture with seed-dependent FREQUENCY and phase —
    unlike the additive-seed quadratic textures (whose horizontal
    differences barely move with the seed), distinct (fx, fy) waves
    produce dHash sign grids ≥ 24 bits apart, giving the
    recompress audit an honest near/far gap to pin."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w].astype(np.float64)
    fx, fy = 1 + g % 4, 1 + (g // 4) % 4
    base = 128 + 96 * np.sin(
        2 * np.pi * (fx * x / w + fy * y / h) + 0.7 * g
    )
    chans = [np.clip(np.round(base + 8 * c), 0, 255) for c in range(3)]
    return np.stack(chans, axis=-1).astype(np.uint8)


def _recompress_fixture(i: int) -> bytes:
    """Codec-closed-loop fixture: group g = i // 3, kind = i % 3 —
    the lossless original (BMP), a REAL quality-85 baseline JPEG
    re-encode, and a REAL quality-85 PROGRESSIVE JPEG re-encode of
    the same raster. Unlike the phash fixture's quality-100 twin,
    these are LOSSY: the decoded pixels differ from the original,
    and the audit pins that the dHash signature still lands within
    a small hamming ball."""
    from big_data_processing_spark.functions.multimodal import (
        bmp_from_raster,
        make_jpeg,
    )

    g, kind = i // 3, i % 3
    t = _recompress_raster(g)
    if kind == 0:
        return bmp_from_raster(t)
    return make_jpeg(
        32, 24, g, subsampling="4:4:4", quality=85, raster=t,
        progressive=kind == 2,
    )


# (width, height, q_index, filter_level) per doc_id mod 6: spans
# quantizer decades, deblocking off/mid/max, odd dims, multi-MB grids
_VP8_VARIANTS = (
    (16, 16, 12, 0),
    (32, 32, 40, 0),
    (48, 40, 40, 24),
    (37, 23, 60, 12),
    (64, 32, 85, 63),
    (32, 48, 100, 40),
)


def _vp8_lossy_fixture(i: int) -> bytes:
    """Deterministic lossy-WebP stream for doc_id ``i``: a real VP8
    keyframe from the pure-python encoder (functions/vp8.py) over a
    texture raster, exercising intra 16x16 modes, the Y2 transform
    and the normal loop filter."""
    from big_data_processing_spark.functions.multimodal import (
        texture_raster,
    )
    from big_data_processing_spark.functions.vp8 import (
        _rgb_to_yuv420,
        encode_vp8,
    )

    w, h, q, fl = _VP8_VARIANTS[i % len(_VP8_VARIANTS)]
    y, u, v = _rgb_to_yuv420(texture_raster(w, h, i))
    data, _ = encode_vp8(y, u, v, q_index=q, filter_level=fl)
    return data


# (w, h, n_frames, quality) per doc_id mod 4
_MJPEG_VARIANTS = ((16, 16, 3, 90), (24, 16, 4, 75), (32, 24, 2, 95),
                   (20, 12, 3, 60))


def _mjpeg_fixture(i: int) -> bytes:
    from big_data_processing_spark.functions.multimodal import (
        make_avi_mjpeg,
    )

    w, h, nf, q = _MJPEG_VARIANTS[i % len(_MJPEG_VARIANTS)]
    return make_avi_mjpeg(w, h, nf, seed=i, quality=q)


def _gif_raster(w: int, h: int, seed: int, ncolors: int):
    """Closed-form paletted RGB raster (<= ncolors distinct colors)."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    idx = (seed + 3 * x + 7 * y) % ncolors
    i = np.arange(ncolors)
    pal = np.stack(
        [
            (seed + 5 * i) % 256,
            (seed + 11 * i) % 256,
            (seed + 23 * i) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)
    return pal[idx]


def _gif_fixture(i: int) -> bytes:
    """64 deterministic GIF streams cycling through the container's
    feature matrix by i mod 8: global palettes of 4/16/64/250
    colors, interlacing, GIF87a, per-frame LOCAL palettes, a
    transparent overlay frame, and a 3-frame animation (whose FIRST
    composited frame is what the static decode reports)."""
    from big_data_processing_spark.functions.gif import make_gif

    w, h = 16 + (i % 5) * 3, 12 + (i % 3) * 4
    v = i % 8
    if v == 0:
        return make_gif(_gif_raster(w, h, i, 16))
    if v == 1:
        return make_gif(_gif_raster(w, h, i, 64), interlace=True)
    if v == 2:
        return make_gif(_gif_raster(w, h, i, 4))
    if v == 3:
        return make_gif(_gif_raster(w, h, i, 250))
    if v == 4:
        return make_gif(_gif_raster(w, h, i, 16), version=b"GIF87a")
    if v == 5:
        return make_gif(
            [_gif_raster(w, h, i, 8), _gif_raster(w, h, i + 31, 12)],
            local_palettes=True,
        )
    if v == 6:
        base = _gif_raster(w, h, i, 8)
        overlay = base.copy()
        overlay[:, : w // 2] = (1, 2, 3)  # transparent half
        return make_gif(
            [base, overlay], transparent_color=(1, 2, 3)
        )
    return make_gif(
        [
            _gif_raster(w, h, i, 8),
            _gif_raster(w - 4, h - 4, i + 7, 8),
            _gif_raster(w - 8, h - 6, i + 13, 8),
        ],
        offsets=[(0, 0), (2, 2), (4, 3)],
        canvas=(w, h),
        disposal=[0, 2, 1],
        delays_cs=[5, 5, 5],
    )


def _gif_anim_fixture(i: int) -> bytes:
    """8 deterministic ANIMATED GIFs: 4 frames over a logical canvas
    with per-fixture disposal method (i mod 4), transparency for the
    upper half (i >= 4), NETSCAPE loop, per-frame delays."""
    from big_data_processing_spark.functions.gif import make_gif

    w, h = 20 + i, 14 + (i % 5)
    base = _gif_raster(w, h, i, 8)
    patches = [
        _gif_raster(6, 5, 30 + i + k, 8) for k in range(3)
    ]
    trans = None
    if i >= 4:
        trans = (1, 2, 3)
        for p in patches:
            p[:2, :] = trans  # top rows keep the canvas
    return make_gif(
        [base] + patches,
        offsets=[(0, 0), (2, 3), (9, 6), (13, 1)],
        canvas=(w, h),
        disposal=[0] + [i % 4] * 3,
        delays_cs=[4] * 4,
        transparent_color=trans,
        loop=0,
    )
