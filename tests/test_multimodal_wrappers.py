"""The Arrow-batch wrappers of ``operators/multimodal.py``.

Byte pins: every ``encode_*_assets`` wrapper is a thin Spark shell around
a scalar codec kernel, so its ``content`` column must equal the direct
kernel call on the same row, byte for byte. Each case runs a wrapper over
a few small ids (with and without its optional columns), compares every
row against the scalar call, and checks that an empty input yields zero
rows under the declared ``(asset_id, content)`` schema.

Also here: the guard that every wrapper goes through the one
``_map_assets`` entry point, and the shared GIF first-frame walker's
palette check.
"""

from __future__ import annotations

import ast
import os
import struct

import numpy as np
import pytest

from pipes_spark.operators import multimodal as mm

IDS = (1, 2, 5)


def _lattice(i, w, h):
    """The per-pixel lattice the lossless encoders draw."""
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    return ((i * 7 + x * 11 + y * 13) % 256).astype(np.uint8)


def _gray_rgb(i, w, h):
    return np.stack([mm.jpeg_block_gray(i, w, h)] * 3, axis=2)


def _flac_signal(i, n):
    return ((np.arange(n, dtype=np.int64) + i) * 2557) % 65536 - 32768


def _exif_jpeg(i):
    tags0 = [
        (271, 2, f"maker_{i % 5}"),
        (272, 2, f"model_{i % 7}"),
        (274, 3, [i % 8 + 1]),
        (306, 2, f"2021:{i % 12 + 1:02d}:{i % 28 + 1:02d} 10:30:{i % 60:02d}"),
        (282, 5, [(72 + (i % 4) * 72, 1)]),
    ]
    exif_tags = [
        (33434, 5, [(1, 60 + i % 200)]),
        (34855, 3, [100 * (1 + i % 8)]),
        (40962, 4, [8]),
        (40963, 4, [8]),
    ]
    base = mm.jpeg_encode_gray(np.full((8, 8), i % 256, np.uint8))
    order = "II" if i % 2 == 0 else "MM"
    return mm.jpeg_with_exif(base, mm.exif_app1_payload(tags0, exif_tags, order))


def _subtitle(i, nc):
    cues = [
        (i * 1000 + c * 2000, i * 1000 + c * 2000 + 1500 + (c % 3) * 200, f"cue {i}_{c}")
        for c in range(nc)
    ]
    return mm.srt_render(cues) if i % 2 == 0 else mm.vtt_render(cues)


def _pixel_asset(s, dlt, codec, width=64, height=64):
    p = np.arange(width * height, dtype=np.int64)
    hits = (p % 331 == 0).astype(np.int64)
    v = (s * 2557 + p * (31 + 2 * (s % 13)) + dlt * hits) % 256
    return mm.encode_pixels(v.astype(np.uint8).reshape(height, width), codec)


def _flac_tagged(i, ns):
    raw = mm.flac_encode_pcm16(_flac_signal(i, ns), 16000, block_size=192)
    tags = [("TITLE", f"doc_{i}"), ("ARTIST", f"artist_{i % 7}"), ("TRACKNUMBER", str(i % 12 + 1))]
    return mm.flac_add_metadata(raw, tags=tags, seek_every=1, padding=16)


# (case id, wrapper, input DDL, row builder over the id, wrapper kwargs,
#  scalar oracle over the same row)
CASES = [
    ("png", "encode_png_assets", "doc_id bigint, width int, height int",
     lambda i: (i, i + 3, 2 * i + 1), {},
     lambda i, w, h: mm.png_encode_gray(i, w, h)),
    ("gif", "encode_gif_assets", "doc_id bigint, width int, height int",
     lambda i: (i, i + 3, 2 * i + 1), {},
     lambda i, w, h: mm.gif_encode_gray(i, w, h, False)),
    ("gif_interlaced", "encode_gif_assets", "doc_id bigint, width int, height int, il boolean",
     lambda i: (i, i + 3, 2 * i + 5, i % 2 == 1), {"interlace_col": "il"},
     lambda i, w, h, il: mm.gif_encode_gray(i, w, h, il)),
    ("jpeg", "encode_jpeg_assets", "doc_id bigint, width int, height int",
     lambda i: (i, 8 * i + 3, 9), {},
     lambda i, w, h: mm.jpeg_encode_gray(mm.jpeg_block_gray(i, w, h))),
    ("jpeg_restart", "encode_jpeg_assets", "doc_id bigint, width int, height int, ri int",
     lambda i: (i, 8 * i + 3, 9, i % 3), {"restart_col": "ri"},
     lambda i, w, h, r: mm.jpeg_encode_gray(mm.jpeg_block_gray(i, w, h), restart_interval=r)),
    ("jpeg_optimize", "encode_jpeg_assets", "doc_id bigint, width int, height int, opt boolean",
     lambda i: (i, 8 * i + 3, 9, i != 2), {"optimize_col": "opt"},
     lambda i, w, h, o: mm.jpeg_encode_gray(mm.jpeg_block_gray(i, w, h), optimize_huffman=o)),
    ("jpeg_restart_optimize", "encode_jpeg_assets",
     "doc_id bigint, width int, height int, ri int, opt boolean",
     lambda i: (i, 8 * i + 3, 9, i % 3, i != 2), {"restart_col": "ri", "optimize_col": "opt"},
     lambda i, w, h, r, o: mm.jpeg_encode_gray(
         mm.jpeg_block_gray(i, w, h), restart_interval=r, optimize_huffman=o)),
    ("wav_g711", "encode_wav_g711_assets",
     "doc_id bigint, n_samples int, sample_rate int, law string",
     lambda i: (i, 40 * i + 20, 8000, "ulaw" if i % 2 == 0 else "alaw"), {},
     lambda i, n, r, lw: mm.wav_encode_g711(i, n, r, lw)),
    ("aiff", "encode_aiff_assets", "doc_id bigint, n_samples int, sample_rate int, channels int",
     lambda i: (i, 40 * i + 20, 11025, i % 2 + 1), {},
     lambda i, n, r, c: mm.aiff_encode_pcm16(i, n, r, c)),
    ("wav_depth", "encode_wav_depth_assets",
     "doc_id bigint, n_samples int, sample_rate int, bits int",
     lambda i: (i, 40 * i + 20, 16000, (8, 16, 24, 32)[i % 4]), {},
     lambda i, n, r, b: mm.wav_encode_pcm_depth(i, n, r, b)),
    ("wav_adpcm", "encode_wav_adpcm_assets",
     "doc_id bigint, n_samples int, sample_rate int, codec string",
     lambda i: (i, 40 * i + 65, 8000, "ima" if i % 2 == 0 else "ms"), {},
     lambda i, n, r, c: mm.wav_encode_adpcm(i, n, r, c)),
    ("wav", "encode_wav_assets", "doc_id bigint, n_samples int, sample_rate int",
     lambda i: (i, 40 * i + 20, 8000), {},
     lambda i, n, r: mm.wav_encode_pcm16(i, n, r, 1)),
    ("wav_channels", "encode_wav_assets", "doc_id bigint, n_samples int, sample_rate int, ch int",
     lambda i: (i, 40 * i + 20, 8000, i % 2 + 1), {"channels_col": "ch"},
     lambda i, n, r, c: mm.wav_encode_pcm16(i, n, r, c)),
    ("avi_rle8", "encode_avi_rle8_assets", "doc_id bigint, width int, height int, n_frames int",
     lambda i: (i, i + 16, i + 8, i % 3 + 2), {},
     lambda i, w, h, nf: mm.avi_rle8_encode(i, w, h, nf)),
    ("avi", "encode_avi_assets", "doc_id bigint, width int, height int, n_frames int",
     lambda i: (i, 8 * i, 8, i % 3 + 1), {},
     lambda i, w, h, nf: mm.avi_mjpeg_encode(i, w, h, nf)),
    ("avi_dib", "encode_avi_dib_assets", "doc_id bigint, width int, height int, n_frames int",
     lambda i: (i, i + 5, i + 3, i % 3 + 1), {},
     lambda i, w, h, nf: mm.avi_dib_encode(i, w, h, nf)),
    ("gif_animation", "encode_gif_animation_assets",
     "doc_id bigint, width int, height int, n_frames int",
     lambda i: (i, i + 16, i + 10, i % 3 + 2), {},
     lambda i, w, h, nf: mm.gif_encode_animation(i, w, h, nf)),
    ("bmp", "encode_bmp_assets", "doc_id bigint, width int, height int, bpp int, topdown boolean",
     lambda i: (i, i + 16, i + 8, 8 if i % 2 == 0 else 24, i == 5), {},
     lambda i, w, h, p, t: mm.bmp_encode(i, w, h, p, t)),
    ("tiff", "encode_tiff_assets",
     "doc_id bigint, width int, height int, byte_order string, compression int, photometric int",
     lambda i: (i, i + 16, i + 8, "II" if i % 2 == 0 else "MM", (1, 32773, 5)[i % 3], i % 2), {},
     lambda i, w, h, o, c, p: mm.tiff_encode_gray(i, w, h, o, c, p)),
    ("jpeg_hierarchical", "encode_jpeg_hierarchical_assets",
     "doc_id bigint, width int, height int",
     lambda i: (i, i + 16, i + 8), {},
     lambda i, w, h: mm.jpeg_encode_hierarchical(_lattice(i, w, h))),
    ("jpeg_lossless", "encode_jpeg_lossless_assets",
     "doc_id bigint, width int, height int, predictor int, point_transform int",
     lambda i: (i, i + 16, i + 8, i % 7 + 1, i % 2), {},
     lambda i, w, h, pr, pt: mm.jpeg_encode_lossless(_lattice(i, w, h), pr, pt)),
    ("exif_jpeg", "encode_exif_jpeg_assets", "doc_id bigint",
     lambda i: (i,), {},
     lambda i: _exif_jpeg(i)),
    ("png_filtered", "encode_png_filtered_assets",
     "doc_id bigint, width int, height int, filter_mode string, interlaced boolean",
     lambda i: (i, i + 16, i + 8, ("0", "4", "adaptive")[i % 3], i % 2 == 1), {},
     lambda i, w, h, m, il: mm.png_encode_filtered(_lattice(i, w, h), m, il)),
    ("subtitle", "encode_subtitle_assets", "doc_id bigint, n_cues int",
     lambda i: (i, i % 4 + 1), {},
     lambda i, nc: _subtitle(i, nc)),
    ("image", "encode_image_assets", "doc_id bigint, width int, height int, codec string",
     lambda i: (i, 8 * i, 16, ("png", "gif", "jpeg")[i % 3]), {},
     lambda i, w, h, c: mm.encode_pixels(mm.block_gray_lattice(i, w, h), c)),
    ("image_seeded", "encode_image_assets",
     "doc_id bigint, width int, height int, codec string, seed bigint",
     lambda i: (i, 8 * i, 16, ("png", "gif", "jpeg")[i % 3], i // 2),
     {"seed_col": "seed", "seed_mul": 37, "cell_mul": 5},
     lambda i, w, h, c, s: mm.encode_pixels(mm.block_gray_lattice(s, w, h, 37, 5), c)),
    ("pixel", "encode_pixel_assets", "doc_id bigint, seed bigint, delta int, codec string",
     lambda i: (i, i // 2, 13 * (i % 2), "png" if i % 2 == 0 else "gif"), {},
     lambda i, s, d, c: _pixel_asset(s, d, c)),
    ("jpeg_color", "encode_jpeg_color_assets",
     "doc_id bigint, width int, height int, subsample string",
     lambda i: (i, i + 9, 2 * i + 3, "420" if i % 2 == 0 else "444"), {},
     lambda i, w, h, s: mm.jpeg_encode_color(_gray_rgb(i, w, h), s)),
    ("jpeg_progressive", "encode_jpeg_progressive_assets", "doc_id bigint, width int, height int",
     lambda i: (i, i + 9, 2 * i + 3), {},
     lambda i, w, h: mm.jpeg_encode_progressive(mm.jpeg_block_gray(i, w, h))),
    ("jpeg_progressive_deep", "encode_jpeg_progressive_assets",
     "doc_id bigint, width int, height int, deep boolean",
     lambda i: (i, i + 9, 2 * i + 3, i % 2 == 1), {"deep_col": "deep"},
     lambda i, w, h, d: mm.jpeg_encode_progressive(
         mm.jpeg_block_gray(i, w, h), **({"scans": mm._JPEG_PROG_DEEP_SCANS} if d else {}))),
    ("jpeg_progressive_color", "encode_jpeg_progressive_color_assets",
     "doc_id bigint, width int, height int, subsample string",
     lambda i: (i, i + 9, 2 * i + 3, ("420", "422", "444")[i % 3]), {},
     lambda i, w, h, s: mm.jpeg_encode_progressive_color(_gray_rgb(i, w, h), s)),
    ("jpeg_progressive_color_deep", "encode_jpeg_progressive_color_assets",
     "doc_id bigint, width int, height int, subsample string, deep boolean",
     lambda i: (i, i + 9, 2 * i + 3, ("420", "422", "444")[i % 3], i % 2 == 1),
     {"deep_col": "deep"},
     lambda i, w, h, s, d: mm.jpeg_encode_progressive_color(
         _gray_rgb(i, w, h), s, **({"scans": mm._JPEG_PROG_COLOR_DEEP_SCANS} if d else {}))),
    ("jpeg_arith", "encode_jpeg_arith_assets", "doc_id bigint, width int, height int",
     lambda i: (i, i + 9, 2 * i + 3), {},
     lambda i, w, h: mm.jpeg_encode_arith(mm.jpeg_block_gray(i, w, h))),
    ("jpeg_arith_restart", "encode_jpeg_arith_assets",
     "doc_id bigint, width int, height int, ri int",
     lambda i: (i, i + 9, 2 * i + 3, i % 4), {"restart_col": "ri"},
     lambda i, w, h, r: mm.jpeg_encode_arith(mm.jpeg_block_gray(i, w, h), restart_interval=r)),
    ("jpeg_arith_kx", "encode_jpeg_arith_assets", "doc_id bigint, width int, height int, kx int",
     lambda i: (i, i + 9, 2 * i + 3, i % 9 + 1), {"kx_col": "kx"},
     lambda i, w, h, k: mm.jpeg_encode_arith(mm.jpeg_block_gray(i, w, h), ac_kx=k)),
    ("jpeg_arith_restart_kx", "encode_jpeg_arith_assets",
     "doc_id bigint, width int, height int, ri int, kx int",
     lambda i: (i, i + 9, 2 * i + 3, i % 4, i % 9 + 1), {"restart_col": "ri", "kx_col": "kx"},
     lambda i, w, h, r, k: mm.jpeg_encode_arith(
         mm.jpeg_block_gray(i, w, h), restart_interval=r, ac_kx=k)),
    ("flac", "encode_flac_assets", "doc_id bigint, n_samples int, sample_rate int, channels int",
     lambda i: (i, 50 * i + 30, 16000, i % 2 + 1), {},
     lambda i, n, r, c: mm.flac_encode_pcm16(
         _flac_signal(i, n * c), r, channels=c, block_size=192)),
    ("flac_mode_block", "encode_flac_assets",
     "doc_id bigint, n_samples int, sample_rate int, channels int, mode string, bs int",
     lambda i: (i, 50 * i + 30, 16000, 2,
                ("left_side", "mid_side", "right_side")[i % 3], (100, 576)[i % 2]),
     {"mode_col": "mode", "block_col": "bs"},
     lambda i, n, r, c, m, bs: mm.flac_encode_pcm16(
         _flac_signal(i, n * c), r, channels=c, block_size=bs, stereo_mode=m)),
    ("flv_screen", "encode_flv_screen_assets",
     "doc_id bigint, width int, height int, n_frames int",
     lambda i: (i, i + 8, 2 * i + 8, i % 5 + 2), {},
     lambda i, w, h, n: mm.flv_screen_encode(mm.flv_screen_block_frames(i, w, h, n))),
    ("flac_tagged", "encode_flac_tagged_assets", "doc_id bigint, n_samples int",
     lambda i: (i, 50 * i + 120), {},
     lambda i, ns: _flac_tagged(i, ns)),
]


def test_cases_cover_every_encoder_wrapper():
    wrappers = {
        n for n in dir(mm)
        if n.startswith("encode_") and n.endswith("_assets") and callable(getattr(mm, n))
    }
    assert {c[1] for c in CASES} == wrappers
    assert len(wrappers) == 28


@pytest.mark.parametrize("case", CASES, ids=[c[0] for c in CASES])
def test_encoder_wrapper_bytes_match_kernel(spark, case):
    _cid, name, ddl, make_row, kwargs, oracle = case
    wrapper = getattr(mm, name)
    rows = [make_row(i) for i in IDS]
    out = wrapper(spark.createDataFrame(rows, ddl), **kwargs)
    kind = "string" if name == "encode_subtitle_assets" else "binary"
    assert out.dtypes == [("asset_id", "bigint"), ("content", kind)]
    got = {r["asset_id"]: r["content"] for r in out.collect()}
    assert sorted(got) == list(IDS)
    for row in rows:
        want = oracle(*row)
        assert got[row[0]] == (want if kind == "string" else bytes(want)), row

    empty = wrapper(spark.createDataFrame([], ddl), **kwargs)
    assert empty.dtypes == out.dtypes
    assert empty.collect() == []


def test_one_arrow_batch_entry_point():
    """Every Arrow-batch wrapper routes through ``_map_assets``: the
    module holds exactly one ``mapInPandas(`` call, inside that helper,
    and no per-wrapper ``def gen(`` scaffolding."""
    path = os.path.join(os.path.dirname(mm.__file__), "multimodal.py")
    src = open(path).read()
    assert src.count("mapInPandas(") == 1
    assert "def gen(" not in src
    (helper,) = [
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "_map_assets"
    ]
    assert "mapInPandas(" in ast.get_source_segment(src, helper)


def test_gif_index_beyond_palette_raises_value_error():
    """A GIF whose 2-entry global color table is indexed at 3 is corrupt:
    the first-frame walker behind gif_decode_gray and decode_asset_values
    must say so with the documented ValueError, not an IndexError."""
    w, h = 2, 2
    b = bytearray(b"GIF89a")
    b += struct.pack("<HHBBB", w, h, 0x80, 0, 0)  # GCT of 2 entries
    b += bytes([0, 0, 0, 255, 255, 255])
    b += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    b.append(2)  # LZW min code size 2 codes indices 0..3
    lzw = mm._gif_lzw_encode(bytes([0, 1, 3, 1]), 2)
    b.append(len(lzw))
    b += lzw
    b += b"\x00\x3b"
    with pytest.raises(ValueError, match="index beyond palette"):
        mm.gif_decode_gray(bytes(b))
    with pytest.raises(ValueError, match="index beyond palette"):
        mm.decode_asset_values(bytes(b))
