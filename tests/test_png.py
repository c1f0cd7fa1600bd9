"""operators/png.py — the stdlib PNG codec behind the real (non-fake)
multimodal decode path. Planted-image properties: roundtrip identity,
color→luma, all five scanline filters, resize invariants, and the
end-to-end Spark queries running fake=False with no imaging library."""

from __future__ import annotations

import struct
import zlib

import pytest

from ibd_pipeline_spark.operators import png as P


def _gradient(w, h):
    return bytes((x * 255) // max(w - 1, 1) for y in range(h) for x in range(w))


def test_gray_roundtrip_identity():
    w, h = 23, 17
    px = _gradient(w, h)
    blob = P.encode_png_gray(w, h, px)
    assert P.is_png(blob)
    dw, dh, got = P.decode_png_gray(blob)
    assert (dw, dh) == (w, h)
    assert got == px


def test_rgb_and_rgba_luma():
    w, h = 8, 4
    # solid color (200, 100, 50): BT.601 integer luma
    lum = (299 * 200 + 587 * 100 + 114 * 50) // 1000
    rgb = bytes([200, 100, 50] * (w * h))
    _, _, g = P.decode_png_gray(P.encode_png(w, h, rgb, color_type=2))
    assert set(g) == {lum}
    rgba = bytes([200, 100, 50, 255] * (w * h))
    _, _, g4 = P.decode_png_gray(P.encode_png(w, h, rgba, color_type=6))
    assert set(g4) == {lum}


def test_gray_alpha_channel():
    w, h = 5, 5
    ga = bytes(b for v in _gradient(w, h) for b in (v, 255))
    _, _, g = P.decode_png_gray(P.encode_png(w, h, ga, color_type=4))
    assert g == _gradient(w, h)


def _chunk(kind, data):
    return (
        struct.pack(">I", len(data))
        + kind
        + data
        + struct.pack(">I", zlib.crc32(kind + data) & 0xFFFFFFFF)
    )


def _forward_filter(px, w, h, f):
    """Apply PNG forward filter `f` to every row of a grayscale plane
    (the encoder's side of spec §9, reimplemented independently)."""
    out = bytearray()
    for y in range(h):
        row = px[y * w : (y + 1) * w]
        prev = px[(y - 1) * w : y * w] if y else bytes(w)
        out.append(f)
        for x in range(w):
            left = row[x - 1] if x else 0
            up = prev[x]
            ul = prev[x - 1] if (x and y) else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - left
            elif f == 2:
                v = row[x] - up
            elif f == 3:
                v = row[x] - ((left + up) >> 1)
            else:
                v = row[x] - P._paeth(left, up, ul)
            out.append(v & 0xFF)
    return bytes(out)


@pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
def test_all_scanline_filters_reconstruct(f):
    w, h = 11, 7
    px = bytes((x * 31 + y * 57) % 256 for y in range(h) for x in range(w))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(_forward_filter(px, w, h, f)))
        + _chunk(b"IEND", b"")
    )
    dw, dh, got = P.decode_png_gray(blob)
    assert (dw, dh, got) == (w, h, px)


def test_unsupported_variants_raise():
    with pytest.raises(ValueError, match="signature"):
        P.decode_png_gray(b"\xff\xd8\xff\x00" * 4)
    ihdr16 = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    blob = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr16)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="bit depth"):
        P.decode_png_gray(blob)
    ihdr_i = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
    blob_i = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr_i)
        + _chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="interlace"):
        P.decode_png_gray(blob_i)


def test_resize_invariants():
    w, h = 16, 12
    const = bytes([77]) * (w * h)
    up = P.resize_nearest(const, w, h, 50, 40)
    assert set(up) == {77} and len(up) == 50 * 40
    grad = _gradient(w, h)
    down = P.resize_nearest(grad, w, h, 4, 3)
    # corners map to corners (left edge 0, right edge near 255)
    assert down[0] == grad[0]
    assert down[3] == grad[(3 * w) // 4]


def test_decode_image_real_no_pillow():
    """decode_image(fake=False) works on PNG bytes with no imaging
    library: known mean for a constant image, zero edges."""
    from ibd_pipeline_spark.operators import multimodal as M

    blob = P.encode_png_gray(8, 8, bytes([128]) * 64)
    d = M.decode_image(blob, fake=False)
    assert abs(d["mean_luma"] - 128 / 255) < 1e-9
    assert d["edge_score"] == 0.0
    grad = P.encode_png_gray(16, 2, _gradient(16, 2))
    dg = M.decode_image(grad, fake=False)
    assert dg["edge_score"] > 0.0


def test_spark_real_decode_and_resize(spark):
    """The registry queries' shape: synthesized real-PNG assets run
    extract_features and resize_images with fake=False in-container."""
    from ibd_pipeline_spark.operators import multimodal as M

    assets = M.asset_table(spark, M.image_asset_rows, n=12)
    feats = M.extract_features(assets, fake_decode=False).collect()
    assert len(feats) == 12
    assert all(0.0 <= float(r["feat_mean"]) <= 1.0 for r in feats)
    # determinism across fresh evaluations
    again = M.extract_features(
        M.asset_table(spark, M.image_asset_rows, n=12), fake_decode=False
    ).collect()
    assert {(r["asset_id"], r["feat_mean"]) for r in feats} == {
        (r["asset_id"], r["feat_mean"]) for r in again
    }
    resized = M.resize_images(assets, 32, 24, fake=False).collect()
    assert len(resized) == 12
    for r in resized:
        dw, dh, gray = P.decode_png_gray(bytes(r["content"]))
        assert (dw, dh) == (32, 24) and len(gray) == 32 * 24


def test_image_entropy_known_values():
    """Pure-function entropy contract (no Spark): a constant image has
    H = 0 with one occupied level; a 256-level uniform ramp has
    H = ln 256; counts match the pixel geometry."""
    from math import log

    from ibd_pipeline_spark.operators.multimodal import image_entropy
    from ibd_pipeline_spark.operators.png import encode_png_gray

    flat = encode_png_gray(16, 8, bytes([77] * 128))
    n, levels, ent = image_entropy(flat)
    assert (n, levels, ent) == (128, 1, 0.0)

    ramp = encode_png_gray(256, 1, bytes(range(256)))
    n, levels, ent = image_entropy(ramp)
    assert (n, levels) == (256, 256)
    assert abs(ent - log(256)) < 1e-8
