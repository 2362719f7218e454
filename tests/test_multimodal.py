"""Pure-stdlib PNG codec tests (multimodal/png.py): encode/decode round
trip, every scanline filter, palette expansion, bad input."""

from __future__ import annotations


def _rand_img(shape, seed):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=shape, dtype=np.uint16).astype("uint8")


def test_png_roundtrip_all_channel_counts():
    import numpy as np

    from variant_load_pipeline_spark.multimodal import png

    for shape in [(5, 7), (5, 7, 2), (9, 4, 3), (3, 3, 4), (1, 1, 3)]:
        img = _rand_img(shape, seed=sum(shape))
        back = png.decode_png(png.encode_png(img))
        want = img if img.ndim == 3 else img[:, :, None]
        assert back.shape == want.shape
        assert np.array_equal(back, want)


def _apply_filter(f, line, prev, channels):
    """Forward scanline filter per the PNG spec (encoder side), used to
    hand-build PNGs that exercise every decode filter."""
    out = bytearray(len(line))
    for x in range(len(line)):
        a = line[x - channels] if x >= channels else 0
        b = prev[x]
        c = prev[x - channels] if x >= channels else 0
        if f == 0:
            v = line[x]
        elif f == 1:
            v = line[x] - a
        elif f == 2:
            v = line[x] - b
        elif f == 3:
            v = line[x] - ((a + b) >> 1)
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            v = line[x] - pr
        out[x] = v & 0xFF
    return bytes(out)


def test_png_decode_all_filters():
    import struct
    import zlib

    import numpy as np

    from variant_load_pipeline_spark.multimodal import png

    img = _rand_img((5, 6, 3), seed=42)
    h, w, c = img.shape
    raw = bytearray()
    prev = bytes(w * c)
    for y in range(h):
        f = y % 5  # row 0 filter None, then Sub, Up, Average, Paeth
        line = img[y].tobytes()
        raw += bytes([f]) + _apply_filter(f, line, prev, c)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        png.PNG_SIGNATURE
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"IDAT", zlib.compress(bytes(raw)))
        + png._chunk(b"IEND", b"")
    )
    assert np.array_equal(png.decode_png(data), img)


def test_png_palette_decode():
    import struct
    import zlib

    import numpy as np

    from variant_load_pipeline_spark.multimodal import png

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(2))
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    data = (
        png.PNG_SIGNATURE
        + png._chunk(b"IHDR", ihdr)
        + png._chunk(b"PLTE", pal)
        + png._chunk(b"IDAT", zlib.compress(raw))
        + png._chunk(b"IEND", b"")
    )
    out = png.decode_png(data)
    assert out.shape == (2, 2, 3)
    assert list(out[0, 0]) == [255, 0, 0]
    assert list(out[0, 1]) == [0, 255, 0]
    assert list(out[1, 0]) == [0, 0, 255]


def test_png_decode_rejects_garbage():
    import pytest as _pytest

    from variant_load_pipeline_spark.multimodal import png

    with _pytest.raises(ValueError):
        png.decode_png(b"not a png at all")

