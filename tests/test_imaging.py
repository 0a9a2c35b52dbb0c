import numpy as np
import pytest

from pholcus_spark.imaging import (
    decode_image,
    decode_png,
    encode_png,
    hamming64,
    phash64,
    psnr,
    quantize,
    synth_pixels,
)


@pytest.fixture
def rng():
    return np.random.default_rng(42)


def test_png_roundtrip_bit_exact(rng):
    for w, h in [(32, 32), (64, 48), (17, 5)]:
        px = synth_pixels(rng, w, h)
        assert px.shape == (h, w, 3)
        decoded = decode_png(encode_png(px))
        assert decoded.dtype == np.uint8
        np.testing.assert_array_equal(decoded, px)


def test_png_all_filter_types_decode():
    # zlib output from our encoder uses filter 0; build filtered variants
    # manually to cover the unfilter paths (types 1-4)
    import struct
    import zlib

    from pholcus_spark.imaging import _PNG_SIG, _chunk

    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
    h, w, _ = px.shape
    stride = w * 3
    prev = np.zeros(stride, np.int32)
    raws = []
    for y, ftype in zip(range(h), [1, 2, 3, 4]):
        cur = px[y].reshape(-1).astype(np.int32)
        line = np.zeros(stride, np.int32)
        for x in range(stride):
            a = cur[x - 3] if x >= 3 else 0
            b = prev[x]
            c = prev[x - 3] if x >= 3 else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[x] = (cur[x] - pred) & 0xFF
        raws.append(bytes([ftype]) + line.astype(np.uint8).tobytes())
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(raws)))
        + _chunk(b"IEND", b"")
    )
    np.testing.assert_array_equal(decode_png(data), px)


def test_quantize_psnr_in_lossy_band(rng):
    px = synth_pixels(rng, 128, 128)
    q = quantize(px, step=4)
    val = psnr(px, q)
    assert 40.0 <= val < float("inf")
    assert not np.array_equal(px, q)


def test_psnr_identical_is_inf(rng):
    px = synth_pixels(rng, 32, 32)
    assert psnr(px, px) == float("inf")


def test_phash_stability_and_sensitivity(rng):
    px = synth_pixels(rng, 128, 128)
    h0 = phash64(px)
    assert -(1 << 63) <= h0 < (1 << 63)
    # quantization barely moves the hash
    assert hamming64(h0, phash64(quantize(px, 4))) <= 4
    # a different image is far away
    other = synth_pixels(np.random.default_rng(999), 128, 128)
    assert hamming64(h0, phash64(other)) > 10


def test_jpeg_stub_without_pil():
    from pholcus_spark import imaging

    if imaging.HAS_PIL:
        pytest.skip("Pillow present; stub path not reachable")
    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff", "jpeg")


def test_validate_udf_phash_exact_beside_a_bad_row(spark):
    """One undecodable image in an Arrow batch must not change the
    other rows' phash (a None in a plain int column makes it float64,
    which rounds 64-bit hashes), and the UDF and the python image sink
    agree row for row."""
    import pandas as pd

    from pholcus_spark.validate import make_image_sink_kernel, validate_image_udf

    rng = np.random.default_rng(3)
    pxs = [synth_pixels(rng, 32, 32) for _ in range(8)]
    rows = [(f"http://h.test/img/{i}.png", bytearray(encode_png(px)), "image/png")
            for i, px in enumerate(pxs)]
    rows.append(("http://h.test/img/bad.png", bytearray(b"garbage"), "image/png"))
    df = spark.createDataFrame(rows, "url string, body binary, ct string").coalesce(1)
    got = {
        r.url: r.v
        for r in df.select("url", validate_image_udf("body", "ct", "url").alias("v"))
        .collect()
    }
    for (url, _b, _c), px in zip(rows, pxs):
        assert (got[url].w, got[url].h, got[url].phash, got[url].ok) == (
            32, 32, phash64(px), True
        )
    bad = got["http://h.test/img/bad.png"]
    assert (bad.w, bad.phash, bad.ok) == (None, None, False) and bad.error

    grp = pd.DataFrame(
        {"body": [bytes(b) for _u, b, _c in rows], "content_type": "image/png",
         "url": [u for u, _b, _c in rows], "temp": None, "parent_url": ""}
    )
    _manifest, sink = make_image_sink_kernel(1)(grp)
    for rec in sink.itertuples():
        v = got[rec.url]
        assert (rec.valid, rec.error) == (v.ok, v.error)
        if v.ok:
            assert (rec.w, rec.h, rec.phash) == (v.w, v.h, v.phash)
