"""Baseline JPEG codec (operators/jpeg.py, pure-numpy ITU-T T.81): known-
answer and round-trip coverage, plus the image_features integration and the
honest error boundary for unsupported stream classes."""

import numpy as np
import pytest

from seronet_data_validator_spark.operators.jpeg import decode_jpeg, jpeg_bytes


def test_constant_image_roundtrip_exact():
    # a flat image is DC-only; at q=95 the DC quantizer step is small
    # enough that decode must reproduce the constant exactly
    img = np.full((24, 17, 3), 130, np.uint8)
    w, h, out = decode_jpeg(jpeg_bytes(img, quality=95))
    assert (w, h) == (17, 24)
    assert int(np.max(np.abs(out.astype(int) - 130))) == 0


@pytest.mark.parametrize("ss", ["4:4:4", "4:2:0"])
def test_gradient_roundtrip_tight(ss):
    x = np.linspace(0, 255, 64)
    grad = np.tile(x[None, :, None], (48, 1, 3)).astype(np.uint8)
    w, h, out = decode_jpeg(jpeg_bytes(grad, quality=90, subsampling=ss))
    assert (w, h) == (64, 48)
    err = np.abs(out.astype(int) - grad.astype(int))
    assert err.max() <= 2  # smooth content survives quantization


def test_grayscale_single_component():
    rng = np.random.default_rng(3)
    g = rng.integers(0, 255, (20, 31)).astype(np.uint8)
    w, h, out = decode_jpeg(jpeg_bytes(g, quality=95))
    assert (w, h) == (31, 20)
    assert out.shape == (20, 31, 3)
    # gray replicated to rgb, channels identical
    assert np.array_equal(out[:, :, 0], out[:, :, 1])
    err = np.abs(out[:, :, 0].astype(int) - g.astype(int))
    assert err.mean() < 3 and err.max() <= 12


def test_non_multiple_of_mcu_dimensions():
    # 13x11 at 4:2:0 forces edge padding on both axes and a crop on decode
    rng = np.random.default_rng(7)
    img = rng.integers(0, 255, (13, 11, 3)).astype(np.uint8)
    w, h, out = decode_jpeg(jpeg_bytes(img, quality=85, subsampling="4:2:0"))
    assert (w, h) == (11, 13) and out.shape == (13, 11, 3)


def test_unsupported_and_garbage_streams():
    img = np.full((8, 8, 3), 99, np.uint8)
    good = jpeg_bytes(img, quality=85)
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated entropy segment
    with pytest.raises(ValueError):
        decode_jpeg(b"\x00\x01not a jpeg")
    # arithmetic-coded frame (SOF9) is the explicit remaining boundary
    # (SOF2 progressive decodes natively since r5)
    arith = bytearray(good)
    idx = arith.find(b"\xff\xc0")
    arith[idx + 1] = 0xC9
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(arith))


def test_image_features_handles_jpeg(spark):
    from seronet_data_validator_spark.operators.multimodal import image_features

    img = np.full((16, 24, 3), 200, np.uint8)
    rows = [
        ("jpg444", bytearray(jpeg_bytes(img, quality=92))),
        ("jpg420", bytearray(jpeg_bytes(img, quality=92, subsampling="4:2:0"))),
        ("png", bytearray(b"\x89PNG\r\n\x1a\n fake")),
    ]
    df = spark.createDataFrame(rows, "item_id string, bytes binary")
    out = {r["item_id"]: r for r in image_features(df).collect()}
    for k in ("jpg444", "jpg420"):
        assert (out[k]["width"], out[k]["height"]) == (24, 16)
        assert abs(out[k]["mean_luma"] - 200.0) < 1.5
    assert out["png"]["width"] is None  # stub boundary intact


def test_fill_bytes_before_marker():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
    code; inject padding before DQT/SOF/SOS and decode must stay in sync."""
    img = np.full((16, 16, 3), 90, np.uint8)
    enc = jpeg_bytes(img, quality=95)
    # insert two 0xFF fill bytes before every marker after SOI
    out = bytearray(enc[:2])
    pos = 2
    while pos < len(enc):
        assert enc[pos] == 0xFF
        marker = enc[pos + 1]
        out += b"\xff\xff"
        if marker == 0xDA:  # SOS: copy the rest verbatim (entropy data)
            out += enc[pos:]
            break
        out += enc[pos : pos + 2]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2
            continue
        import struct as _s

        seglen = _s.unpack_from(">H", enc, pos + 2)[0]
        out += enc[pos + 2 : pos + 2 + seglen]
        pos += 2 + seglen
    w, h, dec = decode_jpeg(bytes(out))
    assert (w, h) == (16, 16)
    assert int(np.max(np.abs(dec.astype(int) - 90))) == 0


@pytest.mark.parametrize("interval", [1, 3, 7])
def test_restart_intervals_roundtrip(interval):
    """DRI/RSTn: the encoder emits restart markers every N MCUs with DC
    resets; the decoder resynchronizes and must reproduce the same pixels
    as the no-restart encoding of the same image."""
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (40, 56, 3), np.uint8)
    plain = decode_jpeg(jpeg_bytes(img, quality=90))
    rst = decode_jpeg(jpeg_bytes(img, quality=90, restart_interval=interval))
    assert plain[0:2] == rst[0:2]
    assert np.array_equal(plain[2], rst[2])
    # constant image stays exact through the restart path too
    flat = np.full((24, 24, 3), 77, np.uint8)
    _, _, out = decode_jpeg(jpeg_bytes(flat, quality=95, restart_interval=2))
    assert int(np.max(np.abs(out.astype(int) - 77))) == 0


def test_restart_interval_420_subsampling():
    rng = np.random.default_rng(22)
    img = rng.integers(0, 256, (33, 47, 3), np.uint8)
    plain = decode_jpeg(jpeg_bytes(img, quality=85, subsampling="4:2:0"))
    rst = decode_jpeg(
        jpeg_bytes(img, quality=85, subsampling="4:2:0", restart_interval=2)
    )
    assert np.array_equal(plain[2], rst[2])


def test_progressive_equals_baseline_pixels():
    """Progressive (SOF2) is a different entropy layout of the SAME
    quantized coefficients: decoded pixels must equal the baseline
    encoding bit-for-bit. Covers spectral selection, successive
    approximation (Al=1 first passes + refinements), EOB coding and the
    AC-refinement correction-bit protocol across shapes/subsampling."""
    from seronet_data_validator_spark.operators.jpeg import jpeg_bytes_progressive

    rng = np.random.default_rng(31)
    cases = [
        ((24, 24, 3), "4:4:4"),
        ((40, 56, 3), "4:4:4"),
        ((33, 47, 3), "4:2:0"),
        ((8, 8, 3), "4:4:4"),
    ]
    for dims, ss in cases:
        img = rng.integers(0, 256, dims, np.uint8)
        base = decode_jpeg(jpeg_bytes(img, quality=85, subsampling=ss))
        prog = decode_jpeg(jpeg_bytes_progressive(img, quality=85, subsampling=ss))
        assert base[0:2] == prog[0:2]
        assert np.array_equal(base[2], prog[2]), (dims, ss)
    gray = rng.integers(0, 256, (19, 23), np.uint8)
    assert np.array_equal(
        decode_jpeg(jpeg_bytes(gray, quality=90))[2],
        decode_jpeg(jpeg_bytes_progressive(gray, quality=90))[2],
    )


def test_progressive_constant_image_exact():
    from seronet_data_validator_spark.operators.jpeg import jpeg_bytes_progressive

    img = np.full((24, 17, 3), 130, np.uint8)
    w, h, out = decode_jpeg(jpeg_bytes_progressive(img, quality=95))
    assert (w, h) == (17, 24)
    assert int(np.max(np.abs(out.astype(int) - 130))) == 0
