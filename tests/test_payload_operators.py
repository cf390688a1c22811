"""The image, video and compression-ratio passes over the shared Arrow row
pass (operators/arrow_rows._decoded_map): one edge fixture per container
path, the rows each pass gives on it, and the id column named after
``id_col``.

``image_fixtures``, ``video_fixtures`` and ``text_fixtures`` are also the
inputs of the payload-operator parity check in the verify notes."""

import struct

import numpy as np
import pytest

from seronet_data_validator_spark.operators.jpeg import jpeg_bytes, jpeg_bytes_progressive
from seronet_data_validator_spark.operators.multimodal import (
    avi_dib_bytes,
    avi_mjpeg_bytes,
    bmp_bytes,
    image_basic_features_exact,
    image_features,
    ppm_bytes,
    video_frames,
    y4m_bytes,
)
from seronet_data_validator_spark.operators.png import png_bytes
from seronet_data_validator_spark.operators.text import compression_ratio

_RGB = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3) * 2


def _top_down_bmp(rgb: np.ndarray) -> bytes:
    """``bmp_bytes`` with a negative height and its rows in top-down order."""
    b = bytearray(bmp_bytes(rgb[::-1]))
    struct.pack_into("<i", b, 22, -rgb.shape[0])
    return bytes(b)


def image_fixtures() -> list[tuple[str, bytes | None]]:
    """(item_id, payload) for every image path: decodable, failing and empty."""
    gray = _RGB[:, :, 0]
    return [
        ("ppm", ppm_bytes(_RGB)),
        ("pgm", b"P5\n6 4\n255\n" + gray.tobytes()),
        ("bmp_bottom_up", bmp_bytes(_RGB)),
        ("bmp_top_down", _top_down_bmp(_RGB)),
        ("jpeg", jpeg_bytes(_RGB, quality=90)),
        ("jpeg_progressive", jpeg_bytes_progressive(_RGB, quality=90)),
        ("png", png_bytes(_RGB)),
        ("unknown", b"GIF89a not decoded here"),
        ("null", None),
        ("empty", b""),
        ("zero_px", b"P6\n0 0\n255\n"),
    ]


def _short_first_frame(avi: bytes) -> bytes:
    """A DIB AVI whose first '00db' chunk lost its last 4 bytes (RIFF and
    'movi' sizes kept consistent), so that frame is too short to decode."""
    b = bytearray(avi)
    pos = b.index(b"00db")
    size = struct.unpack_from("<I", b, pos + 4)[0]
    b[pos + 4 : pos + 8] = struct.pack("<I", size - 4)
    del b[pos + 8 + size - 4 : pos + 8 + size]
    movi = b.index(b"movi") - 8
    for at in (4, movi + 4):
        struct.pack_into("<I", b, at, struct.unpack_from("<I", b, at)[0] - 4)
    return bytes(b)


def video_fixtures() -> list[tuple[str, bytes | None]]:
    """(item_id, payload) for every video path, skipped ones included."""
    frames = np.stack([np.full((8, 8, 3), 30 * (i + 1), np.uint8) for i in range(3)])
    mjpeg = avi_mjpeg_bytes(frames)
    h264 = bytearray(mjpeg)
    at = h264.index(b"vids") + 4
    h264[at : at + 4] = b"H264"
    dib = avi_dib_bytes(frames[:, :6, :6])  # 18-byte rows: padded to 20
    luma = np.stack([np.full((4, 6), 10 * (i + 1), np.uint8) for i in range(5)])
    return [
        ("y4m", y4m_bytes(luma)),
        ("avi_mjpeg", mjpeg),
        ("avi_dib", dib),
        ("avi_h264", bytes(h264)),
        ("avi_short_dib", _short_first_frame(dib)),
        ("garbage", b"\x00\x01 garbage, not a container"),
        ("null", None),
    ]


def text_fixtures() -> list[tuple[int, str | None]]:
    """(doc_id, text): NULL, empty, ASCII and multi-byte UTF-8."""
    return [
        (1, None),
        (2, ""),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "buy now " * 40),
        (5, "Größenverhältnis — 日本語のテキスト, ελληνικά 🎧"),
    ]


def _frame(spark, rows, id_col="item_id"):
    return spark.createDataFrame(
        [(i, None if b is None else bytearray(b)) for i, b in rows],
        f"{id_col} string, bytes binary",
    )


def test_image_passes_on_edge_fixtures(spark):
    df = _frame(spark, image_fixtures())
    feats = {r["item_id"]: r for r in image_features(df).collect()}
    exact = {r["item_id"]: r for r in image_basic_features_exact(df).collect()}
    ids = {i for i, _ in image_fixtures()}
    assert set(feats) == set(exact) == ids  # one row per item, failed ones too
    failed = {"unknown", "null", "empty"}
    for i in failed:
        assert tuple(feats[i])[1:] == (None,) * 3 and tuple(exact[i])[1:] == (None,) * 4
    for i in ids - failed - {"zero_px"}:
        assert (feats[i]["width"], feats[i]["height"], exact[i]["n_px"]) == (6, 4, 24), i
    lossless = {"ppm", "bmp_bottom_up", "bmp_top_down", "png"}
    luma = int((_RGB.astype(np.int64) @ np.array([299, 587, 114])).sum())
    assert {exact[i]["luma_sum_x1000"] for i in lossless} == {luma}
    assert {round(feats[i]["mean_luma"], 9) for i in lossless} == {round(luma / 24000, 9)}
    # a 0-pixel image decodes, but has no mean
    assert tuple(feats["zero_px"])[1:] == (0, 0, None)
    assert tuple(exact["zero_px"])[1:] == (0, 0, 0, 0)


def test_video_frames_on_edge_fixtures(spark):
    df = _frame(spark, video_fixtures())
    out = sorted(
        (r["item_id"], r["frame_idx"], r["width"], r["height"], r["n_frames"])
        for r in video_frames(df, max_frames=3).collect()
    )
    assert out == [
        ("avi_dib", 0, 6, 6, 3), ("avi_dib", 1, 6, 6, 3), ("avi_dib", 2, 6, 6, 3),
        ("avi_mjpeg", 0, 8, 8, 3), ("avi_mjpeg", 1, 8, 8, 3), ("avi_mjpeg", 2, 8, 8, 3),
        # the short first frame is skipped, the item is not
        ("avi_short_dib", 1, 6, 6, 3), ("avi_short_dib", 2, 6, 6, 3),
        ("y4m", 0, 6, 4, 5), ("y4m", 2, 6, 4, 5), ("y4m", 4, 6, 4, 5),
    ]


def test_compression_ratio_on_edge_fixtures(spark):
    df = spark.createDataFrame(text_fixtures(), "doc_id long, text string")
    out = {r["doc_id"]: r for r in compression_ratio(df).collect()}
    assert set(out) == {3, 4, 5}  # NULL and empty docs have no ratio
    for i, t in text_fixtures()[2:]:
        assert out[i]["n_bytes"] == len(t.encode("utf-8"))
    assert out[4]["ratio"] < 0.2 < out[3]["ratio"]


@pytest.mark.parametrize("op", [image_features, image_basic_features_exact, video_frames])
def test_payload_operators_name_the_id_after_id_col(spark, op):
    """The image and video passes keep the caller's id column name; they
    used to emit ``item_id`` whatever ``id_col`` was."""
    rows = [("a", image_fixtures()[0][1]), ("b", video_fixtures()[0][1])]
    out = op(_frame(spark, rows, id_col="iid"), id_col="iid")
    assert out.columns[0] == "iid" and "item_id" not in out.columns
    assert {r["iid"] for r in out.collect()} <= {"a", "b"}
