"""Multimodal binary-column operators.

Media payloads are opaque `binary` columns with typed metadata columns
beside them (the clips table's (bytes, sr_hz, dur_ms, codec) is the audio
instance). The audio, image and video operators run through the shared
Arrow decode pass (arrow_rows._decoded_map) over zero-copy buffer views —
a pandas conversion would materialize a Python ``bytes`` object per row,
one extra full copy of the corpus: schema,
partitioning and batch shape are the real 100 TB plumbing. Decoders for
formats whose libraries are not in this container are STUBBED behind a
clearly-marked NotImplementedError, as permitted by the build brief.

Audio is fully real (RIFF/WAV PCM16 parse in numpy — public spec), as is
image decode for the uncompressed public formats (PPM P6, PGM P5,
24-bit BI_RGB BMP); only compressed image/video codecs remain stubbed.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.operators.arrow_rows import _decoded_map
from seronet_data_validator_spark.operators.audio import _decode_view
from seronet_data_validator_spark.sources.clips import wav_bytes

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("zero_crossing_rate", T.DoubleType()),
        T.StructField("clipping_ratio", T.DoubleType()),
    ]
)


def audio_features(clips: DataFrame, *, id_col: str = "clip_id") -> DataFrame:
    """Feature-extract over the binary audio column: RMS, peak, ZCR,
    clipping ratio — the audio analog of image feature extraction. PCM is
    scaled to [-1, 1] like sources/clips.decode_wav.
    Narrow (no shuffle); Arrow record batches; zero-copy byte views."""

    def rows(cid, s16, sr):
        if s16 is None:
            yield (cid, 0, 0, None, None, None, None)
            return
        pcm = s16.astype(np.float32) / 32768.0
        n = len(pcm)
        rms = float(np.sqrt(np.mean(pcm**2))) if n else 0.0
        peak = float(np.max(np.abs(pcm))) if n else 0.0
        zcr = float(np.mean(np.abs(np.diff(np.sign(pcm))) > 0)) if n > 1 else 0.0
        clip_ratio = float(np.mean(np.abs(pcm) >= 0.999)) if n else 0.0
        yield (cid, n, sr, rms, peak, zcr, clip_ratio)

    return _decoded_map(clips, AUDIO_FEATURES_SCHEMA, rows, id_col=id_col, decode=_decode_view)


RESAMPLED_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
    ]
)


def resample_linear(pcm: np.ndarray, sr: int, target_sr: int) -> np.ndarray:
    """Position-based linear interpolation: output sample j reads source
    position j*sr/target_sr (floor + fractional blend), clamped at the
    tail. Mathematically the same grid mapping as the previous
    normalized-linspace np.interp formulation, but computed so that for
    DYADIC rate ratios (8k<->16k, 8k->4k) every position, weight, and
    blended value is an exact binary fraction — which is what lets
    resample_features_exact's value oracle replay the interpolation
    arithmetic bit-for-bit in SQL."""
    if sr == target_sr or len(pcm) == 0:
        return pcm
    n_out = max(1, int(round(len(pcm) * target_sr / sr)))
    pos = np.arange(n_out, dtype=np.float64) * (sr / target_sr)
    i0 = np.minimum(pos.astype(np.int64), len(pcm) - 1)
    i1 = np.minimum(i0 + 1, len(pcm) - 1)
    frac = (pos - i0).astype(np.float32)
    return pcm[i0] * (np.float32(1.0) - frac) + pcm[i1] * frac


def audio_resample(clips: DataFrame, target_sr: int, *, id_col: str = "clip_id") -> DataFrame:
    """Resample audio to `target_sr` (linear interpolation — numpy; the
    'resize' analog for audio). Returns re-encoded WAV bytes."""

    def rows(cid, s16, sr):
        if s16 is None:
            yield (cid, None, None)
            return
        out = resample_linear(s16.astype(np.float32) / 32768.0, sr, target_sr)
        yield (cid, wav_bytes((out * 32767).astype(np.int16), target_sr), target_sr)

    return _decoded_map(clips, RESAMPLED_SCHEMA, rows, id_col=id_col, decode=_decode_view)


IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def ppm_bytes(rgb: np.ndarray) -> bytes:
    """Minimal binary PPM (P6, maxval 255) encoder — public netpbm spec.
    ``rgb`` is (height, width, 3) uint8. Deterministic fixture source for
    the decode path below."""
    h, w, _ = rgb.shape
    return f"P6\n{w} {h}\n255\n".encode() + rgb.astype(np.uint8).tobytes()


def bmp_bytes(rgb: np.ndarray) -> bytes:
    """Minimal uncompressed 24-bit BMP (BITMAPINFOHEADER, BI_RGB) encoder —
    public spec: bottom-up rows, BGR order, rows padded to 4 bytes."""
    import struct

    h, w, _ = rgb.shape
    row_bytes = (w * 3 + 3) & ~3
    img_size = row_bytes * h
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + img_size, 0, 0, off)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = bytearray()
    bgr = rgb[:, :, ::-1].astype(np.uint8)
    pad = b"\x00" * (row_bytes - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        body += bgr[y].tobytes() + pad
    return hdr + dib + bytes(body)


def _decode_image(b: bytes) -> tuple[int, int, np.ndarray]:
    """Decode an image buffer → (width, height, rgb uint8 array). Pure
    numpy over the public netpbm (PPM P6 / PGM P5) and BMP
    (BITMAPINFOHEADER, 24-bit BI_RGB) layouts, plus baseline JPEG via the
    T.81 decoder in operators/jpeg.py and PNG (all five filters, palette,
    alpha) via the stdlib-zlib decoder in operators/png.py — no codec
    library. PNG covers 8/16-bit depths and Adam7 interlace; JPEG covers
    baseline and progressive; the remaining boundary (arithmetic/12-bit
    JPEG, 1/2/4-bit PNG) raises NotImplementedError inside the decoders; in
    production swap in PIL/cv2 here — the Spark-side plumbing does not
    change."""
    import struct

    if b is None or len(b) < 2:
        raise ValueError("empty image buffer")
    if b[:2] in (b"P5", b"P6"):
        # header: P5|P6 <ws> width <ws> height <ws> maxval <single-ws> data;
        # '#' comments allowed between tokens. P5 = 1-channel grayscale PGM,
        # P6 = 3-channel RGB PPM — same header grammar, same netpbm spec.
        channels = 3 if b[:2] == b"P6" else 1
        pos, tokens = 2, []
        while len(tokens) < 3:
            while pos < len(b) and b[pos : pos + 1].isspace():
                pos += 1
            if pos < len(b) and b[pos : pos + 1] == b"#":
                while pos < len(b) and b[pos : pos + 1] != b"\n":
                    pos += 1
                continue
            start = pos
            while pos < len(b) and not b[pos : pos + 1].isspace():
                pos += 1
            if pos == start:
                raise ValueError("truncated PPM header")
            tokens.append(int(b[start:pos]))
        pos += 1  # single whitespace after maxval
        w, h, maxval = tokens
        if maxval != 255:
            raise NotImplementedError("16-bit PPM/PGM not supported")
        need = w * h * channels
        if len(b) - pos < need:
            raise ValueError("truncated PPM/PGM payload")
        px = np.frombuffer(b, np.uint8, count=need, offset=pos).reshape(h, w, channels)
        if channels == 1:
            px = np.repeat(px, 3, axis=2)  # grayscale → rgb (luma == gray)
        return w, h, px
    if b[:2] == b"BM":
        if len(b) < 54:
            raise ValueError("truncated BMP header")
        data_off = struct.unpack_from("<I", b, 10)[0]
        dib_size = struct.unpack_from("<I", b, 14)[0]
        if dib_size < 40:
            raise NotImplementedError("BITMAPCOREHEADER BMP not supported")
        w, h = struct.unpack_from("<ii", b, 18)
        bits = struct.unpack_from("<H", b, 28)[0]
        compression = struct.unpack_from("<I", b, 30)[0]
        if bits != 24 or compression != 0:
            raise NotImplementedError(
                f"only uncompressed 24-bit BI_RGB BMP supported (bits={bits}, "
                f"compression={compression})"
            )
        top_down = h < 0
        h = abs(h)
        row_bytes = (w * 3 + 3) & ~3
        if len(b) - data_off < row_bytes * h:
            raise ValueError("truncated BMP payload")
        rows = np.frombuffer(b, np.uint8, count=row_bytes * h, offset=data_off)
        rows = rows.reshape(h, row_bytes)[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            rows = rows[::-1]
        return w, h, rows[:, :, ::-1]  # BGR → RGB
    if b[:2] == b"\xff\xd8":
        # baseline JPEG: pure-numpy T.81 decoder (operators/jpeg.py).
        # Baseline AND progressive (SOF2) decode natively, incl. restart
        # intervals; arithmetic/12-bit streams raise NotImplementedError
        # from inside decode_jpeg — the remaining JPEG boundary.
        from seronet_data_validator_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(b)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        # PNG: stdlib zlib + numpy unfilter (operators/png.py); 8/16-bit
        # and Adam7 interlace decode natively, 1/2/4-bit-depth streams
        # raise NotImplementedError from inside.
        from seronet_data_validator_spark.operators.png import decode_png

        return decode_png(b)
    raise NotImplementedError(
        "compressed/unknown image format (video codecs not in this "
        "container — PPM/PGM/BMP, baseline JPEG and 8-bit PNG are decoded "
        "natively)"
    )


def _image_view(seg: np.ndarray | None) -> tuple[np.ndarray, tuple[int, int]]:
    """``_decoded_map`` decode of an image payload view → (rgb, (width,
    height)); a NULL payload fails like an empty one."""
    w, h, rgb = _decode_image(None if seg is None else seg.tobytes())
    return rgb, (w, h)


def image_features(
    images: DataFrame, *, id_col: str = "item_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Image decode + features over the binary column: (width, height,
    mean_luma) with luma = 0.299R + 0.587G + 0.114B on the 0-255 scale.
    PPM (P6), PGM (P5) and uncompressed 24-bit BMP decode natively (numpy over the
    public specs); compressed formats yield NULL features (their codecs are
    not in this container — the NotImplementedError path is the documented
    stub boundary). The Spark-side contract (schema, Arrow batching,
    partition-parallel narrow pass) is identical to audio_features."""
    w_lum = np.array([0.299, 0.587, 0.114], np.float64)

    def rows(iid, rgb, wh):
        if rgb is None:
            yield (iid, None, None, None)
        else:  # a 0-pixel image has no mean (NULL, not NaN)
            yield (iid, *wh, float(np.mean(rgb @ w_lum)) if rgb.size else None)

    return _decoded_map(images, IMAGE_FEATURES_SCHEMA, rows, id_col=id_col,
                        decode=_image_view, bytes_col=bytes_col)


IMAGE_BASIC_EXACT_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_px", T.LongType()),
        T.StructField("luma_sum_x1000", T.LongType()),
    ]
)


def image_basic_features_exact(
    images: DataFrame, *, id_col: str = "item_id", bytes_col: str = "bytes"
) -> DataFrame:
    """Image features with engine-portable EXACT arithmetic: the luma sum
    is kept as the integer Σ(299R + 587G + 114B) (the BT.601 weights ×1000)
    so any engine that can regenerate the pixels reproduces it exactly —
    the image analog of dsp.audio_basic_features_exact, and what gives the
    image DECODE path (PPM/BMP/PNG — all lossless) a full value oracle.
    Decode failures yield NULL features (quarantine row)."""
    w_lum = np.array([299, 587, 114], np.int64)

    def rows(iid, rgb, wh):
        if rgb is None:
            yield (iid, None, None, None, None)
        else:
            yield (iid, *wh, wh[0] * wh[1], int((rgb.astype(np.int64) @ w_lum).sum()))

    return _decoded_map(images, IMAGE_BASIC_EXACT_SCHEMA, rows, id_col=id_col,
                        decode=_image_view, bytes_col=bytes_col)


# --- Video: YUV4MPEG2 (Y4M) — the public UNCOMPRESSED container ----------

VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("std_luma", T.DoubleType()),
    ]
)


def y4m_bytes(frames_y: np.ndarray, *, fps: int = 25) -> bytes:
    """Minimal YUV4MPEG2 encoder (public spec), C420 with neutral chroma:
    ``frames_y`` is (n, h, w) uint8 luma. Deterministic fixture source for
    the decode path below."""
    n, h, w = frames_y.shape
    out = bytearray(f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 C420\n".encode())
    chroma = np.full((h // 2, w // 2), 128, np.uint8).tobytes()
    for i in range(n):
        out += b"FRAME\n" + frames_y[i].astype(np.uint8).tobytes() + chroma + chroma
    return bytes(out)


def avi_mjpeg_bytes(frames_rgb: np.ndarray, *, fps: int = 25) -> bytes:
    """Minimal MJPEG-in-AVI encoder (public RIFF/AVI layout + ITU-T T.81
    frames): ``frames_rgb`` is (n, h, w, 3) uint8; every frame is encoded
    as a baseline JPEG '00dc' chunk inside the 'movi' LIST, with the
    standard hdrl (avih + strl/strh 'vids'/'MJPG' + strf BITMAPINFOHEADER)
    headers and an idx1 index. Deterministic fixture source for the MJPEG
    decode path in video_frames."""
    import struct

    from seronet_data_validator_spark.operators.jpeg import jpeg_bytes

    n, h, w, _ = frames_rgb.shape

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    frames = [jpeg_bytes(frames_rgb[i], quality=95) for i in range(n)]
    avih = struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack("<I", 0) + struct.pack("<HH", 0, 0)
        + struct.pack("<8I", 0, 1, fps, 0, n, 0, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH", 40, w, h, 1, 24) + b"MJPG" + struct.pack(
        "<IiiII", w * h * 3, 0, 0, 0, 0
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi_payload = b"".join(chunk(b"00dc", f) for f in frames)
    movi = lst(b"movi", movi_payload)
    # idx1: offsets relative to the start of 'movi' (the common convention)
    idx, off = [], 4
    for f in frames:
        idx.append(b"00dc" + struct.pack("<III", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) % 2)
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_dib_bytes(frames_rgb: np.ndarray, *, fps: int = 25) -> bytes:
    """Minimal uncompressed-RGB AVI encoder ('DIB ' fourcc, BI_RGB): every
    frame is stored in the standard DIB layout — bottom-up rows, BGR byte
    order, rows padded to 4-byte boundaries — as a '00db' chunk. Same RIFF
    scaffolding as avi_mjpeg_bytes; deterministic fixture source for the
    raw-video decode path in video_frames."""
    import struct

    n, h, w, _ = frames_rgb.shape
    stride = (w * 3 + 3) // 4 * 4

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    def dib(frame: np.ndarray) -> bytes:
        rows = np.zeros((h, stride), np.uint8)
        rows[:, : w * 3] = frame[::-1, :, ::-1].reshape(h, w * 3)
        return rows.tobytes()

    frames = [dib(frames_rgb[i]) for i in range(n)]
    avih = struct.pack(
        "<14I", 1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0, w, h, 0, 0, 0, 0
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<I", 0) + struct.pack("<HH", 0, 0)
        + struct.pack("<8I", 0, 1, fps, 0, n, 0, 0xFFFFFFFF, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH", 40, w, h, 1, 24) + struct.pack(
        "<IIiiII", 0, stride * h, 0, 0, 0, 0  # biCompression=0 (BI_RGB)
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00db", f) for f in frames))
    idx, off = [], 4
    for f in frames:
        idx.append(b"00db" + struct.pack("<III", 0x10, off, len(f)))
        off += 8 + len(f) + (len(f) % 2)
    idx1 = chunk(b"idx1", b"".join(idx))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


# fourccs that mean "uncompressed BI_RGB frames in DIB layout"
_AVI_RAW_CODECS = (b"DIB ", b"RGB ", b"raw ", b"\x00\x00\x00\x00")


def _parse_avi(b: bytes) -> tuple[int, int, bytes, list[tuple[int, int]]]:
    """Walk a RIFF/AVI container → (width, height, codec_fourcc,
    [(frame_off, frame_len)]) for the video chunks ('00dc'/'00db' in the
    'movi' LIST). Header-only walk — no frame decodes; the offsets let the
    caller decode ONLY sampled frames."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI buffer")
    w = h = None
    codec = None
    frames: list[tuple[int, int]] = []

    def walk(pos: int, end: int) -> None:
        nonlocal w, h, codec
        while pos + 8 <= end:
            fourcc = b[pos : pos + 4]
            size = struct.unpack_from("<I", b, pos + 4)[0]
            payload_at = pos + 8
            if fourcc == b"LIST":
                walk(payload_at + 4, payload_at + size)
            elif fourcc == b"strh" and size >= 16:
                if b[payload_at : payload_at + 4] == b"vids":
                    codec = b[payload_at + 4 : payload_at + 8]
            elif fourcc == b"strf" and size >= 24 and w is None:
                w = struct.unpack_from("<i", b, payload_at + 4)[0]
                h = abs(struct.unpack_from("<i", b, payload_at + 8)[0])
            elif fourcc[2:4] in (b"dc", b"db"):
                frames.append((payload_at, size))
            pos = payload_at + size + (size % 2)

    try:
        walk(12, min(len(b), 12 + struct.unpack_from("<I", b, 4)[0] - 4))
    except struct.error as e:  # truncated header/chunk reads
        raise ValueError(f"truncated AVI: {e}") from None
    if w is None or codec is None or not frames:
        raise ValueError("AVI stream without video headers/frames")
    return int(w), int(h), codec, frames


def _parse_y4m(b: bytes) -> tuple[int, int, int, int, int]:
    """Parse a YUV4MPEG2 stream header → (width, height, frame_payload_len,
    data_offset, luma_len). C420*/C444/mono supported (pure numpy stride
    math); MJPEG-in-AVI decodes through _parse_avi + the T.81
    decoder (video_frames); inter-frame compressed codecs (mp4/h264/vp9/...) are NOT
    parseable without a codec library and raise NotImplementedError — swap
    in pyav/ffmpeg at that single point in production; the Spark-side
    plumbing (schema, batching, sampling) does not change."""
    if b is None or len(b) < 10:
        raise ValueError("empty video buffer")
    if not b.startswith(b"YUV4MPEG2"):
        raise NotImplementedError(
            "compressed video container: no codec library in this environment"
        )
    nl = b.index(b"\n")
    w = h = None
    chroma = "420"
    for tok in b[10:nl].split(b" "):
        if tok[:1] == b"W":
            w = int(tok[1:])
        elif tok[:1] == b"H":
            h = int(tok[1:])
        elif tok[:1] == b"C":
            chroma = tok[1:].decode()
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    luma = w * h
    if chroma.startswith("420"):
        payload = luma + 2 * ((w // 2) * (h // 2))
    elif chroma.startswith("444"):
        payload = luma * 3
    elif chroma.startswith("mono"):
        payload = luma
    else:
        raise ValueError(f"unsupported Y4M chroma {chroma}")
    return w, h, payload, nl + 1, luma


def _video_view(seg: np.ndarray | None) -> tuple[int, Callable[[int], tuple]]:
    """``_decoded_map`` decode of a video payload view → (n_frames,
    frame(i) → (width, height, luma array)). Header-only: frame(i) decodes
    one frame. Y4M frames sit at a fixed stride (`FRAME\\n` + planar YUV),
    so frame i is a single slice. AVI walks the RIFF chunks once; MJPEG
    frames decode through the native T.81 decoder, raw BI_RGB ('DIB ')
    frames are a pure numpy un-layout (bottom-up padded BGR rows → RGB).
    Raises NotImplementedError for an inter-frame codec and ValueError for
    an unreadable or frameless stream."""
    blob = None if seg is None else seg.tobytes()
    if blob is not None and blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
        from seronet_data_validator_spark.operators.jpeg import decode_jpeg

        aw, ah, codec, frames = _parse_avi(blob)
        is_mjpeg = codec in (b"MJPG", b"mjpg")
        if not is_mjpeg and codec not in _AVI_RAW_CODECS:
            raise NotImplementedError("inter-frame AVI codec: needs a codec library")
        stride = (aw * 3 + 3) // 4 * 4
        wl = np.array([0.299, 0.587, 0.114], np.float64)

        def avi_frame(fi: int) -> tuple:
            f_off, f_len = frames[fi]
            if is_mjpeg:
                fw, fh, rgb = decode_jpeg(blob[f_off : f_off + f_len])
            else:
                if f_len < stride * ah:
                    raise ValueError("short DIB frame")
                fw, fh = aw, ah
                rows = np.frombuffer(blob, np.uint8, count=stride * ah, offset=f_off)
                rgb = rows.reshape(ah, stride)[:, : aw * 3].reshape(ah, aw, 3)[::-1, :, ::-1]
            return fw, fh, rgb.reshape(-1, 3).astype(np.float64) @ wl

        return len(frames), avi_frame
    w, h, payload, off, luma = _parse_y4m(blob)
    n_frames = (len(blob) - off) // (6 + payload)  # b"FRAME\n" + planar payload
    if n_frames <= 0:
        raise ValueError("Y4M stream without frames")

    def y4m_frame(fi: int) -> tuple:
        start = off + fi * (6 + payload) + 6
        return w, h, np.frombuffer(blob, np.uint8, count=luma, offset=start)

    return n_frames, y4m_frame


def video_frames(
    items: DataFrame,
    *,
    max_frames: int = 4,
    id_col: str = "item_id",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Video frame-sampling + per-frame luma features over a binary video
    column — the third leg of the multimodal triad (audio_features /
    image_features / THIS). Only the sampled frames decode (:func:`_video_view`),
    the property Iceberg-resident uncompressed intermediates are chosen
    for in preprocessing pipelines.

    Emits up to ``max_frames`` evenly-spaced frames per item as
    (frame_idx, width, height, n_frames, mean_luma, std_luma). Narrow
    mapInArrow, zero-copy byte views; undecodable/compressed items and
    frames are skipped (feature extraction semantics — route them through
    the validation path to FLAG them instead)."""

    def rows(iid, n_frames, frame):
        if n_frames is None:
            return
        take = np.unique(np.linspace(0, n_frames - 1, num=min(max_frames, n_frames)).astype(int))
        for fi in take:
            try:
                w, h, y = frame(fi)
            except (ValueError, NotImplementedError):
                continue
            yield (iid, int(fi), w, h, int(n_frames),
                   round(float(y.mean()), 4), round(float(y.std()), 4))

    return _decoded_map(items, VIDEO_FRAMES_SCHEMA, rows, id_col=id_col,
                        decode=_video_view, bytes_col=bytes_col)


def clip_chunks(
    clips: DataFrame,
    *,
    win_ms: int = 30_000,
    hop_ms: int = 25_000,
    min_tail_ms: int = 1_000,
    id_col: str = "clip_id",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """Split long clips into fixed training windows — the audio analog of
    sequence packing (sampling.pack_documents): chunk i covers
    [i*hop_ms, min(i*hop_ms + win_ms, dur)), and a window is emitted while
    at least `min_tail_ms` of audio remains (so the final partial window is
    kept unless it is uselessly short). Whisper-style 30 s / 25 s-hop
    windows by default.

    Pure metadata Column math over dur_ms — one narrow explode of a
    `sequence`, NO shuffle and NO bytes read: at 100 TB the chunk plan is
    sized by the row count, not the audio, and the byte-ranged decode can
    be pushed to whatever reader consumes the chunk table."""
    n = F.when(
        F.col(dur_col) >= min_tail_ms,
        (F.floor((F.col(dur_col) - min_tail_ms) / hop_ms) + 1).cast("int"),
    ).otherwise(F.lit(0))
    # sequence(0, -1) DESCENDS in Spark, so zero-chunk rows need an empty
    # array, not a negative-bound sequence; exploding [] drops the row.
    idx = F.explode(
        F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
    )
    out = clips.select(
        id_col, F.col(dur_col).cast("long").alias("_dur"), idx.alias("chunk_idx")
    )
    start = F.col("chunk_idx").cast("long") * hop_ms
    return out.select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.alias("start_ms"),
        F.least(start + win_ms, F.col("_dur")).alias("end_ms"),
    )
