"""IMA/DVI ADPCM WAV codec (format code 0x11) — pure numpy, public spec.

The third compressed audio family after G.711 (audio.py) and FLAC
(flac.py): 4-bit adaptive differential PCM, the classic "wild WAV"
compression telephony and game corpora ship in. Spec: the IMA Digital
Audio Focus/Technical Working Group recommendation (1992), as carried in
the Microsoft WAVE format registry for wFormatTag 0x0011 — step/index
tables and the reconstruction arithmetic are reproduced from that public
arithmetic, not from any library.

Block layout (mono): every `block_align`-byte block is independently
decodable — a 4-byte header (initial predictor int16 LE, step-table index
uint8, reserved) followed by packed 4-bit codes, LOW nibble first. The
header predictor IS the block's first output sample, so a block carries
(block_align - 4) * 2 + 1 samples. That independence is what makes the
DECODER fully vectorizable across blocks: the state loop below runs once
per within-block sample position, with every block advancing in numpy
lanes — the decode cost of a clip is O(samples_per_block) Python
iterations regardless of clip length, matching the mapInArrow batch model
(arrow_rows._decoded_map) the other codecs use.

The encoder exists to build fixtures and round-trip tests (same role as
flac.flac_bytes): it quantizes against the same reconstruction the decoder
runs, so decode(encode(x)) equals the encoder's internal reconstruction
exactly — which is also what the driver contract's recursive-CTE oracle
replays sample by sample (see __spark_entry__.q_adpcm_features_exact).

Reference parity: /root/reference validates metadata only; codec decode is
part of the beyond-reference audio surface (BASELINE.json input_hint).
"""

from __future__ import annotations

import struct

import numpy as np

# fmt: off
STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)
# fmt: on
INDEX_TABLE = np.array(
    [-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64
)

_FMT_IMA_ADPCM = 0x11


def _reconstruct_diff(nibble: np.ndarray, step: np.ndarray) -> np.ndarray:
    """The spec's multiply-free reconstruction: diff = step/8 (+ step/4,
    step/2, step per magnitude bit) — identical on both codec sides."""
    diff = step >> 3
    diff = diff + np.where(nibble & 4, step, 0)
    diff = diff + np.where(nibble & 2, step >> 1, 0)
    diff = diff + np.where(nibble & 1, step >> 2, 0)
    return diff


def samples_per_block(block_align: int) -> int:
    return (block_align - 4) * 2 + 1


def adpcm_bytes(samples_i16: np.ndarray, sr_hz: int, *, block_align: int = 256) -> bytes:
    """Encode mono int16 → an IMA ADPCM WAV blob (fmt 0x11, fact chunk
    carrying the true sample count, final block zero-nibble padded)."""
    s = np.asarray(samples_i16, dtype=np.int64).ravel()
    n = len(s)
    spb = samples_per_block(block_align)
    pred, idx = 0, 0
    blocks = bytearray()
    pos = 0
    while pos < n:
        chunk = s[pos : pos + spb]
        pred = int(chunk[0])
        blocks += struct.pack("<hBB", pred, idx, 0)
        nibbles = []
        for raw in chunk[1:]:
            step = int(STEP_TABLE[idx])
            delta = int(raw) - pred
            nib = 8 if delta < 0 else 0
            ad = -delta if delta < 0 else delta
            if ad >= step:
                nib |= 4
                ad -= step
            if ad >= step >> 1:
                nib |= 2
                ad -= step >> 1
            if ad >= step >> 2:
                nib |= 1
            diff = int(_reconstruct_diff(np.int64(nib), np.int64(step)))
            pred = pred - diff if nib & 8 else pred + diff
            pred = max(-32768, min(32767, pred))
            idx = max(0, min(88, idx + int(INDEX_TABLE[nib])))
            nibbles.append(nib)
        nibbles += [0] * (spb - 1 - len(nibbles))  # pad the final block
        packed = bytearray()
        for lo, hi in zip(nibbles[0::2], nibbles[1::2]):
            packed.append(lo | (hi << 4))
        blocks += packed
        pos += spb
    byte_rate = (sr_hz * block_align + spb - 1) // spb
    hdr = b"RIFF" + struct.pack("<I", 4 + 8 + 20 + 8 + 4 + 8 + len(blocks)) + b"WAVE"
    fmt = struct.pack(
        "<4sIHHIIHHHH",
        b"fmt ", 20, _FMT_IMA_ADPCM, 1, sr_hz, byte_rate, block_align, 4, 2, spb,
    )
    fact = struct.pack("<4sII", b"fact", 4, n)
    data = struct.pack("<4sI", b"data", len(blocks))
    return hdr + fmt + fact + data + bytes(blocks)


def decode_adpcm_wav(buf: bytes | np.ndarray) -> tuple[np.ndarray, int]:
    """Decode an IMA ADPCM WAV blob → (mono int16 samples, sr). Walks the
    RIFF chunks (fmt/fact/data in any order), then runs the block-parallel
    state loop: all blocks advance together, one numpy step per
    within-block sample position."""
    b = bytes(buf) if not isinstance(buf, (bytes, bytearray)) else bytes(buf)
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    pos, fmt_chunk, fact_n, data = 12, None, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (sz,) = struct.unpack_from("<I", b, pos + 4)
        body = b[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt_chunk = body
        elif cid == b"fact" and sz >= 4:
            (fact_n,) = struct.unpack_from("<I", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    if fmt_chunk is None or data is None or len(fmt_chunk) < 20:
        raise ValueError("ADPCM WAV missing fmt/data chunk")
    tag, ch, sr, _br, block_align, bits, _cb, spb = struct.unpack_from(
        "<HHIIHHHH", fmt_chunk, 0
    )
    if tag != _FMT_IMA_ADPCM or ch != 1 or bits != 4:
        raise ValueError(f"unsupported ADPCM layout {tag}/{ch}ch/{bits}-bit")
    if spb != samples_per_block(block_align):
        raise ValueError("inconsistent wSamplesPerBlock")
    nb = len(data) // block_align
    if nb == 0 or len(data) % block_align:
        raise ValueError("ADPCM data not a whole number of blocks")
    blk = np.frombuffer(data, np.uint8, nb * block_align).reshape(nb, block_align)
    pred = blk[:, :2].copy().view("<i2").astype(np.int64).ravel()
    idx = np.minimum(blk[:, 2].astype(np.int64), 88)
    packed = blk[:, 4:]
    out = np.empty((nb, spb), np.int64)
    out[:, 0] = pred
    for j in range(spb - 1):
        byte = packed[:, j >> 1]
        nib = (byte & 0x0F) if (j & 1) == 0 else (byte >> 4)
        nib = nib.astype(np.int64)
        step = STEP_TABLE[idx]
        diff = _reconstruct_diff(nib, step)
        pred = np.clip(np.where(nib & 8, pred - diff, pred + diff), -32768, 32767)
        idx = np.clip(idx + INDEX_TABLE[nib], 0, 88)
        out[:, j + 1] = pred
    flat = out.ravel()
    if fact_n is not None:
        flat = flat[:fact_n]
    return flat.astype(np.int16), int(sr)
