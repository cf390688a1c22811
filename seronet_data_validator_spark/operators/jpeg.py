"""Baseline JPEG (ITU-T T.81) codec in pure numpy — no codec library.

Closes the largest practitioner gap in the image path: real corpora are
mostly JPEG, and this container ships no image codecs. Everything here is
from the public spec: baseline sequential DCT (SOF0) AND progressive
(SOF2: spectral selection, successive approximation, EOB runs, DC/AC
refinement), 8-bit precision, Huffman entropy coding, JFIF YCbCr color,
4:4:4 / 4:2:0 chroma subsampling, grayscale, restart intervals. Out of
scope (explicit errors, not wrong pixels): arithmetic coding, 12-bit
precision, sampling grids other than 1x1/2x2.

The decoder (`decode_jpeg`) is general over canonical Huffman tables read
from DHT — it decodes third-party baseline files within the supported
sampling grids. The encoder (`jpeg_bytes`) exists to build deterministic
fixtures: it emits spec-compliant streams with *flat* canonical Huffman
tables (all DC symbols at one code length, all AC symbols at another),
which keeps it free of the 162-entry Annex-K table transcription while
still exercising the decoder's canonical-code construction and bit
reader. Compression ratio is deliberately not a goal.

Performance boundary (documented, same contract as the other multimodal
decoders): entropy decode is a per-symbol Python loop — fine for test
fixtures and correct for production shapes, but a real deployment swaps
this module for a codec library behind the same `_decode_image` dispatch;
the Spark-side plumbing (binary column → mapInArrow → features) does not
change.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Shared constants (public tables / derivations)
# ---------------------------------------------------------------------------

# zigzag scan order: ZIGZAG[i] = raster index of the i-th zigzag position
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10,
        17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34,
        27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36,
        29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46,
        53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
UNZIGZAG = np.argsort(ZIGZAG)

# Annex K.1 example quantization tables (the de-facto standard baseline)
QUANT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)
QUANT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int64,
).reshape(8, 8)


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality scaling (public formula): 50 → base tables."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = (base * scale + 50) // 100
    return np.clip(q, 1, 255)


# orthonormal 8-point DCT-II matrix: C @ block @ C.T = forward coefficients
_k = np.arange(8)
_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * np.sqrt(2 / 8)
_C[0] *= np.sqrt(0.5)


def _idct(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168735892 * r - 0.331264108 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418687589 * g - 0.081312411 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(ycc: np.ndarray) -> np.ndarray:
    y = ycc[..., 0]
    cb = ycc[..., 1] - 128.0
    cr = ycc[..., 2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    out = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _category(v: int) -> int:
    """Bit-length category of a DC difference / AC magnitude (T.81 F.1.2)."""
    return int(abs(v)).bit_length()


# ---------------------------------------------------------------------------
# Encoder (fixture generation)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill
        return bytes(self.out)

    def marker(self, m: int) -> None:
        """Byte-align (1-fill) and emit a raw marker (no byte stuffing)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        self.out += bytes([0xFF, m])


def _flat_table(symbols: list[int]) -> tuple[list[int], list[int], dict[int, tuple[int, int]]]:
    """Canonical Huffman table with every symbol at one code length L
    (smallest L with 2^L > len(symbols), keeping the all-1s code unused,
    per T.81's reserved-code convention). Returns (BITS, HUFFVAL,
    {symbol: (code, length)})."""
    n = len(symbols)
    length = max(2, (n + 1 - 1).bit_length())  # 2^length >= n + 1
    while (1 << length) < n + 1:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    codes = {s: (i, length) for i, s in enumerate(symbols)}
    return bits, list(symbols), codes


def _encode_block(
    writer: _BitWriter,
    coef_zz: np.ndarray,
    prev_dc: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    dc = int(coef_zz[0])
    diff = dc - prev_dc
    s = _category(diff)
    code, ln = dc_codes[s]
    writer.write(code, ln)
    if s:
        v = diff if diff >= 0 else diff + (1 << s) - 1
        writer.write(v, s)
    run = 0
    for k in range(1, 64):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            writer.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_codes[(run << 4) | s]
        writer.write(code, ln)
        vv = v if v >= 0 else v + (1 << s) - 1
        writer.write(vv, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]  # EOB
        writer.write(code, ln)
    return dc


def _pad_to(plane: np.ndarray, mult: int) -> np.ndarray:
    h, w = plane.shape
    ph = (mult - h % mult) % mult
    pw = (mult - w % mult) % mult
    if ph or pw:
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
    return plane


def _quantized_blocks(plane: np.ndarray, q: np.ndarray) -> np.ndarray:
    """All 8x8 blocks of a padded plane → rounded quantized coefficients,
    raster block order, shape (nby, nbx, 8, 8)."""
    h, w = plane.shape
    blocks = plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3)
    shifted = blocks.astype(np.float64) - 128.0
    coefs = np.einsum("ij,yxjk,lk->yxil", _C, shifted, _C)
    # baseline caps AC magnitude categories at 10 bits: clamp so a q=1
    # table can't produce a coefficient outside ±1023 (T.81 F.1.2.2.1)
    return np.clip(np.round(coefs / q), -1023, 1023).astype(np.int64)


def jpeg_bytes(
    img: np.ndarray, *, quality: int = 85, subsampling: str = "4:4:4",
    restart_interval: int = 0,
) -> bytes:
    """Encode an (h, w, 3) RGB or (h, w) grayscale uint8 array as baseline
    JFIF JPEG. Deterministic; flat canonical Huffman tables (see module
    docstring). ``restart_interval`` > 0 writes a DRI segment and RSTn
    markers every that-many MCUs (DC predictors reset)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)

    if gray:
        planes = [img.astype(np.float64)]
        sampling = [(1, 1)]
        qtab = [0]
    else:
        ycc = _rgb_to_ycbcr(img)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "4:2:0":
            cbp = _pad_to(cb, 2)
            crp = _pad_to(cr, 2)
            cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2]) / 4.0
            cr = (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2]) / 4.0
            planes = [y, cb, cr]
            sampling = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "4:4:4":
            planes = [y, cb, cr]
            sampling = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        qtab = [0, 1, 1]

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    # pad each plane so the MCU grid is complete
    padded = []
    mcu_cols = -(-w // (8 * hmax))
    mcu_rows = -(-h // (8 * vmax))
    for p, (sh, sv) in zip(planes, sampling):
        # plane dims must cover the complete MCU grid: mcu * 8 * sampling
        ph = mcu_rows * 8 * sv
        pw = mcu_cols * 8 * sh
        pl = p[: min(p.shape[0], ph), : min(p.shape[1], pw)]
        pl = np.pad(
            pl, ((0, ph - pl.shape[0]), (0, pw - pl.shape[1])), mode="edge"
        )
        padded.append(pl)

    qblocks = [
        _quantized_blocks(p, ql if t == 0 else qc) for p, t in zip(padded, qtab)
    ]

    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [
        (r << 4) | s for r in range(16) for s in range(1, 11)
    ]
    dc_bits, dc_vals, dc_codes = _flat_table(dc_syms)
    ac_bits, ac_vals, ac_codes = _flat_table(ac_syms)

    writer = _BitWriter()
    prev_dc = [0] * len(planes)
    mcu_idx = 0
    rst_no = 0
    for my in range(mcu_rows):
        for mx in range(mcu_cols):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                writer.marker(0xD0 + rst_no)  # RSTn: align + raw marker
                rst_no = (rst_no + 1) % 8
                prev_dc = [0] * len(planes)
            mcu_idx += 1
            for ci, (sh, sv) in enumerate(sampling):
                for by in range(sv):
                    for bx in range(sh):
                        blk = qblocks[ci][my * sv + by, mx * sh + bx]
                        zz = blk.reshape(64)[ZIGZAG]
                        prev_dc[ci] = _encode_block(
                            writer, zz, prev_dc[ci], dc_codes, ac_codes
                        )
    data = writer.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    # JFIF APP0
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    # DQT (Pq=0, Tq=0/1), values in zigzag order
    for tq, q in ([(0, ql)] if gray else [(0, ql), (1, qc)]):
        payload = bytes([tq]) + bytes(int(v) for v in q.reshape(64)[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(payload)) + payload
    # SOF0
    ncomp = len(planes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci, ((sh, sv), tq) in enumerate(zip(sampling, qtab)):
        sof += bytes([ci + 1, (sh << 4) | sv, tq])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    # DHT: DC table 0, AC table 0 (all components share them)
    for tc_th, bits, vals in [(0x00, dc_bits, dc_vals), (0x10, ac_bits, ac_vals)]:
        payload = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload
    # DRI
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    # SOS
    sos = bytes([ncomp])
    for ci in range(ncomp):
        sos += bytes([ci + 1, 0x00])  # DC table 0, AC table 0
    sos += bytes([0, 63, 0])  # spectral selection (baseline fixed)
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
    out += data
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    byte-unstuffing; stops at any other marker."""

    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        b = self.buf
        if self.pos >= len(b):
            raise ValueError("truncated entropy segment")
        byte = b[self.pos]
        if byte == 0xFF:
            nxt = b[self.pos + 1] if self.pos + 1 < len(b) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                raise ValueError("marker inside entropy segment (restart not supported)")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self) -> None:
        """Discard padding bits, skip 0xFF fill, consume an RSTn marker."""
        self.acc = 0
        self.nbits = 0
        b = self.buf
        while self.pos + 1 < len(b) and b[self.pos] == 0xFF and b[self.pos + 1] == 0xFF:
            self.pos += 1
        if (
            self.pos + 1 >= len(b)
            or b[self.pos] != 0xFF
            or not (0xD0 <= b[self.pos + 1] <= 0xD7)
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


def _build_huffman(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """Canonical codes per T.81 C.2: {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    vi = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[vi]
            code += 1
            vi += 1
        code <<= 1
    return table


def _read_symbol(reader: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def decode_jpeg(b: bytes) -> tuple[int, int, np.ndarray]:
    """Decode a baseline JPEG buffer → (width, height, rgb uint8).

    Supported: SOF0 baseline, 8-bit, Huffman; 1 component (grayscale,
    replicated to RGB like the PGM path) or 3 components YCbCr with 4:4:4
    (1x1,1x1,1x1) or 4:2:0 (2x2,1x1,1x1) sampling; restart intervals
    (DRI/RSTn) with DC-predictor resets; progressive (SOF2) streams decode
    through the coefficient-domain multi-scan path. Arithmetic/12-bit
    streams raise NotImplementedError."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG buffer")
    try:
        return _decode_jpeg_inner(b)
    except (IndexError, struct.error) as exc:  # truncated/corrupt stream
        raise ValueError(f"corrupt JPEG stream: {exc}") from exc


def _decode_jpeg_inner(b: bytes) -> tuple[int, int, np.ndarray]:
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    scan = None
    restart_interval = 0
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        # T.81 B.1.1.2: any number of 0xFF fill bytes may pad before the
        # marker code — skip them so a padded third-party file stays in sync
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        if pos + 2 > len(b):
            raise ValueError("truncated marker segment")
        seglen = struct.unpack_from(">H", b, pos)[0]
        seg = b[pos + 2 : pos + seglen]
        nxt = pos + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables not supported")
                zz = np.frombuffer(seg, np.uint8, count=64, offset=i + 1).astype(np.int64)
                quant[tq] = zz[UNZIGZAG].reshape(8, 8)
                i += 65
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision supported")
            fh, fw = struct.unpack_from(">HH", seg, 1)
            ncomp = seg[5]
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (fw, fh, comps)
        elif marker == 0xC2:  # SOF2 progressive: dedicated multi-scan path
            return _decode_progressive(b)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only baseline (SOF0) and progressive (SOF2) supported"
            )
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:  # SOS
            ns = seg[0]
            sel = {}
            for ci in range(ns):
                cid, tabs = seg[1 + 2 * ci], seg[2 + 2 * ci]
                sel[cid] = (tabs >> 4, tabs & 0x0F)
            scan = sel
            pos = nxt
            break
        pos = nxt
    if frame is None or scan is None:
        raise ValueError("missing SOF0/SOS")

    fw, fh, comps = frame
    samplings = [(h_, v_) for (_, h_, v_, _) in comps]
    if len(comps) == 1:
        pass
    elif len(comps) == 3 and samplings in (
        [(1, 1), (1, 1), (1, 1)],
        [(2, 2), (1, 1), (1, 1)],
    ):
        pass
    else:
        raise NotImplementedError(f"unsupported sampling grid {samplings}")
    hmax = max(s[0] for s in samplings)
    vmax = max(s[1] for s in samplings)
    mcu_cols = -(-fw // (8 * hmax))
    mcu_rows = -(-fh // (8 * vmax))

    planes = []
    for (_, sh, sv, _), _s in zip(comps, samplings):
        planes.append(np.zeros((mcu_rows * 8 * sv, mcu_cols * 8 * sh), np.float64))

    reader = _BitReader(b, pos)
    prev_dc = [0] * len(comps)
    mcu_idx = 0
    for my in range(mcu_rows):
        for mx in range(mcu_cols):
            if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
                reader.sync_restart()  # consume RSTn, reset DC predictors
                prev_dc = [0] * len(comps)
            mcu_idx += 1
            for ci, (cid, sh, sv, tq) in enumerate(comps):
                dct_table = huff_dc[scan[cid][0]]
                act_table = huff_ac[scan[cid][1]]
                q = quant[tq]
                for by in range(sv):
                    for bx in range(sh):
                        zz = np.zeros(64, np.int64)
                        s = _read_symbol(reader, dct_table)
                        diff = _extend(reader.read_bits(s), s) if s else 0
                        prev_dc[ci] += diff
                        zz[0] = prev_dc[ci]
                        k = 1
                        while k < 64:
                            rs = _read_symbol(reader, act_table)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC index out of range")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        coef = (zz[UNZIGZAG].reshape(8, 8) * q).astype(np.float64)
                        blk = _idct(coef) + 128.0
                        y0, x0 = (my * sv + by) * 8, (mx * sh + bx) * 8
                        planes[ci][y0 : y0 + 8, x0 : x0 + 8] = blk

    if len(comps) == 1:
        g = np.clip(np.round(planes[0][:fh, :fw]), 0, 255).astype(np.uint8)
        return fw, fh, np.repeat(g[:, :, None], 3, axis=2)

    y = planes[0]
    upsampled = [y]
    for ci in (1, 2):
        p = planes[ci]
        sh, sv = samplings[ci]
        if (sh, sv) != (hmax, vmax):
            p = np.repeat(np.repeat(p, vmax // sv, axis=0), hmax // sh, axis=1)
        upsampled.append(p[: y.shape[0], : y.shape[1]])
    ycc = np.stack([u[:fh, :fw] for u in upsampled], axis=-1)
    return fw, fh, _ycbcr_to_rgb(ycc)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2): spectral selection + successive approximation
# ---------------------------------------------------------------------------


def _progressive_scan(
    b: bytes,
    pos: int,
    scan_comps: list[tuple[int, int, int]],  # (comp_idx, dc_table, ac_table)
    comps: list[tuple[int, int, int, int]],
    grids: list[tuple[int, int, int, int]],  # per comp: (bh_i, bw_i, bh_n, bw_n)
    mcu_rows: int,
    mcu_cols: int,
    Ss: int,
    Se: int,
    Ah: int,
    Al: int,
    coefs: list[np.ndarray],
    huff_dc: dict[int, dict],
    huff_ac: dict[int, dict],
    restart_interval: int,
) -> int:
    """Decode one progressive scan in the coefficient domain (T.81 G.2).
    Returns the byte position just past the scan's entropy data."""
    reader = _BitReader(b, pos)
    prev_dc = {ci: 0 for ci, _, _ in scan_comps}
    eobrun = 0
    p1 = 1 << Al
    m1 = -p1

    def dc_block(ci: int, dct: dict, by: int, bx: int) -> None:
        blk = coefs[ci][by, bx]
        if Ah == 0:  # first DC pass: diff-coded, point-transformed
            s = _read_symbol(reader, dct)
            diff = _extend(reader.read_bits(s), s) if s else 0
            prev_dc[ci] += diff
            blk[0] = prev_dc[ci] << Al
        else:  # refinement: one raw bit
            if reader.read_bit():
                blk[0] |= p1

    def ac_first(ci: int, act: dict, by: int, bx: int) -> None:
        nonlocal eobrun
        blk = coefs[ci][by, bx]
        if eobrun > 0:
            eobrun -= 1
            return
        k = Ss
        while k <= Se:
            rs = _read_symbol(reader, act)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r < 15:  # EOB run
                    eobrun = (1 << r) - 1
                    if r:
                        eobrun += reader.read_bits(r)
                    return
                k += 16  # ZRL
                continue
            k += r
            if k > Se:
                raise ValueError("AC index out of range in progressive scan")
            blk[k] = _extend(reader.read_bits(s), s) << Al
            k += 1

    def ac_refine(ci: int, act: dict, by: int, bx: int) -> None:
        nonlocal eobrun
        blk = coefs[ci][by, bx]
        k = Ss
        if eobrun == 0:
            while k <= Se:
                rs = _read_symbol(reader, act)
                r, s = rs >> 4, rs & 0x0F
                newval = 0
                if s == 0:
                    if r < 15:  # EOB run: the rest of this block refines below
                        eobrun = (1 << r)
                        if r:
                            eobrun += reader.read_bits(r)
                        break
                    # r == 15: ZRL — skip 16 zero-history positions
                else:
                    if s != 1:
                        raise ValueError("refinement magnitude must be 1")
                    newval = p1 if reader.read_bit() else m1
                # advance: correction bits on nonzero history, count r zeros
                while k <= Se:
                    if blk[k] != 0:
                        if reader.read_bit() and (blk[k] & p1) == 0:
                            blk[k] += p1 if blk[k] > 0 else m1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= Se:
                    blk[k] = newval
                k += 1
        if eobrun > 0:
            while k <= Se:  # EOB region: corrections only
                if blk[k] != 0 and reader.read_bit() and (blk[k] & p1) == 0:
                    blk[k] += p1 if blk[k] > 0 else m1
                k += 1
            eobrun -= 1

    def unit(ci: int, dct: dict, act: dict, by: int, bx: int) -> None:
        if Ss == 0:
            dc_block(ci, dct, by, bx)
        elif Ah == 0:
            ac_first(ci, act, by, bx)
        else:
            ac_refine(ci, act, by, bx)

    mcu_idx = 0

    def maybe_restart() -> None:
        nonlocal mcu_idx, eobrun
        if restart_interval and mcu_idx and mcu_idx % restart_interval == 0:
            reader.sync_restart()
            for c in prev_dc:
                prev_dc[c] = 0
            eobrun = 0
        mcu_idx += 1

    if len(scan_comps) > 1:  # interleaved (DC scans only, per T.81 G.1.1)
        if Ss != 0:
            raise ValueError("interleaved progressive AC scan is invalid")
        for my in range(mcu_rows):
            for mx in range(mcu_cols):
                maybe_restart()
                for ci, dt, at in scan_comps:
                    _, sh, sv, _ = comps[ci]
                    for by in range(sv):
                        for bx in range(sh):
                            unit(ci, huff_dc.get(dt), huff_ac.get(at),
                                 my * sv + by, mx * sh + bx)
    else:
        ci, dt, at = scan_comps[0]
        _, _, bh_n, bw_n = grids[ci]
        for by in range(bh_n):
            for bx in range(bw_n):
                maybe_restart()
                unit(ci, huff_dc.get(dt), huff_ac.get(at), by, bx)
    return reader.pos


def _decode_progressive(b: bytes) -> tuple[int, int, np.ndarray]:
    """Progressive JPEG decoder: accumulates every scan's contribution in
    the coefficient domain, then dequantizes + inverse-DCTs once."""
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    frame = None
    coefs: list[np.ndarray] | None = None
    grids: list[tuple[int, int, int, int]] = []
    cid_to_idx: dict[int, int] = {}
    restart_interval = 0
    mcu_rows = mcu_cols = 0
    while pos < len(b):
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        while pos + 1 < len(b) and b[pos + 1] == 0xFF:
            pos += 1
        marker = b[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(b):
            raise ValueError("truncated marker segment")
        seglen = struct.unpack_from(">H", b, pos)[0]
        seg = b[pos + 2 : pos + seglen]
        nxt = pos + seglen
        if marker == 0xDB:
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables not supported")
                zz = np.frombuffer(seg, np.uint8, count=64, offset=i + 1).astype(np.int64)
                quant[tq] = zz  # keep in zigzag order for the coef domain
                i += 65
        elif marker == 0xC4:
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                n = sum(bits)
                vals = list(seg[i + 17 : i + 17 + n])
                (huff_dc if tc == 0 else huff_ac)[th] = _build_huffman(bits, vals)
                i += 17 + n
        elif marker == 0xC2:
            prec = seg[0]
            if prec != 8:
                raise NotImplementedError("only 8-bit precision supported")
            fh, fw = struct.unpack_from(">HH", seg, 1)
            ncomp = seg[5]
            comps = []
            for ci in range(ncomp):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
                cid_to_idx[cid] = ci
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcu_cols = -(-fw // (8 * hmax))
            mcu_rows = -(-fh // (8 * vmax))
            coefs = []
            grids = []
            for _, sh, sv, _ in comps:
                bh_i, bw_i = mcu_rows * sv, mcu_cols * sh
                bw_n = -(-(-(-fw * sh // hmax)) // 8)
                bh_n = -(-(-(-fh * sv // vmax)) // 8)
                grids.append((bh_i, bw_i, bh_n, bw_n))
                coefs.append(np.zeros((bh_i, bw_i, 64), np.int64))
            frame = (fw, fh, comps)
        elif marker == 0xDD:
            restart_interval = struct.unpack_from(">H", seg, 0)[0]
        elif marker == 0xDA:
            if frame is None or coefs is None:
                raise ValueError("SOS before SOF2")
            ns = seg[0]
            scan_comps = []
            for ci in range(ns):
                cid, tabs = seg[1 + 2 * ci], seg[2 + 2 * ci]
                scan_comps.append((cid_to_idx[cid], tabs >> 4, tabs & 0x0F))
            Ss, Se, aa = seg[1 + 2 * ns : 4 + 2 * ns]
            Ah, Al = aa >> 4, aa & 0x0F
            pos = _progressive_scan(
                b, nxt, scan_comps, frame[2], grids, mcu_rows, mcu_cols,
                Ss, Se, Ah, Al, coefs, huff_dc, huff_ac, restart_interval,
            )
            continue
        pos = nxt
    if frame is None or coefs is None:
        raise ValueError("missing SOF2/SOS")

    fw, fh, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    planes = []
    for ci, (_, sh, sv, tq) in enumerate(comps):
        bh_i, bw_i, _, _ = grids[ci]
        q = quant[tq]
        zz = coefs[ci] * q  # dequantize in zigzag order
        raster = zz[:, :, UNZIGZAG].reshape(bh_i, bw_i, 8, 8)
        blk = np.einsum("ji,yxjk,kl->yxil", _C, raster.astype(np.float64), _C)
        plane = blk.transpose(0, 2, 1, 3).reshape(bh_i * 8, bw_i * 8) + 128.0
        planes.append(plane)

    if len(comps) == 1:
        g = np.clip(np.round(planes[0][:fh, :fw]), 0, 255).astype(np.uint8)
        return fw, fh, np.repeat(g[:, :, None], 3, axis=2)
    y = planes[0]
    upsampled = [y]
    for ci in (1, 2):
        p = planes[ci]
        sh, sv = comps[ci][1], comps[ci][2]
        if (sh, sv) != (hmax, vmax):
            p = np.repeat(np.repeat(p, vmax // sv, axis=0), hmax // sh, axis=1)
        upsampled.append(p[: y.shape[0], : y.shape[1]])
    ycc = np.stack([u[:fh, :fw] for u in upsampled], axis=-1)
    return fw, fh, _ycbcr_to_rgb(ycc)


def _encode_ac_first(
    writer: _BitWriter, zz: np.ndarray, Al: int, ac_codes: dict
) -> None:
    """One block of a progressive AC first pass (Ah=0): values point-
    transformed by Al (sign-magnitude shift), run-length + EOB coded."""
    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        av = (abs(v) >> Al) * (1 if v > 0 else -1)
        if av == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]
            writer.write(code, ln)
            run -= 16
        s = _category(av)
        code, ln = ac_codes[(run << 4) | s]
        writer.write(code, ln)
        vv = av if av >= 0 else av + (1 << s) - 1
        writer.write(vv, s)
        run = 0
    if run:
        code, ln = ac_codes[0x00]
        writer.write(code, ln)


def _encode_ac_refine(
    writer: _BitWriter, zz: np.ndarray, Al: int, ac_codes: dict
) -> None:
    """One block of a progressive AC refinement pass (Ah=Al+1 → Al):
    newly-significant coefficients as (run,1)+sign, correction bits for
    already-nonzero coefficients interleaved POSITIONALLY exactly as the
    decoder consumes them (T.81 G.1.2.3)."""
    # event stream since the last emitted symbol: 'Z' (stays zero) or a
    # correction bit for an already-nonzero coefficient
    events: list = []  # 'Z' | ('C', bit)

    def emit(rs: int, sign_bit: int | None, n_z: int) -> None:
        code, ln = ac_codes[rs]
        writer.write(code, ln)
        if sign_bit is not None:
            writer.write(sign_bit, 1)
        # flush corrections interleaved among the first n_z Z positions
        z_seen = 0
        while events and z_seen < n_z:
            ev = events.pop(0)
            if ev == "Z":
                z_seen += 1
            else:
                writer.write(ev[1], 1)
        # corrections that sit between the last Z and the new coefficient
        while events and events[0] != "Z":
            writer.write(events.pop(0)[1], 1)

    run = 0
    for k in range(1, 64):
        v = int(zz[k])
        hist = abs(v) >> (Al + 1)
        if hist:  # already significant: correction bit = bit Al
            events.append(("C", (abs(v) >> Al) & 1))
        elif (abs(v) >> Al) == 1:  # newly significant this pass
            while run > 15:
                emit(0xF0, None, 16)
                run -= 16
            emit((run << 4) | 1, 1 if v > 0 else 0, run)
            run = 0
        else:
            events.append("Z")
            run += 1
    if run or any(ev != "Z" for ev in events):
        # EOB: decoder refines every remaining nonzero coefficient
        code, ln = ac_codes[0x00]
        writer.write(code, ln)
        for ev in events:
            if ev != "Z":
                writer.write(ev[1], 1)


def jpeg_bytes_progressive(
    img: np.ndarray, *, quality: int = 85, subsampling: str = "4:4:4"
) -> bytes:
    """Encode as progressive JPEG (SOF2) with a 4-stage scan script:
    DC first (Al=1, interleaved) → per-component AC first (Ss=1..63,
    Al=1) → DC refinement → per-component AC refinement. Exercises
    spectral selection, successive approximation, EOB coding and the
    refinement correction-bit protocol; the decoded pixels must equal the
    baseline encoding of the same image bit-for-bit (identical quantized
    coefficients, different entropy layout)."""
    gray = img.ndim == 2
    h, w = img.shape[:2]
    ql = _scaled_quant(QUANT_LUMA, quality)
    qc = _scaled_quant(QUANT_CHROMA, quality)
    if gray:
        planes = [img.astype(np.float64)]
        sampling = [(1, 1)]
        qtab = [0]
    else:
        ycc = _rgb_to_ycbcr(img)
        y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
        if subsampling == "4:2:0":
            cbp = _pad_to(cb, 2)
            crp = _pad_to(cr, 2)
            cb = (cbp[0::2, 0::2] + cbp[0::2, 1::2] + cbp[1::2, 0::2] + cbp[1::2, 1::2]) / 4.0
            cr = (crp[0::2, 0::2] + crp[0::2, 1::2] + crp[1::2, 0::2] + crp[1::2, 1::2]) / 4.0
            planes = [y, cb, cr]
            sampling = [(2, 2), (1, 1), (1, 1)]
        elif subsampling == "4:4:4":
            planes = [y, cb, cr]
            sampling = [(1, 1), (1, 1), (1, 1)]
        else:
            raise ValueError(f"unsupported subsampling {subsampling!r}")
        qtab = [0, 1, 1]
    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcu_cols = -(-w // (8 * hmax))
    mcu_rows = -(-h // (8 * vmax))
    padded = []
    for p, (sh, sv) in zip(planes, sampling):
        ph, pw = mcu_rows * 8 * sv, mcu_cols * 8 * sh
        pl = p[: min(p.shape[0], ph), : min(p.shape[1], pw)]
        padded.append(
            np.pad(pl, ((0, ph - pl.shape[0]), (0, pw - pl.shape[1])), mode="edge")
        )
    qblocks = [
        _quantized_blocks(p, ql if t == 0 else qc) for p, t in zip(padded, qtab)
    ]
    zzblocks = [qb.reshape(qb.shape[0], qb.shape[1], 64)[:, :, ZIGZAG] for qb in qblocks]

    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    dc_bits, dc_vals, dc_codes = _flat_table(dc_syms)
    ac_bits, ac_vals, ac_codes = _flat_table(ac_syms)

    out = bytearray(b"\xff\xd8")
    app0 = b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + b"\x00\x00"
    out += b"\xff\xe0" + struct.pack(">H", 2 + len(app0)) + app0
    for tq, q in ([(0, ql)] if gray else [(0, ql), (1, qc)]):
        payload = bytes([tq]) + bytes(int(v) for v in q.reshape(64)[ZIGZAG])
        out += b"\xff\xdb" + struct.pack(">H", 2 + len(payload)) + payload
    ncomp = len(planes)
    sof = bytes([8]) + struct.pack(">HH", h, w) + bytes([ncomp])
    for ci, ((sh, sv), tq) in enumerate(zip(sampling, qtab)):
        sof += bytes([ci + 1, (sh << 4) | sv, tq])
    out += b"\xff\xc2" + struct.pack(">H", 2 + len(sof)) + sof
    for tc_th, bits, vals in [(0x00, dc_bits, dc_vals), (0x10, ac_bits, ac_vals)]:
        payload = bytes([tc_th]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(payload)) + payload

    def sos_header(comp_ids: list[int], Ss: int, Se: int, Ah: int, Al: int) -> bytes:
        sos = bytes([len(comp_ids)])
        for cid in comp_ids:
            sos += bytes([cid, 0x00])
        sos += bytes([Ss, Se, (Ah << 4) | Al])
        return b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    # non-interleaved block dims per component
    ndims = []
    for sh, sv in sampling:
        bw_n = -(-(-(-w * sh // hmax)) // 8)
        bh_n = -(-(-(-h * sv // vmax)) // 8)
        ndims.append((bh_n, bw_n))

    # scan 1: DC first, interleaved, Al=1
    wtr = _BitWriter()
    prev = [0] * ncomp
    for my in range(mcu_rows):
        for mx in range(mcu_cols):
            for ci, (sh, sv) in enumerate(sampling):
                for by in range(sv):
                    for bx in range(sh):
                        dc = int(zzblocks[ci][my * sv + by, mx * sh + bx, 0]) >> 1
                        diff = dc - prev[ci]
                        prev[ci] = dc
                        s = _category(diff)
                        code, ln = dc_codes[s]
                        wtr.write(code, ln)
                        if s:
                            vv = diff if diff >= 0 else diff + (1 << s) - 1
                            wtr.write(vv, s)
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 0, 1) + wtr.flush()
    # scan 2..: AC first per component, Al=1
    for ci in range(ncomp):
        wtr = _BitWriter()
        bh_n, bw_n = ndims[ci]
        for by in range(bh_n):
            for bx in range(bw_n):
                _encode_ac_first(wtr, zzblocks[ci][by, bx], 1, ac_codes)
        out += sos_header([ci + 1], 1, 63, 0, 1) + wtr.flush()
    # DC refinement, interleaved, Ah=1 -> Al=0: one raw bit per block
    wtr = _BitWriter()
    for my in range(mcu_rows):
        for mx in range(mcu_cols):
            for ci, (sh, sv) in enumerate(sampling):
                for by in range(sv):
                    for bx in range(sh):
                        wtr.write(int(zzblocks[ci][my * sv + by, mx * sh + bx, 0]) & 1, 1)
    out += sos_header(list(range(1, ncomp + 1)), 0, 0, 1, 0) + wtr.flush()
    # AC refinement per component, Ah=1 -> Al=0
    for ci in range(ncomp):
        wtr = _BitWriter()
        bh_n, bw_n = ndims[ci]
        for by in range(bh_n):
            for bx in range(bw_n):
                _encode_ac_refine(wtr, zzblocks[ci][by, bx], 0, ac_codes)
        out += sos_header([ci + 1], 1, 63, 1, 0) + wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)
