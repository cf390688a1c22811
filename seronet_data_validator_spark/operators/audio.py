"""Audio invariant pass: decoded-PCM checks, Arrow-vectorized (zero-copy).

This is the engine's only Python-executed data path (input_hint: "vectorized
pandas/Arrow UDFs (no per-row Python) throughout"). It is the audio analog of
the reference's cross-column arithmetic invariants C13
(/root/reference/File_Submission_Object.py:519-552): instead of
total-vs-live cell counts, the invariants are

  * the WAV header must decode, its declared data chunk must fit the payload
    (truncation), and its sample rate must equal ``sr_hz``;
  * ``dur_ms`` must equal round(n_samples / sr * 1000) (±2 ms);
  * against a reference row (analog of prior-vs-confirm consistency,
    /root/reference/Validation_Rules.py:64-97): decoded PCM must match the
    reference PCM with SNR ≥ 30 dB (allclose in dB terms), and the
    transcript must equal the reference transcript exactly.

Plan shape — the 100 TB design point is BYTES MOVED PER CLIP, because the
binary column is ≥95% of the corpus and every byte shipped to a Python
worker is copied ≥3× (socket write, socket read, Arrow assembly):

  * **Identity fast path.** Bit-identical payloads trivially satisfy
    SNR ≥ 30 dB (noise ≡ 0 ⇒ SNR = ∞), and every self-consistency check
    (magic, truncation, sr, duration) is derivable from a 60-byte WAV
    prefix (44-byte canonical header + the IMA ADPCM fact/data headers)
    plus the payload LENGTH. So the JVM-side projection compares
    ``bytes == ref_bytes`` (a streaming memcmp inside the join stage) and
    ships Python only ``substring(bytes, 1, 60)`` + ``length(bytes)`` unless
    a real SNR comparison is required. Clean corpora — the overwhelmingly
    common case — move ~60 B/clip through Arrow instead of the full clip.
  * **No-reference mode ships headers only** (SNR needs no payload at all).
  * **QC on ships each full payload once.** The QC1 rules (operators/qc.py)
    ride the same pass; C13a still parses only the 60-byte prefix where no
    SNR comparison is real, and no clip is decoded twice.
  * **Transcript equality is evaluated JVM-side** (a Column comparison);
    only mismatching transcripts cross into Python, as the violation value.
  * The reference join is storage-partitioned (bucketed by clip_id) → no
    shuffle, no sort; only (id, header, lengths, flags) leave the JVM for
    clean rows.
  * The slow path (payloads differ) decodes zero-copy int16 views over the
    Arrow buffer and accumulates SNR dot products in fixed CACHE-RESIDENT
    float32 chunks — no full-clip float temporaries, so Python-side DRAM
    traffic stays ~the int16 inputs even for pathological clip lengths.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from seronet_data_validator_spark.model import SEVERITY_ERROR, VIOLATION_SCHEMA
from seronet_data_validator_spark.operators.arrow_rows import _binary_views, _rows_batch

_SNR_DB_MIN = 30.0  # C13a: decoded PCM vs its reference
_DUR_TOLERANCE_MS = 2  # C13a: declared vs decoded duration
_SNR_CHUNK = 16384  # samples per dot-product chunk (128 KB of float32 scratch)

# --- G.711 companded-codec expansion tables (ITU-T G.711, public spec) ----
# WAV format codes: 1 = PCM, 6 = A-law, 7 = µ-law. Both log codecs expand
# 8-bit codes to 16-bit linear via a 256-entry gather — fully vectorized,
# built once at import from the CCITT reference arithmetic.
_WAVE_PCM, _WAVE_ALAW, _WAVE_MULAW = 1, 6, 7
_WAVE_IMA_ADPCM = 0x11  # IMA/DVI ADPCM (operators/adpcm.py)
_WAVE_MS_ADPCM = 0x02  # Microsoft ADPCM (operators/msadpcm.py)
_FACT = np.frombuffer(b"fact", np.uint8)
_DATA = np.frombuffer(b"data", np.uint8)


def _build_g711_tables() -> tuple[np.ndarray, np.ndarray]:
    codes = np.arange(256, dtype=np.int32)
    u = (~codes) & 0xFF  # µ-law transmits complemented codes
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    ulaw = np.where(u & 0x80, 0x84 - t, t - 0x84).astype(np.int16)
    a = codes ^ 0x55  # A-law transmits even bits inverted
    seg = (a & 0x70) >> 4
    base = (a & 0x0F) << 4
    t = np.where(
        seg == 0,
        base + 8,
        (base + 0x108) << np.maximum(seg - 1, 0),
    )
    alaw = np.where(a & 0x80, t, -t).astype(np.int16)
    return ulaw, alaw


_ULAW_TABLE, _ALAW_TABLE = _build_g711_tables()


def snr_db(ref: np.ndarray, test: np.ndarray, scratch: tuple[np.ndarray, np.ndarray] | None = None) -> float:
    """SNR of ``test`` against ``ref`` in dB: 10·log10(P_ref / P_noise).

    Chunked accumulation: int16→float32 conversion and the noise difference
    live in two fixed scratch buffers (L2-resident), so DRAM traffic is the
    int16 inputs only — the naive full-size float32 temporaries triple the
    bytes moved per clip. int16 values and their differences are exactly
    representable in float32; per-chunk dots are BLAS, cross-chunk sums
    accumulate in float64. Scale factors cancel in the ratio, so raw int16
    samples work unchanged."""
    n = min(len(ref), len(test))
    if n == 0:
        return -np.inf
    if scratch is None:
        scratch = (
            np.empty(_SNR_CHUNK, dtype=np.float32),
            np.empty(_SNR_CHUNK, dtype=np.float32),
        )
    buf_r, buf_t = scratch
    p_ref = 0.0
    p_noise = 0.0
    for a in range(0, n, _SNR_CHUNK):
        b = min(a + _SNR_CHUNK, n)
        m = b - a
        r = buf_r[:m]
        t = buf_t[:m]
        np.copyto(r, ref[a:b], casting="unsafe")
        np.copyto(t, test[a:b], casting="unsafe")
        p_ref += float(np.dot(r, r))
        np.subtract(r, t, out=t)  # t becomes the noise chunk
        p_noise += float(np.dot(t, t))
    if p_noise == 0.0:
        return np.inf
    if p_ref == 0.0:
        return -np.inf
    return 10.0 * np.log10(p_ref / p_noise)


_RIFF = np.frombuffer(b"RIFF", dtype=np.uint8)
_WAVE = np.frombuffer(b"WAVE", dtype=np.uint8)


def _parse_header(
    seg: np.ndarray | None, payload_len: int
) -> tuple[int, int, int, int, int]:
    """Validate a canonical RIFF/WAVE header of a uint8 view →
    (n_frames, sr, wav_format, channels, bits). Accepted formats: PCM
    16-bit and 24-bit (code 1; mono or stereo) and the G.711 companded
    codecs A-law/µ-law (codes 6/7, 8-bit mono — ITU-T G.711), and
    canonical-layout IMA ADPCM (code 0x11 — operators/adpcm.py); anything
    else raises, which the invariant pass reports as C13a.decode.

    ``payload_len`` is the FULL blob length (the view may be just the
    header). A declared data-chunk size exceeding the actual payload (a
    truncated upload) or a data length that is not a whole number of
    sample frames is a decode ERROR, not something to silently clamp —
    truncation must surface even when dur_ms is NULL."""
    if seg is None or len(seg) < 44 or not (
        np.array_equal(seg[:4], _RIFF) and np.array_equal(seg[8:12], _WAVE)
    ):
        raise ValueError("not a RIFF/WAVE buffer")
    fmt = int.from_bytes(seg[20:22].tobytes(), "little")
    ch = int.from_bytes(seg[22:24].tobytes(), "little")
    bits = int.from_bytes(seg[34:36].tobytes(), "little")
    sr = int.from_bytes(seg[24:28].tobytes(), "little")
    if fmt in (_WAVE_PCM, _WAVE_ALAW, _WAVE_MULAW):
        # canonical 44-byte layout: data chunk header at offset 36
        n = int.from_bytes(seg[40:44].tobytes(), "little")
        if n > payload_len - 44:
            raise ValueError(
                f"truncated: declared data chunk {n} B exceeds payload {payload_len - 44} B"
            )
    if fmt == _WAVE_PCM and bits in (16, 24) and ch in (1, 2):
        align = ch * bits // 8
        if n % align:
            raise ValueError(f"PCM data length {n} not a whole number of frames")
        return n // align, sr, fmt, ch, bits
    if fmt in (_WAVE_ALAW, _WAVE_MULAW) and bits == 8 and ch == 1:
        return n, sr, fmt, ch, bits
    if fmt == _WAVE_IMA_ADPCM and ch == 1 and bits == 4:
        # canonical IMA ADPCM layout (operators/adpcm.adpcm_bytes): fmt(20B)
        # at 12, fact at 40, data header at 52 -> 60-byte prefix carries
        # sample count, block geometry and the declared data size. The
        # full-blob decode path (_decode_view -> decode_adpcm_wav) walks
        # chunks generically; this fast path validates the canonical shape.
        if len(seg) < 60 or not (
            np.array_equal(seg[40:44], _FACT) and np.array_equal(seg[52:56], _DATA)
        ):
            raise ValueError("non-canonical IMA ADPCM chunk layout")
        block_align = int.from_bytes(seg[32:34].tobytes(), "little")
        spb = int.from_bytes(seg[38:40].tobytes(), "little")
        n_samples = int.from_bytes(seg[48:52].tobytes(), "little")
        data_sz = int.from_bytes(seg[56:60].tobytes(), "little")
        if data_sz > payload_len - 60:
            raise ValueError(
                f"truncated: declared data chunk {data_sz} B exceeds payload {payload_len - 60} B"
            )
        if block_align < 5 or spb != (block_align - 4) * 2 + 1:
            raise ValueError("inconsistent ADPCM block geometry")
        blocks = (n_samples + spb - 1) // spb
        if blocks * block_align != data_sz:
            raise ValueError(
                f"ADPCM data length {data_sz} inconsistent with {n_samples} samples"
            )
        return n_samples, sr, fmt, ch, bits
    raise ValueError(f"unsupported WAV format code {fmt} / {ch}ch / {bits}-bit")


def _decode_view(seg: np.ndarray | None) -> tuple[np.ndarray, int]:
    """Parse a FULL audio blob from a uint8 view → (mono int16 samples,
    sr). RIFF/WAVE PCM16 mono is a zero-copy view; stereo downmixes
    deterministically as (L+R)>>1 (the FLAC mono-contract convention);
    24-bit PCM decodes exactly and maps to the int16 contract by an
    arithmetic >>8; A-law/µ-law expand through the G.711 tables (one
    vectorized gather); FLAC streams decode through operators/flac.py;
    AIFF ('FORM') and Sun AU ('.snd') files through operators/aiff.py
    with the same floor-mean downmix + power-of-two depth mapping.
    Same layout contract as sources/clips.decode_wav."""
    if seg is not None and len(seg) >= 4 and bytes(seg[:4]) == b"fLaC":
        from seronet_data_validator_spark.operators.flac import decode_flac

        return decode_flac(seg.tobytes())
    if seg is not None and len(seg) >= 12 and bytes(seg[:4]) in (b"FORM", b".snd"):
        full, sr = _decode_aiff_au_channels(seg)
        n_ch = full.shape[1]
        mix = full[:, 0] if n_ch == 1 else full.sum(axis=1) // n_ch
        return mix.astype(np.int16), sr
    if (
        seg is not None
        and len(seg) >= 22
        and bytes(seg[:4]) == b"RIFF"
        and int.from_bytes(seg[20:22].tobytes(), "little") == _WAVE_IMA_ADPCM
    ):
        from seronet_data_validator_spark.operators.adpcm import decode_adpcm_wav

        return decode_adpcm_wav(seg.tobytes())
    if (
        seg is not None
        and len(seg) >= 22
        and bytes(seg[:4]) == b"RIFF"
        and int.from_bytes(seg[20:22].tobytes(), "little") == _WAVE_MS_ADPCM
    ):
        from seronet_data_validator_spark.operators.msadpcm import (
            decode_msadpcm_wav,
        )

        return decode_msadpcm_wav(seg.tobytes())
    n_frames, sr, fmt, ch, bits = _parse_header(
        seg, len(seg) if seg is not None else 0
    )
    if fmt == _WAVE_PCM:
        if bits == 16:
            pcm = seg[44 : 44 + n_frames * ch * 2].view("<i2")
            if ch == 2:
                pcm32 = pcm.astype(np.int32).reshape(-1, 2)
                pcm = ((pcm32[:, 0] + pcm32[:, 1]) >> 1).astype(np.int16)
            return pcm, sr
        # 24-bit: assemble little-endian signed 24 in int32 lanes
        raw = seg[44 : 44 + n_frames * ch * 3].reshape(-1, 3).astype(np.int32)
        s = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        s = np.where(s & 0x800000, s - (1 << 24), s)
        if ch == 2:
            s = (s.reshape(-1, 2)[:, 0] + s.reshape(-1, 2)[:, 1]) >> 1
        return (s >> 8).astype(np.int16), sr
    table = _ULAW_TABLE if fmt == _WAVE_MULAW else _ALAW_TABLE
    return table[seg[44 : 44 + n_frames]], sr


def _decode_aiff_au_channels(seg: np.ndarray) -> tuple[np.ndarray, int]:
    """AIFF ('FORM') / AU ('.snd') → (int64 (n, ch) on the 16-bit lane,
    sr): native-depth decode (operators/aiff.py) then the engine's
    power-of-two depth mapping, shared by the mono and full-channel
    contract views."""
    from seronet_data_validator_spark.operators.aiff import decode_aiff, decode_au

    b = seg.tobytes()
    full, sr, bits = decode_aiff(b) if b[:4] == b"FORM" else decode_au(b)
    if bits > 16:
        full = full >> (bits - 16)
    elif bits < 16:
        full = full << (16 - bits)
    return full, sr


def _decode_view_channels(seg: np.ndarray | None) -> tuple[np.ndarray, int]:
    """Full-channel variant of :func:`_decode_view` → (int64 samples shaped
    (n, channels) on the 16-bit lane, sr). Where the mono contract
    downmixes, this keeps every channel — the inter-channel QC operators
    (qc.stereo_balance) need both sides of a stereo pair. Depth mapping
    matches the mono contract: 24-bit PCM and deep FLAC rescale by the
    same power of two onto the int16 lane BEFORE any statistics, so mono
    and stereo passes agree on scale. Mono-by-nature codecs (G.711,
    ADPCM) return shape (n, 1)."""
    if seg is not None and len(seg) >= 4 and bytes(seg[:4]) == b"fLaC":
        from seronet_data_validator_spark.operators.flac import _decode_all

        full, sr, bps = _decode_all(seg.tobytes())
        if bps > 16:
            full = full >> (bps - 16)
        elif bps < 16:
            full = full << (16 - bps)
        return full, sr
    if seg is not None and len(seg) >= 12 and bytes(seg[:4]) in (b"FORM", b".snd"):
        return _decode_aiff_au_channels(seg)
    if (
        seg is not None
        and len(seg) >= 22
        and bytes(seg[:4]) == b"RIFF"
        and int.from_bytes(seg[20:22].tobytes(), "little") == _WAVE_PCM
    ):
        n_frames, sr, fmt, ch, bits = _parse_header(seg, len(seg))
        if bits == 16:
            pcm = seg[44 : 44 + n_frames * ch * 2].view("<i2")
            return pcm.astype(np.int64).reshape(-1, ch), sr
        raw = seg[44 : 44 + n_frames * ch * 3].reshape(-1, 3).astype(np.int64)
        s = raw[:, 0] | (raw[:, 1] << 8) | (raw[:, 2] << 16)
        s = np.where(s & 0x800000, s - (1 << 24), s)
        return (s >> 8).reshape(-1, ch), sr
    mono, sr = _decode_view(seg)
    return mono.astype(np.int64).reshape(-1, 1), sr


def _split_count(clips: DataFrame) -> int | None:
    """Spark's file-split count for the bytes ``clips`` reads:
    ``max(defaultParallelism, ceil(bytes / spark.sql.files.maxPartitionBytes))``,
    the bytes being the size statistics of its plan's leaves. None when a
    leaf's size is unknown (Spark's ``defaultSizeInBytes`` placeholder)."""
    jspark = clips.sparkSession._jsparkSession
    conf = jspark.sessionState().conf()
    leaves = clips._jdf.queryExecution().analyzed().collectLeaves()
    sizes = [int(str(leaves.apply(i).stats().sizeInBytes()))
             for i in range(leaves.size())]
    if max(sizes) >= conf.defaultSizeInBytes():
        return None
    splits = -(-sum(sizes) // conf.filesMaxPartitionBytes())
    return max(jspark.sparkContext().defaultParallelism(), splits)


def audio_violations(
    clips: DataFrame,
    reference_clips: DataFrame | None = None,
    *,
    table_name: str = "clips",
    id_column: str = "clip_id",
    force_full_decode: bool = False,
    invariants: bool = True,
    qc: bool = False,
    keep_columns: tuple = (),
) -> DataFrame:
    """Run the decoded-PCM invariant suite (C13a) and, with ``qc``, the QC1
    acceptance rules (operators/qc.py) in one Arrow pass; returns a
    violations DataFrame.

    ``reference_clips`` (clip_id, ref_bytes, ref_transcript) joins 1:1 on the
    id; when absent only the self-consistency checks run (header-only — no
    payload ever leaves the JVM). The join key is the (unique) clip id —
    over bucketed/Iceberg-bucket-partitioned tables this is a
    storage-partitioned merge join with no shuffle.

    ``force_full_decode=True`` disables the identity fast path (every row
    ships full payloads and runs the Python SNR) — semantically identical,
    used to benchmark the worst-case full-decode throughput.

    ``qc=True`` adds the QC1 rows of every clip that decodes to at least one
    sample; ``invariants=False`` drops C13a and the join (qc.qc_violations).
    ``keep_columns`` follow the rows: a QC1 row carries its clip's values, a
    C13a row NULL (C13a is table-level: the runner's NULL partition).

    The pass runs in as many Python tasks as the input's bytes need
    (:func:`_split_count`), not one per input partition: each task pays a
    fixed worker setup before the first batch. In the lifecycle, Spark's
    ``DisableUnnecessaryBucketedScan`` keeps a bucketed fact scan bucketed
    under the union and the dedup's exchange, so without the coalesce the
    pass would start one Python task per bucket, however small. The
    coalesce sits above the reference join, so a bucketed sort-merge join
    keeps its co-partitioning, and below ``mapInArrow``: one above it would
    still start one Python runner per partition below it. A coalesce never
    adds partitions, so where a bucket is bigger than a file split it
    changes nothing.
    """
    ship = keep_columns if qc else ()  # QC off: no more than the header crosses
    # 60 B = the 44B canonical PCM header + 16B, so the IMA ADPCM fact/data
    # headers (offsets 40..60) ride along
    payload = F.col("bytes") if qc else F.substring(F.col("bytes"), 1, 60)
    df, needs_snr = clips, F.lit(False)
    ref_payload, bad_transcript = F.lit(None).cast("binary"), F.lit(None).cast("string")
    if invariants and reference_clips is not None:
        df = clips.join(
            reference_clips.select(id_column, "ref_bytes", "ref_transcript"), id_column, "left"
        )
        # C13a needs full payloads ONLY when an SNR comparison is real: both
        # sides present and NOT bit-identical (identical ⇒ SNR = ∞).
        needs_snr = F.col("bytes").isNotNull() & F.col("ref_bytes").isNotNull()
        if not force_full_decode:
            needs_snr = needs_snr & ~(F.col("bytes") == F.col("ref_bytes"))
        t_bad = F.col("ref_transcript").isNotNull() & ~F.col("transcript").eqNullSafe(
            F.col("ref_transcript")
        )
        ref_payload = F.when(needs_snr, F.col("ref_bytes"))
        # only mismatching transcripts cross the Arrow boundary, as the
        # violation's column_value ('None' mirrors the str(None) the old
        # pandas path reported for a NULL transcript)
        bad_transcript = F.when(t_bad, F.coalesce(F.col("transcript"), F.lit("None")))
        if not qc:
            payload = F.when(needs_snr, F.col("bytes")).otherwise(payload)
    c13a = [F.col("sr_hz"), F.col("dur_ms"), needs_snr.alias("_full"),
            F.length("bytes").alias("_blen"), ref_payload.alias("_ref_payload"),
            bad_transcript.alias("_bad_transcript")]
    proj = df.select(
        F.col(id_column), payload.alias("_payload"), *(c13a if invariants else ()), *ship
    )
    n_tasks = _split_count(clips)
    if n_tasks is not None:
        proj = proj.coalesce(n_tasks)

    if qc:
        from seronet_data_validator_spark.operators.qc import (
            QC1_STATS, clip_stats, qc1_violations)
    stats = [T.StructField(c, T.LongType()) for c in QC1_STATS] if qc else []
    out_schema = T.StructType(
        VIOLATION_SCHEMA.fields + stats + [proj.schema[c] for c in ship]
    )
    types = [f.type for f in to_arrow_schema(out_schema)][: len(out_schema) - len(ship)]
    no_stats = (None,) * len(stats)

    # Not on arrow_rows._decoded_map: a row reads a 60-byte header or a full
    # payload, the reference payload and the declared columns beside it.
    def check_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        scratch = (
            np.empty(_SNR_CHUNK, dtype=np.float32),
            np.empty(_SNR_CHUNK, dtype=np.float32),
        )
        for batch in batches:
            col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            n_rows = batch.num_rows
            ids = col[id_column]  # ids materialize lazily, per output row only
            get_payload, _ = _binary_views(col["_payload"])
            out: list[tuple] = []
            src_row: list[int | None] = []  # a C13a row takes NULL keep columns

            def emit(i: int, column: str, value: str, rule: str, msg: str) -> None:
                out.append((SEVERITY_ERROR, table_name, ids[i].as_py(),
                            column, value, rule, msg) + no_stats)
                src_row.append(None)

            def valid(name: str) -> np.ndarray:
                # NULL detection uses the Arrow validity bitmap — a sentinel
                # value would conflate NULL with a (user-supplied) negative
                # declaration, silently skipping the mismatch check for
                # adversarial inputs.
                a = col[name]
                return (a.is_valid().to_numpy(zero_copy_only=False) if a.null_count
                        else np.ones(n_rows, dtype=bool))

            def declared(name: str) -> np.ndarray:
                return pa.compute.fill_null(col[name], 0).to_numpy(zero_copy_only=False)

            full = np.zeros(n_rows, dtype=bool)
            if invariants:
                full = col["_full"].to_numpy(zero_copy_only=False)
                blen, sr_decl, dur_decl = declared("_blen"), declared("sr_hz"), declared("dur_ms")
                sr_valid, dur_valid = valid("sr_hz"), valid("dur_ms")
                get_ref, _ = _binary_views(col["_ref_payload"])

            for i in range(n_rows):
                seg = get_payload(i)
                pcm = None
                if invariants:
                    try:
                        if full[i]:
                            pcm, sr = _decode_view(seg)
                            n_samples = len(pcm)
                        else:  # the header alone, even when the payload is full
                            n_samples, sr, _fmt, _ch, _bits = _parse_header(
                                None if seg is None else seg[:60], int(blen[i])
                            )
                    except ValueError as e:
                        emit(i, "bytes", f"<{int(blen[i])}B>",
                             "C13a.decode", f"audio buffer failed to decode: {e}")
                    else:
                        if sr_valid[i] and sr != int(sr_decl[i]):
                            emit(i, "sr_hz", str(int(sr_decl[i])), "C13a.sr_mismatch",
                                 f"declared sr_hz {int(sr_decl[i])} != decoded {sr}")
                        if dur_valid[i]:
                            decoded_ms = round(n_samples / sr * 1000.0) if sr else -1
                            if abs(decoded_ms - int(dur_decl[i])) > _DUR_TOLERANCE_MS:
                                emit(i, "dur_ms", str(int(dur_decl[i])), "C13a.dur_mismatch",
                                     f"declared dur_ms {int(dur_decl[i])} != decoded {decoded_ms}")
                        rseg = get_ref(i) if full[i] else None
                        if rseg is not None:
                            try:
                                ref_pcm, _sr = _decode_view(rseg)
                            except ValueError:
                                ref_pcm = None
                            if ref_pcm is not None:
                                s = snr_db(ref_pcm, pcm, scratch)
                                if s < _SNR_DB_MIN:
                                    emit(i, "bytes", f"snr={s:.1f}dB", "C13a.snr",
                                         f"decoded PCM SNR {s:.1f} dB below required {_SNR_DB_MIN} dB")
                if qc:
                    if not full[i]:  # a failed SNR decode is not retried
                        try:
                            pcm, _sr = _decode_view(seg)
                        except ValueError:
                            pass
                    if pcm is not None and len(pcm):
                        out.append((None, None, ids[i].as_py(), None, None, None, None)
                                   + clip_stats(pcm))
                        src_row.append(i)
            for i in np.nonzero(valid("_bad_transcript"))[0] if invariants else ():
                emit(int(i), "transcript", col["_bad_transcript"][int(i)].as_py(),
                     "C13a.transcript", "transcript does not equal reference transcript")
            yield _rows_batch(out, types, batch, ship, src_row, out_schema.names)

    out = proj.mapInArrow(check_batches, schema=out_schema)
    if not qc:
        return out.select(
            *[F.lit(None).cast(clips.schema[c].dataType).alias(c) for c in keep_columns], "*"
        )
    # a stats row (NULL rule_id) expands into its QC1 violations, a C13a row
    # stays itself
    own = F.array(F.struct(*VIOLATION_SCHEMA.names))
    rows = F.when(F.col("rule_id").isNull(), qc1_violations(table_name)).otherwise(own)
    return out.select(F.explode(rows).alias("_v"), *keep_columns).select(
        "_v.*", *keep_columns
    )


def _word_edit_distances(obs_toks, ref_toks):
    """Vectorized word-level Levenshtein over one Arrow batch of token-array
    pairs. The DP is Wagner-Fischer with unit costs; the inner loop is a
    numpy row update — the insertion recurrence cur[j] <= cur[j-1]+1 is
    enforced with a min-plus prefix scan (min.accumulate of cur - j), so
    the only Python-level loop is over the SHORTER sequence's tokens, not
    over cells. Tokens are interned to int32 ids per pair before the DP so
    the substitution test is an integer compare, not a string compare."""
    out = np.empty(len(obs_toks), np.int64)
    for r in range(len(obs_toks)):
        ao, bo = obs_toks[r], ref_toks[r]
        a = [] if ao is None else list(ao)
        b = [] if bo is None else list(bo)
        if len(a) < len(b):  # loop over the shorter side
            a, b = b, a
        if not b:
            out[r] = len(a)
            continue
        vocab: dict[str, int] = {}
        ai = np.fromiter(
            (vocab.setdefault(t, len(vocab)) for t in a), np.int32, len(a)
        )
        bi = np.fromiter(
            (vocab.setdefault(t, len(vocab)) for t in b), np.int32, len(b)
        )
        j = np.arange(len(bi) + 1, dtype=np.int64)
        prev = j.copy()
        cur = np.empty_like(prev)
        for x in ai:
            # deletion (prev[j]+1) and substitution (prev[j-1] + a!=b) lanes
            cur[0] = prev[0] + 1
            np.minimum(prev[1:] + 1, prev[:-1] + (bi != x), out=cur[1:])
            # insertion lane: cur[j] = min_k<=j (cur[k] + (j-k)) as a scan
            np.minimum.accumulate(cur - j, out=cur)
            cur += j
            prev, cur = cur, prev
        out[r] = prev[-1]
    return out


def transcript_wer(
    clips: DataFrame,
    reference: DataFrame,
    *,
    id_col: str = "clip_id",
    text_col: str = "transcript",
) -> DataFrame:
    """Word error rate vs the reference transcript — the graded companion
    to the pass/fail transcript-equality invariant (ASR convention: WER =
    word-level edit distance / reference word count). Tokenization (trim/lower/split) is
    JVM Column code; only the two token ARRAYS cross into Python, through
    one Arrow-batched pandas UDF running the vectorized DP above — no
    per-row Python round trips, no full-text shipping beyond the tokens
    themselves. The join is the same zero-Exchange bucketed reference join
    as the invariant pass. wer > 1 is possible for insert-heavy hypotheses
    (standard convention); empty references give wer = dist / 1.
    Reference parity: /root/reference has exact transcript equality only
    (Validation_Rules.py); WER is part of the beyond-reference audio-ASR
    surface."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _dist(obs, ref):
        return pd.Series(_word_edit_distances(obs.to_numpy(), ref.to_numpy()))

    toks = lambda c: F.split(F.trim(F.lower(c)), r"\s+")  # noqa: E731
    obs = clips.select(id_col, toks(F.col(text_col)).alias("_obs_toks"))
    ref = reference.select(id_col, toks(F.col(text_col)).alias("_ref_toks"))
    j = obs.join(ref, id_col)
    dist = _dist("_obs_toks", "_ref_toks")
    ref_words = F.size("_ref_toks").cast("long")
    return j.select(
        F.col(id_col),
        ref_words.alias("ref_words"),
        dist.alias("edit_distance"),
        (dist / F.greatest(ref_words, F.lit(1))).alias("wer"),
    )
