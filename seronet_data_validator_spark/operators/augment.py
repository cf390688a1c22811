"""Audio augmentation operators: additive noise mixing at a target SNR.

A training-data pipeline augments clean speech by mixing in background
noise at a controlled signal-to-noise ratio. This module implements that
as a Spark-first operator: the noise bank (small — hundreds of clips) is
BROADCAST-joined onto the corpus by a noise key, then one narrow
``mapInArrow`` pass decodes both sides, scales the (cyclically tiled)
noise to the requested amplitude ratio, mixes, clamps to int16, and
re-encodes. At 10^12-clip scale the plan is scan → broadcast hash join →
Arrow pass: no shuffle of the audio payload at all.

Exactness: the scale factor is ``rms_signal / (rms_noise * ratio)`` —
two exact int64 sums of squares, one sqrt each, one multiply, one
division — and the mixed sample is ``clamp(s + floor(scale*noise + 0.5))``.
Every step is a correctly-rounded IEEE double op over exactly-represented
integers, so an external engine evaluating the identical expressions
reproduces every mixed sample bit-for-bit: the mix path carries a full
value oracle (driver contract ``mix_at_snr``), with the RIFF re-encode /
re-decode round trip inside the checked pipeline.

``ratio`` is an amplitude ratio, not dB (ratio 10 == +20 dB SNR): dB
would need a transcendental ``10**(x/20)`` whose rounding is not
portable across engines, and pipelines that want dB can pre-compute the
ratio driver-side.

Reference parity: augmentation has no analog in the reference validator
(it validates, never rewrites); this is part of the beyond-reference
training-data-pipeline surface the build brief asks for.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MIX_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("snr_scale", T.DoubleType()),
        T.StructField("clipped_samples", T.LongType()),
    ]
)


def mix_at_snr(
    clips: DataFrame,
    noise: DataFrame,
    *,
    ratio: float = 10.0,
    id_col: str = "clip_id",
    key_col: str = "noise_id",
) -> DataFrame:
    """Mix each clip with its assigned noise clip at amplitude ratio
    ``ratio`` (signal RMS / scaled-noise RMS). ``clips`` must carry
    ``key_col``; ``noise`` is ``(key_col,
    bytes)`` and is broadcast. Noise shorter than the clip tiles
    cyclically (the standard practice); silent noise leaves the clip
    unchanged (scale 0). Output keeps the clip id, the mixed RIFF bytes,
    and the applied scale + int16-clamp count for QA."""
    nz = noise.select(
        F.col(key_col).alias("__nz_key"), F.col("bytes").alias("__nz_bytes")
    )
    src = clips.select(id_col, "bytes", F.col(key_col).alias("__nz_key")).join(
        F.broadcast(nz), "__nz_key", "left"
    )

    # Not on arrow_rows._decoded_map: each row decodes two payload columns,
    # the clip and its noise.
    from seronet_data_validator_spark.operators.arrow_rows import _binary_views
    from seronet_data_validator_spark.operators.audio import _decode_view
    from seronet_data_validator_spark.sources.clips import wav_bytes

    names = [f.name for f in MIX_SCHEMA.fields]
    types = [pa.string(), pa.binary(), pa.int32(), pa.float64(), pa.int64()]
    r = float(ratio)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            cols: dict[str, list] = {n: [] for n in names}
            b = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
            ids = b[id_col].to_pylist()
            get_s, _ = _binary_views(b["bytes"])
            get_n, nz_valid = _binary_views(b["__nz_bytes"])
            for i in range(batch.num_rows):
                try:
                    s16, sr = _decode_view(get_s(i))
                except ValueError:
                    cols["clip_id"].append(ids[i])
                    cols["bytes"].append(None)
                    cols["sr_hz"].append(0)
                    cols["snr_scale"].append(None)
                    cols["clipped_samples"].append(None)
                    continue
                s = s16.astype(np.int64)
                n = len(s)
                nz_view = get_n(i) if (nz_valid is None or nz_valid[i]) else None
                scale = 0.0
                mixed = s
                clipped = 0
                if nz_view is not None and n > 0:
                    nz16, _ = _decode_view(nz_view)
                    if len(nz16):
                        # cyclic tiling, then stats over the TILED stream so
                        # the replay is a plain i % len indexing
                        t = np.resize(nz16.astype(np.int64), n)
                        sum_sq_s = int(np.dot(s, s))
                        sum_sq_t = int(np.dot(t, t))
                        if sum_sq_s > 0 and sum_sq_t > 0:
                            rms_s = float(np.sqrt(sum_sq_s / n))
                            rms_t = float(np.sqrt(sum_sq_t / n))
                            scale = rms_s / (rms_t * r)
                            add = np.floor(scale * t + 0.5).astype(np.int64)
                            raw = s + add
                            mixed = np.clip(raw, -32768, 32767)
                            clipped = int((raw != mixed).sum())
                cols["clip_id"].append(ids[i])
                cols["bytes"].append(wav_bytes(mixed.astype(np.int16), sr))
                cols["sr_hz"].append(sr)
                cols["snr_scale"].append(scale)
                cols["clipped_samples"].append(clipped)
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], type=t) for n, t in zip(names, types)],
                names=names,
            )

    return src.mapInArrow(run, schema=MIX_SCHEMA)
