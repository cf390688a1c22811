"""Unit tests for noise mixing at SNR (operators/augment.py) and the exact
autocorrelation pitch tracker (dsp.pitch_lag_exact): planted constant
signals with hand-computable scales, the int16 clamp path, silent/missing
noise, and periodic fixtures with known best lags."""

import numpy as np
import pandas as pd
import pytest

from seronet_data_validator_spark.operators.augment import mix_at_snr
from seronet_data_validator_spark.operators.dsp import (
    audio_basic_features_exact,
    pitch_lag_exact,
)
from seronet_data_validator_spark.sources.clips import wav_bytes


def _df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows))


def _clip(cid, samples, noise_id=0):
    return {
        "clip_id": cid,
        "bytes": wav_bytes(np.asarray(samples, np.int16), 8000),
        "noise_id": noise_id,
    }


def _noise(noise_id, samples):
    return {
        "noise_id": noise_id,
        "bytes": wav_bytes(np.asarray(samples, np.int16), 8000),
    }


def test_mix_constant_signals(spark):
    # rms_s = 1000, rms_noise = 500, ratio 10 -> scale 0.2; the 100-sample
    # noise tiles over the 400-sample clip; every mixed sample = 1100
    clips = _df(spark, [_clip("c", np.full(400, 1000))])
    bank = _df(spark, [_noise(0, np.full(100, 500))])
    mixed = mix_at_snr(clips, bank, ratio=10.0)
    row = mixed.collect()[0].asDict()
    assert row["snr_scale"] == pytest.approx(0.2)
    assert row["clipped_samples"] == 0
    feats = audio_basic_features_exact(mixed).collect()[0].asDict()
    assert feats["peak_abs"] == 1100
    assert feats["rms"] == pytest.approx(1100.0)


def test_mix_clamps_to_int16(spark):
    # scale = 32000 / (500 * 1) = 64 -> add 32000 -> raw 64000, clamped
    clips = _df(spark, [_clip("c", np.full(200, 32000))])
    bank = _df(spark, [_noise(0, np.full(50, 500))])
    row = mix_at_snr(clips, bank, ratio=1.0).collect()[0].asDict()
    assert row["clipped_samples"] == 200
    feats = (
        audio_basic_features_exact(mix_at_snr(clips, bank, ratio=1.0))
        .collect()[0]
        .asDict()
    )
    assert feats["peak_abs"] == 32767


def test_mix_silent_or_missing_noise(spark):
    clips = _df(
        spark,
        [_clip("zero_noise", np.full(300, 1234), 0),
         _clip("no_bank_row", np.full(300, 1234), 7)],
    )
    bank = _df(spark, [_noise(0, np.zeros(50))])
    rows = {
        r["clip_id"]: r.asDict()
        for r in mix_at_snr(clips, bank, ratio=10.0).collect()
    }
    for cid in ("zero_noise", "no_bank_row"):
        assert rows[cid]["snr_scale"] == 0.0
        assert rows[cid]["clipped_samples"] == 0
    feats = {
        r["clip_id"]: r.asDict()
        for r in audio_basic_features_exact(
            mix_at_snr(clips, bank, ratio=10.0)
        ).collect()
    }
    assert feats["zero_noise"]["peak_abs"] == 1234  # unchanged passthrough
    assert feats["no_bank_row"]["peak_abs"] == 1234


def test_pitch_lag_square_wave(spark):
    i = np.arange(2000, dtype=np.int64)
    square16 = np.where((i // 8) % 2 == 0, 20000, -20000)
    silence = np.zeros(2000, np.int64)
    df = _df(
        spark,
        [
            {"clip_id": "sq", "bytes": wav_bytes(square16.astype(np.int16), 8000)},
            {"clip_id": "sil", "bytes": wav_bytes(silence.astype(np.int16), 8000)},
        ],
    )
    rows = {r["clip_id"]: r.asDict() for r in pitch_lag_exact(df).collect()}
    assert rows["sq"]["best_lag"] == 16  # fundamental period, not a multiple
    assert rows["sq"]["periodicity"] == pytest.approx(
        rows["sq"]["r_best"] / rows["sq"]["r_zero"]
    )
    assert rows["sil"]["best_lag"] == 8  # tie-break toward the smallest lag
    assert rows["sil"]["periodicity"] is None
    assert rows["sil"]["r_zero"] == 0
