"""Audio DSP operator tests: spectral features, silence/VAD stats, and
spectral-fingerprint near-duplicate detection (operators/dsp.py)."""

import numpy as np
import pytest

from seronet_data_validator_spark.operators.dsp import (
    _fingerprint_bits,
    audio_fingerprint,
    audio_near_duplicates,
    silence_stats,
    spectral_features,
)
from seronet_data_validator_spark.sources.clips import wav_bytes


def _tone(freq, sr, dur_ms, seed=0, amp=0.6, noise=0.005):
    rng = np.random.default_rng(seed)
    n = int(sr * dur_ms / 1000)
    t = np.arange(n, dtype=np.float32) / sr
    s = amp * np.sin(2 * np.pi * freq * t) + rng.normal(0, noise, n).astype(
        np.float32
    )
    return np.clip(s, -1.0, 1.0)


def _wav(samples, sr):
    return bytearray(wav_bytes((samples * 32767).astype(np.int16), sr))


def _clips_df(spark, rows):
    return spark.createDataFrame(rows, "clip_id string, bytes binary")


def test_spectral_features_tone_vs_noise(spark):
    sr = 8000
    rng = np.random.default_rng(3)
    df = _clips_df(
        spark,
        [
            ("tone", _wav(_tone(1000, sr, 400), sr)),
            ("noise", _wav(rng.normal(0, 0.1, 3200).astype(np.float32), sr)),
            ("bad", bytearray(b"not a wav")),
        ],
    )
    out = {r["clip_id"]: r for r in spectral_features(df).collect()}
    # n_fft=1024 at 8 kHz -> 7.8 Hz bins; the peak must be the tone
    assert abs(out["tone"]["dominant_freq_hz"] - 1000) < 10
    assert abs(out["tone"]["spectral_centroid_hz"] - 1000) < 60
    # a pure tone is spectrally flat ~0; white noise approaches 1
    assert out["tone"]["spectral_flatness"] < 0.05
    assert out["noise"]["spectral_flatness"] > 0.5
    assert out["noise"]["spectral_bandwidth_hz"] > out["tone"]["spectral_bandwidth_hz"]
    # 85% rolloff of white noise sits in the upper spectrum
    assert out["noise"]["spectral_rolloff_hz"] > 2500
    assert out["bad"]["dominant_freq_hz"] is None


def test_silence_stats_segments_and_trim_points(spark):
    sr = 8000
    frame = 25  # ms -> 200 samples
    sil = np.zeros(int(sr * 0.2), np.float32)  # 200 ms
    speech = _tone(440, sr, 100, amp=0.5, noise=0.0)  # 100 ms
    clip = np.concatenate([sil, speech, sil, speech, sil])
    df = _clips_df(
        spark,
        [
            ("two_seg", _wav(clip, sr)),
            ("all_sil", _wav(np.zeros(sr // 2, np.float32), sr)),
            ("bad", bytearray(b"xx")),
        ],
    )
    out = {r["clip_id"]: r for r in silence_stats(df, frame_ms=frame).collect()}
    r = out["two_seg"]
    assert r["n_speech_segments"] == 2
    assert abs(r["leading_silence_ms"] - 200) <= frame
    assert abs(r["trailing_silence_ms"] - 200) <= frame
    # 600 ms silent of 800 ms total
    assert abs(r["silence_ratio"] - 0.75) < 0.1
    a = out["all_sil"]
    assert a["n_speech_segments"] == 0 and a["silence_ratio"] == 1.0
    assert a["leading_silence_ms"] == a["trailing_silence_ms"] == 500
    assert out["bad"]["silence_ratio"] is None and out["bad"]["n_frames"] == 0


def test_fingerprint_invariances():
    """The bit-level contract: same content re-scaled / re-sampled /
    re-encoded stays within the hamming threshold; distinct content and
    noise do not."""
    base = _fingerprint_bits(_tone(220, 16000, 300), 16000)

    def ham(other):
        return int(np.sum(base != other))

    assert ham(_fingerprint_bits(_tone(220, 16000, 300, amp=0.15), 16000)) <= 4
    for sr in (8000, 22050, 44100):
        assert ham(_fingerprint_bits(_tone(220, sr, 300), sr)) <= 4, sr
    # int16 round-trip (re-encode)
    i16 = (_tone(220, 16000, 300) * 32767).astype(np.int16)
    assert ham(_fingerprint_bits(i16.astype(np.float32) / 32768.0, 16000)) <= 4
    # distinct tone (different band) and white noise are far
    assert ham(_fingerprint_bits(_tone(350, 16000, 300), 16000)) > 12
    rng = np.random.default_rng(1)
    assert ham(_fingerprint_bits(rng.normal(0, 0.1, 4800).astype(np.float32), 16000)) > 12
    # too short to fingerprint
    assert _fingerprint_bits(np.zeros(4, np.float32), 16000) is None


def test_audio_fingerprint_columns(spark):
    sr = 16000
    df = _clips_df(
        spark,
        [
            ("a", _wav(_tone(220, sr, 300), sr)),
            ("bad", bytearray(b"nope")),
        ],
    )
    out = {r["clip_id"]: r for r in audio_fingerprint(df).collect()}
    assert isinstance(out["a"]["fp0"], int)
    assert out["bad"]["fp0"] is None and out["bad"]["fp1"] is None


def test_audio_near_duplicates_planted(spark):
    """Planted copies (rescaled, resampled, re-encoded at another rate) of
    clip a1 are recovered as pairs; distinct-content clips are not."""
    rows = [
        ("a1", _wav(_tone(220, 16000, 300), 16000)),
        ("a2_scaled", _wav(_tone(220, 16000, 300, amp=0.2), 16000)),
        ("a3_44k", _wav(_tone(220, 44100, 300), 44100)),
        ("b1", _wav(_tone(350, 16000, 300, seed=7), 16000)),
        ("c1", _wav(
            np.random.default_rng(9).normal(0, 0.1, 4800).astype(np.float32), 16000
        )),
        ("bad", bytearray(b"zz")),
    ]
    df = _clips_df(spark, rows)
    caches = []
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in audio_near_duplicates(df, cache_handles=caches).collect()
    }
    for h in caches:
        h.unpersist()
    got = set(pairs)
    assert got == {("a1", "a2_scaled"), ("a1", "a3_44k"), ("a2_scaled", "a3_44k")}
    assert all(h <= 12 for h in pairs.values())


def test_audio_near_duplicates_param_validation(spark):
    df = _clips_df(spark, [("a", bytearray(b""))])
    with pytest.raises(ValueError, match="divide 128"):
        audio_near_duplicates(df, n_bands_lsh=7)
    with pytest.raises(ValueError, match="pigeonhole"):
        audio_near_duplicates(df, max_hamming=16, n_bands_lsh=16)


def _g711_wav(codes: bytes, sr: int, fmt: int) -> bytearray:
    import struct

    n = len(codes)
    hdr = (
        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, fmt, 1, sr, sr, 1, 8)
        + b"data" + struct.pack("<I", n)
    )
    return bytearray(hdr + codes)


def test_g711_tables_itu_anchors():
    """ITU-T G.711 anchor values (the CCITT reference arithmetic) and the
    sign-bit symmetry both codecs guarantee."""
    from seronet_data_validator_spark.operators.audio import _ALAW_TABLE, _ULAW_TABLE

    assert _ULAW_TABLE[0xFF] == 0 and _ULAW_TABLE[0x7F] == 0
    assert _ULAW_TABLE[0x00] == -32124 and _ULAW_TABLE[0x80] == 32124
    assert _ALAW_TABLE[0x55] == -8 and _ALAW_TABLE[0xD5] == 8
    for c in range(128):
        assert _ULAW_TABLE[c] == -_ULAW_TABLE[c ^ 0x80]
        assert _ALAW_TABLE[c] == -_ALAW_TABLE[c ^ 0x80]
    # decoded magnitudes are monotone along each µ-law segment
    mags = [-int(_ULAW_TABLE[c]) for c in range(0, 0x80)]
    assert mags == sorted(mags, reverse=True)


def test_g711_wav_decode_end_to_end(spark):
    """µ-law / A-law WAV blobs decode through the same operators as PCM16:
    feature extraction sees the expanded 16-bit samples."""
    from seronet_data_validator_spark.operators.audio import (
        _ALAW_TABLE,
        _ULAW_TABLE,
        _decode_view,
    )
    from seronet_data_validator_spark.operators.multimodal import audio_features

    codes = bytes(range(256))
    for fmt, table in ((7, _ULAW_TABLE), (6, _ALAW_TABLE)):
        blob = _g711_wav(codes, 8000, fmt)
        pcm, sr = _decode_view(np.frombuffer(bytes(blob), dtype=np.uint8))
        assert sr == 8000
        assert np.array_equal(pcm, table[np.frombuffer(codes, np.uint8)])
    df = _clips_df(
        spark,
        [("u", _g711_wav(codes, 8000, 7)), ("a", _g711_wav(codes, 8000, 6)),
         ("f32", _g711_wav(codes, 8000, 3))],  # IEEE float: unsupported
    )
    out = {r["clip_id"]: r for r in audio_features(df).collect()}
    assert out["u"]["n_samples"] == 256 and out["u"]["sr_hz"] == 8000
    assert out["u"]["peak"] > 0.9          # full-scale codes present
    assert out["a"]["n_samples"] == 256
    assert out["f32"]["rms"] is None       # unsupported format -> decode fail


def test_video_frames_y4m(spark):
    from seronet_data_validator_spark.operators.multimodal import (
        video_frames,
        y4m_bytes,
    )

    # 10 frames, 8x6, frame k has constant luma 10k (exact mean, zero std)
    frames = np.stack([np.full((6, 8), 10 * k, np.uint8) for k in range(10)])
    rows = [
        ("v1", bytearray(y4m_bytes(frames))),
        ("mp4", bytearray(b"\x00\x00\x00\x18ftypmp42 not decodable")),
        ("junk", bytearray(b"xx")),
    ]
    df = spark.createDataFrame(rows, "item_id string, bytes binary")
    out = [r.asDict() for r in video_frames(df, max_frames=4).collect()]
    got = {(r["item_id"], r["frame_idx"]): r for r in out}
    # evenly spaced: 0, 3, 6, 9
    assert sorted(k[1] for k in got) == [0, 3, 6, 9]
    for fi in (0, 3, 6, 9):
        r = got[("v1", fi)]
        assert (r["width"], r["height"], r["n_frames"]) == (8, 6, 10)
        assert r["mean_luma"] == 10.0 * fi and r["std_luma"] == 0.0
    # compressed/garbage items are skipped, not crashed
    assert all(k[0] == "v1" for k in got)


def test_audio_basic_features_exact(spark):
    """Known-answer + failure-path test for the exact feature pass: a
    hand-computable square wave, a constant-negative clip (zero crossings
    = 0, |peak| exact at the int16 floor), and a non-WAV buffer routed to
    the NULL-feature row."""
    import numpy as np

    from seronet_data_validator_spark.operators.dsp import audio_basic_features_exact
    from seronet_data_validator_spark.sources.clips import wav_bytes

    square = np.tile(np.array([1000] * 4 + [-1000] * 4, np.int16), 10)  # 80 samples
    neg = np.full(50, -32768, np.int16)
    rows = [
        ("sq", bytearray(wav_bytes(square, 8000))),
        ("neg", bytearray(wav_bytes(neg, 16000))),
        ("bad", bytearray(b"not a wav at all")),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = {r["clip_id"]: r for r in audio_basic_features_exact(df).collect()}

    sq = out["sq"]
    assert (sq["n_samples"], sq["sr_hz"], sq["peak_abs"]) == (80, 8000, 1000)
    # 4+/4- period over 80 samples: a sign flip every 4th sample boundary,
    # 19 interior flips (first block has no predecessor flip)
    assert sq["zero_crossings"] == 19
    assert sq["rms"] == 1000.0  # |s| constant -> RMS exact

    ng = out["neg"]
    assert (ng["n_samples"], ng["sr_hz"]) == (50, 16000)
    assert ng["peak_abs"] == 32768 and ng["zero_crossings"] == 0
    assert ng["rms"] == 32768.0

    bd = out["bad"]
    assert bd["n_samples"] == 0 and bd["rms"] is None and bd["peak_abs"] is None


def test_mel_features_known_answers(spark):
    """Known-answer anchors for the mel front-end: a pure tone's energy
    concentrates in the mel band containing its frequency; silence is at
    the log floor; the filterbank partitions the interior spectrum."""
    import numpy as np

    from seronet_data_validator_spark.operators.dsp import (
        _mel_filterbank,
        mel_features,
    )
    from seronet_data_validator_spark.sources.clips import wav_bytes

    sr, n = 16000, 16000
    t = np.arange(n) / sr
    tone = (0.5 * np.sin(2 * np.pi * 1000.0 * t) * 32767).astype(np.int16)
    silence = np.zeros(n, np.int16)
    df = spark.createDataFrame(
        [("tone", bytearray(wav_bytes(tone, sr))),
         ("sil", bytearray(wav_bytes(silence, sr))),
         ("bad", bytearray(b"nope"))],
        "clip_id string, bytes binary",
    )
    out = {r["clip_id"]: r for r in mel_features(df).collect()}

    fb = _mel_filterbank(40, 512, sr)
    freqs = np.fft.rfftfreq(512, 1.0 / sr)
    tone_band = int(np.argmax(fb[:, int(round(1000.0 * 512 / sr))]))
    mean = np.array(out["tone"]["log_mel_mean"])
    assert abs(int(np.argmax(mean)) - tone_band) <= 1
    assert out["tone"]["n_frames"] == 1 + (n - 512) // 256

    sil_mean = np.array(out["sil"]["log_mel_mean"])
    assert np.all(sil_mean < -15)          # log floor (eps=1e-10 -> ~-23)
    assert out["bad"]["log_mel_mean"] is None

    # interior bins are covered with weight ~1 (partition of unity between
    # the first and last filter centers)
    col = fb.sum(axis=0)
    lo = np.flatnonzero(col > 0)[0]
    interior = col[(freqs >= freqs[lo] + 200) & (freqs <= 7500)]
    assert np.all(interior > 0.5) and np.all(interior <= 1.001)

    # MFCC c0 tracks overall log energy: tone >> silence
    assert out["tone"]["mfcc_mean"][0] > out["sil"]["mfcc_mean"][0] + 10


def test_audio_near_duplicates_hot_bucket_guard(spark):
    """Silent clips all fingerprint identically — a degenerate hot bucket.
    The guard must keep the genuine planted pair (exact refinement) and
    star mode must cap the silent cluster's output at linear."""
    sr = 16000
    silence = np.zeros(4800, np.float32)
    rows = [("s%03d" % i, _wav(silence, sr)) for i in range(60)]
    rows.append(("a1", _wav(_tone(220, sr, 300), sr)))
    rows.append(("a2", _wav(_tone(220, sr, 300, amp=0.2), sr)))
    df = _clips_df(spark, rows)
    caches = []
    plain = {
        (r["id_a"], r["id_b"])
        for r in audio_near_duplicates(df, cache_handles=caches).collect()
    }
    guarded = {
        (r["id_a"], r["id_b"])
        for r in audio_near_duplicates(
            df, max_bucket_size=10, cache_handles=caches
        ).collect()
    }
    assert guarded == plain  # exact refinement
    assert ("a1", "a2") in guarded
    star = audio_near_duplicates(
        df, max_bucket_size=10, star=True, cache_handles=caches
    ).collect()
    for h in caches:
        h.unpersist()
    silent_pairs = [
        r for r in star if r["id_a"].startswith("s") and r["id_b"].startswith("s")
    ]
    assert len(silent_pairs) == 59  # hub pairs, not 60*59/2
    assert {r["id_a"] for r in silent_pairs} == {"s000"}
    assert any(r["id_a"] == "a1" and r["id_b"] == "a2" for r in star)


def test_video_frames_mjpeg_avi(spark):
    """MJPEG-in-AVI: RIFF container walk + per-frame T.81 decode. Constant
    frames at quality 95 decode exactly, so mean/std luma are exact."""
    from seronet_data_validator_spark.operators.multimodal import (
        avi_mjpeg_bytes,
        video_frames,
    )

    frames = np.stack(
        [np.full((24, 32, 3), 40 * k + 20, np.uint8) for k in range(6)]
    )
    rows = [
        ("avi1", bytearray(avi_mjpeg_bytes(frames))),
        ("trunc", bytearray(avi_mjpeg_bytes(frames)[:40])),
    ]
    df = spark.createDataFrame(rows, "item_id string, bytes binary")
    out = {(r["item_id"], r["frame_idx"]): r for r in video_frames(df, max_frames=3).collect()}
    assert sorted(k[1] for k in out) == [0, 2, 5]
    for fi in (0, 2, 5):
        r = out[("avi1", fi)]
        assert (r["width"], r["height"], r["n_frames"]) == (32, 24, 6)
        assert r["mean_luma"] == 40.0 * fi + 20.0 and r["std_luma"] == 0.0
    assert all(k[0] == "avi1" for k in out)  # truncated AVI skipped


def test_video_frames_raw_dib_avi(spark):
    """Raw BI_RGB ('DIB ') AVI: frames stored bottom-up, BGR, rows padded
    to 4 bytes — the numpy un-layout must recover the planted pixels
    exactly, including at a width whose 3-byte rows need padding."""
    from seronet_data_validator_spark.operators.multimodal import (
        avi_dib_bytes,
        video_frames,
    )

    # non-constant gradient frame: catches row-order/channel-order mistakes
    grad = np.zeros((6, 7, 3), np.uint8)
    grad[..., 0] = np.arange(7, dtype=np.uint8)[None, :] * 30  # R by column
    grad[..., 2] = np.arange(6, dtype=np.uint8)[:, None] * 40  # B by row
    frames = np.stack([grad, np.full((6, 7, 3), 90, np.uint8)])
    df = spark.createDataFrame(
        [("dib1", bytearray(avi_dib_bytes(frames)))],
        "item_id string, bytes binary",
    )
    out = {r["frame_idx"]: r for r in video_frames(df, max_frames=4).collect()}
    assert sorted(out) == [0, 1]
    wl = np.array([0.299, 0.587, 0.114])
    want0 = round(float((grad.reshape(-1, 3).astype(np.float64) @ wl).mean()), 4)
    assert out[0]["mean_luma"] == want0
    assert (out[1]["mean_luma"], out[1]["std_luma"]) == (90.0, 0.0)
    assert (out[0]["width"], out[0]["height"], out[0]["n_frames"]) == (7, 6, 2)


def test_avi_inter_frame_codec_skipped(spark):
    """video_frames skips an AVI whose vids stream is an inter-frame codec
    (H264 needs a codec library) without raising, and still samples the
    MJPEG clip next to it."""
    from seronet_data_validator_spark.operators.multimodal import (
        avi_mjpeg_bytes,
        video_frames,
    )

    frames = np.stack([np.full((8, 8, 3), 50, np.uint8) for _ in range(2)])
    mjpeg = avi_mjpeg_bytes(frames)
    h264 = bytearray(mjpeg)
    pos = bytes(h264).index(b"vids") + 4
    h264[pos : pos + 4] = b"H264"
    df = spark.createDataFrame(
        [("h264", h264), ("mjpg", bytearray(mjpeg))], "item_id string, bytes binary")
    assert {r["item_id"] for r in video_frames(df).collect()} == {"mjpg"}


def test_decode_view_stereo_and_24bit_wav():
    """Extended WAV surface: stereo PCM16 downmixes (L+R)>>1; 24-bit PCM
    decodes exactly and maps to int16 by >>8 (so samples planted as
    s<<8 round-trip bit-exactly); stereo 24-bit composes both."""
    from seronet_data_validator_spark.operators.audio import _decode_view
    from seronet_data_validator_spark.sources.clips import wav_bytes_ex

    rng = np.random.default_rng(9)
    s = rng.integers(-32768, 32768, 4000).astype(np.int16)
    r = rng.integers(-32768, 32768, 4000).astype(np.int16)
    # stereo 16
    st = np.stack([s, r], axis=1)
    pcm, sr = _decode_view(np.frombuffer(wav_bytes_ex(st, 8000), np.uint8))
    assert sr == 8000
    exp = ((s.astype(np.int64) + r.astype(np.int64)) >> 1).astype(np.int16)
    assert np.array_equal(pcm, exp)
    # mono 24: plant s<<8 -> decode == s exactly
    s24 = s.astype(np.int32) << 8
    pcm, _ = _decode_view(np.frombuffer(wav_bytes_ex(s24, 8000, bits=24), np.uint8))
    assert np.array_equal(pcm, s)
    # stereo 24 with L=R
    st24 = np.stack([s24, s24], axis=1)
    pcm, _ = _decode_view(np.frombuffer(wav_bytes_ex(st24, 8000, bits=24), np.uint8))
    assert np.array_equal(pcm, s)
    # extremes survive 24-bit assembly (sign bit)
    e = np.array([(1 << 23) - 1, -(1 << 23), 0, -256, 256], np.int32)
    pcm, _ = _decode_view(np.frombuffer(wav_bytes_ex(e, 8000, bits=24), np.uint8))
    assert np.array_equal(pcm, (e >> 8).astype(np.int16))


def test_decoded_map_fans_out_rows_with_keep_columns(spark):
    """The shared decode pass (_decoded_map): ``rows`` may yield 0, 1 or 2 rows per
    clip, keep columns repeat on every output row of their clip, and an
    undecodable or NULL payload reaches ``rows`` as ``pcm = sr = None``."""
    from pyspark.sql import types as T

    from seronet_data_validator_spark.operators.arrow_rows import _decoded_map
    from seronet_data_validator_spark.operators.audio import _decode_view

    def wav(samples):
        return bytearray(wav_bytes(np.array(samples, np.int16), 8000))

    df = spark.createDataFrame(
        [
            ("zero", wav([]), "s0", 0),
            ("one", wav([1000]), "s1", 1),
            ("two", wav([5, -7]), "s2", 2),
            ("junk", bytearray(b"not audio"), "s3", 3),
            ("null", None, "s4", 4),
        ],
        "clip_id string, bytes binary, site string, grp int",
    ).repartition(2)
    schema = T.StructType(
        [
            T.StructField("clip_id", T.StringType()),
            T.StructField("k", T.IntegerType()),
            T.StructField("v", T.LongType()),
            T.StructField("sr", T.IntegerType()),
        ]
    )

    def rows(cid, pcm, sr):
        if pcm is None:
            yield (cid, None, None, sr)
            return
        for k, v in enumerate(pcm.tolist()):
            yield (cid, k, v, sr)

    out = _decoded_map(
        df, schema, rows, id_col="clip_id", decode=_decode_view, keep_columns=("site", "grp")
    )
    assert out.schema == T.StructType(
        list(schema.fields)
        + [T.StructField("site", T.StringType()), T.StructField("grp", T.IntegerType())]
    )
    assert sorted((tuple(r) for r in out.collect()), key=repr) == sorted(
        [
            ("one", 0, 1000, 8000, "s1", 1),
            ("two", 0, 5, 8000, "s2", 2),
            ("two", 1, -7, 8000, "s2", 2),
            ("junk", None, None, None, "s3", 3),
            ("null", None, None, None, "s4", 4),
        ],
        key=repr,
    )


def test_decoded_map_string_payload_and_not_implemented_decode(spark):
    """The payload column may be a string column named by ``bytes_col``
    (each row arrives as a view of its UTF-8 bytes), and a decode that
    raises NotImplementedError fails that row like a ValueError does."""
    from pyspark.sql import types as T

    from seronet_data_validator_spark.operators.arrow_rows import _decoded_map

    def decode(view):
        if view is not None and view.tobytes().startswith(b"x"):
            raise NotImplementedError("no decoder for this payload")
        return view, None if view is None else len(view)

    def rows(doc_id, view, n):
        yield (doc_id, None if view is None else view.tobytes().decode("utf-8"), n)

    df = spark.createDataFrame(
        [(1, "abc", "s1"), (2, "é日", "s2"), (3, "xyz", "s3"), (4, None, "s4"), (5, "", "s5")],
        "doc_id long, txt string, site string",
    ).repartition(2)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    out = _decoded_map(df, schema, rows, id_col="doc_id", decode=decode,
                       bytes_col="txt", keep_columns=("site",))
    assert out.columns == ["doc_id", "text", "n_bytes", "site"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "abc", 3, "s1"),
        (2, "é日", 5, "s2"),
        (3, None, None, "s3"),
        (4, None, None, "s4"),
        (5, "", 0, "s5"),
    ]


@pytest.mark.parametrize(
    "op",
    [
        "qc.audio_qc",
        "qc.stereo_balance",
        "qc.audio_dropouts",
        "qc.loudness_gain",
        "dsp.hum_detection",
        "dsp.spectral_features",
    ],
)
def test_pcm_operators_name_the_id_after_id_col(spark, op):
    """A per-clip PCM operator keeps the caller's id column name: the
    passes behind ``_decoded_map`` used to emit ``clip_id`` whatever
    ``id_col`` was, so a post-select of ``id_col`` failed or the id was
    silently renamed."""
    import importlib

    mod_name, fn_name = op.split(".")
    fn = getattr(
        importlib.import_module(f"seronet_data_validator_spark.operators.{mod_name}"),
        fn_name,
    )
    tone = (3000 * np.sin(np.arange(800) * 0.3)).astype(np.int16)
    df = spark.createDataFrame(
        [("a", bytearray(wav_bytes(tone, 8000))), ("b", None)],
        "cid string, bytes binary",
    )
    out = fn(df, id_col="cid")
    assert out.columns[0] == "cid" and "clip_id" not in out.columns
    assert {r["cid"] for r in out.collect()} == {"a", "b"}


def test_header_only_duration_uses_frames_for_stereo(spark):
    """C13a.dur check must count FRAMES, not interleaved samples: a stereo
    clip with a correct dur_ms declaration passes; mismatches still fire."""
    from seronet_data_validator_spark.operators.audio import audio_violations
    from seronet_data_validator_spark.sources.clips import wav_bytes_ex

    n = 1600  # 200 ms at 8 kHz
    st = np.zeros((n, 2), np.int16)
    rows = [
        ("ok", bytearray(wav_bytes_ex(st, 8000)), 8000, 200, "t"),
        ("bad", bytearray(wav_bytes_ex(st, 8000)), 8000, 400, "t"),
    ]
    df = spark.createDataFrame(
        rows, "clip_id string, bytes binary, sr_hz int, dur_ms int, transcript string"
    )
    out = {r["row_ref"]: r for r in audio_violations(df).collect()}
    assert "ok" not in out
    assert out["bad"]["rule_id"] == "C13a.dur_mismatch"
    assert "declared dur_ms 400 != decoded 200" in out["bad"]["message"]


def test_word_edit_distances_matches_naive_dp():
    """The vectorized WER DP (min-plus scan for the insertion lane) must
    equal the textbook O(n*m) Wagner-Fischer on fuzzed token pairs."""
    import random

    from seronet_data_validator_spark.operators.audio import _word_edit_distances

    def naive(a, b):
        d = list(range(len(b) + 1))
        for i, x in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, y in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (x != y))
        return d[len(b)]

    rng = random.Random(3)
    pairs = [([], []), (["x"], []), ([], ["x"]), (["a", "b"], ["a", "b"])]
    for _ in range(200):
        vocab = [f"w{i}" for i in range(rng.randint(1, 6))]
        pairs.append(
            (
                [rng.choice(vocab) for _ in range(rng.randint(0, 9))],
                [rng.choice(vocab) for _ in range(rng.randint(0, 9))],
            )
        )
    obs = np.array([p[0] for p in pairs], dtype=object)
    ref = np.array([p[1] for p in pairs], dtype=object)
    assert list(_word_edit_distances(obs, ref)) == [naive(a, b) for a, b in pairs]


def test_transcript_wer_operator(spark):
    """End-to-end WER: substitution/deletion/insertion each cost 1 word;
    wer = dist / ref_words; null-safe on missing hypotheses."""
    from seronet_data_validator_spark.operators.audio import transcript_wer

    ref = spark.createDataFrame(
        [("a", "the quick brown fox"), ("b", "hello world"), ("c", "one two")],
        "clip_id string, transcript string",
    )
    hyp = spark.createDataFrame(
        [("a", "the quick red fox"), ("b", "hello brave new world"), ("c", "one two")],
        "clip_id string, transcript string",
    )
    out = {r["clip_id"]: r for r in transcript_wer(hyp, ref).collect()}
    assert out["a"]["edit_distance"] == 1 and out["a"]["ref_words"] == 4
    assert out["a"]["wer"] == 0.25
    assert out["b"]["edit_distance"] == 2  # two insertions
    assert out["c"]["edit_distance"] == 0 and out["c"]["wer"] == 0.0


def test_resample_linear_dyadic_exactness():
    """At dyadic ratios the interpolated values are exact binary fractions:
    y[2m] == x[m], y[2m+1] == (x[m]+x[m+1])/2 (tail clamps), and 8k->4k is a
    pure even-sample pick."""
    from seronet_data_validator_spark.operators.multimodal import resample_linear

    s = (np.arange(-7, 9, dtype=np.int64) * 4093 % 65536 - 32768).astype(np.int16)
    pcm = s.astype(np.float32) / 32768.0
    up = resample_linear(pcm, 8000, 16000)
    assert len(up) == 2 * len(pcm)
    assert np.array_equal(up[0::2], pcm)
    mids = (pcm[:-1].astype(np.float64) + pcm[1:]) / 2
    assert np.array_equal(up[1:-1:2].astype(np.float64), mids)
    assert up[-1] == pcm[-1]  # tail clamp
    down = resample_linear(pcm, 8000, 4000)
    assert np.array_equal(down, pcm[0::2])


def test_resample_features_exact_schema(spark):
    """resample_features_exact emits one row per (clip, target) with exact
    int64 aggregates; num parity: an all-zero clip gives zeros."""
    from seronet_data_validator_spark.operators.dsp import resample_features_exact
    from seronet_data_validator_spark.sources.clips import wav_bytes

    s = np.zeros(800, np.int16)
    s[0] = 16384  # one quarter-scale spike: num = 2*16384 at j=0, 16384 at j=1
    df = spark.createDataFrame(
        [("z", bytearray(wav_bytes(s, 8000)))], "clip_id string, bytes binary"
    )
    out = {(r["clip_id"], r["target_sr"]): r
           for r in resample_features_exact(df).collect()}
    up = out[("z", 16000)]
    assert up["n_out"] == 1600
    assert up["peak_num"] == 32768
    assert up["sum_num"] == 32768 + 16384  # j=0 pick + j=1 half-blend
    dn = out[("z", 4000)]
    assert dn["n_out"] == 400 and dn["peak_num"] == 32768


def test_energy_segments_islands(spark):
    """Planted activity pattern: frames 0-1 loud, 2 silent, 3-5 loud ->
    two segments with exact frame ranges and energies."""
    from seronet_data_validator_spark.operators.dsp import energy_segments
    from seronet_data_validator_spark.sources.clips import wav_bytes

    fl = 160
    s = np.zeros(6 * fl, np.int16)
    for f in (0, 1, 3, 4, 5):
        s[f * fl : (f + 1) * fl] = 1000  # sumsq per frame = 160e6 > 1e6
    df = spark.createDataFrame(
        [("p", bytearray(wav_bytes(s, 8000)))], "clip_id string, bytes binary"
    )
    segs = energy_segments(df).orderBy("seg_idx").collect()
    assert [(r["seg_idx"], r["start_frame"], r["end_frame"], r["n_frames"])
            for r in segs] == [(1, 0, 1, 2), (2, 3, 5, 3)]
    assert segs[0]["energy"] == 2 * 160 * 1000 * 1000


def test_hum_detection_goertzel(spark):
    """Known-answer anchors for the mains-hum screen: a pure full-scale
    50 Hz square wave lights the 50 Hz probe (fundamental carries 8/pi^2
    ~ 0.81 of a square wave's energy -> hum_frac ~ 0.81, has_hum) and
    leaves the 60 Hz probe dark; white-ish noise trips neither; a non-WAV
    buffer reports NULL power and has_hum=False."""
    from seronet_data_validator_spark.operators.dsp import hum_detection
    from seronet_data_validator_spark.sources.clips import wav_bytes

    n = 1600  # 0.2 s @ 8 kHz = 10 whole 50 Hz periods (60 Hz is not
    # period-aligned; leakage only raises its floor slightly and the
    # planted tone is at 50 Hz regardless)
    i = np.arange(n)
    sq50 = np.where((i // 80) % 2 == 0, 12000, -12000).astype(np.int16)
    noise = (((i * 104729 + 12345) % 8192) - 4096).astype(np.int16)
    rows = [
        ("hum", bytearray(wav_bytes(sq50, 8000))),
        ("clean", bytearray(wav_bytes(noise, 8000))),
        ("bad", bytearray(b"never audio")),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary")
    out = {(r["clip_id"], r["freq_hz"]): r
           for r in hum_detection(df, freqs=(50.0, 60.0)).collect()}

    assert len(out) == 6
    h50 = out[("hum", 50.0)]
    assert h50["has_hum"] and 0.75 < h50["hum_frac"] < 0.85
    assert h50["n_samples"] == n and h50["sr_hz"] == 8000
    assert h50["sum_sq"] == n * 12000 * 12000
    assert not out[("hum", 60.0)]["has_hum"]
    assert not out[("clean", 50.0)]["has_hum"]
    assert not out[("clean", 60.0)]["has_hum"]
    bd = out[("bad", 50.0)]
    assert bd["hum_power"] is None and bd["hum_frac"] is None
    assert bd["has_hum"] is False and bd["n_samples"] == 0
