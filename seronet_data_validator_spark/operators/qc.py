"""Audio corpus QC verdict operators: clipping / silence / DC-offset
checks, loudness-normalization gain, and transcript speaking-rate
consistency.

These are the per-clip acceptance rules a training-data pipeline runs
before admitting audio into a corpus — the audio analog of the
reference's per-column value rules (reference: Validation_Rules.py's
check_* functions assign a pass/fail verdict per cell; here the "cell"
is a decoded PCM stream or a transcript/duration pair). Each verdict is
derived from EXACT arithmetic so the whole family carries full value
oracles:

* ``audio_qc_stats`` / ``audio_qc`` — clipping count, DC sum, and
  framewise silence counts are pure int64 aggregates over the decoded
  int16 samples; every verdict is an integer comparison (no float
  thresholds), so an external engine regenerating the samples replays
  the booleans bit-for-bit.
* ``loudness_gain`` — the gain that normalizes a clip to a target RMS,
  capped so the scaled peak stays inside int16. Two IEEE divisions over
  exactly-accumulated integers; the cap comparison is done on the two
  candidate gains themselves so both engines take the identical branch.
* ``speaking_rate`` — tokens-per-second of the transcript against the
  declared duration, flagged against plausibility bounds. Native Column
  code end to end (regex token split + one multiply/divide).

Execution shape: one narrow ``mapInArrow`` decode pass (zero-copy binary
views, no shuffle) produces the integer stats; every verdict and the
gain math is native Column code on top, so Catalyst sees ordinary
projections. At 10^12-clip scale the pass is embarrassingly parallel and
emits a fixed-width row per clip — the stats table is ~10^6× smaller
than the corpus. The QC1 violations (``qc_violations``) ride the
audio-invariant pass instead (audio.audio_violations), which decodes
each clip once for both families.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.model import violation_columns
from seronet_data_validator_spark.operators.arrow_rows import _decoded_map
from seronet_data_validator_spark.operators.audio import (
    _decode_view,
    _decode_view_channels,
    audio_violations,
)

QC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("clip_count", T.LongType()),
        T.StructField("dc_sum", T.LongType()),
        T.StructField("n_frames", T.LongType()),
        T.StructField("silence_frames", T.LongType()),
    ]
)

#: Frame length (samples) for the silence profile. 160 samples = 20 ms at
#: 8 kHz — the usual VAD hop. A frame is silent when max|s| stays under
#: SILENCE_PEAK (~-40 dBFS for int16).
QC_FRAME = 160
SILENCE_PEAK = 328


#: The per-clip QC1 stats, in :func:`clip_stats` order.
QC1_STATS = ("n_samples", "clip_count", "dc_sum", "n_frames", "silence_frames")


def clip_stats(
    s16: np.ndarray, frame: int = QC_FRAME, silence_peak: int = SILENCE_PEAK
) -> tuple[int, int, int, int, int]:
    """The :data:`QC1_STATS` of a non-empty decoded clip: samples at full
    scale (|s| >= 32767), DC sum, and silent-frame counts over
    non-overlapping ``frame``-sample windows (the trailing partial frame
    counts as a frame; zero-padding it cannot raise a max-of-abs, so the
    framing matches a plain ``GROUP BY i // frame`` replay)."""
    s = s16.astype(np.int64)
    n = len(s)
    a = np.abs(s)
    clip_count = int((a >= 32767).sum())
    nf = (n + frame - 1) // frame
    pad = nf * frame - n
    if pad:
        a = np.concatenate([a, np.zeros(pad, np.int64)])
    fpeak = a.reshape(nf, frame).max(axis=1)
    return n, clip_count, int(s.sum()), nf, int((fpeak < silence_peak).sum())


def audio_qc_stats(
    clips: DataFrame,
    *,
    id_col: str = "clip_id",
    frame: int = QC_FRAME,
    silence_peak: int = SILENCE_PEAK,
) -> DataFrame:
    """Integer QC aggregates per clip (:func:`clip_stats`). Narrow
    mapInArrow pass over the real RIFF/FLAC decode
    (operators/audio._decode_view) — a decode bug surfaces as a value
    mismatch in the oracle, exactly like audio_basic_features.
    """

    def rows(cid, s16, sr):
        if s16 is None or len(s16) == 0:
            yield (cid, 0, sr or 0, None, None, None, None)
            return
        n, *rest = clip_stats(s16, frame, silence_peak)
        yield (cid, n, sr, *rest)

    return _decoded_map(clips, QC_STATS_SCHEMA, rows, id_col=id_col, decode=_decode_view)


def _qc1_rules() -> list[tuple]:
    """The QC1 rules over the :data:`QC1_STATS` columns, each (verdict,
    condition, severity, rule_id, column_value, message). Every condition
    is an INTEGER comparison, so the booleans replay exactly: clipping
    (> 0.1% of samples at full scale) is an Error, an irreversibly damaged
    payload; a silent majority of 20 ms frames and a DC offset above 5% of
    full scale are Warnings. Spark formats the clipping percentage: it
    rounds the shortest decimal string HALF_UP, Python's ``round`` does not.
    """
    n, cc, dc, nf, sf = (F.col(c) for c in QC1_STATS)
    pct = F.round(cc * F.lit(100.0) / n, 2).cast("string")
    return [
        ("is_clipped", cc * F.lit(1000) > n, "Error", "QC1.clipped", cc,
         F.concat(F.lit("Clipping on "), pct, F.lit("% of samples (>0.1% allowed)"))),
        ("is_silent", sf * F.lit(2) > nf, "Warning", "QC1.silent", sf,
         F.concat(F.lit("Silent majority: "), sf.cast("string"), F.lit("/"),
                  nf.cast("string"), F.lit(" frames under the silence threshold"))),
        ("dc_biased", F.abs(dc) * F.lit(20) > F.lit(32767) * n, "Warning",
         "QC1.dc_offset", dc, F.lit("DC offset above 5% of full scale")),
    ]


@functools.lru_cache(maxsize=8)
def qc1_violations(table_name: str):
    """The QC1 violations of one stats row (its id in ``row_ref``) as an
    array of VIOLATION_SCHEMA structs, clean rules compacted away. Built once
    per table name: the memo holds unresolved Columns only, no DataFrame."""
    return F.array_compact(F.array(*[
        F.when(cond, F.struct(*violation_columns(
            severity, table_name, F.col("row_ref"), "bytes", value, rule_id, message)))
        for _name, cond, severity, rule_id, value, message in _qc1_rules()
    ]))


def audio_qc(
    clips: DataFrame,
    *,
    id_col: str = "clip_id",
    frame: int = QC_FRAME,
    silence_peak: int = SILENCE_PEAK,
) -> DataFrame:
    """Per-clip QC verdicts over :func:`audio_qc_stats`: ``is_clipped``,
    ``is_silent`` and ``dc_biased`` are the QC1 rules (:func:`_qc1_rules`);
    ``qc_pass`` is none of them (undecodable clips get NULL verdicts and
    qc_pass = false).
    """
    stats = audio_qc_stats(clips, id_col=id_col, frame=frame, silence_peak=silence_peak)
    decoded = F.col("clip_count").isNotNull()
    v = {name: F.when(decoded, cond) for name, cond, *_ in _qc1_rules()}
    return stats.select(
        id_col,
        "n_samples",
        "sr_hz",
        "clip_count",
        "dc_sum",
        "n_frames",
        "silence_frames",
        *[c.alias(name) for name, c in v.items()],
        F.coalesce(
            ~(v["is_clipped"] | v["is_silent"] | v["dc_biased"]), F.lit(False)
        ).alias("qc_pass"),
    )


def loudness_gain(
    clips: DataFrame,
    *,
    id_col: str = "clip_id",
    target_rms: float = 3276.8,
) -> DataFrame:
    """Loudness-normalization gain per clip: the multiplier that brings the
    clip's RMS to ``target_rms`` (default -20 dBFS for int16), capped so
    the scaled peak cannot exceed int16 full scale.

    ``gain = least(target_rms / rms, 32767 / peak)``; ``peak_limited`` is
    true when the peak cap is the binding constraint. Both candidate
    gains are single IEEE divisions over the exact peak / RMS from
    audio_basic_features_exact, and the cap decision compares those two
    computed quotients (not a rearranged product), so an external engine
    evaluating the identical expressions reproduces gain AND branch
    bit-for-bit. Silent clips (peak 0) get NULL gain — there is nothing
    to normalize.
    """
    from seronet_data_validator_spark.operators.dsp import (
        audio_basic_features_exact,
    )

    feats = audio_basic_features_exact(clips, id_col=id_col)
    g_rms = F.lit(float(target_rms)) / F.col("rms")
    g_peak = F.lit(32767.0) / F.col("peak_abs").cast("double")
    audible = F.col("peak_abs") > 0
    return feats.select(
        id_col,
        "n_samples",
        "peak_abs",
        "rms",
        F.when(audible, F.least(g_rms, g_peak)).alias("gain"),
        F.when(audible, g_peak < g_rms).alias("peak_limited"),
    )


def speaking_rate(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    transcript_col: str = "transcript",
    dur_col: str = "dur_ms",
    min_wps: float = 0.5,
    max_wps: float = 6.0,
) -> DataFrame:
    """Transcript/duration consistency: whitespace tokens per second of
    declared audio, flagged against plausibility bounds (defaults bracket
    human speech, ~0.5–6 words/sec).

    This is the cross-column invariant family (reference
    Validation_Rules.py's compare-two-columns rules) applied to the
    audio+transcript pair: a wildly implausible rate means the transcript
    does not belong to the clip. Native Column code only — one regex
    split, one multiply/divide — so it runs inside whole-stage codegen.
    """
    t = F.trim(F.col(transcript_col))
    n_tokens = (
        F.when(t == "", F.lit(0))
        .otherwise(F.size(F.split(t, r"\s+")))
        .cast("long")
    )
    wps = F.when(
        F.col(dur_col) > 0,
        n_tokens.cast("double") * F.lit(1000.0) / F.col(dur_col),
    )
    status = (
        F.when(
            F.col(dur_col).isNull() | (F.col(dur_col) <= 0),
            F.lit("bad_duration"),
        )
        .when(n_tokens == 0, F.lit("empty_transcript"))
        .when(wps > F.lit(float(max_wps)), F.lit("too_fast"))
        .when(wps < F.lit(float(min_wps)), F.lit("too_slow"))
        .otherwise(F.lit("ok"))
    )
    return df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        F.col(dur_col).cast("int").alias("dur_ms"),
        wps.alias("words_per_sec"),
        status.alias("rate_status"),
    )


def alignment_check(
    df: DataFrame,
    *,
    id_col: str = "clip_id",
    align_col: str = "alignment",
    dur_col: str = "dur_ms",
) -> DataFrame:
    """Forced-alignment QA: validate per-token timestamp spans
    (``array<struct<token, start_ms, end_ms>>``) against the clip —
    inverted spans (end <= start), out-of-bounds spans (start < 0 or
    end > dur_ms), and overlaps (a token starting before its predecessor
    ends). ``align_ok`` requires a non-empty alignment with zero
    violations.

    Spark-first shape: ALL checks run as JVM higher-order array functions
    (filter/transform/sequence) inside a single projection — no explode,
    no shuffle, no Python. At 10^12 clips this matters: exploding a
    ~200-token alignment per clip would multiply the row count 200×
    before a window shuffle; the array form touches each row once.

    Reference analog: the cross-column ordering invariants
    (Validation_Rules.py's duration/date comparisons), applied inside a
    nested column.
    """
    a = F.col(align_col)
    n = F.size(a)
    inverted = F.size(
        F.filter(a, lambda x: x["end_ms"] <= x["start_ms"])
    ).cast("long")
    dur = F.col(dur_col)
    oob = F.size(
        F.filter(a, lambda x: (x["start_ms"] < F.lit(0)) | (x["end_ms"] > dur))
    ).cast("long")
    # pairwise starts-before-previous-end; sequence() is inclusive and
    # descends when stop < start, so gate on n >= 2
    overlap_expr = F.size(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: a[i]["start_ms"] < a[i - 1]["end_ms"],
            ),
            lambda b: b,
        )
    ).cast("long")
    overlaps = F.when(n >= 2, overlap_expr).otherwise(F.lit(0).cast("long"))
    return df.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        inverted.alias("n_inverted"),
        oob.alias("n_oob"),
        overlaps.alias("n_overlaps"),
        (
            (n > 0) & (inverted + oob + overlaps == 0)
        ).alias("align_ok"),
    )


def qc_violations(
    clips: DataFrame,
    *,
    table_name: str = "clips",
    id_column: str = "clip_id",
    keep_columns: tuple = (),
) -> DataFrame:
    """The QC1 rules (:func:`_qc1_rules`) as violation rows
    (model.VIOLATION_SCHEMA): the QC-only mode of the lifecycle's one
    payload pass, audio.audio_violations. Undecodable and zero-sample clips
    emit NOTHING here: the C13a audio-invariant pass owns decode failures,
    and the C22 dedup would otherwise have to break the tie. Clean clips
    emit nothing and the pass adds no join or shuffle.
    """
    return audio_violations(
        clips, table_name=table_name, id_column=id_column,
        invariants=False, qc=True, keep_columns=keep_columns,
    )


#: Container magic → the codec families that legitimately ship in it.
#: RIFF carries every WAV-family codec the decoder dispatches (PCM,
#: G.711, IMA ADPCM); fLaC is FLAC's stream marker; FORM is AIFF's IFF
#: group header (big-endian PCM); .snd is Sun AU (big-endian PCM and
#: µ-law). All public specs.
CONTAINER_CODECS = {
    "RIFF": ("pcm_s16le", "pcm_s24le", "pcm_mulaw", "pcm_alaw", "adpcm_ima_wav"),
    "fLaC": ("flac",),
    "FORM": ("pcm_s16be", "pcm_s24be", "pcm_s8"),
    ".snd": ("pcm_s16be", "pcm_s24be", "pcm_s8", "pcm_mulaw"),
}


def codec_container_check(
    clips: DataFrame,
    *,
    id_col: str = "clip_id",
    codec_col: str = "codec",
    bytes_col: str = "bytes",
) -> DataFrame:
    """Cross-modal metadata/payload consistency: the container magic (first
    four payload bytes) must agree with the DECLARED codec string — a
    mislabeled codec column routes a clip to the wrong decoder, so this is
    the cheap screen a validator runs before any decode. Pure Column code:
    ``substring(bytes, 1, 4)`` against the public container markers
    (RIFF / fLaC / FORM / .snd), no decode, no shuffle.

    ``container``: the recognized magic (NULL = unknown/empty payload).
    ``codec_matches``: true when the declared codec belongs to the
    container's family; NULL when the container is unrecognized (rule C1
    semantics: can't validate against an unknown container — the decode
    pass owns those).

    At 10^12 clips, note the scan caveat: parquet still materializes the
    full binary column to slice 4 bytes. Production runs either persist a
    ``magic`` metadata column at ingest or lean on the lifecycle passes
    that already decode; this operator is the standalone screen for tables
    that carry one.
    """
    magic = F.substring(F.col(bytes_col), 1, 4).cast("string")
    container = (
        F.when(magic == "RIFF", F.lit("RIFF"))
        .when(magic == "fLaC", F.lit("fLaC"))
        .when(magic == "FORM", F.lit("FORM"))
        .when(magic == ".snd", F.lit(".snd"))
    )
    declared = F.lower(F.trim(F.col(codec_col)))
    matches = F.lit(None).cast("boolean")
    for cont, codecs in CONTAINER_CODECS.items():
        matches = F.when(container == cont, declared.isin(*codecs)).otherwise(
            matches
        )
    return clips.select(
        id_col,
        F.col(codec_col).alias("codec"),
        container.alias("container"),
        matches.alias("codec_matches"),
    )


DROPOUT_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("n_dropouts", T.LongType()),
        T.StructField("longest_dropout", T.LongType()),
        T.StructField("dropout_samples", T.LongType()),
    ]
)

#: A dropout is an INTERIOR run of near-zero samples at least this long
#: (160 samples = 20 ms at 8 kHz). Leading/trailing silence is normal
#: recording headroom and never counts.
DROPOUT_MIN_RUN = 160
DROPOUT_EPS = 2


def audio_dropouts(
    clips: DataFrame,
    *,
    id_col: str = "clip_id",
    min_run: int = DROPOUT_MIN_RUN,
    eps: int = DROPOUT_EPS,
) -> DataFrame:
    """Dropout (dead-air) detection per clip: maximal runs of samples with
    ``|s| <= eps`` that are strictly INTERIOR (the run touches neither the
    first nor the last sample — leading/trailing silence is headroom, not
    a fault) and at least ``min_run`` samples long. A buffer underrun or a
    splice error in an otherwise-active recording shows up exactly as such
    a run, and a validator wants it flagged before the clip trains a
    model. Reference analog: the per-cell value rules in
    Validation_Rules.py flag in-band anomalies the same way — here the
    "cell" is the decoded PCM stream.

    Every output is an int64 run statistic (count of qualifying runs, the
    longest one, total samples inside them) plus the derived
    ``dropout_ratio`` (one IEEE division) and the integer-compare verdict
    ``has_dropout`` — so an external engine that regenerates the samples
    replays every value bit-for-bit via plain gaps-and-islands SQL.

    Execution shape: one narrow mapInArrow decode pass (zero-copy binary
    views), run detection is three vectorized numpy ops on the boolean
    mask; no shuffle, fixed-width output row per clip.
    """

    def rows(cid, s16, sr):
        if s16 is None or len(s16) == 0:
            yield (cid, 0, sr or 0, None, None, None)
            return
        n = len(s16)
        quiet = np.abs(s16.astype(np.int64)) <= eps
        # run boundaries of the quiet mask; pad with False so edge-touching
        # runs are CLOSED at the edges and can then be excluded by position
        edged = np.concatenate(([False], quiet, [False]))
        flips = np.flatnonzero(np.diff(edged.astype(np.int8)))
        starts, ends = flips[0::2], flips[1::2]  # [start, end)
        keep = (starts > 0) & (ends < n) & (ends - starts >= min_run)
        lens = (ends - starts)[keep]
        yield (
            cid,
            n,
            sr,
            int(keep.sum()),
            int(lens.max()) if len(lens) else 0,
            int(lens.sum()),
        )

    stats = _decoded_map(clips, DROPOUT_SCHEMA, rows, id_col=id_col, decode=_decode_view)
    decoded = F.col("n_dropouts").isNotNull()
    return stats.select(
        id_col,
        "n_samples",
        "sr_hz",
        "n_dropouts",
        "longest_dropout",
        "dropout_samples",
        F.when(
            decoded,
            F.col("dropout_samples").cast("double") / F.col("n_samples"),
        ).alias("dropout_ratio"),
        F.coalesce(F.when(decoded, F.col("n_dropouts") > 0), F.lit(False)).alias(
            "has_dropout"
        ),
    )


STEREO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("sum_ll", T.LongType()),
        T.StructField("sum_rr", T.LongType()),
        T.StructField("sum_lr", T.LongType()),
        T.StructField("peak_l", T.LongType()),
        T.StructField("peak_r", T.LongType()),
    ]
)


def stereo_balance(clips: DataFrame, *, id_col: str = "clip_id") -> DataFrame:
    """Inter-channel QC for stereo pairs: channel balance and phase
    correlation — a swapped-polarity cable shows up as strongly negative
    L/R correlation (the pair cancels when downmixed to mono), and a dead
    or attenuated channel as a lopsided energy ratio. Mono-compatibility
    screening is a standard acceptance gate before a stereo recording
    enters a (downmixing) training pipeline.

    The decode pass (audio._decode_view_channels — full channels, no
    downmix) emits EXACT int64 sums: per-channel energy, the cross
    product, and peaks. Everything derived is a fixed chain of IEEE
    double ops over those exact integers (all < 2^53, so the int→double
    casts are exact and an external engine replays every value
    bit-for-bit):

    * ``rms_l`` / ``rms_r`` — sqrt(sum/n), one division + one sqrt each.
    * ``balance_ratio`` — sum_ll / sum_rr (NULL when the right channel is
      digital silence: a ratio against zero energy is undefined, and the
      dead-channel verdict covers it).
    * ``lr_corr`` — sum_lr / sqrt(sum_ll · sum_rr), NULL when either
      channel is silent.
    * verdicts: ``phase_flipped`` (corr < -0.5), ``dead_channel``
      (either side is all-zero while the other is not, an integer
      comparison), ``mono_compatible`` (not phase-flipped).

    Non-2-channel clips report ``n_channels`` with NULL stats (mono has
    no inter-channel anything; 3+ channels are out of this check's
    scope). Undecodable clips get NULL n_channels and false verdicts.
    One narrow mapInArrow pass, fixed-width output, no shuffle.
    """

    def rows(cid, full, sr):
        if full is None:
            yield (cid, 0, 0, None, None, None, None, None, None)
            return
        n, ch = full.shape
        if ch != 2 or n == 0:
            yield (cid, n, sr, ch, None, None, None, None, None)
            return
        left, right = full[:, 0], full[:, 1]
        yield (
            cid,
            n,
            sr,
            2,
            int(np.dot(left, left)),
            int(np.dot(right, right)),
            int(np.dot(left, right)),
            int(np.abs(left).max()),
            int(np.abs(right).max()),
        )

    stats = _decoded_map(
        clips, STEREO_STATS_SCHEMA, rows, id_col=id_col, decode=_decode_view_channels
    )
    is_pair = F.col("sum_ll").isNotNull()
    both_live = (F.col("sum_ll") > 0) & (F.col("sum_rr") > 0)
    corr = F.col("sum_lr").cast("double") / F.sqrt(
        F.col("sum_ll").cast("double") * F.col("sum_rr").cast("double")
    )
    dead = ((F.col("sum_ll") == 0) & (F.col("sum_rr") > 0)) | (
        (F.col("sum_rr") == 0) & (F.col("sum_ll") > 0)
    )
    flipped = F.when(is_pair & both_live, corr < F.lit(-0.5))
    return stats.select(
        id_col,
        "n_samples",
        "sr_hz",
        "n_channels",
        "peak_l",
        "peak_r",
        F.when(
            is_pair,
            F.sqrt(F.col("sum_ll").cast("double") / F.col("n_samples")),
        ).alias("rms_l"),
        F.when(
            is_pair,
            F.sqrt(F.col("sum_rr").cast("double") / F.col("n_samples")),
        ).alias("rms_r"),
        F.when(
            is_pair & (F.col("sum_rr") > 0),
            F.col("sum_ll").cast("double") / F.col("sum_rr"),
        ).alias("balance_ratio"),
        F.when(is_pair & both_live, corr).alias("lr_corr"),
        F.coalesce(flipped, F.lit(False)).alias("phase_flipped"),
        F.coalesce(F.when(is_pair, dead), F.lit(False)).alias("dead_channel"),
        F.coalesce(
            F.when(is_pair & both_live, ~(corr < F.lit(-0.5))),
            F.lit(False),
        ).alias("mono_compatible"),
    )
