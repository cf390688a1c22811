"""End-to-end Good/Bad fixture tests — the reference's golden-count contract
(/root/reference/test_bad_submission.py:36-54,110-116 style): Good submission
→ zero Error rows; Bad submission → exact per-(rule, column) Error counts,
Warnings excluded from the contract."""

import pytest
from pyspark.sql import functions as F

from seronet_data_validator_spark.model import SEVERITY_ERROR
from seronet_data_validator_spark.runner import validate_clips
from seronet_data_validator_spark.sources.clips import (
    codec_registry_df,
    generate_clips,
    reference_clips,
)

N = 400


@pytest.fixture(scope="module")
def good_result(spark):
    clips = generate_clips(spark, N, seed=42, bad=False).cache()
    res = validate_clips(
        spark, clips,
        codec_registry=codec_registry_df(spark),
        reference_clips=reference_clips(spark, N, seed=42),
        run_id="good-run",
    )
    res.violations.cache()
    return res


@pytest.fixture(scope="module")
def bad_result(spark):
    clips = generate_clips(spark, N, seed=43, bad=True).cache()
    res = validate_clips(
        spark, clips,
        codec_registry=codec_registry_df(spark),
        reference_clips=reference_clips(spark, N, seed=43),
        run_id="bad-run",
    )
    res.violations.cache()
    return res


def error_counts(res):
    rows = (
        res.violations.where(F.col("severity") == SEVERITY_ERROR)
        .groupBy("rule_id", "column_name")
        .count()
        .collect()
    )
    return {(r["rule_id"], r["column_name"]): r["count"] for r in rows}


def test_good_fixture_zero_errors(good_result):
    counts = error_counts(good_result)
    assert counts == {}, f"good fixture must have zero Error rows, got {counts}"
    assert good_result.passed
    assert all(v["pass"] for v in good_result.verdicts)


def test_bad_fixture_golden_counts(bad_result):
    counts = error_counts(bad_result)
    # seeded by sources.clips._corrupt: disjoint row-id ranges. The C22
    # first-writer-wins dedup (reference File_Submission_Object.py:255-256)
    # means a row whose metadata rule already reported the same
    # (row, column, value) does NOT re-report via the audio pass — the
    # surviving C13a counts come from the "valid-but-wrong" rows only.
    assert counts[("C3.clip_id_format", "clip_id")] == 6
    assert counts[("C4.dup_id", "clip_id")] == 1          # one duplicated value (x3)
    assert counts[("C15.referential", "codec")] == 4
    assert counts[("C9.dur_ms_range", "dur_ms")] == 2
    assert counts[("C14.transcript_required", "transcript")] == 2
    assert counts[("C10.transcript_text", "transcript")] == 1   # 'N/A'
    assert counts[("C13a.snr", "bytes")] == 1
    assert counts[("C6.sr_hz_allowed", "sr_hz")] == 1     # 12345
    assert counts[("C13a.sr_mismatch", "sr_hz")] == 1     # allowed rate, wrong header
    assert counts[("C13a.dur_mismatch", "dur_ms")] == 1   # in-range, wrong duration
    assert counts[("C13a.transcript", "transcript")] == 1  # silently swapped text
    assert counts[("C13a.decode", "bytes")] == 1           # truncated payload
    # 200 words over a <=400 ms clip; the C13a.transcript report for the
    # same (row, column, value) is suppressed by C22 first-writer-wins
    assert counts[("C13b.speech_rate", "transcript")] == 1
    assert not bad_result.passed


def test_bad_fixture_no_unexpected_rules(bad_result):
    expected_rules = {
        "C3.clip_id_format", "C4.dup_id", "C15.referential", "C9.dur_ms_range",
        "C14.transcript_required", "C10.transcript_text", "C13a.snr",
        "C6.sr_hz_allowed", "C13a.sr_mismatch", "C13a.dur_mismatch",
        "C13a.transcript", "C13a.decode", "C13b.speech_rate",
    }
    assert {k[0] for k in error_counts(bad_result)} == expected_rules


def test_violations_deduped_first_writer_wins(bad_result):
    """C22: no two surviving violations share the reference's dedup key
    (File_Submission_Object.py:255-256) — e.g. the out-of-range dur_ms rows
    are reported by C9 (row rules, first writer), not again by C13a."""
    dup_keys = (
        bad_result.violations
        .groupBy("table_name", "row_ref", "column_name", "column_value")
        .count().where(F.col("count") > 1).collect()
    )
    assert dup_keys == []


def test_dup_message_carries_count(bad_result):
    msg = (
        bad_result.violations.where(F.col("rule_id") == "C4.dup_id")
        .select("message").first()["message"]
    )
    assert "3 times" in msg


@pytest.fixture(scope="module")
def full_lifecycle_result(spark):
    """Bad fixture with the step-6 stages wired in (reference lifecycle
    Data_Validation_v1.py:185-186): C17 presence vs reference, C19 per-site
    declared-codec consistency, C20 suppression against prior violations."""
    from pyspark.sql import functions as F  # noqa: F401

    from seronet_data_validator_spark.runner import SiteConsistencySpec
    from seronet_data_validator_spark.sources.clips import SITES

    clips = generate_clips(spark, N, seed=43, bad=True).cache()
    declared = spark.createDataFrame(
        [(s, "pcm_s16le") for s in SITES] + [("99", "pcm_s16le")],
        "site string, declared_codec string",
    )
    prior = spark.createDataFrame(
        [("codec", "codec_x9")], "column_name string, column_value string"
    )
    res = validate_clips(
        spark, clips,
        codec_registry=codec_registry_df(spark),
        reference_clips=reference_clips(spark, N, seed=43),
        run_id="full-run",
        prior_violations=prior,
        site_consistency=SiteConsistencySpec(declared=declared),
        run_presence_pass=True,
    )
    res.violations.cache()
    return res


def test_full_lifecycle_golden_counts(full_lifecycle_result):
    """The wired step-6 stages add exactly the expected rule families on the
    Bad fixture; the original families stay untouched except C15 → C20
    (suppression replaces the plain referential when prior violations are
    supplied: codec_x9 already reported → 3 of the 4 bad codecs remain)."""
    counts = error_counts(full_lifecycle_result)
    # original families unchanged
    assert counts[("C3.clip_id_format", "clip_id")] == 6
    assert counts[("C4.dup_id", "clip_id")] == 1
    assert counts[("C9.dur_ms_range", "dur_ms")] == 2
    assert counts[("C14.transcript_required", "transcript")] == 2
    assert counts[("C10.transcript_text", "transcript")] == 1
    # C20 replaces C15: codec_x9 suppressed by the prior violation table
    assert ("C15.referential", "codec") not in counts
    assert counts[("C20.map_id", "codec")] == 3
    # C17: 6 BAD-IDs + the duplicated id are absent from the reference
    assert counts[("C17.orphan", "clip_id")] == 7
    # C19: declared site '99' has zero clips
    assert counts[("C19.missing", "site")] == 1
    assert not full_lifecycle_result.passed


def test_full_lifecycle_childless_warnings(full_lifecycle_result):
    """C17 reverse direction: the 9 reference ids whose clips were renamed
    (6 BAD-IDs + 3 dup overwrites) have no clip row → Warning, not Error."""
    n = (
        full_lifecycle_result.violations
        .where((F.col("rule_id") == "C17.childless") & (F.col("severity") == "Warning"))
        .count()
    )
    assert n == 9


def test_full_lifecycle_good_fixture_clean(spark):
    """Good fixture with all step-6 stages on: zero Errors (prior table
    empty, every declared site present, presence symmetric)."""
    from seronet_data_validator_spark.model import VIOLATION_SCHEMA
    from seronet_data_validator_spark.runner import SiteConsistencySpec
    from seronet_data_validator_spark.sources.clips import SITES

    clips = generate_clips(spark, N, seed=42, bad=False)
    declared = spark.createDataFrame(
        [(s, "pcm_s16le") for s in SITES], "site string, declared_codec string"
    )
    prior = spark.createDataFrame([], VIOLATION_SCHEMA)
    res = validate_clips(
        spark, clips,
        codec_registry=codec_registry_df(spark),
        reference_clips=reference_clips(spark, N, seed=42),
        run_id="full-good",
        prior_violations=prior.select("column_name", "column_value"),
        site_consistency=SiteConsistencySpec(declared=declared),
        run_presence_pass=True,
    )
    assert error_counts(res) == {}
    assert res.passed


def test_c15_inline_and_antijoin_paths_verdict_equivalent(spark):
    """The registry-size-selected C15 strategy (inlined isin vs broadcast
    anti-join) must not change the C15 rows or the per-partition verdicts:
    a bad codec in partition A fails A and only A on BOTH paths, and a codec
    spelled with an en-dash matches its registered '-' form on both (P7)."""
    from pyspark.sql import functions as F

    from seronet_data_validator_spark.runner import validate_clips
    from seronet_data_validator_spark.sources.clips import (
        codec_registry_df,
        generate_clips,
    )

    clean = generate_clips(spark, 300, seed=7)  # clean fixture
    bad_site = clean.select("site").first()["site"]
    registry = codec_registry_df(spark)
    endash_registry = registry.unionByName(
        spark.createDataFrame([("pcm-s16", "wav", "F")], registry.schema))
    pad = spark.range(10_001).select(
        F.concat(F.lit("pad_"), F.col("id")).alias("codec"),
        F.lit("pad").alias("container"),
        F.lit("F").alias("lossy"),
    )

    def outcome(clips, reg):
        with validate_clips(spark, clips, codec_registry=reg,
                            run_id="vv", run_audio_pass=False) as res:
            c15 = sorted(tuple(r) for r in res.violations.where(
                F.col("rule_id") == "C15.referential").collect())
            return c15, {v["partition_key"]: (v["pass"], v["n_errors"])
                         for v in res.verdicts}

    for codec, small, site_fails in (("not_a_codec", registry, True),
                                     ("pcm–s16", endash_registry, False)):
        # rewrite every codec in ONE partition (site) only
        clips = clean.withColumn(
            "codec",
            F.when(F.col("site") == bad_site, F.lit(codec)).otherwise(F.col("codec")),
        )
        big = small.unionByName(pad)  # > 10k keys -> broadcast anti-join path
        (c15_small, v_small), (c15_big, v_big) = outcome(clips, small), outcome(clips, big)
        assert c15_small == c15_big, codec
        assert v_small == v_big, codec
        assert bool(c15_small) is site_fails
        assert v_small[bad_site][0] is not site_fails
        assert all(ok for s, (ok, _) in v_small.items() if s != bad_site)
