"""One violation-family assembly for batch and stream: the same rows through
``validate_clips`` and ``stream_validate_clips`` give the same violations,
the shared union helper's precondition, and batch resume on a session whose
default partition overwrite mode is static."""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from seronet_data_validator_spark.model import VIOLATION_SCHEMA
from seronet_data_validator_spark.plans.compile import union_violation_parts
from seronet_data_validator_spark.plans.rules import Rule, check_in_list
from seronet_data_validator_spark.rulesets import clips_ruleset
from seronet_data_validator_spark.runner import validate_clips
from seronet_data_validator_spark.sources.clips import (
    CLIPS_SCHEMA,
    codec_registry_df,
    generate_clips,
    reference_clips,
)
from seronet_data_validator_spark.streaming import stream_validate_clips

COLS = [f.name for f in VIOLATION_SCHEMA.fields]


def test_union_violation_parts_rejects_empty():
    with pytest.raises(ValueError, match="parts must be non-empty"):
        union_violation_parts([])


@pytest.mark.parametrize("extra_c6_rule", [False, True], ids=["default", "c6_codec_allowed"])
def test_batch_stream_parity(spark, tmp_path, extra_c6_rule):
    """Identical rows give identical violation multisets in batch and in one
    availableNow micro-batch. With an extra C6 rule on ``codec``, an unknown
    codec trips both C6 and C15 on the same cell; the first-writer-wins
    dedup must keep the same row in both modes."""
    rs = clips_ruleset()
    clips = generate_clips(spark, 200, seed=43, bad=True)
    if extra_c6_rule:
        rs.add(Rule("C6.codec_allowed", "codec",
                    check_in_list(["pcm_s16le", "flac"], case_insensitive=False)))
        clips = clips.withColumn(
            "codec",
            F.when(F.col("codec") == "mp3", F.lit("not_a_codec")).otherwise(F.col("codec")),
        )
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    clips.coalesce(1).write.parquet(inp)
    registry = codec_registry_df(spark)
    refs = reference_clips(spark, 200, seed=43)

    batch = validate_clips(
        spark, spark.read.schema(CLIPS_SCHEMA).parquet(inp), ruleset=rs,
        codec_registry=registry, reference_clips=refs, run_id="parity",
    ).violations
    q = stream_validate_clips(
        spark, inp, out, ruleset=rs, codec_registry=registry, reference_clips=refs,
    )
    q.awaitTermination(180)
    stream = spark.read.parquet(os.path.join(out, "violations_stream"))
    assert stream.select("batch_id").distinct().count() == 1

    b = Counter(map(tuple, batch.select(*COLS).collect()))
    s = Counter(map(tuple, stream.select(*COLS).collect()))
    assert b == s
    rule_ids = {r[COLS.index("rule_id")] for r in b}
    assert {"C4.dup_id", "C15.referential", "C13a.snr"} <= rule_ids
    if extra_c6_rule:
        # the rewritten cells are reported once each, as C15 in both modes
        on_rewritten = [r for r in b if r[COLS.index("column_value")] == "not_a_codec"]
        assert on_rewritten
        assert {r[COLS.index("rule_id")] for r in on_rewritten} == {"C15.referential"}


def test_resume_keeps_skipped_partition_under_static_overwrite(spark, tmp_path):
    """The batch violations write overwrites only the partitions it writes,
    whatever the session's default overwrite mode: a resume run that skips
    a committed site must not delete that site's violations."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        clips = generate_clips(spark, 200, seed=43, bad=True)
        site11 = os.path.join(str(tmp_path), "violations", "r", "site=11")
        validate_clips(
            spark, clips.where(F.col("site") == "11"), run_id="r",
            output_root=str(tmp_path), run_audio_pass=False,
        )
        assert os.path.isdir(site11)
        res = validate_clips(
            spark, clips, run_id="r", output_root=str(tmp_path), run_audio_pass=False,
        )
        assert res.skipped_partitions == ["11"]
        assert os.path.isdir(site11), "resume deleted a skipped partition's violations"
    finally:
        spark.conf.set(key, before)
