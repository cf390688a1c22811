"""Every violation family builds the one violation row of ``model``.

Each part ``runner.violation_families`` returns, over every option that
adds a family, and the stream's ``C4.cross_batch_dup`` part, carries the
VIOLATION_SCHEMA columns as strings (plus the partition column) and no
NULL ``row_ref`` or ``column_value``.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.model import VIOLATION_SCHEMA
from seronet_data_validator_spark.rulesets import clips_ruleset
from seronet_data_validator_spark.runner import SiteConsistencySpec, violation_families
from seronet_data_validator_spark.sources.clips import (
    SITES,
    codec_registry_df,
    generate_clips,
    reference_clips,
)
from seronet_data_validator_spark.streaming import validate_stream


def _check_part(part, keep: tuple[str, ...]) -> set[str]:
    """Asserts the row format of one family; returns its rule ids."""
    fields = {f.name: f.dataType for f in part.schema.fields}
    assert set(fields) == {*VIOLATION_SCHEMA.names, *keep}, part.columns
    assert all(fields[n] == T.StringType() for n in VIOLATION_SCHEMA.names), part.schema
    rows = part.select(
        "rule_id", (F.col("row_ref").isNull() | F.col("column_value").isNull()).alias("_null")
    ).collect()
    assert rows, "the family emits no rows on this fixture"
    assert not [r for r in rows if r["_null"]], part.columns
    return {r["rule_id"] for r in rows}


@pytest.fixture(scope="module")
def inputs(spark):
    clips = generate_clips(spark, 200, seed=43, bad=True)
    ids = sorted(r["clip_id"] for r in clips.select("clip_id").limit(3).collect())
    refs = reference_clips(spark, 200, seed=43)
    # C17 both ways: two clips without a reference, one reference without clips
    refs = refs.where(~F.col("clip_id").isin(ids[:2])).unionByName(
        refs.where(F.col("clip_id") == ids[2]).withColumn("clip_id", F.lit("99_000000_000")))
    return clips, refs


def test_every_batch_family_builds_the_violation_row(spark, inputs):
    clips, refs = inputs
    rs = clips_ruleset()
    registry = codec_registry_df(spark)
    big = registry.select("codec").unionByName(
        spark.range(10_001).select(F.concat(F.lit("x"), F.col("id")).alias("codec")))
    manifest = spark.createDataFrame([(s, 1) for s in SITES],
                                     "site string, declared_clip_count long")
    declared = spark.createDataFrame([(SITES[0], "pcm_s16le"), ("98", "pcm_s16le")],
                                     "site string, declared_codec string")
    consistency = SiteConsistencySpec(declared=declared, all_must_match_value="pcm_s16le")
    prior = spark.createDataFrame([], VIOLATION_SCHEMA)
    configs = {
        # small registry: C15 inlined into the fused rule pass
        "all": dict(codec_registry=registry, reference_clips=refs, manifest=manifest,
                    site_consistency=consistency,
                    run_presence_pass=True, run_audio_pass=True, run_qc_pass=True),
        "big_registry": dict(codec_registry=big, run_audio_pass=False, run_qc_pass=False),
        "prior": dict(codec_registry=registry, prior_violations=prior,
                      run_audio_pass=False, run_qc_pass=False),
    }
    seen: set[str] = set()
    for name, kw in configs.items():
        for part in violation_families(clips, rs, partition_column="site", **kw):
            seen |= {f"{name}:{r}" for r in _check_part(part, ("site",))}
    rules = {s.split(":", 1)[1] for s in seen}
    assert {"C4.dup_id", "C17.orphan", "C17.childless", "C18.count_mismatch",
            "C19.all_mismatch", "C19.missing", "C20.map_id"} <= rules
    assert "all:C15.referential" in seen and "big_registry:C15.referential" in seen
    assert {r.split(".")[0] for r in rules} >= {"C13a", "QC1"}


def test_stream_cross_batch_part_builds_the_violation_row(spark, tmp_path, monkeypatch):
    """The stream's own family, checked inside the micro-batch that builds it."""
    clips = generate_clips(spark, 20, seed=7)
    inp = str(tmp_path / "in")
    clips.coalesce(1).write.parquet(inp)
    clips.limit(5).coalesce(1).write.mode("append").parquet(inp)  # batch 1: repeats
    checked: list[set[str]] = []
    union = validate_stream.union_violation_parts

    def capture(parts):
        checked.extend(_check_part(p, ()) for p in parts if "C4.cross_batch_dup" in {
            r["rule_id"] for r in p.select("rule_id").distinct().collect()})
        return union(parts)

    monkeypatch.setattr(validate_stream, "union_violation_parts", capture)
    q = validate_stream.stream_validate_clips(
        spark, inp, str(tmp_path / "out"), max_files_per_trigger=1,
        compact_seen_keys_every=1)
    q.awaitTermination()
    assert checked == [{"C4.cross_batch_dup"}]
