"""spark-submit CLI entry + bucketed staging layout tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import run_validation
from seronet_data_validator_spark.operators.audio import audio_violations
from seronet_data_validator_spark.sources.clips import generate_clips, reference_clips
from seronet_data_validator_spark.sources.staging import stage_clip_tables


def test_run_validation_cli_good_and_bad(spark, tmp_path):
    good = str(tmp_path / "good.parquet")
    bad = str(tmp_path / "bad.parquet")
    ref = str(tmp_path / "ref.parquet")
    generate_clips(spark, 300, seed=7).write.parquet(good)
    generate_clips(spark, 300, seed=7, bad=True).write.parquet(bad)
    reference_clips(spark, 300, seed=7).write.parquet(ref)

    rc_good = run_validation.main(
        ["--input", good, "--reference", ref,
         "--output-root", str(tmp_path / "out_good"), "--run-id", "g1"]
    )
    assert rc_good == 0
    rc_bad = run_validation.main(
        ["--input", bad, "--reference", ref,
         "--output-root", str(tmp_path / "out_bad"), "--run-id", "b1"]
    )
    assert rc_bad == 1
    # durable outputs exist
    assert os.path.exists(str(tmp_path / "out_bad" / "violations" / "b1"))
    assert os.path.exists(str(tmp_path / "out_bad" / "run_manifest"))

    # re-run the bad set with the same run-id: resume prunes everything, but
    # the exit code must still reflect the STORED verdicts — an orchestrator
    # polling exit codes must never see a failed dataset report success on
    # retry (the reference's triage verdict is durable the same way).
    rc_again = run_validation.main(
        ["--input", bad, "--reference", ref,
         "--output-root", str(tmp_path / "out_bad"), "--run-id", "b1"]
    )
    assert rc_again == 1

    # ...while a clean dataset's re-run keeps exiting 0
    rc_good_again = run_validation.main(
        ["--input", good, "--reference", ref,
         "--output-root", str(tmp_path / "out_good"), "--run-id", "g1"]
    )
    assert rc_good_again == 0


def test_run_validation_cli_step6_stages(spark, tmp_path):
    """--presence-pass / --declared-sites / --prior-violations wire the C17 /
    C19 / C20 lifecycle stages from the CLI."""
    from pyspark.sql import types as T

    from seronet_data_validator_spark.model import VIOLATION_SCHEMA

    from seronet_data_validator_spark.sources.clips import codec_registry_df

    bad = str(tmp_path / "bad.parquet")
    ref = str(tmp_path / "ref.parquet")
    declared = str(tmp_path / "declared.parquet")
    prior = str(tmp_path / "prior.parquet")
    registry = str(tmp_path / "registry.parquet")
    generate_clips(spark, 300, seed=7, bad=True).write.parquet(bad)
    reference_clips(spark, 300, seed=7).write.parquet(ref)
    codec_registry_df(spark).write.parquet(registry)
    spark.createDataFrame(
        [("11", "pcm_s16le"), ("22", "pcm_s16le"), ("33", "pcm_s16le"),
         ("41", "pcm_s16le"), ("99", "pcm_s16le")],
        "site string, declared_codec string",
    ).write.parquet(declared)
    spark.createDataFrame(
        [("codec", "codec_x9")], "column_name string, column_value string"
    ).write.parquet(prior)

    rc = run_validation.main(
        ["--input", bad, "--reference", ref, "--output-root", str(tmp_path / "o"),
         "--codec-registry", registry,
         "--run-id", "s6", "--presence-pass", "--declared-sites", declared,
         "--prior-violations", prior]
    )
    assert rc == 1
    stored = T.StructType(list(VIOLATION_SCHEMA.fields)
                          + [T.StructField("site", T.StringType(), True)])
    v = spark.read.schema(stored).parquet(str(tmp_path / "o" / "violations" / "s6"))
    rules = {r["rule_id"] for r in v.select("rule_id").distinct().collect()}
    assert {"C17.orphan", "C19.missing", "C20.map_id"} <= rules
    assert "C15.referential" not in rules  # C20 replaced it (suppression mode)


@pytest.mark.usefixtures("spark")
def test_staged_tables_join_without_exchange(spark, tmp_path):
    clips, refs = stage_clip_tables(
        spark, 400, seed=11, buckets=4, table_prefix=f"t{os.getpid()}"
    )
    assert clips.count() == 400
    # at this tiny scale AQE would (rightly) broadcast; force the merge-join
    # path to assert the bucketed layout joins with zero shuffle
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        av = audio_violations(clips, refs)
        plan = av._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    av = audio_violations(clips, refs)
    # derived reference side carries the renamed columns
    assert set(refs.columns) == {"clip_id", "ref_bytes", "ref_transcript"}
    # clean fixture + identical reference content -> no audio violations
    assert av.where(F.col("rule_id").startswith("C13a")).count() == 0


def test_metadata_table_matches_full_fixture_metadata(spark):
    # The compute-bound bench input: identical metadata at the same seed,
    # empty payload, bucketed layout, and the metadata suite produces the
    # same violations as on the full fixture.
    from seronet_data_validator_spark.runner import validate_clips
    from seronet_data_validator_spark.sources.clips import codec_registry_df
    from seronet_data_validator_spark.sources.staging import stage_metadata_table

    meta = stage_metadata_table(
        spark, 400, seed=11, buckets=4, table_prefix=f"m{os.getpid()}"
    )
    full = generate_clips(spark, 400, seed=11)
    assert meta.drop("bytes").exceptAll(full.drop("bytes")).count() == 0
    assert meta.selectExpr("max(length(bytes)) m").collect()[0]["m"] == 0

    reg = codec_registry_df(spark)
    v_meta = validate_clips(
        spark, meta, codec_registry=reg, run_id="m", output_root=None,
        run_audio_pass=False,
    ).violations
    v_full = validate_clips(
        spark, full, codec_registry=reg, run_id="f", output_root=None,
        run_audio_pass=False,
    ).violations
    cols = ["rule_id", "column_name", "row_ref", "column_value"]
    assert v_meta.select(cols).exceptAll(v_full.select(cols)).count() == 0
    assert v_full.select(cols).exceptAll(v_meta.select(cols)).count() == 0


def test_derived_refs_table_single_file_buckets(spark, tmp_path):
    """Regression: deriving the clean-fixture refs table from the staged
    clips table must re-hash by the bucket key — a plain projection+write
    scan SPLITS big bucket files and each split writes its own file, giving
    multi-file buckets that lose the reported sort order (per-task Sorts in
    the reference join). Tiny maxPartitionBytes forces splits here."""
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
    try:
        clips, refs = stage_clip_tables(
            spark, 400, seed=13, buckets=4,
            table_prefix=f"s{os.getpid()}", refs_from_clips=False,
        )
        assert refs.count() == 400
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        refs_dir = os.path.join(wh, f"s{os.getpid()}_refs_400_13")
        files = [f for f in os.listdir(refs_dir) if f.startswith("part-")]
        # one file per bucket — the zero-Sort merge-join invariant
        assert len(files) == 4, sorted(files)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_run_validation_cli_rule_pack(spark, tmp_path):
    """--rule-pack: a JSON pack replaces the built-in ruleset and drives the
    verdict — a pack that bans the generator's hot codec fails the run, the
    permissive pack passes it."""
    import json

    inp = str(tmp_path / "in.parquet")
    generate_clips(spark, 200, seed=7).write.parquet(inp)

    strict = {
        "table": "clips",
        "row_ref": "clip_id",
        "rules": [
            {"rule_id": "P.codec", "column": "codec", "check": "in_list",
             "params": {"values": ["flac"], "case_insensitive": False}},
        ],
    }
    pack_path = str(tmp_path / "pack.json")
    with open(pack_path, "w") as f:
        json.dump(strict, f)
    rc = run_validation.main(
        ["--input", inp, "--output-root", str(tmp_path / "o1"),
         "--run-id", "p1", "--skip-audio", "--rule-pack", pack_path]
    )
    assert rc == 1  # pcm_s16le clips violate the flac-only pack
    loose = dict(strict)
    loose["rules"] = [
        {"rule_id": "P.codec", "column": "codec", "check": "in_list",
         "params": {"values": ["flac", "pcm_s16le", "opus", "mp3", "aac"]}},
    ]
    rc2 = run_validation.main(
        ["--input", inp, "--output-root", str(tmp_path / "o2"),
         "--run-id", "p2", "--skip-audio", "--rule-pack", json.dumps(loose)]
    )
    assert rc2 == 0
