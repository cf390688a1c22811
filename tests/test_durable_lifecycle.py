"""Durable lifecycle: a crash at either write boundary of ``validate_clips``
(violations write, then the run-manifest commit) resumes to the result of an
uninterrupted run; the manifest keeps NULL metrics and 64-bit counts exactly;
a resumed durable run stays within its Spark job budget, leaves nothing
cached, does not flag the sites it skipped (C17, C18, C19), still reports
duplicates of their ids (C4) and still validates NULL-site clips; and
``wall_ms`` times the whole call."""

from __future__ import annotations

import os
import time
from collections import Counter

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark import runner
from seronet_data_validator_spark.checkpoint import RunManifest, partition_verdicts
from seronet_data_validator_spark.model import SEVERITY_ERROR, VIOLATION_SCHEMA
from seronet_data_validator_spark.runner import SiteConsistencySpec, validate_clips
from seronet_data_validator_spark.sources.clips import (
    SITES, codec_registry_df, generate_clips, reference_clips)

RUN = "crash"
STORED_SCHEMA = T.StructType(
    list(VIOLATION_SCHEMA.fields) + [T.StructField("site", T.StringType(), True)]
)


class Crash(RuntimeError):
    """The injected fault."""


@pytest.fixture(scope="module")
def plain_session(spark):
    """The session with Spark's default (static) partition overwrite mode,
    restored afterwards."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    yield spark
    spark.conf.set(key, before)


@pytest.fixture(scope="module")
def bad_clips(spark):
    clips = generate_clips(spark, 200, seed=47, bad=True)
    assert sorted(r["site"] for r in clips.select("site").distinct().collect()) == SITES
    return clips


def _run(spark, clips, root):
    # each run executes its plan: no violations served from an earlier
    # run's persisted result
    spark.catalog.clearCache()
    return validate_clips(spark, clips, codec_registry=codec_registry_df(spark),
                          run_id=RUN, output_root=root, run_audio_pass=False)


def _commit_passed(spark, root, run_id, sites):
    RunManifest(spark, root).commit(run_id, [
        {"partition_key": s, "pass": True, "n_rows": 1, "n_errors": 0,
         "n_warnings": 0, "wall_ms": 0}
        for s in sites
    ])


def _outcome(spark, res, root) -> dict:
    stored = spark.read.schema(STORED_SCHEMA).parquet(os.path.join(root, "violations", RUN))
    return {
        "stored": Counter(tuple(r) for r in stored.collect()),
        "returned": Counter(tuple(r) for r in res.violations.collect()),
        "passed": res.passed,
        "verdicts": [(v["partition_key"], v["pass"], v["n_rows"], v["n_errors"],
                      v["n_warnings"]) for v in res.verdicts],
    }


@pytest.fixture(scope="module")
def uninterrupted(plain_session, bad_clips, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("uninterrupted"))
    res = _run(plain_session, bad_clips, root)
    out = _outcome(plain_session, res, root)
    assert not out["passed"] and out["stored"] and len(out["verdicts"]) == len(SITES)
    return out


def _resume_matches(spark, clips, root, expected) -> None:
    """Re-run after the crash: every site re-validates and the outcome equals
    the uninterrupted run's; a further re-run skips every site and keeps the
    stored exit status."""
    res = _run(spark, clips, root)
    assert res.skipped_partitions == []
    assert _outcome(spark, res, root) == expected
    again = _run(spark, clips, root)
    assert again.skipped_partitions == SITES
    assert again.passed == expected["passed"]


def test_crash_in_commit_revalidates_every_site(
    plain_session, bad_clips, uninterrupted, tmp_path, monkeypatch
):
    spark, root = plain_session, str(tmp_path)

    def commit(self, *args, **kwargs):
        raise Crash("commit")

    with monkeypatch.context() as m:
        m.setattr(RunManifest, "commit", commit)
        with pytest.raises(Crash):
            _run(spark, bad_clips, root)
    assert os.path.isdir(os.path.join(root, "violations", RUN))
    assert RunManifest(spark, root).prior_verdicts(RUN) == {}
    _resume_matches(spark, bad_clips, root, uninterrupted)


def test_crash_in_violations_write_commits_nothing(
    plain_session, bad_clips, uninterrupted, tmp_path, monkeypatch
):
    spark, root = plain_session, str(tmp_path)
    parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if f"{os.sep}violations{os.sep}" in path:
            raise Crash("violations write")
        return parquet(self, path, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(DataFrameWriter, "parquet", failing_parquet)
        with pytest.raises(Crash):
            _run(spark, bad_clips, root)
    # the failed call released its cache; no partition may be marked done
    # without its violations
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert RunManifest(spark, root).prior_verdicts(RUN) == {}
    assert partition_verdicts(spark, root).count() == 0
    _resume_matches(spark, bad_clips, root, uninterrupted)


def test_manifest_commit_roundtrip_is_exact(spark, tmp_path):
    """NULL metrics stay NULL (not 0, not NaN) and 64-bit counts survive the
    commit's pandas/Arrow build exactly."""
    root = str(tmp_path)
    committed = [
        ("a", True, None, 0, 0, None),
        ("b", False, 2**62, 3, 1, 7),
        ("c", True, 2**62 + 1, None, 2, 2**53 + 1),
    ]
    RunManifest(spark, root).commit("r", [
        dict(zip(("partition_key", "pass", "n_rows", "n_errors", "n_warnings", "wall_ms"), c))
        for c in committed
    ])
    got = sorted(tuple(r) for r in partition_verdicts(spark, root).collect())
    assert got == [("r", *c) for c in committed]
    assert all(v is None or type(v) is int for row in got for v in row[3:])
    assert RunManifest(spark, root).prior_verdicts("r") == {"a": True, "b": False, "c": True}


def test_durable_resume_job_budget(spark, tmp_path):
    """A resumed durable run with 2 of 4 sites committed runs at most 11
    Spark jobs: one manifest read, no separate row-count job, and one commit
    append."""
    clips = generate_clips(spark, 200, seed=53, bad=True)
    root = str(tmp_path)
    _commit_passed(spark, root, "budget", SITES[:2])
    registry = codec_registry_df(spark)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = "durable-resume-job-budget"
    sc.setJobGroup(group, "validate_clips durable resume")
    try:
        res = validate_clips(spark, clips, codec_registry=registry, run_id="budget",
                             output_root=root, run_qc_pass=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert res.skipped_partitions == SITES[:2]
    tracker = sc.statusTracker()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    done = [j for j in jobs if j is not None and j.status == "SUCCEEDED"]
    assert 0 < len(done) <= 11, f"{len(done)} jobs"


def test_durable_run_releases_its_cache(spark, bad_clips, tmp_path):
    """A durable call leaves the session's cache empty, whether it writes
    or finds every partition committed, and returns the stored violations."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    root = str(tmp_path)
    res = validate_clips(spark, bad_clips, codec_registry=codec_registry_df(spark),
                         run_id="cache", output_root=root, run_audio_pass=False)
    assert cache.isEmpty()
    stored = spark.read.schema(STORED_SCHEMA).parquet(os.path.join(root, "violations", "cache"))
    assert Counter(tuple(r) for r in res.violations.collect()) == Counter(
        tuple(r)[:-1] for r in stored.collect())
    again = validate_clips(spark, bad_clips, codec_registry=codec_registry_df(spark),
                           run_id="cache", output_root=root, run_audio_pass=False)
    assert again.skipped_partitions == SITES
    assert again.passed is False and again.verdicts == []
    assert again.violations.count() == 0
    assert cache.isEmpty()


@pytest.mark.parametrize("declared_side", ["site_consistency", "manifest"])
def test_resume_does_not_flag_skipped_sites(spark, tmp_path, declared_side):
    """The resume filter prunes the committed sites from the declared side
    of C19 and C18 as well as from the clips: on the Good fixture, a run
    resumed with 2 of 4 sites committed passes like the full run."""
    clips = generate_clips(spark, 400, seed=42, bad=False)
    if declared_side == "site_consistency":
        declared = spark.createDataFrame(
            [(s, "pcm_s16le") for s in SITES], "site string, declared_codec string")
        kw = {"site_consistency": SiteConsistencySpec(declared=declared)}
    else:
        per_site = sorted(tuple(r) for r in clips.groupBy("site").count().collect())
        kw = {"manifest": spark.createDataFrame(
            per_site, "site string, declared_clip_count long")}
    registry = codec_registry_df(spark)
    full = validate_clips(spark, clips, codec_registry=registry, run_id="full",
                          output_root=str(tmp_path / "full"), run_audio_pass=False, **kw)
    assert full.passed
    root = str(tmp_path / "resumed")
    _commit_passed(spark, root, "resumed", SITES[:2])
    res = validate_clips(spark, clips, codec_registry=registry, run_id="resumed",
                         output_root=root, run_audio_pass=False, **kw)
    assert res.skipped_partitions == SITES[:2]
    assert [v["partition_key"] for v in res.verdicts] == SITES[2:]
    assert res.violations.where(F.col("severity") == SEVERITY_ERROR).count() == 0
    assert res.passed


def test_resume_keeps_null_site_clips(spark, bad_clips, tmp_path):
    """A clip with a NULL site belongs to no committed partition: a run
    resumed with 2 of 4 sites committed still validates it and reports the
    full run's rows for it; once every site is committed, a call writes
    nothing."""
    extra = bad_clips.limit(1).withColumns(
        {"clip_id": F.lit("no-site"), "site": F.lit(None).cast("string")})
    clips = bad_clips.unionByName(extra)
    registry = codec_registry_df(spark)

    def rows(res):
        return sorted(tuple(r) for r in res.violations.where(
            F.col("row_ref") == "no-site").collect())

    full = validate_clips(spark, clips, codec_registry=registry, run_id="full",
                          output_root=str(tmp_path / "full"), run_audio_pass=False)
    want = rows(full)
    assert "C3.clip_id_format" in {r[VIOLATION_SCHEMA.names.index("rule_id")] for r in want}
    root = str(tmp_path / "resumed")
    _commit_passed(spark, root, "resumed", SITES[:2])
    res = validate_clips(spark, clips, codec_registry=registry, run_id="resumed",
                         output_root=root, run_audio_pass=False)
    assert res.skipped_partitions == SITES[:2]
    assert rows(res) == want
    # a NULL partition is never committed, and the call that committed the
    # last site wrote its rows: a further call has nothing to write
    again = validate_clips(spark, clips, codec_registry=registry, run_id="resumed",
                           output_root=root, run_audio_pass=False)
    assert again.skipped_partitions == SITES
    assert again.verdicts == [] and again.violations.count() == 0


def test_resume_keeps_presence_rows(spark, bad_clips, tmp_path):
    """C17 reads the ids of the whole input, not the resume-filtered clips:
    a run resumed with 2 of 4 sites committed reports the C17 rows of an
    in-memory run, not the committed sites' reference ids as childless."""
    kw = {"codec_registry": codec_registry_df(spark), "run_audio_pass": False,
          "reference_clips": reference_clips(spark, 200, seed=47),
          "run_presence_pass": True}

    def c17(res):
        return sorted(tuple(r) for r in res.violations.where(
            F.col("rule_id").startswith("C17.")).select(*VIOLATION_SCHEMA.names).collect())

    with validate_clips(spark, bad_clips, run_id="mem", **kw) as mem:
        want = c17(mem)
    assert "C17.childless" in {r[VIOLATION_SCHEMA.names.index("rule_id")] for r in want}
    root = str(tmp_path / "resumed")
    _commit_passed(spark, root, "resumed", SITES[:2])
    res = validate_clips(spark, bad_clips, run_id="resumed", output_root=root, **kw)
    assert res.skipped_partitions == SITES[:2]
    assert c17(res) == want


def test_resume_keeps_duplicates_across_committed_sites(spark, tmp_path):
    """C4 reads the ids of the whole input, not the resume-filtered clips: a
    site-22 clip that repeats an id of the committed site 11 fails a resumed
    run with the in-memory run's C4 row."""
    clips = generate_clips(spark, 400, seed=42, bad=False)
    cid = clips.where(F.col("site") == "11").first()["clip_id"]
    clips = clips.unionByName(
        clips.where(F.col("clip_id") == cid).withColumn("site", F.lit("22")))
    kw = {"codec_registry": codec_registry_df(spark), "run_audio_pass": False}

    def c4(res):
        return sorted(tuple(r) for r in res.violations.where(
            F.col("rule_id") == "C4.dup_id").select(*VIOLATION_SCHEMA.names).collect())

    with validate_clips(spark, clips, run_id="mem", **kw) as mem:
        want = c4(mem)
        assert mem.passed is False
    assert len(want) == 1
    root = str(tmp_path)
    _commit_passed(spark, root, "resumed", ["11"])
    res = validate_clips(spark, clips, run_id="resumed", output_root=root, **kw)
    assert res.skipped_partitions == ["11"]
    assert c4(res) == want
    assert res.passed is False


def test_wall_ms_covers_the_whole_call(spark, monkeypatch):
    """``wall_ms`` times the call from its entry: a schema step slowed by
    0.5 s shows in every verdict, and nothing but the return follows it."""
    contract = runner.schema_contract_violations

    def slow_contract(*args, **kwargs):
        time.sleep(0.5)
        return contract(*args, **kwargs)

    monkeypatch.setattr(runner, "schema_contract_violations", slow_contract)
    clips = generate_clips(spark, 40, seed=2)
    t = time.perf_counter()
    res = validate_clips(spark, clips, run_id="wall", run_audio_pass=False)
    elapsed_ms = (time.perf_counter() - t) * 1000
    assert res.verdicts
    for v in res.verdicts:
        assert 500 <= v["wall_ms"] <= elapsed_ms
        assert v["wall_ms"] >= elapsed_ms - 250
