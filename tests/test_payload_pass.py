"""The one payload pass: the C13a audio invariants and the QC1 acceptance
rules run in a single Arrow decode (operators/audio.audio_violations).

Pins its plan-shape budget in the lifecycle plan, its Python task count
(the file-split count, not one task per bucket), its parity with the
two-pass composition it replaced (rows and partition attribution, every
mode, with and without references), the disjoint dedup keys that let the
two rule families share one pass ordinal, Spark's HALF_UP formatting of
the clipping percentage, and the caller's release of an in-memory result.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from seronet_data_validator_spark import runner as R
from seronet_data_validator_spark.model import VIOLATION_SCHEMA
from seronet_data_validator_spark.operators.audio import audio_violations
from seronet_data_validator_spark.operators.flac import flac_bytes
from seronet_data_validator_spark.operators.qc import qc_violations
from seronet_data_validator_spark.plans.compile import (
    DEDUP_KEY,
    dedup_violations,
    union_violation_parts,
)
from seronet_data_validator_spark.sources.clips import (
    CLIPS_SCHEMA,
    codec_registry_df,
    generate_clips,
    reference_clips,
    wav_bytes,
    wav_bytes_ex,
)
from seronet_data_validator_spark.sources.local import local_df
from seronet_data_validator_spark.sources.staging import stage_clip_tables

COLS = [f.name for f in VIOLATION_SCHEMA.fields]
_NODE = re.compile(r"^\(\d+\) (\S+)", re.M)
_SCAN = re.compile(r"^\(\d+\) Scan parquet (\S+)\nOutput \[\d+\]: \[([^\]]*)\]", re.M)
_COALESCED_JOIN = re.compile(
    r"MapInArrow \(\d+\)\n\s*\+- Coalesce \(\d+\)\n(\s*\+- Project \(\d+\)\n)*\s*\+- \w*Join")


def edge_rows() -> tuple[list[tuple], list[tuple]]:
    """Hand-made clips (CLIPS_SCHEMA tuples) and their reference rows
    (clip_id, ref_bytes, ref_transcript) covering every decode lane and
    both C13a paths: bit-identical references take the 60-byte header
    path, differing ones the full SNR decode, whose PCM then feeds QC1."""
    i = np.arange(4000, dtype=np.int64)
    tone = (8000 * np.sin(i * 0.05)).astype(np.int64)
    square = np.where((i // 8) % 2 == 0, 32767, -32768)
    stereo = np.stack([square, square], axis=1)
    nudged = np.stack([square, square - np.sign(square) * (i % 3)], axis=1)
    one_clip = tone[:800].copy()
    one_clip[7] = 32767  # 1 of 800 samples: 0.125% -> "0.13" (HALF_UP)
    many = (tone % 20000)[:4000].repeat(5)  # 20,000 samples
    many[:29] = 32767  # 29 of 20,000: 0.145% -> "0.15"
    trunc = wav_bytes(tone, 8000)[:-100]
    clips = [  # clip_id, bytes, sr_hz, dur_ms, codec, ref bytes
        ("e_st16", wav_bytes_ex(stereo, 8000), 8000, 500, "pcm_s16le",
         wav_bytes_ex(nudged, 8000)),  # SNR far above 30 dB: full decode, no C13a.snr
        ("e_st24", wav_bytes_ex(np.stack([square << 8, tone << 8], axis=1), 8000, bits=24),
         8000, 500, "pcm_s24le", None),
        ("e_flac_ms", flac_bytes(stereo, 8000, stereo_mode="mid_side"), 8000, 500,
         "flac", wav_bytes(tone, 8000)),
        ("e_dead", wav_bytes_ex(np.stack([tone, 0 * tone], axis=1), 8000), 8000, 500,
         "pcm_s16le", None),
        ("e_junk", b"not a riff buffer at all" * 4, 8000, 500, "pcm_s16le",
         wav_bytes(tone, 8000)),
        ("e_trunc", trunc, 8000, 500, "pcm_s16le", None),
        ("e_null", None, 8000, 500, "pcm_s16le", wav_bytes(tone, 8000)),
        ("e_zero", wav_bytes(np.zeros(0, np.int64), 8000), 8000, 0, "pcm_s16le", None),
        ("e_half1", wav_bytes(one_clip, 8000), 8000, 100, "pcm_s16le", None),
        ("e_half2", wav_bytes(many, 8000), 8000, 2500, "pcm_s16le", None),
        ("e_silent", wav_bytes(0 * tone, 8000), 8000, 500, "pcm_s16le", None),
        ("e_dc", wav_bytes(tone // 8 + 3000, 8000), 16000, 500, "pcm_s16le", None),
        ("e_snr", wav_bytes(square, 8000), 8000, 500, "pcm_s16le", wav_bytes(tone, 8000)),
        ("e_snr_sq", wav_bytes(square, 8000), 8000, 500, "pcm_s16le",
         wav_bytes(np.roll(square, 8), 8000)),
    ]
    rows = [(cid, b, sr, dur, codec, "hello world", "99")
            for cid, b, sr, dur, codec, _ in clips]
    refs = [(cid, ref if ref is not None else b, "hello world")
            for cid, b, _sr, _dur, _codec, ref in clips]
    return rows, refs


@pytest.fixture(scope="module")
def parity_input(spark, tmp_path_factory):
    """Bad fixture plus the edge rows, written once so every read sees the
    same bytes."""
    rows, ref_rows = edge_rows()
    root = tmp_path_factory.mktemp("payload_pass")
    clips = generate_clips(spark, 200, seed=43, bad=True).unionByName(
        local_df(spark, rows, CLIPS_SCHEMA))
    refs = reference_clips(spark, 200, seed=43).unionByName(
        local_df(spark, ref_rows, "clip_id string, ref_bytes binary, ref_transcript string"))
    clips.write.parquet(str(root / "clips"))
    refs.write.parquet(str(root / "refs"))
    return spark.read.parquet(str(root / "clips")), spark.read.parquet(str(root / "refs"))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.select(*COLS, "site").collect()), key=repr)


@pytest.mark.parametrize("with_refs", [True, False], ids=["refs", "no_refs"])
@pytest.mark.parametrize("audio,qc", [(True, True), (True, False), (False, True)],
                         ids=["both", "audio_only", "qc_only"])
def test_fused_family_matches_two_pass_composition(parity_input, with_refs, audio, qc):
    """The fused family equals the two families it replaced, the NULL-
    partition C13a pass and the site-attributed QC1 pass, after the C22
    dedup: same rows, same partition for every row."""
    clips, refs = parity_input
    refs = refs if with_refs else None
    parts = []
    if audio:
        parts.append(R._with_null_part(audio_violations(clips, refs), "site"))
    if qc:
        parts.append(qc_violations(clips, keep_columns=("site",)))
    composed = dedup_violations(union_violation_parts(parts), order_col="_ord")
    fused = audio_violations(clips, refs, invariants=audio, qc=qc, keep_columns=("site",))
    want = _rows(composed)
    assert _rows(dedup_violations(union_violation_parts([fused]), order_col="_ord")) == want
    assert all((r[-1] is None) == r[COLS.index("rule_id")].startswith("C13a") for r in want)
    rules = {r[COLS.index("rule_id")] for r in want}
    if audio:
        assert {"C13a.decode", "C13a.sr_mismatch", "C13a.dur_mismatch"} <= rules
        assert ("C13a.snr" in rules) == with_refs
    if qc:
        assert {"QC1.clipped", "QC1.silent", "QC1.dc_offset"} <= rules


def test_c13a_and_qc1_dedup_keys_disjoint(parity_input):
    """One pass ordinal serves both rule families only because no C13a row
    shares a dedup key with a QC1 row; the fixture has clips with both."""
    clips, refs = parity_input
    fused = audio_violations(clips, refs, qc=True).collect()
    keys = {fam: {tuple(r[k] for k in DEDUP_KEY) for r in fused
                  if r["rule_id"].startswith(fam)} for fam in ("C13a", "QC1")}
    assert keys["C13a"] and keys["QC1"]
    assert not keys["C13a"] & keys["QC1"]
    both = {k[1] for k in keys["C13a"]} & {k[1] for k in keys["QC1"]}
    assert {"e_flac_ms", "e_snr"} <= both


def test_qc1_clipped_pct_rounds_half_up(parity_input):
    """Spark formats the clipping percentage: 0.125 and 0.145 round HALF_UP
    on their decimal strings, where Python's round gives 0.12 and 0.14."""
    clips, _ = parity_input
    msg = {r["row_ref"]: r["message"] for r in qc_violations(clips).where(
        F.col("rule_id") == "QC1.clipped").collect()}
    assert msg["e_half1"] == "Clipping on 0.13% of samples (>0.1% allowed)"
    assert msg["e_half2"] == "Clipping on 0.15% of samples (>0.1% allowed)"
    assert not {"e_junk", "e_trunc", "e_null", "e_zero"} & set(msg)


def _plan_shape(text: str) -> tuple[int, int, int]:
    nodes = _NODE.findall(text)
    return (
        sum("Scan" in n for n in nodes),
        sum(n.endswith("Exchange") for n in nodes),
        sum("Python" in n or "InPandas" in n or "InArrow" in n for n in nodes),
    )


def _fact_scans(text: str, table: str) -> list[tuple[str, ...]]:
    """The output columns of each scan of ``table`` in a formatted plan."""
    return sorted(
        tuple(c.split("#")[0] for c in out.split(", "))
        for name, out in _SCAN.findall(text) if name.endswith(table)
    )


@pytest.mark.parametrize("qc", [True, False], ids=["qc", "no_qc"])
def test_lifecycle_plan_shape_budget(spark, monkeypatch, qc):
    """The lifecycle plan (the input of ``_finish_validation``) over bucketed
    tables with audio, references and an inlined registry: the fact table's
    payload is read by one scan and crosses to Python in one node, QC on or
    off. The verdict action adds one scan of the fact table, pruned to the
    partition column, for the row counts."""
    prefix = f"shape{os.getpid()}"
    stage_clip_tables(spark, 200, seed=19, buckets=4, bad=True,
                      table_prefix=prefix, refs_from_clips=False)
    plans = []
    finish = R._finish_validation

    def capture(spark_, violations, *args):
        plans.append(violations._sc._jvm.PythonSQLUtils.explainString(
            violations._jdf.queryExecution(), "formatted"))
        return finish(spark_, violations, *args)

    monkeypatch.setattr(R, "_finish_validation", capture)
    fact = f"{prefix}_clips_200_19_bad"
    res = R.validate_clips(
        spark, spark.table(fact),
        codec_registry=codec_registry_df(spark),
        reference_clips=spark.table(f"{prefix}_refs_200_19"), run_qc_pass=qc,
    )
    scans, exchanges, python = _plan_shape(plans[0])
    assert scans <= 4, plans[0]
    assert exchanges <= 2, plans[0]
    assert python == 1, plans[0]
    # the payload pass's coalesce sits above the reference join (a bucketed
    # merge join keeps its co-partitioning) and right below the Python node
    assert _COALESCED_JOIN.search(plans[0]), plans[0]
    assert not res.passed
    # the last SQL execution of the call is the verdict action (in memory:
    # no write follows it); its plan holds the cached lifecycle plan too
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    verdict = executions.apply(executions.size() - 1)
    assert "runner.py" in verdict.description(), verdict.description()
    extra = Counter(_fact_scans(verdict.physicalPlanDescription(), fact))
    extra.subtract(Counter(_fact_scans(plans[0], fact)))
    assert +extra == Counter({("site",): 1}), verdict.physicalPlanDescription()
    res.close()


def _python_tasks(spark, res) -> int:
    """The tasks of the one Python node (its partition count) in the executed
    plan that filled an in-memory result's cache; counting runs no job. The
    stage holding the node also runs the union's other families, so its task
    count would not isolate the Python tasks."""
    cached = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        res._persisted._jdf)
    todo, found = [cached.get().cachedRepresentation().cacheBuilder().cachedPlan()], []
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "MapInArrow":
            found.append(node.execute().getNumPartitions())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
    assert len(found) == 1
    return found[0]


@pytest.mark.parametrize("split", ["default", "below_bucket"])
def test_payload_pass_python_tasks(spark, split):
    """Over 8 buckets the lifecycle's payload pass runs in Spark's file-split
    count of Python tasks, max(defaultParallelism, ceil(bytes /
    maxPartitionBytes)), not one task per bucket. With maxPartitionBytes
    below one bucket's bytes it keeps one task per bucket: the coalesce
    never adds partitions."""
    prefix = f"split{os.getpid()}"
    stage_clip_tables(spark, 200, seed=19, buckets=8, bad=True,
                      table_prefix=prefix, refs_from_clips=False)
    clips = spark.table(f"{prefix}_clips_200_19_bad")
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    if split == "below_bucket":
        bucket_bytes = min(os.path.getsize(f.removeprefix("file:")) for f in clips.inputFiles())
        spark.conf.set(key, str(bucket_bytes // 2))
    try:
        res = R.validate_clips(
            spark, clips, codec_registry=codec_registry_df(spark),
            reference_clips=spark.table(f"{prefix}_refs_200_19"), run_qc_pass=True,
        )
        tasks = _python_tasks(spark, res)
        res.close()
    finally:
        spark.conf.set(key, before)
    assert not res.passed
    if split == "default":
        assert tasks <= spark.sparkContext.defaultParallelism < 8
    else:
        assert tasks == 8


def test_in_memory_result_close_releases_cache(spark):
    """An in-memory result owns the persisted violations until ``close()``
    (or the end of its ``with`` block); then the session cache is empty."""
    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    clips = generate_clips(spark, 60, seed=43, bad=True)
    res = R.validate_clips(spark, clips, run_audio_pass=False)
    n = res.violations.count()
    assert not cache.isEmpty()
    res.close()
    assert cache.isEmpty()
    assert res.violations.count() == n  # recomputed, not lost
    with R.validate_clips(spark, clips, run_audio_pass=False) as res:
        assert not cache.isEmpty()
    assert cache.isEmpty()
