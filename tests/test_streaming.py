"""Streaming validation tests: availableNow file-source micro-batches."""

import os

import pytest
from pyspark.sql import functions as F

from seronet_data_validator_spark.sources.clips import (
    codec_registry_df,
    generate_clips,
)
from seronet_data_validator_spark.streaming import stream_validate_clips


def test_stream_validate_clips(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    generate_clips(spark, 200, seed=43, bad=True).write.parquet(inp)

    q = stream_validate_clips(
        spark, inp, out, codec_registry=codec_registry_df(spark),
    )
    q.awaitTermination(120)

    viols = spark.read.parquet(os.path.join(out, "violations_stream"))
    counts = {
        (r["rule_id"]): r["count"]
        for r in viols.where(F.col("severity") == "Error").groupBy("rule_id").count().collect()
    }
    # row-level + batch-level checks fire with the seeded counts
    assert counts["C3.clip_id_format"] == 6
    assert counts["C4.dup_id"] == 1
    assert counts["C15.referential"] == 4

    # violations land partitioned by batch_id (dynamic overwrite → a
    # replayed micro-batch overwrites its own partition, not appends)
    viol_parts = [n for n in os.listdir(os.path.join(out, "violations_stream"))
                  if n.startswith("batch_id=")]
    assert viol_parts, "violations_stream must be partitioned by batch_id"

    # exactly-once: restarting the stream over the same files adds nothing
    q2 = stream_validate_clips(spark, inp, out, codec_registry=codec_registry_df(spark))
    q2.awaitTermination(60)
    viols2 = spark.read.parquet(os.path.join(out, "violations_stream"))
    assert viols2.count() == viols.count()


def test_cross_batch_duplicate_detected(spark, tmp_path):
    """A clip_id that arrived in an earlier micro-batch must flag
    C4.cross_batch_dup when it reappears in a later batch — batch-local
    uniqueness alone would silently pass it."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    generate_clips(spark, 50, seed=1).write.parquet(inp)
    q = stream_validate_clips(spark, inp, out)
    q.awaitTermination(120)

    # land 5 clips with the SAME ids (same seed, same row ids) as a new file
    generate_clips(spark, 5, seed=1).coalesce(1).write.mode("append").parquet(inp)
    q2 = stream_validate_clips(spark, inp, out)
    q2.awaitTermination(120)

    viols = spark.read.parquet(os.path.join(out, "violations_stream"))
    cross = viols.where(F.col("rule_id") == "C4.cross_batch_dup")
    assert cross.count() == 5
    assert "earlier micro-batch" in cross.first()["message"]


def test_stream_audio_invariant_pass(spark, tmp_path):
    """With a static reference table, the stream runs the decoded-PCM
    invariant pass per micro-batch — the C13a families the batch runner
    emits appear in the streaming violations too."""
    from seronet_data_validator_spark.sources.clips import reference_clips

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    generate_clips(spark, 200, seed=43, bad=True).write.parquet(inp)
    q = stream_validate_clips(
        spark, inp, out,
        codec_registry=codec_registry_df(spark),
        reference_clips=reference_clips(spark, 200, seed=43),
    )
    q.awaitTermination(120)
    viols = spark.read.parquet(os.path.join(out, "violations_stream"))
    rules = {r["rule_id"] for r in viols.select("rule_id").distinct().collect()}
    assert {"C13a.snr", "C13a.sr_mismatch", "C13a.dur_mismatch",
            "C13a.transcript", "C13a.decode"} <= rules


def test_seen_key_log_compaction_bounded(spark, tmp_path):
    """54 single-file micro-batches with compaction every 8: the seen-key
    log must end as ONE snapshot + a tail bounded by the compaction
    interval — per-batch read volume stays O(interval), not O(history) —
    while still holding every key ever seen. Violations land partitioned by
    batch_id (dynamic overwrite → replay-idempotent)."""
    import glob

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    clips = generate_clips(spark, 216, seed=5)
    clips.repartition(54).write.parquet(inp)
    n_ids = clips.select("clip_id").distinct().count()

    q = stream_validate_clips(
        spark, inp, out, max_files_per_trigger=1, compact_seen_keys_every=8,
    )
    q.awaitTermination(600)

    seen_root = os.path.join(out, "seen_keys")
    snaps = [n for n in os.listdir(seen_root)
             if n.startswith("snap=") and not n.endswith(".tmp")]
    assert len(snaps) == 1, f"exactly one live snapshot expected, got {snaps}"
    tail_files = glob.glob(os.path.join(seen_root, "tail", "*.parquet"))
    assert len(tail_files) <= 8, (
        f"tail must be bounded by the compaction interval, got {len(tail_files)}"
    )
    # no key lost across compactions
    paths = [os.path.join(seen_root, snaps[0])]
    if tail_files:
        paths.append(os.path.join(seen_root, "tail"))
    log = spark.read.schema("clip_id string, batch_id long").parquet(*paths)
    assert log.select("clip_id").distinct().count() == n_ids


def test_windowed_drift_batch_and_stream_agree(spark, tmp_path):
    """PSI per tumbling window: ~0 when the reference profile matches the
    stream, large when shifted; the identical plan runs batch and streaming
    (availableNow) with equal results."""
    from seronet_data_validator_spark.streaming import windowed_drift

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    probs = [i / 10.0 for i in range(1, 10)]  # decile bins: 10 bins over
    ref_q = ev.approxQuantile("value", probs, 0.001)  # ~230-row 7d windows

    matched = windowed_drift(ev, ref_q, probs=probs, window="7 days").collect()
    assert matched and all(not r["drifted"] for r in matched)
    assert max(abs(r["psi"]) for r in matched) < 0.2

    shifted = windowed_drift(
        ev, [q + 1000.0 for q in ref_q], probs=probs, window="7 days"
    ).collect()
    assert shifted and all(r["drifted"] for r in shifted)

    inp = str(tmp_path / "ev")
    ev.write.parquet(inp)
    stream = spark.readStream.schema(ev.schema).parquet(inp)
    q = (
        windowed_drift(stream, ref_q, probs=probs, window="7 days")
        .writeStream.format("memory")
        .queryName("drift_mem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["window_start"], r["n"], r["psi"])
        for r in spark.sql("select * from drift_mem").collect()
    }
    want = {(r["window_start"], r["n"], r["psi"]) for r in matched}
    # append mode emits a window only once the watermark passes its end, so
    # the trailing window stays pending at stream end — everything emitted
    # must match the batch plan exactly
    assert got and got <= want and len(want) - len(got) <= 1


def test_replayed_compacting_batch_is_idempotent(spark, tmp_path):
    """A compacting micro-batch whose commit was lost after its snapshot
    rename (a crash between the key-log write and the stream commit) replays
    on restart. The replay must find snap=<batch_id> already folded, keep the
    stream alive, and leave the violations and the key log as the first run
    wrote them."""
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    # three single-file micro-batches; the third repeats 4 ids of the first
    for n, seed in ((10, 11), (10, 12), (4, 11)):
        generate_clips(spark, n, seed=seed).coalesce(1).write.mode("append").parquet(inp)
    ids = {r[0] for r in spark.read.parquet(inp).select("clip_id").distinct().collect()}

    def run():
        q = stream_validate_clips(
            spark, inp, out, max_files_per_trigger=1, compact_seen_keys_every=1,
        )
        q.awaitTermination(180)
        assert q.exception() is None
        viols = spark.read.parquet(os.path.join(out, "violations_stream"))
        return sorted(tuple(r) for r in viols.collect())

    first = run()
    assert sum(r[5] == "C4.cross_batch_dup" for r in first) == 4
    commits = os.path.join(out, "_checkpoint", "commits")
    os.remove(os.path.join(commits, "2"))
    if os.path.exists(os.path.join(commits, ".2.crc")):
        os.remove(os.path.join(commits, ".2.crc"))

    assert run() == first
    assert os.path.exists(os.path.join(commits, "2")), "batch 2 was not replayed"
    seen_root = os.path.join(out, "seen_keys")
    assert not os.path.exists(os.path.join(seen_root, "tail"))
    assert sorted(os.listdir(seen_root)) == ["snap=2"]
    log = spark.read.schema("clip_id string, batch_id long").parquet(
        os.path.join(seen_root, "snap=2"))
    assert {r[0] for r in log.collect()} == ids
    assert log.count() == len(ids)


def test_stream_qc_pass_matches_batch(spark, tmp_path):
    """run_qc_pass=True in the stream emits the same QC1 verdict rows the
    batch adapter produces over the same input (stream/backfill parity for
    the acceptance family)."""
    import numpy as np

    from seronet_data_validator_spark.operators.qc import qc_violations
    from seronet_data_validator_spark.sources.clips import wav_bytes

    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    clips = generate_clips(spark, 80, seed=5, bad=False)
    victim = clips.select("clip_id").orderBy("clip_id").limit(1).collect()[0][0]
    i = np.arange(2000, dtype=np.int64)
    clipped = wav_bytes(
        np.where((i // 8) % 2 == 0, 32767, -32768).astype(np.int16), 8000
    )
    planted = clips.withColumn(
        "bytes",
        F.when(F.col("clip_id") == victim, F.lit(clipped)).otherwise(
            F.col("bytes")
        ),
    )
    planted.write.parquet(inp)

    q = stream_validate_clips(spark, inp, out, run_qc_pass=True)
    q.awaitTermination(120)
    sv = (
        spark.read.parquet(os.path.join(out, "violations_stream"))
        .where(F.col("rule_id").startswith("QC1"))
        .select("severity", "row_ref", "rule_id", "column_value")
    )
    bv = qc_violations(spark.read.parquet(inp)).select(
        "severity", "row_ref", "rule_id", "column_value"
    )
    s_rows = sorted(map(tuple, sv.collect()))
    b_rows = sorted(map(tuple, bv.collect()))
    assert s_rows == b_rows
    assert any(r[1] == victim and r[2] == "QC1.clipped" for r in s_rows)


def test_empty_file_runs_as_an_empty_batch(spark, tmp_path):
    """An empty file landing between two non-empty ones is a micro-batch
    with no rows. It writes no violations and no keys: the violations and
    the key log's (id, first batch_id) equal those of a run without that
    file, batch ids past it shifted by one, and so do they after a restart
    over one more file. Compaction every 2 makes the empty batch append to
    the tail and the next batch read it."""
    from seronet_data_validator_spark.sources.clips import CLIPS_SCHEMA

    registry = codec_registry_df(spark)

    def land(inp, parts):
        df = spark.createDataFrame([], CLIPS_SCHEMA)
        for n, seed in parts:
            df = df.unionByName(generate_clips(spark, n, seed=seed))
        df.coalesce(1).write.mode("append").parquet(inp)

    def run(name, files, restart_file, batch_no):
        inp, out = str(tmp_path / name / "in"), str(tmp_path / name / "out")
        for parts in files:
            land(inp, parts)
        for restart in (False, True):
            if restart:
                land(inp, restart_file)
            q = stream_validate_clips(spark, inp, out, codec_registry=registry,
                                      max_files_per_trigger=1, compact_seen_keys_every=2)
            q.awaitTermination(180)
            assert q.exception() is None
        viols = spark.read.parquet(os.path.join(out, "violations_stream"))
        by_batch = {}
        for r in viols.collect():
            by_batch.setdefault(batch_no[r["batch_id"]], []).append(
                tuple(r[c] for c in viols.columns if c != "batch_id"))
        seen_root = os.path.join(out, "seen_keys")
        log_paths = [os.path.join(seen_root, n) for n in os.listdir(seen_root)
                     if n.startswith("snap=") and not n.endswith(".tmp")]
        if os.path.isdir(os.path.join(seen_root, "tail")):
            log_paths.append(os.path.join(seen_root, "tail"))
        log = spark.read.schema("clip_id string, batch_id long").parquet(*log_paths)
        first = log.groupBy("clip_id").agg(F.min("batch_id")).collect()
        return ({k: sorted(v) for k, v in by_batch.items()},
                sorted((i, batch_no[b]) for i, b in first))

    a, b, c = [(20, 21)], [(10, 22), (3, 21)], [(5, 22), (2, 21)]
    with_empty = run("with_empty", [a, [], b], c, {0: 0, 2: 1, 3: 2})
    without = run("without", [a, b], c, {0: 0, 1: 1, 2: 2})
    assert with_empty == without
    viols, keys = without
    assert [sum(r[5] == "C4.cross_batch_dup" for r in viols[k]) for k in (1, 2)] == [3, 7]
    assert len(keys) == 30 and {b for _, b in keys} == {0, 1}  # C repeats A and B
