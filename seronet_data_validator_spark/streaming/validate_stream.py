"""Streaming validation: readStream → foreachBatch → the batch families.

Each micro-batch runs runner.violation_families, the assembly the batch
runner uses — one definition of the rules and their families, two execution
modes. The codec registry is resolved per micro-batch as the batch runner
resolves it per call; the audio pass runs only when ``reference_clips`` is
given. The one stream-only family is C4.cross_batch_dup: a durable compact
key log (id, first batch_id) makes uniqueness GLOBAL across batches and
survives restarts. Each micro-batch lists the log once and uses that one
listing for the cross-batch semi-join and for compaction.

``windowed_drift`` is the one watermarked windowed aggregation: per-window
PSI drift against a static reference profile, the same plan on batch and
streaming inputs (two entry queries call it).

At scale this is the continuous-ingestion path: new Iceberg/parquet files
land, availableNow/continuous triggers pick them up, violations append to
the audit table with exactly-once file-sink semantics via the stream
checkpoint.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seronet_data_validator_spark import runner
from seronet_data_validator_spark.model import (
    ROW_REF_TABLE_DUP,
    SEVERITY_ERROR,
    violation_columns,
)
# re-exported only as call sites that perfbench/trace.py wraps by name
from seronet_data_validator_spark.operators.integrity import (  # noqa: F401
    duplicate_id_violations,
    referential_violations,
)
from seronet_data_validator_spark.plans.compile import (  # noqa: F401
    compile_ruleset,
    dedup_violations,
    union_violation_parts,
)
from seronet_data_validator_spark.plans.rules import RuleSet
from seronet_data_validator_spark.rulesets import clips_ruleset
from seronet_data_validator_spark.sources.clips import CLIPS_SCHEMA


def _seen_snapshots(seen_root: str) -> list[int]:
    """Batch ids of existing seen-key snapshots (``snap=<id>`` dirs).
    Driver-side local-FS listing; on a real deployment the seen-key log is
    an Iceberg table and snapshots are table snapshots — the listing becomes
    a metadata call. In-flight ``snap=<id>.tmp`` dirs are ignored (their
    name fails the int parse) so a crash mid-compaction is invisible."""
    try:
        names = os.listdir(seen_root)
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith("snap="):
            try:
                out.append(int(n.split("=", 1)[1]))
            except ValueError:
                pass
    return sorted(out)


def stream_validate_clips(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    *,
    ruleset: RuleSet | None = None,
    codec_registry: DataFrame | None = None,
    reference_clips: DataFrame | None = None,
    trigger_available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_seen_keys_every: int = 16,
    run_qc_pass: bool = False,
):
    """Continuously validate clip files landing in ``input_path``.

    Returns the StreamingQuery. Violations are written to
    ``<output_root>/violations_stream`` parquet partitioned by batch_id with
    DYNAMIC partition overwrite — a replayed micro-batch (at-least-once
    foreachBatch) overwrites its own partition instead of appending a second
    copy, making the violation output exactly-once. The stream checkpoint
    lives at ``<output_root>/_checkpoint``.

    The cross-batch uniqueness key log is COMPACTED every
    ``compact_seen_keys_every`` batches. A batch that does not compact
    appends its keys to ``seen_keys/tail`` (one file per batch). A batch
    that compacts writes ONE ``snap=<batch_id>`` snapshot straight from the
    latest snapshot, the tail and its own keys, keyed on the id with its
    FIRST batch_id (so the replay guard ``batch_id < current`` keeps
    working), then removes the older snapshots and the tail. Per-batch read
    volume is therefore bounded — one snapshot + at most
    ``compact_seen_keys_every`` tail files — instead of growing with stream
    lifetime. (Production: the log is a bucketed Iceberg table and the
    compaction is a rewrite_data_files snapshot commit.)
    """
    rs = ruleset or clips_ruleset()
    reader = spark.readStream.schema(CLIPS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    viol_path = os.path.join(output_root, "violations_stream")
    seen_root = os.path.join(output_root, "seen_keys")
    seen_tail = os.path.join(seen_root, "tail")
    seen_schema = f"{rs.row_ref_column} string, batch_id long"

    # An empty micro-batch (an empty file landed) runs the same steps as any
    # other: every family, the dynamic-overwrite write and the key-log steps
    # accept empty input, so probing for it would cost a job per batch.
    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        parts = runner.violation_families(
            batch_df, rs,
            codec_registry=codec_registry,
            reference_clips=reference_clips,
            run_audio_pass=reference_clips is not None,
            run_qc_pass=run_qc_pass,
        )
        # cross-batch uniqueness: C4.dup_id only sees THIS micro-batch. The
        # key log is listed ONCE per batch — the LATEST snapshot plus the
        # post-snapshot tail, bounded, not O(stream history) — and that one
        # listing serves both the semi-join below and the compaction.
        # batch_id < current keeps replays (at-least-once foreachBatch) from
        # flagging a batch against its own earlier write; snapshots keep each
        # key's FIRST batch_id. Appended last: its dedup key (row_ref "-3",
        # the id column) is shared only with C4.dup_id, which keeps the row.
        snaps = _seen_snapshots(seen_root)
        log_paths = [os.path.join(seen_root, f"snap={snaps[-1]}")] if snaps else []
        if os.path.isdir(seen_tail):
            log_paths.append(seen_tail)
        log = sp.read.schema(seen_schema).parquet(*log_paths) if log_paths else None
        if log is not None:
            prior_keys = (
                log.where(F.col("batch_id") < batch_id)
                .select(rs.row_ref_column).dropDuplicates([rs.row_ref_column])
            )
            key = F.col(rs.row_ref_column)
            parts.append(
                batch_df.join(prior_keys, rs.row_ref_column, "left_semi")
                .select(*violation_columns(
                    SEVERITY_ERROR, rs.table_name, ROW_REF_TABLE_DUP, rs.row_ref_column,
                    key, "C4.cross_batch_dup",
                    F.concat(F.lit("ID "), key, F.lit(
                        " already arrived in an earlier micro-batch; IDs must be unique")),
                ))
            )
        # same first-writer-wins C22 dedup as the batch runner
        v = runner.dedup_violations(union_violation_parts(parts), order_col="_ord")
        # partitioned by batch_id + dynamic overwrite: a replayed batch
        # overwrites ITS OWN partition only — exactly-once output under
        # at-least-once foreachBatch execution
        (
            v.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(viol_path)
        )
        # this batch's keys go to the log AFTER the violation write so a
        # mid-batch crash never records keys whose violations were lost
        keys = batch_df.select(
            F.col(rs.row_ref_column).cast("string").alias(rs.row_ref_column),
            F.lit(batch_id).cast("long").alias("batch_id"),
        )
        if not (compact_seen_keys_every and batch_id % compact_seen_keys_every == 0):
            keys.write.mode("append").parquet(seen_tail)
            return
        # compaction: ONE new snapshot (key → first batch_id) written straight
        # from the listing above plus this batch's keys, then the superseded
        # snapshots and the tail are dropped. Crash windows are safe: the .tmp
        # dir is invisible to the reader until the atomic rename, a stale
        # older snapshot is simply not the max, and an un-deleted tail only
        # re-supplies rows the snapshot already holds (dropDuplicates on read
        # absorbs them). A replay that finds snap=<batch_id> already renamed
        # skips the rewrite: the earlier attempt folded this batch's keys.
        final = os.path.join(seen_root, f"snap={batch_id}")
        if not os.path.isdir(final):
            src = keys if log is None else log.unionByName(keys)
            tmp = final + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            (
                src.groupBy(rs.row_ref_column)
                .agg(F.min("batch_id").alias("batch_id"))
                .write.mode("overwrite").parquet(tmp)
            )
            os.rename(tmp, final)
        for s in snaps:
            if s != batch_id:
                shutil.rmtree(os.path.join(seen_root, f"snap={s}"), ignore_errors=True)
        shutil.rmtree(seen_tail, ignore_errors=True)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(output_root, "_checkpoint"))
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_drift(
    stream: DataFrame,
    ref_quantiles: "list[float]",
    *,
    probs: "list[float] | None" = None,
    value_col: str = "value",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    psi_threshold: float = 0.2,
    eps: float = 1e-6,
    alpha: float = 0.5,
    group_col: "str | None" = None,
) -> DataFrame:
    """Per-window PSI drift against a static reference profile — the
    Structured-Streaming extension of the north-rule drift check
    (operators/stats.drift_report scores whole-run profiles; this scores
    every tumbling window as data streams in).

    Same PSI definition as stats.psi_from_quantiles: the reference's
    quantiles are the bin edges (equal-mass bins under the reference, mass
    from ``probs``); the current window's bin mass is counted EXACTLY via
    conditional sums — bucket index = #edges below the value, so the whole
    computation is one watermarked groupBy(window) with pure Column
    expressions. One stateful operator, streaming-legal in append mode, and
    the identical plan runs on a batch DataFrame (asserted in tests).

    Returns (window_start, window_end, n, psi, drifted); with
    ``group_col`` set, one row per (window, group) — the streaming analog
    of stats.psi_by_group's drift ATTRIBUTION (which feed drifted, not
    just whether the hour did), at zero extra state shape: the same single
    watermarked aggregation keyed by (window, group).
    """
    import numpy as np

    from seronet_data_validator_spark.operators.stats import DEFAULT_QUANTILE_GRID

    grid = list(probs or DEFAULT_QUANTILE_GRID)
    if len(grid) != len(ref_quantiles):
        raise ValueError("probs and ref_quantiles must align")
    ref_mass = np.diff(np.concatenate([[0.0], np.asarray(grid), [1.0]]))

    v = F.col(value_col).cast("double")
    # bucket b = number of reference edges strictly below v  (0..len(edges))
    bucket = sum(
        (F.when(v > F.lit(float(e)), 1).otherwise(0) for e in ref_quantiles),
        F.lit(0),
    )
    n_buckets = len(ref_quantiles) + 1
    counts = [
        F.sum(F.when(F.col("_bucket") == b, 1).otherwise(0)).alias(f"_n{b}")
        for b in range(n_buckets)
    ]
    agg = (
        stream.withColumn("_bucket", bucket)
        # watermarks require TIMESTAMP (not NTZ); cast keeps the same plan
        # valid for both batch and streaming inputs
        .withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("win"),
            *([F.col(group_col)] if group_col else []),
        )
        .agg(F.count(F.lit(1)).alias("n"), *counts)
    )
    # Laplace-smoothed current mass: (n_b + α) / (n + αB). A window holds
    # finitely many rows, so raw empty bins would blow PSI up on sparse
    # windows (E[PSI] of pure multinomial noise ≈ (B-1)/n); smoothing keeps
    # the statistic calibrated without changing its large-n limit.
    psi = F.lit(0.0)
    denom = F.col("n") + F.lit(alpha * n_buckets)
    for b in range(n_buckets):
        c_b = F.greatest((F.col(f"_n{b}") + F.lit(alpha)) / denom, F.lit(eps))
        r_b = F.lit(float(max(ref_mass[b], eps)))
        psi = psi + (c_b - r_b) * F.log(c_b / r_b)
    return agg.select(
        F.col("win.start").alias("window_start"),
        F.col("win.end").alias("window_end"),
        *([F.col(group_col)] if group_col else []),
        F.col("n"),
        F.round(psi, 6).alias("psi"),
        (psi > F.lit(psi_threshold)).alias("drifted"),
    )
