"""End-to-end validation run (SURVEY.md §3.4 lifecycle).

validate_clips(): (1) schema contract (driver-side, C21) → (2) resume filter
(skip checkpointed partitions) → (3) ONE fused row-level rule pass →
(4) uniqueness + referential + count-reconciliation table passes →
(5) ONE payload pass (Arrow): the decoded-PCM invariants and, with
``run_qc_pass``, the QC1 acceptance rules → (6) union + dedup the violations
→ (7) persist; ONE action fills the cache and gives the verdicts: the
violations' per-(partition, severity) counts unioned with the input's
per-partition row counts (pass = zero Error rows, the reference's
Data_Validation_v1.py:191-199) → (8) durable runs write the violations from
the cache, release it, commit one run-manifest row per partition (the
verdict of record, read back by ``checkpoint.partition_verdicts``) and
return the stored read.

Every call builds its plan from the inputs it is given, so a registry
table that gained a key or a RuleSet that gained a rule is seen by the next
call on the same objects. The memos it uses are keyed on values (a rule's
lanes in plans/compile.py, the inlined C15 rule per registry-key tuple), so
they cannot go stale.

Plan shape at scale: pass (3) and (5) are narrow (no shuffle); (4) shuffles
once per distinct aggregation key. Over bucketed tables with audio,
references and an inlined registry the violations plan has 4 scans (the
fact table for rules with bytes pruned, C4 ids and the payload pass; the
references), one Python node, QC or not, and 2 exchanges (references'
broadcast, dedup). The verdict action adds one more scan of the fact table,
pruned to the partition column, whose aggregation reuses the partition
column so AQE coalesces it.

Python tasks: Spark's ``DisableUnnecessaryBucketedScan`` keeps bucketed
scans bucketed under the union, because the dedup's window above its
exchange needs a distribution, so every family reads one partition per
bucket. The payload pass (5) coalesces to Spark's file-split count right
below its ``mapInArrow`` (operators/audio.audio_violations), so small
buckets share a Python task.
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from seronet_data_validator_spark.checkpoint import RunManifest
from seronet_data_validator_spark.model import (
    SEVERITY_ERROR,
    SEVERITY_WARNING,
    VIOLATION_SCHEMA,
)
from seronet_data_validator_spark.operators.audio import audio_violations
from seronet_data_validator_spark.operators.integrity import (
    consistency_violations,
    count_reconciliation_violations,
    duplicate_id_violations,
    presence_matrix,
    presence_violations,
    referential_violations,
    suppressed_referential_violations,
)
from seronet_data_validator_spark.plans.compile import (
    compile_ruleset,
    dedup_violations,
    union_violation_parts,
)
from seronet_data_validator_spark.plans.rules import (
    Rule,
    RuleSet,
    check_registry_membership,
)
from seronet_data_validator_spark.rulesets import clips_ruleset
from seronet_data_validator_spark.schema import schema_contract_violations


@dataclass
class SiteConsistencySpec:
    """C19 clips analog (reference compare_tests, Validation_Rules.py:64-119,
    lifecycle step 6 at Data_Validation_v1.py:185-186): per-group semantic
    consistency between a DECLARED per-site attribute and the clips actually
    observed for that site.

    ``declared`` holds one row per expected group: (group_col, declared_col).
    The default policy is the reference's "any must match": a site declaring
    codec X must contain at least one clip with codec X; a declared site with
    NO clips at all emits C19.missing. ``all_must_match_value`` opts a
    declared value into the stricter every-row policy (the reference's
    prior-Negative branch)."""

    declared: DataFrame
    group_col: str = "site"
    declared_col: str = "declared_codec"
    observed_col: str = "codec"
    all_must_match_value: str = "__all_policy_unused__"
    any_must_match_value: str = "pcm_s16le"


@dataclass
class ValidationResult:
    """``violations`` holds exactly the violation rows (VIOLATION_SCHEMA
    columns). That of a durable run (``output_root``) is a lazy read of the
    stored violations of ``run_id``, skipped partitions included; the run
    has released its cache. An in-memory run's ``violations`` is the
    persisted result, which the caller owns: ``close()`` (or leaving a
    ``with`` block) releases it. ``verdicts`` has one dict per partition
    validated by this call (PARTITION_VERDICT_SCHEMA keys)."""

    run_id: str
    violations: DataFrame
    verdicts: list[dict] = field(default_factory=list)
    passed: bool = True
    skipped_partitions: list[str] = field(default_factory=list)
    _persisted: DataFrame | None = field(default=None, repr=False, compare=False)

    def close(self) -> None:
        """Unpersist what the run persisted; ``violations`` then recomputes."""
        if self._persisted is not None:
            self._persisted.unpersist()

    def __enter__(self) -> ValidationResult:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def validate_clips(
    spark: SparkSession,
    clips: DataFrame,
    *,
    codec_registry: DataFrame | None = None,
    reference_clips: DataFrame | None = None,
    manifest: DataFrame | None = None,
    ruleset: RuleSet | None = None,
    run_id: str = "run-0",
    partition_column: str = "site",
    output_root: str | None = None,
    run_audio_pass: bool = True,
    audio_force_full_decode: bool = False,
    prior_violations: DataFrame | None = None,
    site_consistency: SiteConsistencySpec | None = None,
    run_presence_pass: bool = False,
    run_qc_pass: bool = False,
) -> ValidationResult:
    """Full validation lifecycle over a clips DataFrame.

    Optional step-6 stages (the reference's cross-sheet + compare_tests
    block, Data_Validation_v1.py:185-186):

    * ``prior_violations`` — C20 check_map_ids: the codec referential check
      becomes the SUPPRESSED variant (candidates already reported in the
      given violation table are not re-reported; the
      violations-table-as-join-input pattern,
      File_Submission_Object.py:758-784).
    * ``site_consistency`` — C19 compare_tests clips analog: per-site
      declared-vs-observed codec consistency, including C19.missing for
      declared sites with zero clips.
    * ``run_presence_pass`` — C17 cross-table presence vs
      ``reference_clips``: clip ids absent from the reference → Error
      (orphan), reference ids with no clip row → Warning (childless).
    * ``run_qc_pass`` — QC1 corpus acceptance verdicts over the decoded
      PCM (operators/qc.py): clipping → Error, silence-majority and DC
      bias → Warnings. Beyond-reference: the audio analog of the
      reference's per-cell value rules, run inside the audio pass (5),
      which then ships each full payload to Python once.
    """
    t0 = time.perf_counter()
    rs = ruleset or clips_ruleset()

    # (1) schema contract — metadata-only, gates like the reference's
    # column_validation (any column error skips data validation,
    # Data_Validation_v1.py:160-170).
    contract = schema_contract_violations(spark, clips, rs.table_name)
    if contract is not None:
        return ValidationResult(run_id, contract, [], False, [])

    # (2) resume: prune committed partitions before any heavy work. One
    # manifest read gives both the skip list and the exit-status contract:
    # skipped partitions keep their STORED verdict — a failed dataset must
    # not report clean on re-run just because its partitions are committed.
    # The declared sides of C18 and C19 lose the skipped partitions too, or
    # their now-absent clips would read as missing. C4 and C17 keep the
    # whole input's ids, or a duplicate across a committed site would go
    # unreported and a committed site's reference ids would read as childless.
    run_manifest = RunManifest(spark, output_root) if output_root else None
    prior_ok = run_manifest.prior_verdicts(run_id) if run_manifest else {}
    skipped = sorted(prior_ok)
    whole_input = clips
    if run_manifest is not None:
        clips = run_manifest.resume_filter(clips, skipped, partition_column)
        if manifest is not None:
            manifest = run_manifest.resume_filter(manifest, skipped, partition_column)
        if site_consistency is not None and site_consistency.group_col == partition_column:
            site_consistency = replace(
                site_consistency,
                declared=run_manifest.resume_filter(
                    site_consistency.declared, skipped, partition_column),
            )

    parts = violation_families(
        clips, rs, partition_column=partition_column,
        codec_registry=codec_registry, reference_clips=reference_clips,
        manifest=manifest, prior_violations=prior_violations,
        site_consistency=site_consistency, run_presence_pass=run_presence_pass,
        whole_input=whole_input,
        run_audio_pass=run_audio_pass, audio_force_full_decode=audio_force_full_decode,
        run_qc_pass=run_qc_pass,
    )

    # (6) union + C22 dedup (reference File_Submission_Object.py:255-256):
    # first-writer-wins on (table, row, column, value), "first" = pass order
    # (row rules, then table passes, then audio) — the explicit _ord tag makes
    # it deterministic under any partitioning; rule_id breaks ties within a
    # pass. Violations are tiny relative to the input, so the dedup shuffle is
    # negligible at scale.
    violations = dedup_violations(union_violation_parts(parts), order_col="_ord")

    return _finish_validation(
        spark, violations, clips, run_id, partition_column,
        output_root, run_manifest, skipped, prior_ok, t0,
    )


def violation_families(
    df: DataFrame,
    rs: RuleSet,
    *,
    partition_column: str | None = None,
    codec_registry: DataFrame | None = None,
    reference_clips: DataFrame | None = None,
    manifest: DataFrame | None = None,
    prior_violations: DataFrame | None = None,
    site_consistency: SiteConsistencySpec | None = None,
    run_presence_pass: bool = False,
    whole_input: DataFrame | None = None,
    run_audio_pass: bool,
    audio_force_full_decode: bool = False,
    run_qc_pass: bool,
) -> list[DataFrame]:
    """Steps (3)-(5): the violation families of ``df`` in pass order (the
    C22 dedup's first-writer order), for ``validate_clips`` and for each
    micro-batch of ``stream_validate_clips``. With ``partition_column=None``
    the families carry only the VIOLATION_SCHEMA columns. C4 and C17 read
    their clip ids from ``whole_input`` (default ``df``): a resumed run
    passes its input from before the resume filter."""
    keep = (partition_column,) if partition_column else ()
    ids = df if whole_input is None else whole_input
    parts: list[DataFrame] = []

    # C15: a registry small enough to collect compiles to a literal isin
    # INSIDE the fused rule pass — zero extra scans of the fact table, no
    # join stage. Big registries keep the broadcast anti-join operator: an
    # inlined isin over 10,006 keys costs seconds of py4j on the driver, and
    # a join for every size would add a scan and an exchange to the plan.
    # Both paths compare the en-dash-normalized codec (P7).
    anti_join_registry = codec_registry
    if codec_registry is not None and prior_violations is None:
        keys = codec_registry.select("codec").limit(10_001).collect()
        if len(keys) <= 10_000:
            c15 = _registry_rule(tuple(k["codec"] for k in keys))
            rs = RuleSet(rs.table_name, [*rs.rules, c15], rs.row_ref_column)
            anti_join_registry = None

    # (3) fused row-level pass — one scan, bytes column pruned out.
    parts.append(compile_ruleset(df, rs, keep_columns=keep))

    # (4) table-level passes.
    dup = duplicate_id_violations(ids, rs.row_ref_column, rs.table_name)
    parts.append(_with_null_part(dup, partition_column))
    if anti_join_registry is not None:
        if prior_violations is not None:
            # C20: referential with suppression — keys already reported in
            # the prior violation table are not re-reported. Table-level
            # (submission-scope) like the reference's map-ids check, so the
            # NULL-partition sentinel applies.
            sv = suppressed_referential_violations(
                df, codec_registry, "codec", rs.table_name,
                prior_violations, registry_name="codec_registry",
                row_ref_column=rs.row_ref_column,
            )
            parts.append(_with_null_part(sv, partition_column))
        else:
            # keep_columns: attribute each orphan to its real partition,
            # exactly like the inlined-isin path does via the fused pass —
            # verdicts must not depend on which C15 strategy the registry
            # size selected
            parts.append(
                referential_violations(
                    df, codec_registry, "codec", rs.table_name,
                    registry_name="codec_registry", row_ref_column=rs.row_ref_column,
                    keep_columns=keep,
                )
            )
    if manifest is not None:
        cnt = count_reconciliation_violations(df, manifest, partition_column, rs.table_name)
        parts.append(_with_null_part(cnt, partition_column))

    # C17: clips-vs-reference presence (one union + one groupBy-presence agg
    # regardless of table count — no outer-join chain).
    if run_presence_pass and reference_clips is not None:
        m = presence_matrix(
            {
                "clips": ids.select(rs.row_ref_column),
                "reference": reference_clips.select(rs.row_ref_column),
            },
            rs.row_ref_column,
        )
        pv = presence_violations(
            m, rs.row_ref_column, child="clips", parent="reference",
            child_missing_severity=SEVERITY_WARNING,
        )
        parts.append(_with_null_part(pv, partition_column))

    # C19: per-site declared-vs-observed consistency (one conditional
    # groupBy agg + a tiny declared-side outer join for missing groups).
    if site_consistency is not None:
        sc = site_consistency
        obs = df.select(sc.group_col, sc.observed_col).join(
            F.broadcast(sc.declared), sc.group_col, "inner"
        )
        cv = consistency_violations(
            obs,
            group_col=sc.group_col,
            declared_col=sc.declared_col,
            observed_class=F.col(sc.observed_col),
            table_name=rs.table_name,
            all_must_match_value=sc.all_must_match_value,
            any_must_match_value=sc.any_must_match_value,
            declared=sc.declared,
        )
        if sc.group_col == partition_column:
            # the group IS the partition — attribute mismatch violations to
            # it so per-partition verdicts fail exactly the offending site.
            # C19.missing stays on the NULL (global) partition: a declared
            # site with zero clips has no verdict row of its own, so only a
            # global error makes the run fail.
            cv = cv.select(
                F.when(F.col("rule_id") != "C19.missing", F.col("column_value"))
                .alias(partition_column),
                "*",
            )
        else:
            cv = _with_null_part(cv, partition_column)
        parts.append(cv)

    # (5) one payload pass (Arrow, narrow): C13a rows land on the NULL
    # partition, QC1 rows on their clip's own. One _ord serves both families:
    # their dedup keys cannot collide (on column bytes, C13a values are
    # <NB>/snr=..., QC1 values integers), so first-writer-wins is unchanged.
    if (run_audio_pass or run_qc_pass) and "bytes" in df.columns:
        parts.append(audio_violations(
            df, reference_clips, table_name=rs.table_name,
            id_column=rs.row_ref_column, force_full_decode=audio_force_full_decode,
            invariants=run_audio_pass, qc=run_qc_pass, keep_columns=keep,
        ))
    return parts


@functools.lru_cache(maxsize=8)
def _registry_rule(keys: tuple) -> Rule:
    """The inlined C15 rule, one Rule value per distinct registry-key tuple,
    so every micro-batch and call over the same registry reuses its lanes
    (plans/compile.py)."""
    return Rule(
        "C15.referential", "codec",
        check_registry_membership(keys, "codec_registry"),
    )


def _finish_validation(
    spark: SparkSession,
    violations: DataFrame,
    clips: DataFrame,
    run_id: str,
    partition_column: str,
    output_root: str | None,
    run_manifest: RunManifest | None,
    skipped: list[str],
    prior_ok: dict[str, bool],
    t0: float,
) -> ValidationResult:
    """Steps (7)-(8): persist, verdict action, write, commit. ``violations``
    is the deduplicated violations plan and ``clips`` its (resume-filtered)
    input, which gives the per-partition row counts. ``t0`` is the call's
    start, so ``wall_ms`` covers the whole call up to the commit."""
    # Violations feed the verdict action, then the write or the caller —
    # persist so the expensive passes (audio decode, joins) run ONCE; the
    # verdict action fills the cache.
    result = violations = violations.persist(StorageLevel.MEMORY_AND_DISK)

    try:
        # (7) ONE action: the violations' (partition, severity) counts and
        # the input's per-partition row counts, told apart by ``_input``. A
        # union, not a join, so no broadcast job is added.
        def counts(df: DataFrame, severity, is_input: bool) -> DataFrame:
            return df.groupBy(partition_column, severity).agg(
                F.count(F.lit(1)).alias("n"), F.lit(is_input).alias("_input"))

        agg_rows = counts(violations, F.col("severity"), False).unionByName(
            counts(clips, F.lit(None).cast("string").alias("severity"), True)
        ).collect()
        sev_counts = {(r[partition_column], r["severity"]): r["n"]
                      for r in agg_rows if not r["_input"]}
        row_counts = {r[partition_column]: r["n"] for r in agg_rows if r["_input"]}
        if skipped and set(row_counts) <= {None}:
            # every partition was committed by an earlier call: nothing to
            # write. A NULL partition is never committed; the call that
            # committed the last partition validated and wrote its rows.
            return ValidationResult(
                run_id, spark.createDataFrame([], VIOLATION_SCHEMA), [],
                all(prior_ok.values()), skipped,
            )

        if output_root:
            path = os.path.join(output_root, "violations", run_id)
            (
                # W1/S5: the reference writes error files sorted by Row_Index
                # (File_Submission_Object.py:796-799) — NUMERICALLY ("2" before
                # "10", non-numeric refs after). sortWithinPartitions keeps it
                # shuffle-free; the partition column leads so the writer keeps
                # this order instead of re-sorting by partition alone.
                violations.sortWithinPartitions(
                    partition_column,
                    F.col("row_ref").try_cast("long").asc_nulls_last(),
                    "row_ref",
                )
                # dynamic on the write itself: under a session whose default is
                # static, overwrite would delete the partitions resume skipped
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_column)
                .parquet(path)
            )
            # the caller gets exactly what is durable. Explicit schema: an
            # all-clean (empty) write reads back, and "11" stays a string
            result = spark.read.schema(T.StructType(
                list(VIOLATION_SCHEMA.fields)
                + [T.StructField(partition_column, T.StringType(), True)]
            )).parquet(path)
    finally:
        # a durable call releases its cache on every exit, a failed one too
        if output_root:
            violations.unpersist()

    wall_ms = int((time.perf_counter() - t0) * 1000)
    verdicts = []
    # verdicts only for partitions processed THIS run (resume keeps old ones)
    all_parts = sorted(k for k in row_counts if k is not None)
    global_errors = sum(n for (p, s), n in sev_counts.items() if p is None and s == SEVERITY_ERROR)
    for pk in all_parts:
        n_err = sev_counts.get((pk, SEVERITY_ERROR), 0)
        n_warn = sev_counts.get((pk, SEVERITY_WARNING), 0)
        verdicts.append(
            {
                "run_id": run_id,
                "partition_key": pk,
                "pass": n_err == 0 and global_errors == 0,
                "n_rows": row_counts[pk],
                "n_errors": n_err,
                "n_warnings": n_warn,
                "wall_ms": wall_ms,
            }
        )

    # (8) commit checkpoint after durable write: the manifest row is the
    # partition's verdict of record (checkpoint.partition_verdicts reads it).
    if run_manifest is not None and verdicts:
        run_manifest.commit(run_id, verdicts)

    passed = all(v["pass"] for v in verdicts) if verdicts else global_errors == 0
    passed = passed and all(prior_ok.values())
    return ValidationResult(
        run_id, result.select(*VIOLATION_SCHEMA.names),
        verdicts, passed, skipped, None if output_root else violations,
    )


def _with_null_part(v: DataFrame, partition_column: str | None) -> DataFrame:
    """Table-level violations aren't attributable to one input partition —
    tag with NULL partition (the reference's sentinel-row analog). No-op
    without a partition column."""
    if partition_column is None:
        return v
    return v.select(F.lit(None).cast("string").alias(partition_column), "*")
