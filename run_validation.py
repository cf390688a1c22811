"""spark-submit entry point for the validation engine.

Cluster deployment (north-rule contract):

    zip -r engine.zip seronet_data_validator_spark
    spark-submit --py-files engine.zip run_validation.py \
        --input  <table path or catalog table>  \
        --reference <reference table>           \
        --codec-registry <dim table>            \
        --output-root s3://bucket/audit         \
        --run-id 2026-08-16-a

The script uses the session spark-submit provides (or builds a local one when
run directly), reads the clips table, runs the full validation lifecycle
(schema contract → resume filter → fused row rules → uniqueness/referential/
count reconciliation → decoded-PCM invariants → verdicts), writes violations
and then one run-manifest row per partition (its verdict, metrics and
lineage) under --output-root, and exits 0
on a clean run / 1 when any partition fails — the reference's triage-folder
verdict (\"02_...No_Errors\" vs \"04_...Data_Errors\",
/root/reference/Data_Validation_v1.py:191-199) as a process exit code.

Re-running the same --run-id resumes: committed partitions are pruned at the
scan before any heavy work.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _read(spark: SparkSession, ref: str):
    """Path → parquet read; otherwise a catalog table name."""
    if "/" in ref or ref.endswith(".parquet"):
        return spark.read.parquet(ref)
    return spark.table(ref)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="Validate an audio clip + transcript table")
    p.add_argument("--input", required=True, help="clips table (path or catalog name)")
    p.add_argument("--reference", help="reference clips table (clip_id, ref_bytes, ref_transcript)")
    p.add_argument("--codec-registry", dest="codec_registry", help="codec dimension table")
    p.add_argument("--manifest", help="declared-count manifest table (partition, declared_clip_count)")
    p.add_argument("--output-root", required=True, help="audit output root (violations/verdicts/manifest)")
    p.add_argument("--run-id", required=True)
    p.add_argument("--partition-column", default="site")
    p.add_argument("--skip-audio", action="store_true", help="skip the decoded-PCM invariant pass")
    p.add_argument("--rule-pack",
                   help="JSON rule pack (path or inline JSON) replacing the "
                        "built-in clips ruleset — config-driven authoring, "
                        "compiled into the same fused rules pass")
    p.add_argument("--presence-pass", action="store_true",
                   help="C17: flag clips absent from --reference (Error) and "
                        "reference ids with no clip (Warning)")
    p.add_argument("--qc-pass", dest="qc_pass", action="store_true",
                   help="QC1: corpus acceptance verdicts over decoded PCM "
                        "(clipping Error; silence-majority / DC-bias Warnings)")
    p.add_argument("--prior-violations",
                   help="C20: prior violation table (column_name, column_value); "
                        "codec referential check suppresses already-reported keys")
    p.add_argument("--declared-sites",
                   help="C19: declared-site table (site, declared_codec); each "
                        "site must observe its declared codec, absent declared "
                        "sites flag C19.missing")
    args = p.parse_args(argv)

    spark = SparkSession.getActiveSession()
    if spark is None:
        from seronet_data_validator_spark.session import get_spark

        spark = get_spark(app_name=f"validate-{args.run_id}")

    from seronet_data_validator_spark.runner import SiteConsistencySpec, validate_clips

    site_spec = None
    if args.declared_sites:
        site_spec = SiteConsistencySpec(
            declared=_read(spark, args.declared_sites),
            group_col=args.partition_column,
        )
    ruleset = None
    if args.rule_pack:
        from seronet_data_validator_spark.plans.config import ruleset_from_json

        ruleset = ruleset_from_json(args.rule_pack)
    res = validate_clips(
        spark,
        _read(spark, args.input),
        ruleset=ruleset,
        codec_registry=_read(spark, args.codec_registry) if args.codec_registry else None,
        reference_clips=_read(spark, args.reference) if args.reference else None,
        manifest=_read(spark, args.manifest) if args.manifest else None,
        run_id=args.run_id,
        partition_column=args.partition_column,
        output_root=args.output_root,
        run_audio_pass=not args.skip_audio,
        prior_violations=_read(spark, args.prior_violations) if args.prior_violations else None,
        site_consistency=site_spec,
        run_presence_pass=args.presence_pass,
        run_qc_pass=args.qc_pass,
    )
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "passed": res.passed,
                "skipped_partitions": res.skipped_partitions,
                "verdicts": res.verdicts,
            },
            default=str,
        )
    )
    return 0 if res.passed else 1


if __name__ == "__main__":
    sys.exit(main())
