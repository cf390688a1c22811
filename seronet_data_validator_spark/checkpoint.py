"""Partition-level checkpoint / resume (run_manifest) + lineage.

The reference resumes via a folder/status protocol (move processed
submissions between triage folders, re-scan on restart —
/root/reference/Data_Validation_v1.py:59-71,374-392). The Spark-native
analog is a ``run_manifest`` table: one row per (run_id, partition_key) with
status, verdict and metrics, committed AFTER that partition's violations are
durably written. That row is the partition's one verdict of record:
:func:`partition_verdicts` reads the verdict table out of the manifest, so
there is no second table to append to and no crash window between two
appends. A restarted run reads the manifest once
(:meth:`RunManifest.prior_verdicts`) and anti-filters its input on the
completed set before the heavy pass, so finished partitions are pruned at the
scan (partition pruning via an isin predicate on the partition column —
Iceberg/parquet prunes whole files).

Writes are idempotent: re-running a completed partition overwrites the same
partition directory (dynamic partition overwrite), so at-least-once retries
converge — matching the reference's re-runnable folder semantics without its
manual bookkeeping. In production the tables are Iceberg (atomic commits);
the sandbox uses partitioned parquet with the same layout and semantics.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seronet_data_validator_spark.model import PARTITION_VERDICT_SCHEMA
from seronet_data_validator_spark.sources.local import local_df

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("partition_key", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # done
        T.StructField("passed", T.BooleanType(), True),  # verdict at commit time
        T.StructField("n_rows", T.LongType(), True),
        T.StructField("n_errors", T.LongType(), True),
        T.StructField("n_warnings", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("committed_at", T.StringType(), True),
        T.StructField("input_snapshot", T.StringType(), True),  # lineage
    ]
)


class RunManifest:
    """run_manifest table rooted at ``<output_root>/run_manifest``."""

    def __init__(self, spark: SparkSession, output_root: str):
        self.spark = spark
        self.path = os.path.join(output_root, "run_manifest")

    def _read(self) -> DataFrame | None:
        """Read the manifest; None only when it genuinely does not exist yet.
        Any OTHER failure (corrupt file, permissions) propagates — swallowing
        it would silently drop the resume/exit-status protection and let a
        previously-failed dataset report clean."""
        try:
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        except AnalysisException as e:
            if "PATH_NOT_FOUND" not in str(e):
                raise
            return None

    def prior_verdicts(self, run_id: str) -> dict[str, bool]:
        """``{partition_key: passed}`` for every partition committed 'done'
        under ``run_id``, from one manifest read and one collect. A resumed
        run skips these partitions and derives its exit status from the
        stored verdicts instead of reporting a failed dataset as clean just
        because nothing re-validated (the reference's triage verdict is
        durable in its summary workbook the same way,
        Data_Validation_v1.py:204-228). Conservative fold: any failing commit
        for a partition marks it failed; a pre-upgrade manifest row with no
        ``passed`` column falls back to n_errors == 0."""
        df = self._read()
        if df is None:
            return {}
        rows = (
            df.where((F.col("run_id") == run_id) & (F.col("status") == "done"))
            .groupBy("partition_key")
            .agg(
                F.min(
                    F.coalesce(F.col("passed"), F.col("n_errors") == 0).cast("int")
                ).alias("ok")
            )
            .collect()
        )
        return {r["partition_key"]: bool(r["ok"]) for r in rows}

    def completed_partitions(self, run_id: str) -> list[str]:
        """Sorted keys of the partitions committed 'done' under ``run_id``."""
        return sorted(self.prior_verdicts(run_id))

    def resume_filter(self, df: DataFrame, done: list[str], partition_column: str) -> DataFrame:
        """Prune the ``done`` partitions. The isin predicate on the partition
        column pushes down to the scan → whole-file pruning. A NULL partition
        is never committed, so its rows stay (``NOT (NULL IN ...)`` is NULL)."""
        if not done:
            return df
        part = F.col(partition_column)
        return df.where(part.isNull() | ~part.isin(done))

    def commit(
        self,
        run_id: str,
        verdict_rows: list[dict],
        *,
        input_snapshot: str = "",
    ) -> None:
        """Append one 'done' row per partition (post-write ⇒ checkpoint only
        covers durable results)."""
        now = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        rows = [
            (
                run_id,
                v["partition_key"],
                "done",
                bool(v.get("pass", True)),
                v.get("n_rows"),
                v.get("n_errors"),
                v.get("n_warnings"),
                v.get("wall_ms"),
                now,
                input_snapshot or json.dumps({"source": "synthetic"}),
            )
            for v in verdict_rows
        ]
        # Arrow-built local relation: no pickled-RDD Python-worker task
        local_df(self.spark, rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)


def partition_verdicts(spark: SparkSession, output_root: str) -> DataFrame:
    """The per-partition verdict table (PARTITION_VERDICT_SCHEMA columns, the
    manifest's ``passed`` exposed as ``pass``): one row per (run_id,
    partition_key) commit under ``output_root``, read from its run_manifest.
    Empty when nothing has been committed yet."""
    df = RunManifest(spark, output_root)._read()
    if df is None:
        return spark.createDataFrame([], PARTITION_VERDICT_SCHEMA)
    return df.where(F.col("status") == "done").select(*[
        F.col("passed" if f.name == "pass" else f.name).alias(f.name)
        for f in PARTITION_VERDICT_SCHEMA.fields
    ])
