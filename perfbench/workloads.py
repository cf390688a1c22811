"""The three benchmark workloads: inputs, warm-up, timed loop and output checks.

Every workload drives the package only through its public API
(``runner.validate_clips``, ``streaming.validate_stream.stream_validate_clips``,
``checkpoint.RunManifest``, ``sources``). Expected outputs come from the
seeded Bad-fixture counts, from the benchmark's own counts over the inputs
it generated, and from the run's untimed warm-up pass.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import time
import traceback
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.trace import job_counts, layer_spans, plan_shape
from seronet_data_validator_spark.checkpoint import RunManifest
from seronet_data_validator_spark.runner import validate_clips
from seronet_data_validator_spark.sources.clips import codec_registry_df, generate_clips
from seronet_data_validator_spark.sources.staging import (
    stage_clip_tables,
    stage_metadata_table,
)
from seronet_data_validator_spark.streaming.validate_stream import stream_validate_clips

# Input sizes. Fixed per-job cost dominates every operation at these sizes;
# they are chosen so a whole run, session start included, stays under a
# minute on 4 cores. ``smoke`` runs every workload in seconds.
SIZES = {
    "full": {
        "batch_rules": {"rows": 10_000},
        "batch_audio_resume": {"clips": 1_000},
        "stream_ingest": {"clips_per_file": 500, "gap_s": 4.0},
    },
    "smoke": {
        "batch_rules": {"rows": 400},
        "batch_audio_resume": {"clips": 200},
        "stream_ingest": {"clips_per_file": 50, "gap_s": 2.0},
    },
}
BUCKETS = 8
# an operation slower than this counts as failed
OP_TIMEOUT_S = 60.0
STREAM_WARMUP_FILES = 3
STREAM_DUPS_PER_FILE = 5
STREAM_COMPACT_EVERY = 1
STREAM_DRAIN_S = 30.0

# Error counts the Bad fixture seeds (sources.clips._corrupt), as pinned by
# tests/test_e2e_fixtures.py. C4.dup_id is added from the benchmark's own
# count of duplicated ids in the generated input.
SEEDED_ERRORS = {
    ("C3.clip_id_format", "clip_id"): 6,
    ("C15.referential", "codec"): 4,
    ("C9.dur_ms_range", "dur_ms"): 2,
    ("C14.transcript_required", "transcript"): 2,
    ("C10.transcript_text", "transcript"): 1,
    ("C13a.snr", "bytes"): 1,
    ("C6.sr_hz_allowed", "sr_hz"): 1,
    ("C13a.sr_mismatch", "sr_hz"): 1,
    ("C13a.dur_mismatch", "dur_ms"): 1,
    ("C13a.transcript", "transcript"): 1,
    ("C13a.decode", "bytes"): 1,
    ("C13b.speech_rate", "transcript"): 1,
}
# the entry a deliberately wrong expectation adds
WRONG = ("perfbench.wrong_expectation", "-", "Error")

CLIPS_ARROW = pa.schema([
    ("clip_id", pa.string()), ("bytes", pa.binary()), ("sr_hz", pa.int32()),
    ("dur_ms", pa.int32()), ("codec", pa.string()), ("transcript", pa.string()),
    ("site", pa.string()),
])


@dataclass
class Op:
    """One timed operation: a batch validation, or one landed stream file."""

    latency_s: float
    clips: int
    ok: bool
    traced: bool = False
    layers: dict = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object
    trace: bool
    sizes: dict
    wrong_expectation: bool
    info: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def summarize(res) -> dict:
    """The checked outputs of one ValidationResult."""
    rows = res.violations.groupBy("rule_id", "column_name", "severity").count().collect()
    return {
        "counts": {(r["rule_id"], r["column_name"], r["severity"]): r["count"] for r in rows},
        "verdicts": sorted(
            (v["partition_key"], v["pass"], v["n_rows"], v["n_errors"], v["n_warnings"])
            for v in res.verdicts
        ),
        "passed": res.passed,
        "skipped": sorted(res.skipped_partitions),
    }


def own_counts(df) -> tuple[int, dict[str, int]]:
    """Duplicated clip ids and rows per site, counted by the benchmark over
    the input it generated (pandas, not the validator)."""
    pdf = df.select("clip_id", "site").toPandas()
    n_dup = int((pdf["clip_id"].value_counts() > 1).sum())
    return n_dup, {str(k): int(v) for k, v in pdf["site"].value_counts().items()}


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total / 2**20


def layer_readings(ctx: Ctx, op_id: str) -> dict[str, float]:
    """Per-layer numbers of one traced operation: span times from the
    wrappers, then plan and noop-execution times of the captured frames."""
    totals = layer_spans(ctx.tracer.op_spans(op_id))
    out = {
        "plans.compile.calls": totals["plans.compile.calls"],
        "runner.validate_s": totals.get("runner.validate_clips", 0.0),
        "schema.contract_s": totals.get("schema.contract", 0.0),
        "checkpoint.resume_s": totals.get("checkpoint.resume", 0.0),
        "checkpoint.commit_s": totals.get("checkpoint.commit", 0.0),
        "plans.compile.build_s": totals.get("plans.compile", 0.0),
        "operators.integrity.build_s": totals.get("operators.integrity", 0.0),
    }
    out.update(ctx.tracer.measure(ctx.spark))
    # the dedup input is the union of every violation family, so its noop
    # execution is the lifecycle plan's execution; the rest of the call is
    # the runner's own driver work (plan assembly, verdicts, writes)
    out["runner.self_s"] = out["runner.validate_s"] - sum(
        out.get(k, 0.0)
        for k in ("schema.contract_s", "checkpoint.resume_s", "checkpoint.commit_s",
                  "plans.dedup.exec_s")
    )
    return out


class BatchWorkload:
    """Closed loop, one caller: the next operation starts when the previous
    one has counted its violations."""

    name = ""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.expected: dict | None = None

    def prepare(self, i: int) -> dict:
        return {}

    def call(self, args: dict):
        raise NotImplementedError

    def after(self, i: int, args: dict, op: Op) -> None:
        pass

    def run(self) -> list[Op]:
        ctx, tracer = self.ctx, self.ctx.tracer
        sc = ctx.spark.sparkContext
        ops: list[Op] = []
        deadline = time.perf_counter() + ctx.seconds
        while not ops or time.perf_counter() < deadline:
            i = len(ops)
            args = self.prepare(i)
            op_id = f"op{i}"
            traced = ctx.trace and i % 2 == 0
            sc.setJobGroup(op_id, f"{self.name} operation {i}")
            summary = None
            t = time.perf_counter()
            try:
                with tracer.recording(op_id, traced), tracer.span("runner.validate_clips"):
                    res = self.call(args)
                summary = summarize(res)
                latency = time.perf_counter() - t
            except Exception:  # a failed operation is counted, not fatal
                latency = time.perf_counter() - t
                traceback.print_exc()
            finally:
                sc.setJobGroup("perfbench-idle", "between operations")
            ok = (summary is not None and latency <= OP_TIMEOUT_S
                  and self.expected is not None and summary == self.expected)
            clips = sum(v[2] for v in summary["verdicts"]) if summary else 0
            op = Op(latency, clips, ok, traced, job_counts(ctx.spark, op_id))
            if summary is not None and "plan.scans" not in ctx.info:
                ctx.info.update(plan_shape(res.violations))
            if traced:
                op.layers.update(layer_readings(ctx, op_id))
            self.after(i, args, op)
            ops.append(op)
            ctx.spark.catalog.clearCache()
        return ops


class BatchRules(BatchWorkload):
    """Clean metadata-only corpus, same table handles on every operation:
    the prepared-plan cache hits, no Python worker, no write."""

    name = "batch_rules"

    def setup_round(self, i: int) -> None:
        ctx = self.ctx
        self.clips = stage_metadata_table(
            ctx.spark, ctx.sizes["rows"], seed=ctx.seed, buckets=BUCKETS,
            table_prefix=f"rules{i}",
        )
        self.registry = codec_registry_df(ctx.spark)
        self.table_dir = ctx.path("warehouse", f"rules{i}_clips_{ctx.sizes['rows']}_{ctx.seed}")

    def call(self, args: dict):
        return validate_clips(
            self.ctx.spark, self.clips, codec_registry=self.registry,
            run_audio_pass=False, output_root=None, run_id="rules",
        )

    def warm_up(self) -> None:
        ctx = self.ctx
        n_dup, per_site = own_counts(self.clips)
        ctx.info["sources.input_mb"] = dir_mb(self.table_dir)
        # a clean corpus: only the ids the generator happened to draw twice
        # are violations, all table-level, so they fail every site
        expected = {
            "counts": {("C4.dup_id", "clip_id", "Error"): n_dup} if n_dup else {},
            "verdicts": sorted((s, n_dup == 0, n, 0, 0) for s, n in per_site.items()),
            "passed": n_dup == 0,
            "skipped": [],
        }
        # the first call compiles the plan every timed operation reuses, so
        # the traced run captures the layer frames it measures here
        for i in range(3):
            with ctx.tracer.recording("warmup", ctx.trace and i == 0):
                warm = summarize(self.call({}))
            ctx.spark.catalog.clearCache()
        valid = warm == expected
        if not valid:
            print(f"perfbench: warm-up {warm} does not match own counts {expected}")
        if ctx.wrong_expectation:
            expected["counts"][WRONG] = 1
        self.expected = expected if valid else None


class BatchAudioResume(BatchWorkload):
    """Bad fixture with payloads and a separate reference table; every
    operation resumes a run with 2 of 4 sites committed, writes durably and
    opens fresh table handles, so the prepared-plan cache misses."""

    name = "batch_audio_resume"
    run_id = "resume"

    def setup_round(self, i: int) -> None:
        ctx = self.ctx
        n = ctx.sizes["clips"]
        stage_clip_tables(
            ctx.spark, n, seed=ctx.seed, buckets=BUCKETS, bad=True,
            table_prefix=f"audio{i}", refs_from_clips=False,
        )
        self.clips_table = f"audio{i}_clips_{n}_{ctx.seed}_bad"
        self.refs_table = f"audio{i}_refs_{n}_{ctx.seed}"
        self.registry = codec_registry_df(ctx.spark)

    def prepare(self, i: int) -> dict:
        # every operation starts from a copy of the manifest committed in
        # warm-up, which spares the loop a Spark write per operation
        out = self.ctx.path("ops", str(i))
        shutil.rmtree(out, ignore_errors=True)
        shutil.copytree(self.template, out)
        spark = self.ctx.spark
        return {"out": out, "clips": spark.table(self.clips_table),
                "refs": spark.table(self.refs_table)}

    def call(self, args: dict):
        return validate_clips(
            self.ctx.spark, args["clips"], codec_registry=self.registry,
            reference_clips=args["refs"], run_id=self.run_id,
            output_root=args["out"], run_qc_pass=True,
        )

    def after(self, i: int, args: dict, op: Op) -> None:
        if op.traced:
            op.layers["checkpoint.manifest_files"] = sum(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(args["out"], "run_manifest"))
            )
        shutil.rmtree(args["out"], ignore_errors=True)

    def warm_up(self) -> None:
        ctx = self.ctx
        spark = ctx.spark
        clips = spark.table(self.clips_table)
        n_dup, self.per_site = own_counts(clips)
        ctx.info["sources.input_mb"] = dir_mb(ctx.path("warehouse", self.clips_table)) + dir_mb(
            ctx.path("warehouse", self.refs_table))
        sites = sorted(self.per_site)
        self.committed = sorted(random.Random(ctx.seed).sample(sites, 2))

        # full in-memory run, nothing committed: the seeded golden counts
        full = summarize(validate_clips(
            spark, clips, codec_registry=self.registry,
            reference_clips=spark.table(self.refs_table), run_id=self.run_id,
            run_qc_pass=True,
        ))
        spark.catalog.clearCache()
        errors = {(r, c): n for (r, c, sev), n in full["counts"].items() if sev == "Error"}
        golden = {**SEEDED_ERRORS, ("C4.dup_id", "clip_id"): n_dup}
        checks = {
            "golden": all(errors.get(k) == v for k, v in golden.items())
            and all(k in golden or k[0].startswith("QC1.") for k in errors),
            "full_sites": full["skipped"] == []
            and [(v[0], v[2]) for v in full["verdicts"]] == sorted(self.per_site.items()),
        }

        # resumed run: the reference every timed operation must equal
        self.template = ctx.path("manifest_template")
        RunManifest(spark, self.template).commit(self.run_id, [
            {"partition_key": s, "pass": True, "n_rows": self.per_site[s],
             "n_errors": 0, "n_warnings": 0, "wall_ms": 0}
            for s in self.committed
        ])
        args = self.prepare(-1)
        ref = summarize(self.call(args))
        self.after(-1, args, Op(0.0, 0, True))
        spark.catalog.clearCache()
        checks["resume_skips"] = ref["skipped"] == self.committed
        # each open site keeps the full run's rows and partition-attributed
        # counts; only its pass flag may differ, since table-level errors
        # depend on which sites were resumed
        checks["resume_verdicts"] = [(v[0],) + v[2:] for v in ref["verdicts"]] == [
            (v[0],) + v[2:] for v in full["verdicts"] if v[0] not in self.committed]
        failed = [k for k, ok in checks.items() if not ok]
        if failed:
            print(f"perfbench: warm-up checks failed: {failed}")
        if ctx.wrong_expectation:
            ref["counts"][WRONG] = 1
        self.expected = None if failed else ref


class StreamIngest:
    """Open loop: pre-generated clean files land by atomic rename at a fixed
    rate below capacity; some ids repeat ids of earlier files."""

    name = "stream_ingest"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.per = ctx.sizes["clips_per_file"]
        self.gap = ctx.sizes["gap_s"]
        # enough files for 3 key-log compactions inside the timed window;
        # batch ids count from 0, warm-up files included
        first = math.ceil(STREAM_WARMUP_FILES / STREAM_COMPACT_EVERY) * STREAM_COMPACT_EVERY
        self.n_files = max(
            math.ceil(ctx.seconds / self.gap),
            first + 2 * STREAM_COMPACT_EVERY - STREAM_WARMUP_FILES + 1,
        )
        self.inp = ctx.path("stream_in")
        self.out = ctx.path("stream_out")

    def setup_round(self, i: int) -> None:
        ctx = self.ctx
        total = STREAM_WARMUP_FILES + self.n_files
        pdf = generate_clips(
            ctx.spark, total * self.per, seed=ctx.seed, payload=False
        ).toPandas()
        rng = random.Random(ctx.seed)
        for j in range(STREAM_WARMUP_FILES, total):
            lo = j * self.per
            dst = rng.sample(range(lo, lo + self.per), STREAM_DUPS_PER_FILE)
            src = rng.sample(range(lo), STREAM_DUPS_PER_FILE)
            pdf.loc[dst, ["clip_id", "site"]] = pdf.loc[src, ["clip_id", "site"]].to_numpy()
        self.src_dir = ctx.path(f"stream_src{i}")
        os.makedirs(self.src_dir)
        self.files, self.expected = [], []
        seen: set[str] = set()
        for j in range(total):
            part = pdf.iloc[j * self.per:(j + 1) * self.per]
            path = os.path.join(self.src_dir, f"clips-{j:05d}.parquet")
            pq.write_table(pa.Table.from_pandas(part, schema=CLIPS_ARROW, preserve_index=False), path)
            self.files.append(path)
            counts = part["clip_id"].value_counts()
            dups = set(counts[counts > 1].index)
            # a within-file duplicate and a cross-batch report share one
            # dedup key; the within-file report is the first writer
            cross = (set(part["clip_id"]) & seen) - dups
            seen.update(part["clip_id"])
            exp = {}
            if dups:
                exp[("C4.dup_id", "clip_id", "Error")] = len(dups)
            if cross:
                exp[("C4.cross_batch_dup", "clip_id", "Error")] = len(cross)
            if ctx.wrong_expectation:
                exp[WRONG] = 1
            self.expected.append(exp)

    def _land(self, j: int) -> None:
        os.utime(self.files[j])
        os.rename(self.files[j], os.path.join(self.inp, os.path.basename(self.files[j])))

    def _commit_path(self, batch_id: int) -> str:
        return os.path.join(self.out, "_checkpoint", "commits", str(batch_id))

    def warm_up(self) -> None:
        ctx = self.ctx
        ctx.info["sources.input_mb"] = dir_mb(self.src_dir)
        os.makedirs(self.inp)
        self.query = stream_validate_clips(
            ctx.spark, self.inp, self.out,
            codec_registry=codec_registry_df(ctx.spark),
            max_files_per_trigger=1, trigger_available_now=False,
            compact_seen_keys_every=STREAM_COMPACT_EVERY,
        )
        for j in range(STREAM_WARMUP_FILES):
            self._land(j)
            deadline = time.time() + STREAM_DRAIN_S
            while not os.path.exists(self._commit_path(j)):
                if time.time() > deadline:
                    raise RuntimeError(f"warm-up batch {j} did not commit")
                time.sleep(0.02)

    def _sample(self, stats: dict, landed: int) -> None:
        """Backlog, key-log tail files and snapshots, read from the output
        and checkpoint directories."""
        commits = os.path.join(self.out, "_checkpoint", "commits")
        done = sum(n.isdigit() for n in os.listdir(commits))
        stats["backlog"] = max(stats["backlog"], landed - done)
        seen_root = os.path.join(self.out, "seen_keys")
        for n in os.listdir(seen_root):
            if n.startswith("snap=") and n[5:].isdigit() and int(n[5:]) >= STREAM_WARMUP_FILES:
                stats["snaps"].add(n)
        tail = os.path.join(seen_root, "tail")
        if os.path.isdir(tail):
            n = sum(f.endswith(".parquet") for f in os.listdir(tail))
            stats["keylog"] = max(stats["keylog"], n)

    def run(self) -> list[Op]:
        ctx, tracer = self.ctx, self.ctx.tracer
        # the last traced batch is measured in place
        tracer.per_batch(ctx.trace, measure_batch=(self.n_files - 1) // 2 * 2)
        stats = {"backlog": 0, "keylog": 0, "snaps": set()}
        due, late = [], []
        t0 = time.time() + 0.1
        for k in range(self.n_files):
            d = t0 + k * self.gap
            while (now := time.time()) < d:
                self._sample(stats, STREAM_WARMUP_FILES + k)
                time.sleep(min(0.05, max(0.0, d - now)))
            self._land(STREAM_WARMUP_FILES + k)
            late.append(time.time() - d)
            due.append(d)
        last = STREAM_WARMUP_FILES + self.n_files - 1
        deadline = time.time() + STREAM_DRAIN_S
        while not os.path.exists(self._commit_path(last)) and time.time() < deadline:
            self._sample(stats, last + 1)
            time.sleep(0.05)
        self._sample(stats, last + 1)
        self.query.stop()
        tracer.per_batch(False)

        got = self._violations()
        ops = []
        for k in range(self.n_files):
            b = STREAM_WARMUP_FILES + k
            path = self._commit_path(b)
            committed = os.path.exists(path)
            latency = (os.path.getmtime(path) if committed else deadline) - due[k]
            ok = committed and got.get(b, {}) == self.expected[b]
            op = Op(latency, self.per if committed else 0, ok, ctx.trace and k % 2 == 0)
            if op.traced:
                totals = layer_spans(tracer.op_spans(f"batch{k}"))
                op.layers = {
                    "plans.compile.calls": totals["plans.compile.calls"],
                    "plans.compile.build_s": totals.get("plans.compile", 0.0),
                    "operators.integrity.build_s": totals.get("operators.integrity", 0.0),
                }
            ops.append(op)
        commits = [os.path.getmtime(self._commit_path(STREAM_WARMUP_FILES + k))
                   for k in range(self.n_files) if ops[k].clips]
        ctx.info["stream_window_s"] = max(commits) - due[0] if commits else math.inf
        durations = sorted(
            p["durationMs"]["triggerExecution"] / 1000
            for p in self.query.recentProgress
            if p["numInputRows"] and p["batchId"] >= STREAM_WARMUP_FILES
        )
        ctx.info.update({
            "streaming.batch_s_p50": durations[len(durations) // 2] if durations else 0.0,
            "streaming.batches": len(durations),
            "streaming.backlog_files_max": stats["backlog"],
            "streaming.keylog_files_max": stats["keylog"],
            "streaming.compactions": len(stats["snaps"]),
            "loadgen.late_s_max": max(late),
        })
        ctx.info.update(tracer.batch_readings)
        return ops

    def _violations(self) -> dict[int, dict]:
        rows = (
            self.ctx.spark.read.parquet(os.path.join(self.out, "violations_stream"))
            .where(F.col("batch_id") >= STREAM_WARMUP_FILES)
            .groupBy("batch_id", "rule_id", "column_name", "severity").count().collect()
        )
        out: dict[int, dict] = {}
        for r in rows:
            out.setdefault(r["batch_id"], {})[
                (r["rule_id"], r["column_name"], r["severity"])] = r["count"]
        return out


WORKLOADS = {w.name: w for w in (BatchRules, BatchAudioResume, StreamIngest)}
