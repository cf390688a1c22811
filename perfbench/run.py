"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload batch_rules --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. ``--trace 0`` measures the end-to-end
metrics with no instrumentation. ``--trace 1`` is a separate run: it wraps
the package's layer functions, prints the per-layer metrics, and writes its
spans to ``.perfbench_run/spans_<workload>_<seed>.json``. ``--size smoke``
shrinks every input so that a run takes seconds (see ``test_smoke.py``).

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
PACKAGE = "seronet_data_validator_spark"
# two task slots on a 4-vCPU machine: with four, every stage waited for its
# slowest task, so a virtual CPU the hypervisor stole held up the whole
# operation, and latency moved about three times as much with steal
CORES = 2
# input generation and table opening are repeated this many times per run;
# setup_s counts the median round
SETUP_ROUNDS = 3


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, samples beyond). With 20 samples or fewer no
    percentile above the median qualifies, and the upper median is returned."""
    s = sorted(latencies)
    n = len(s)
    k = max(n - 11, n // 2)
    return s[k], 100.0 * (k + 1) / n, n - 1 - k


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def start_session(work: str):
    from seronet_data_validator_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["SPARK_LOCAL_DIRS"] = local
    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={work} -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                # a fixed, fully resident heap: G1 otherwise grows it by
                # how long its pauses took, so peak RSS followed host load
                "-Xms2g -XX:+AlwaysPreTouch"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM (whose exit ends the Python
    workers), and wait until no process this one started is left."""
    from pyspark import SparkContext

    from perfbench import procfs

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.time() + 30
    while procfs.descendants() and time.time() < deadline:
        time.sleep(0.2)
    for pid in procfs.descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def end_to_end(ops, ctx, setup_s: float, peak_mb: float) -> dict:
    lat = [op.latency_s for op in ops]
    value, pct, beyond = tail(lat)
    print(f"perfbench: latency_tail_s is p{pct:.1f} of {len(lat)} operations "
          f"({beyond} beyond it); latencies {[round(x, 3) for x in lat]}")
    if "stream_window_s" in ctx.info:
        rate = sum(op.clips for op in ops) / ctx.info["stream_window_s"]
    else:
        rate = median([op.clips / op.latency_s for op in ops])
    failed = sum(not op.ok for op in ops)
    return {
        "clips_per_s": (rate, "1/s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (value, "s"),
        "setup_s": (setup_s, "s"),
        "success_rate": ((len(ops) - failed) / len(ops), "ratio"),
        "peak_rss_mb": (peak_mb, "MB"),
    }


def per_layer(ops, ctx, tracer, setup: dict) -> dict:
    from perfbench.trace import PER_LAYER

    traced = [op for op in ops if op.traced]
    plain = [op for op in ops if not op.traced]
    out = {name: 0.0 for name in PER_LAYER}
    out.update(setup)
    out.update({k: v for k, v in ctx.info.items() if k in PER_LAYER})
    keys = {k for op in traced for k in op.layers}
    out.update({k: median([op.layers.get(k, 0.0) for op in traced]) for k in keys})
    out["plans.compile.calls_per_op"] = (
        sum(op.layers.get("plans.compile.calls", 0) for op in traced) / len(traced)
        if traced else 0.0
    )
    out["trace.overhead_s"] = (
        median([op.latency_s for op in traced]) - median([op.latency_s for op in plain])
        if traced and plain else 0.0
    )
    out["trace.spans"] = len(tracer.spans)
    return {k: (v, PER_LAYER[k]) for k, v in out.items() if k in PER_LAYER}


def run(args) -> dict:
    from perfbench import procfs
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS, Ctx

    work = os.path.join(RUN_DIR, f"work_{args.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    rss = procfs.PeakRss().start()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t

        tracer = Tracer()
        if args.trace:
            tracer.install()
        ctx = Ctx(spark, args.seed, args.seconds, work, tracer, bool(args.trace),
                  SIZES[args.size][args.workload], args.wrong_expectation)
        wl = WORKLOADS[args.workload](ctx)
        generate = []
        for i in range(SETUP_ROUNDS):
            t = time.perf_counter()
            wl.setup_round(i)
            generate.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = session_s + median(generate) + warm_s
        print(f"perfbench: session {session_s:.2f} s, inputs "
              f"{', '.join(f'{g:.2f}' for g in generate)} s, warm-up {warm_s:.2f} s",
              flush=True)

        cpu = procfs.host_cpu_ticks()
        ops = wl.run()
        busy, steal = procfs.host_cpu_shares(cpu, procfs.host_cpu_ticks())
        peak_mb = rss.stop()
        print(f"perfbench: host CPU in the timed loop: busy {busy:.1%}, stolen {steal:.1%}")
        print("perfbench: peak RSS " + ", ".join(
            f"{k} {v / 2**20:.0f} MB" for k, v in sorted(rss.parts.items())))
        if args.trace:
            tracer.uninstall()
            os.makedirs(RUN_DIR, exist_ok=True)
            tracer.write(os.path.join(RUN_DIR, f"spans_{args.workload}_{args.seed}.json"))
            metrics = per_layer(ops, ctx, tracer, {
                "session.start_s": session_s,
                "sources.generate_s": median(generate),
            })
        else:
            metrics = end_to_end(ops, ctx, setup_s, peak_mb)
        for k in ("plan.scans", "plan.exchanges", "plan.python_nodes"):
            if k in ctx.info:
                print(f"perfbench: {k} = {ctx.info[k]}")
    finally:
        rss.stop()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    failed = sum(not op.ok for op in ops)
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["batch_rules", "batch_audio_resume", "stream_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "smoke"], default="full")
    p.add_argument("--wrong-expectation", action="store_true",
                   help="add an expected violation that never occurs (tests error counting)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
