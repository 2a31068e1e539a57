#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload models --seed 1 --seconds 15 --trace 0

Run from the repository root. The run sets up three times (Spark session
plus seeded input generation), warms each op's plan shape once on small
inputs (``setup_s`` is the median round plus the warm-up), runs the
measured phase, checks every output against DuckDB outside the timed
window, and prints as its last line one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1``
the per-layer split from spans and Spark's event log. The exit code is
non-zero when any check fails. See ``perfbench/README.md``.

The command runs the benchmark in a child process and, however that child
ends, stops every process the run started (the JVM, Spark's Python workers)
and waits for each before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

SETUP_ROUNDS = 3
# Measured scale, small warm-up scale, and the warm ops one second of
# --seconds buys (set from the op latencies measured on a 4-core host).
WORKLOADS = {
    "models": {"scale": "sf0.01", "warm_scale": "tiny", "ops_per_s": 0.8},
    "refresh": {"scale": "sf0.1", "warm_scale": "tiny", "ops_per_s": 0.2},
}
MIN_WARM_OPS = 3
INNER_ENV = "PERFBENCH_INNER"
PR_SET_CHILD_SUBREAPER = 36
STOP_GRACE_S = 15.0


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="override the measured scale (self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one expected value; the run must fail (self-test)")
    return ap.parse_args(argv)


def spark_env(work: str, trace: bool) -> None:
    """Keep every file Spark and the JVM write inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "--conf spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += ["--conf spark.eventLog.enabled=true",
                 f"--conf spark.eventLog.dir=file://{log_dir}",
                 "--conf spark.eventLog.compress=false",
                 "--conf spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def main(argv=None) -> int:
    args = parse_args(argv)
    import alphavantage_etl_spark  # noqa: F401  (fail fast without the package)

    cfg = WORKLOADS[args.workload]
    scale = args.scale or cfg["scale"]
    nproc = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    for stale in glob.glob(os.path.join(work_root, "run-*")):
        if not os.path.exists(f"/proc/{stale.rsplit('-', 1)[1]}"):  # killed run
            shutil.rmtree(stale, ignore_errors=True)
    work = os.path.join(work_root, f"run-{os.getpid()}")
    spark_env(work, bool(args.trace))

    import meter
    import workloads as W
    from alphavantage_etl_spark.session import get_spark

    prepare = getattr(W, f"{args.workload}_prepare")
    n_ops = max(MIN_WARM_OPS, round(args.seconds * cfg["ops_per_s"]))
    extra = (n_ops,) if args.workload == "refresh" else ()

    # Set-up rounds: session (fresh SparkContext each round) and inputs.
    rounds, get_spark_s = [], []
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=nproc,
                          shuffle_partitions=nproc)
        spark.sparkContext.setLogLevel("ERROR")
        get_spark_s.append(time.perf_counter() - t0)
        inp = prepare(os.path.join(work, "main"), args.seed, scale, *extra)
        small = prepare(os.path.join(work, "small"), args.seed, cfg["warm_scale"], *extra)
        rounds.append(time.perf_counter() - t0)
        if r + 1 < SETUP_ROUNDS:
            spark.stop()
    launch_s = time.perf_counter() - T_PROCESS - sum(rounds[1:])

    t0 = time.perf_counter()
    getattr(W, f"{args.workload}_warmup")(W.Ctx(spark, meter.Tracer(spark, False, "")), small)
    warmup_s = time.perf_counter() - t0

    app_id = spark.sparkContext.applicationId
    tracer = meter.Tracer(spark, bool(args.trace), f"{args.workload}-{args.seed}")
    ctx = W.Ctx(spark, tracer)
    window = meter.Window()
    state = getattr(W, f"{args.workload}_run")(ctx, inp, n_ops)
    win = window.close()
    stored = getattr(W, f"{args.workload}_check")(ctx, inp, state, args.corrupt)

    env = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": scale, "warm_ops": n_ops, "nproc": nproc,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.java.lang.System.getProperty(
            "java.version"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "1g"),
        "host.steal_frac": win["steal_frac"],
        "app_id": app_id,
    }
    rss_mb = meter.jvm_peak_rss_mb()
    spark.stop()

    cold = [o for o in ctx.ops if o.phase == "cold"]
    warm = [o for o in ctx.ops if o.phase == "warm"]
    failed = [o for o in ctx.ops if not o.ok]
    e2e = {
        "setup_s": (statistics.median(rounds) + warmup_s, "s"),
        "cpu_s": (win["cpu_s"], "s"),
        "cold_cpu_s": (sum(o.cpu_s for o in cold), "s"),
        "op_cpu_p50_s": (W.median([o.cpu_s for o in warm]), "s"),
        "stored_bytes_per_row": (stored["stored_bytes_per_row"], "B/row"),
    }
    # Wall-clock latencies: printed on every run, not gated (README.md).
    latency = {
        "wall_s": win["wall_s"],
        "cold_s": sum(o.seconds for o in cold),
        "op_p50_s": W.median([o.seconds for o in warm]),
        "op_tail": tail([o.seconds for o in warm]),
    }
    print(json.dumps({"env": env}))
    print(json.dumps({
        "setup": {"rounds_s": rounds, "warmup_s": warmup_s, "launch_s": launch_s},
        "latency": latency,
        "ops": [o.__dict__ for o in ctx.ops],
    }))
    if args.trace:
        import layers

        spans = tracer.spans
        trace_dir = os.path.join(work_root, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-{args.seed}.spans.jsonl"))
        logs = glob.glob(os.path.join(work, "eventlog", f"{app_id}*"))
        events = meter.parse_event_log(logs[0]) if logs else {}
        metrics, detail = layers.per_layer(args.workload, spans, events, win)
        metrics.update({
            "session.get_spark_s": (statistics.median(get_spark_s), "s"),
            "session.launch_s": (launch_s, "s"),
            "session.jvm_peak_rss_mb": (rss_mb, "MB"),
            "host.steal_frac": (win["steal_frac"], "ratio"),
        })
        detail["tracing_overhead"] = overhead(work_root, args, e2e, latency)
        print(json.dumps({"trace": detail}))
    else:
        metrics = e2e
        save_result(work_root, args, e2e, latency)
    shutil.rmtree(work, ignore_errors=True)

    correct = not failed
    for o in failed:
        print(f"FAILED {o.name} ({o.phase}): {o.note}", file=sys.stderr)
    print(json.dumps({
        "correct": correct,
        "attempted": len(ctx.ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if correct else 1


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return {"n": n, "pct": None, "value": None}
    pct = 100 * (n - 10) / n
    k = n - 11  # index of the sample with ten samples above it
    return {"n": n, "pct": round(pct, 1), "value": sorted(xs)[k]}


def _result_path(work_root: str, args) -> str:
    return os.path.join(work_root, "results", f"{args.workload}-{args.seed}.json")


def _numbers(e2e: dict, latency: dict) -> dict:
    return {**{k: v for k, (v, _) in e2e.items()},
            **{k: v for k, v in latency.items() if k != "op_tail"}}


def save_result(work_root: str, args, e2e: dict, latency: dict) -> None:
    path = _result_path(work_root, args)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(_numbers(e2e, latency), f)


def overhead(work_root: str, args, e2e: dict, latency: dict) -> dict:
    """Traced minus untraced value of each end-to-end metric and latency,
    against the last untraced run of the same workload and seed in this
    checkout."""
    try:
        with open(_result_path(work_root, args)) as f:
            base = json.load(f)
    except FileNotFoundError:
        return {"base": None}
    return {"base": "untraced run, same workload and seed",
            **{k: v - base[k] for k, v in _numbers(e2e, latency).items() if k in base}}


def supervise() -> int:
    """Run ``main`` in a child process; on every way out, end the whole tree.

    The supervisor is a child subreaper, so the JVM and Spark's Python
    workers re-parent to it when the run exits and stay reachable.
    """
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    code = 1
    try:
        child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                                 env={**os.environ, INNER_ENV: "1"})
        code = child.wait()
    finally:
        stop_tree()
    return code if code >= 0 else 1


def stop_tree() -> None:
    """SIGTERM every descendant, then SIGKILL what is left; reap each."""
    import meter

    for sig, grace in ((signal.SIGTERM, STOP_GRACE_S), (signal.SIGKILL, STOP_GRACE_S)):
        for pid in meter.descendants()[1:]:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while True:
            _reap()
            if len(meter.descendants()) == 1:
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(INNER_ENV) else supervise())
