"""Benchmark of the two-pass columnar encoder.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repository root. Workloads and metrics are declared in
BENCHMARK.json and described in perfbench/README.md. The last line of
standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`. Every other line, Spark's log
included, goes to standard error. The full record of a run, with its
host fingerprint and per-metric sample counts, is written to
.bench_out/<workload>-seed<n>-trace<t>.json.

Everything the run writes stays under .bench_work/ and .bench_out/ in
the repository, and every process it starts has exited when it returns.
It exits non-zero, printing no result, when set-up fails or a metric is
missing."""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str, event_dir: str | None) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's work directory, and clear engine switches inherited from the
    caller's environment so the engine runs with its defaults."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # SPARK_LAUNCHER_OPTS reaches the short-lived JVM that spark-submit
    # starts to build the driver's command line
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                      SPARK_GRAFT_LOCAL_DIR=local,
                      SPARK_LAUNCHER_OPTS=jvm_opts)
    conf = {"spark.driver.defaultJavaOptions": jvm_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_dir:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) \
        + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, then wait for the JVM
    and its Python workers to exit (killing any that outlive 30 s)."""
    from pyspark import SparkContext

    from measure import descendants, wait_gone

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        for pid in wait_gone(procs, 30):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        wait_gone(procs, 10)


def execute(args, work: str, event_dir: str | None, t_start: float) -> dict:
    from json_to_parquet_spark.session import get_spark

    import eventlog
    import layers
    import measure
    from tracer import Tracer
    from workloads import WORKLOADS, Run

    nproc = len(os.sched_getaffinity(0))
    with measure.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app="perfbench", cores=nproc,
                          shuffle_partitions=nproc)
        session_s = time.perf_counter() - t0
        try:
            run = Run(spark, work, trace=bool(args.trace))
            t0 = time.perf_counter()
            cycle = WORKLOADS[args.workload](run, args.seed)
            t1 = time.perf_counter()
            cycle(0, False)  # warm-up: JIT, Python workers, same shape
            run.setup = {"session_s": session_s, "inputs_s": t1 - t0,
                         "warm_s": time.perf_counter() - t1}
            setup_s = time.perf_counter() - t_start
            tracer = None
            if args.trace:
                # traced from here on, except where a workload turns
                # the tracer off to measure its overhead
                tracer = run.tracer = Tracer(spark.sparkContext)
                tracer.install()
                tracer.enabled = True
            # the workload's fixed number of cycles, or cycles while the
            # next one is expected to end within the measuring time, at
            # least one (two when traced)
            t_measure, i = time.perf_counter(), 1
            while run.cycles is None or i <= run.cycles:
                run.cycle = i
                t0 = time.perf_counter()
                try:
                    cycle(i, True)
                except Exception:
                    traceback.print_exc()
                    run.check(False, f"cycle {i} raised")
                last = time.perf_counter() - t0
                i += 1
                elapsed = time.perf_counter() - t_measure
                if run.cycles is None and elapsed + last > args.seconds \
                        and i > 1 + run.trace:
                    break
            measure_s = time.perf_counter() - t_measure
            if tracer:
                tracer.enabled = False
            fingerprint = measure.fingerprint(spark, run.n_chunks)
        finally:
            stop_spark(spark)
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "fingerprint": fingerprint,
              "failures": run.failures, "attempted": run.attempted,
              "setup": run.setup, "measure_s": measure_s,
              "samples": {k: measure.summarize(v)
                          for k, v in run.samples.items()}}
    if args.trace:
        micro = layers.microbench(run.stores[-1])
        record["metrics"] = layers.per_layer(
            run, tracer.spans, eventlog.read_jobs(event_dir), micro)
        record["metrics"]["memory.peak_rss_mb"] = rss.peak_mb
    else:
        record["metrics"] = {k: s["median"]
                             for k, s in record["samples"].items()}
        record["metrics"]["setup_s"] = setup_s
        record["peak_rss_mb"] = rss.peak_mb
    return record


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "json_to_parquet_spark")):
        print("json_to_parquet_spark not found beside perfbench/; run "
              "from a full checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t_start = time.perf_counter()
    # the result line owns stdout; everything else, the JVM's output
    # included, is sent to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    work = os.path.join(ROOT, ".bench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    os.makedirs(work)
    configure_env(work, event_dir)
    try:
        record = execute(args, work, event_dir, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    got = record["metrics"]
    bad = sorted(set(units) ^ set(got)) + sorted(
        k for k, v in got.items() if not math.isfinite(v))
    if bad:
        print(f"metrics missing, undeclared or not finite: {bad}",
              file=sys.stderr)
        return 1
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", f"{args.workload}-seed"
                           f"{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    result = {"correct": not record["failures"],
              "attempted": record["attempted"],
              "failed": len(record["failures"]),
              "metrics": {k: {"value": got[k], "unit": units[k]}
                          for k in units}}
    for f in record["failures"]:
        print(f"FAILED: {f}", file=sys.stderr)
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
