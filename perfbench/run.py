"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline_noop --seed 1 --seconds 8 --trace 0

Runs one workload as a closed loop with one client in one process and one
Spark JVM (``local[nproc]``, nproc shuffle partitions): set-up, one cold
pass, then warm passes until ``--seconds`` have gone by.
Every pass is checked against an answer DuckDB computed from the same
generated input.
The last line of stdout is the result JSON; a human summary and the host
fingerprint go to stderr and, with every sample, to
``.perfbench-work/results/``.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` reports its per-layer metrics instead: the session runs with
the Spark event log on, and every other pass is run layer by layer under
in-memory spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Set-ups per untraced run.  Only the first launches the JVM; setup_s is the
# median of the others, so it leaves the launch out: on a 4-vCPU host a
# launching set-up takes about 7 s, and a launch per sample would add that
# to every run.  A traced run reports its launching set-up as
# spark.launch_setup_s.
SETUPS = 5
MIN_WARM = 2  # measured warm passes per run, at least
# C1 only.  With the default tiered JIT a pass keeps speeding up for five or
# six passes after the cold one (C2 compiles keep landing), so a run would
# have to discard about 25 s of passes on operator_sweep before measuring,
# which the benchmark's time budget has no room for.  C1 code is slower than
# C2 code, but a C1 JVM is within about 10 % of its steady speed from the
# first warm pass.  The figures are those of a C1-only JVM, not of a default
# one; the fingerprint records the options.
# The heap is fixed (-Xms = -Xmx) but not touched at start, so the JVM's
# VmHWM follows the heap regions G1 has used.
JVM_OPTIONS = "-XX:TieredStopAtLevel=1"


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _env(work: str) -> None:
    """Keep Spark, its Python workers and every temp file inside ``work``."""
    for sub in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"


def start_session(cores: int, work: str, event_dir: str | None = None):
    from opentelemetry_collector_spark.session import get_spark

    heap = f"{256 * (cores + 1)}m"  # 256 MB per task thread: jobs/pipeline_job.py's rule for writes
    conf = {
        "spark.driver.memory": heap,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{heap} {JVM_OPTIONS}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait for it and its
    Python workers to exit (the JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    from host import tree_pids

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while tree_pids() and time.monotonic() < deadline:
        time.sleep(0.1)


class Passes:
    """Pass outcomes of one run: walls, CPU and failures."""

    def __init__(self) -> None:
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn, spark):
        """One pass; returns its ``Meter``, or None when it raised."""
        self.attempted += 1
        try:
            meter, errors = fn(spark, self.attempted)
        except Exception:  # a pass that raises is a failed pass; keep going
            self.failed += 1
            self.errors.append(f"pass {self.attempted}: {traceback.format_exc()[-3000:]}")
            return None
        if errors:
            self.failed += 1
            self.errors.extend(f"pass {self.attempted}: {e}" for e in errors)
        return meter

    def loop(self, seconds: float, min_passes: int, fn, spark) -> None:
        """Closed loop: start another pass while time is left, and at least
        ``min_passes``; record the wall and CPU of each that completed."""
        deadline = time.perf_counter() + seconds
        done = 0
        while time.perf_counter() < deadline or done < min_passes:
            meter = self.run(fn, spark)
            done += 1
            if meter is not None:
                self.walls.append(meter.wall_s)
                self.cpus.append(meter.cpu_s)


def measure(wl, args, cores: int, work: str) -> tuple[dict, dict, Passes, dict]:
    """Untraced run → end-to-end metrics."""
    from host import fingerprint, jvm_peak_rss_mb

    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        wl.register(spark)
        setups.append(time.perf_counter() - t0)
        if i < SETUPS - 1:
            spark.stop()
    passes = Passes()
    passes.run(wl.run_pass, spark)  # the cold pass; a traced run reports it
    passes.loop(args.seconds, MIN_WARM, wl.run_pass, spark)
    fp = fingerprint(spark, ROOT, args.seed, cores, JVM_OPTIONS)
    wall = statistics.median(passes.walls) if passes.walls else float("nan")
    metrics = {
        "wall_s": wall,
        "rows_per_s": wl.input_rows / wall,
        "cpu_s": statistics.median(passes.cpus) if passes.cpus else float("nan"),
        "peak_rss_mb": jvm_peak_rss_mb(),
        "setup_s": statistics.median(setups[1:]),
    }
    spark.stop()
    samples = {"launch_setup_s": setups[0], "setup_s": setups[1:], "wall_s": passes.walls,
               "cpu_s": passes.cpus}
    return metrics, samples, passes, fp


def measure_traced(wl, args, cores: int, work: str) -> tuple[dict, dict, Passes, dict]:
    """Traced run → per-layer metrics.  One session with the event log on:
    after the cold pass, each round is one plain pass and one
    traced pass (layer prefixes under spans, then the pass itself); the
    tracing overhead is the traced pass's wall minus the plain one's."""
    from host import fingerprint
    from spans import EventLog, Tracer

    t0 = time.perf_counter()
    spark = start_session(cores, work, event_dir=os.path.join(work, "eventlog"))
    wl.register(spark)
    launch_setup_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext)
    plain, traced = Passes(), Passes()
    cold = plain.run(wl.run_pass, spark)

    def traced_pass(spark, n):
        tracer.pass_id = f"p{n}"
        return wl.traced_pass(spark, n, tracer)

    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline or len(traced.walls) < 2:
        plain.loop(0, 1, wl.run_pass, spark)
        traced.loop(0, 1, traced_pass, spark)
    counts = wl.row_counts(spark)
    fp = fingerprint(spark, ROOT, args.seed, cores, JVM_OPTIONS)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = EventLog.read(os.path.join(work, "eventlog", app_id))

    metrics = wl.layer_metrics(tracer, log) | counts
    metrics["spark.cold_pass_s"] = cold.wall_s if cold else float("nan")
    metrics["spark.launch_setup_s"] = launch_setup_s
    metrics["trace.untraced_wall_s"] = statistics.median(plain.walls)
    metrics["trace.overhead_s"] = metrics["trace.wall_s"] - metrics["trace.untraced_wall_s"]
    plain.attempted += traced.attempted
    plain.failed += traced.failed
    plain.errors += traced.errors
    samples = {"untraced_wall_s": plain.walls, "traced_wall_s": tracer.durations("pass")}
    return metrics, samples, plain, fp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "opentelemetry_collector_spark", "plans", "pipeline.py")):
        print("perfbench: the engine sources are not next to perfbench/", file=sys.stderr)
        return 2
    from host import fingerprint_key
    from workloads import workloads

    wls = workloads()
    if args.workload not in wls:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wls)}", file=sys.stderr)
        return 2
    wl = wls[args.workload]
    spec = _spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench-work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    sys.path.insert(0, ROOT)
    saved_path = list(sys.path)
    import pyarrow

    import tools.check_oracle  # noqa: F401  (imported once, its path side effect undone)
    sys.path[:] = saved_path
    pyarrow.set_cpu_count(cores)
    try:
        t0 = time.perf_counter()
        wl.prepare(work, args.seed, cores)
        prepare_s = time.perf_counter() - t0
        metrics, samples, passes, fp = (measure_traced if args.trace else measure)(wl, args, cores, work)
        samples["prepare_s"] = prepare_s
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": passes.failed == 0,
        "attempted": passes.attempted,
        "failed": passes.failed,
        # a per-layer metric of a layer this workload never calls reads 0
        "metrics": {
            m["name"]: {"value": metrics[m["name"]] if not args.trace else metrics.get(m["name"], 0),
                        "unit": m["unit"]}
            for m in wanted
        },
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "fingerprint": fp, "fingerprint_key": fingerprint_key(fp),
        "error_rate": passes.failed / passes.attempted, "errors": passes.errors[:20],
        "samples": samples, "result": result,
    }
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(os.path.join(base, "results", f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={passes.attempted} error_rate={record['error_rate']:.3f}", file=sys.stderr)
    for name, v in result["metrics"].items():
        print(f"#   {name:44s} {v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    for e in passes.errors[:5]:
        print(f"# error: {e}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
