"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout.  The benchmark generates its
inputs from the seed, sets up Spark ``local[N]`` with N = the CPUs this
process may use, warms the workload, measures it for the given seconds,
checks every output, and prints one JSON object as the last line of
standard output:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` starts the
JVM with Spark's event log on, alternates rounds without and with spans,
runs the layer-boundary calls, and reports the per-layer metrics
(including the tracing overhead: traced minus untraced end-to-end
values).  Earlier lines of output carry the box stamp and, in traced
runs, every span.  Scratch files live under ``.perfbench_work/`` in the
checkout and are removed on exit.  See README.md for the workloads and
every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
#: no measured round starts later than this many seconds into the run, so
#: a run on a slow or crowded box still ends within its time limit
MEASURE_BY_S = 130


def load_bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(work: str, trace: bool) -> None:
    """Point every scratch location of Spark, the JVM and Python inside
    the checkout; with ``trace`` also turn on the event log.  Must run
    before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf '{k}={v}'" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    # the short-lived JVM spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def set_up(wl, n_cpus: int):
    """Start a session and prepare the inputs ``SETUP_REPS`` times; the
    last session stays up.  The first start includes launching the JVM."""
    import stats
    from storagetapper_spark.session import get_spark

    times, spark, start_s = [], None, 0.0
    for i in range(SETUP_REPS):
        if spark is not None:
            wl.release()
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{wl.name}", cpus=n_cpus)
        if i == 0:
            start_s = time.perf_counter() - t0
            spark.sparkContext.setLogLevel("ERROR")
        wl.prepare(spark)
        times.append(time.perf_counter() - t0)
    return spark, stats.median(times), start_s, times


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM (and with it the Python workers),
    and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def e2e_values(wl, samples, setup_s: float) -> dict:
    return {"setup_s": setup_s, "round_s": wl.round_s(samples),
            "round_cpu_s": wl.round_cpu_s(samples)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "storagetapper_spark",
                                       "__init__.py")):
        print(f"no storagetapper_spark package under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    bench = load_bench()
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, bool(args.trace))
    sys.path[:0] = [ROOT, HERE]
    try:
        return run(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass


def run(args, bench: dict, work: str) -> int:
    import pyspark

    import spans
    from workloads import WORKLOADS, Ctx

    n_cpus = cpus()
    stop_by = time.perf_counter() + MEASURE_BY_S
    ticks0 = spans.box_cpu_s()
    stamp = {"nproc": n_cpus, "loadavg_start": os.getloadavg(),
             "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
             "git_commit": git_commit(), "python": sys.version.split()[0],
             "pyspark": pyspark.__version__, "workload": args.workload,
             "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    ctx = Ctx(work=work, seed=args.seed)
    wl = WORKLOADS[args.workload](ctx)
    phases = {}
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t0
        t1 = time.perf_counter()
        phases[name] = round(t1 - t0, 3)
        t0 = t1

    wl.generate()
    phase("generate")
    spark, setup_s, start_s, setup_times = set_up(wl, n_cpus)
    phase("setup")
    stamp.update(spark=spark.version, java=spark.sparkContext._jvm.java.lang
                 .System.getProperty("java.version"))
    try:
        wl.clock = spans.CpuClock(jvm_pid(spark))
        quiet = spans.Tracer(spark, wl.name, enabled=False)
        wl.warm(quiet)
        phase("warm")
        if args.trace:
            tracer = spans.Tracer(spark, wl.name, enabled=True)
            untraced, traced = wl.measure([quiet, tracer], args.seconds,
                                          wl.traced_min_rounds, stop_by)
            samples = [untraced, traced]
            phase("measure")
            wl.boundaries(tracer)
            phase("boundaries")
        else:
            untraced, = samples = wl.measure([quiet], args.seconds,
                                             stop_by=stop_by)
            phase("measure")
        e2e = e2e_values(wl, untraced, setup_s)
        wl.check()
        phase("check")
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        wl.release()
        stop_jvm(spark)

    checks_attempted, checks_failed = wl.checks()
    attempted = sum(s.attempted for s in samples) + checks_attempted
    failed = sum(s.failed for s in samples) + checks_failed
    stamp["loadavg_end"] = os.getloadavg()
    ticks1 = spans.box_cpu_s()
    stamp["box_cpu_s"] = {k: round(ticks1[k] - ticks0[k], 2) for k in ticks0}
    phase("stop")
    stamp["phases_s"] = phases
    stamp["setup_times_s"] = setup_times
    stamp["op_times_s"] = {k: [round(t, 4) for t in v]
                           for k, v in untraced.times.items()}
    stamp["op_steal_s"] = {k: [round(t, 2) for t in v]
                           for k, v in untraced.steal.items()}
    print(json.dumps({"stamp": stamp}))

    if args.trace:
        jobs = spans.read_event_logs(os.path.join(work, "eventlog"))
        layer = {"session.start_s": start_s,
                 "session.jvm_peak_rss_mb": peak_rss,
                 "round.wall_s": e2e["round_s"]}
        # the interleaved rounds only: traced rounds that ran after the
        # untraced ones stopped would also carry a warmer JVM
        n = min((len(v) for v in untraced.times.values()), default=0)
        traced_e2e = e2e_values(wl, traced.first(n), setup_s)
        for k in ("round_s", "round_cpu_s"):
            layer[f"overhead.{k}"] = traced_e2e[k] - e2e[k]
        layer.update(wl.layer_metrics(tracer, jobs, traced))
        print(json.dumps({"spans": [
            {"name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, "py_cpu_s": s.py_cpu_s, **s.counts}
            for s in tracer.spans]}))
        wanted = bench["per_layer"]
    else:
        layer = e2e
        wanted = bench["end_to_end"]
    # a per-layer metric of a layer this workload never calls reads 0
    metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
