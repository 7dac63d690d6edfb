"""Benchmark of the conversion chain and the corpus pipeline.

    python3 perfbench/run.py --workload touch2parquet --seed 1 --seconds 15 --trace 0

Runs one workload (touch2parquet | parquet2sonata | corpus_prep) closed
loop -- one operation in flight -- on one local[<nproc>] session for
``--seconds`` after one untimed warm-up operation, checks every
operation's output outside the timed region, and prints one JSON line
last: the end-to-end metrics with ``--trace 0``, the per-layer metrics
(see spans.py) with ``--trace 1``.  Inputs come from ``--seed`` alone.
Everything it writes goes under ``.perfbench_work/`` in the repo root
and is removed before it exits.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def process_age() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for process {pid}")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["touch2parquet", "parquet2sonata", "corpus_prep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    """Session settings that keep every file the session writes inside
    ``work``; with ``trace`` also the uncompressed event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    # Spark's Python workers import the package too: put the repo root
    # on their path, whatever the current directory
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    import spans
    import workloads
    from parquet_converters_spark.session import get_spark

    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # on SIGTERM unwind through the finally below: stop the JVM, clean up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark = get_spark(extra_conf=spark_conf(work, args.trace))
        spark.sparkContext.setLogLevel("ERROR")
        tracer = spans.Tracer(spark)
        with tracer.span("session.start"):
            spark.range(1).count()
        setup_s = process_age()
        tracer.wall["session.start"] = setup_s
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(work, "input"), args.seed)
        print(f"# {args.workload} seed={args.seed} inputs: "
              + json.dumps(wl.props), file=sys.stderr)
        state = {"attempted": 0, "failed": 0, "residue": 0}

        def operation(i: int):
            """Run and check one operation; returns its timings, or None
            when it raised.  A wrong output keeps its timings but counts
            as failed."""
            out = os.path.join(work, f"op{i}")
            state["attempted"] += 1
            rdds_before = workloads.persisted_rdds(spark)
            result = None
            try:
                result = wl.run(out)
                t0 = time.perf_counter()
                wl.check(result, thorough=args.trace and i == 0)
                print(f"# op {i}: wall_s {result['wall_s']:.3f} read_s "
                      f"{result['read_s']:.3f} check "
                      f"{time.perf_counter() - t0:.3f}", file=sys.stderr)
            except Exception:  # a failed operation is counted, not fatal
                state["failed"] += 1
                traceback.print_exc(file=sys.stderr)
            finally:
                shutil.rmtree(out, ignore_errors=True)
                # what this one operation left persisted: independent of
                # how many operations the run makes
                state["residue"] = max(
                    state["residue"],
                    workloads.persisted_rdds(spark) - rdds_before)
                gc.collect()
                spark.sparkContext._jvm.System.gc()
            return result

        operation(0)  # warm-up: JIT, Python workers, page cache
        samples = []
        deadline = time.perf_counter() + args.seconds
        i = 1
        while True:  # at least one timed operation
            result = operation(i)
            if result is not None:
                samples.append(result)
            i += 1
            if time.perf_counter() >= deadline:
                break
        if not samples:
            print("every timed operation raised", file=sys.stderr)
            return 1

        walls = sorted(s["wall_s"] for s in samples)
        wall_s = statistics.median(walls)
        print(f"# {len(samples)} timed operations, wall_s: "
              + " ".join(f"{w:.3f}" for w in walls), file=sys.stderr)
        if len(walls) > 10:
            # the highest percentile with at least ten samples above it
            k = len(walls) - 11
            print(f"# wall_s p{100 * (k + 1) // len(walls)} = {walls[k]:.4f} s",
                  file=sys.stderr)
        print(f"# most RDDs one operation left persisted: {state['residue']}",
              file=sys.stderr)

        read_s = statistics.median(s["read_s"] for s in samples)
        if args.trace:
            out = os.path.join(work, "traced")
            try:
                counts = wl.traced(tracer, out)
            finally:
                shutil.rmtree(out, ignore_errors=True)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "wall_s": (wall_s, "s"),
                "records_per_s": (wl.records / wall_s, "1/s"),
                "read_s": (read_s, "s"),
                "bytes_out_per_byte_in": (
                    statistics.median(s["bytes_out"] for s in samples)
                    / wl.input_bytes, "ratio"),
            }

        peak_rss_mb = (peak_rss_kb("self") + peak_rss_kb(jvm_pid)) / 1024
        stop_session(spark)
        spark = None
        if args.trace:
            groups, failed_tasks = spans.reduce_event_log(
                os.path.join(work, "eventlog"))
            values = spans.span_metrics(tracer.wall, groups, wl.self_minus)
            layer_sum = sum(values[f"{b}.s"] for b in spans.BOUNDARIES
                            if b != "session.start")
            values.update({name: 0 for name, _, _ in spans.COUNTS})
            values.update(counts)
            values["session.persisted_rdds_residue"] = state["residue"]
            values["session.failed_tasks"] = failed_tasks
            values["session.peak_rss_mb"] = peak_rss_mb
            # the spans decompose the operation, and for some workloads
            # its read-back too
            timed = wall_s + (read_s if wl.traces_read_back else 0.0)
            values["trace.overhead_s"] = layer_sum - timed
            metrics = {name: (values[name], unit)
                       for name, unit, _ in spans.per_layer_metrics()}

        for name, (value, unit) in metrics.items():
            print(f"# {name} = {value} {unit}", file=sys.stderr)
        print(json.dumps({
            "correct": state["failed"] == 0,
            "attempted": state["attempted"],
            "failed": state["failed"],
            "metrics": {n: {"value": v, "unit": u}
                        for n, (v, u) in metrics.items()},
        }))
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
