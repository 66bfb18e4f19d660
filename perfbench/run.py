"""Benchmark entry point.

    python3 perfbench/run.py --workload iot_dashboard --seed 1 --seconds 13 --trace 0

Run from the root of a checkout of the repository. Prints a few ``#``
lines (effective session settings, phase timings, any check failures)
and, as the last line, one JSON object::

    {"correct": true, "attempted": 24, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same passes with spans recorded and reports the per-layer metrics,
including the traced run's ``trace.wall_s`` (compare it with ``wall_s`` of an
untraced run for the tracing overhead). The exit code is 0 only when every
output check passed. ``--record-digests`` stores the digests of the
curation keys that have no oracle, for the seed's corpus variant.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Set-up (input generation and a first read) runs once cold, before the
# warm-up, and SETUP_REPEATS times after it, each into a new directory;
# setup_s is the median of the repeats. Measured before the warm-up, the
# repeats ran while the JVM was still compiling the read path, and came
# out fast or slow by chance. The warm-up and the timed passes use the
# cold set-up's directory; the repeats write the same files elsewhere.
SETUP_REPEATS = 5


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("iot_dashboard", "curation_batch", "ingest_stream"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="minimum length of the timed region")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    return ap.parse_args(argv)


def pin_environment(work: str) -> None:
    """Session settings that must be in place before the JVM starts."""
    # Task slots: half the usable CPUs. The other half stays free for the
    # driver JVM's own threads and this process; with a task on every CPU,
    # each stage waited on whichever CPU the shared host took away, and
    # dashboard runs spread three times wider (perfbench/README.md).
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)  # else local[32] on any host
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    # every JVM, the spark-submit launcher's too, keeps its files in the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    # Python workers start in other directories and must import the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",  # launch-time only
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def peak_rss_mb(jvm_pid: int) -> float:
    """VmHWM of the driver JVM plus this Python process, in MiB."""
    total = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("metrocloud_data_pipeline_spark") is None:
        print(f"perfbench: the package under test is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)  # before the package import reads SPARK_GRAFT_CPUS

    import report
    import workloads
    from metrocloud_data_pipeline_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload](args.seed)
    spark = jvm = None
    try:
        t = time.time()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.time() - t
        jvm = spark.sparkContext._gateway.proc

        def set_up(r: int) -> str:
            data_dir = os.path.join(work, f"data{r}")
            os.makedirs(data_dir)
            wl.generate(data_dir)
            wl.prepare(spark, data_dir)
            return data_dir

        t = time.time()
        data_dir = set_up(0)
        cold_setup_s = time.time() - t
        t = time.time()
        wl.warmup(spark, data_dir)
        warmup_s = time.time() - t
        setup_times = []
        for r in range(1, SETUP_REPEATS + 1):
            t = time.time()
            set_up(r)
            setup_times.append(time.time() - t)
        sc = spark.sparkContext
        print(f"# master={sc.master} defaultParallelism={sc.defaultParallelism} "
              f"shuffle.partitions={spark.conf.get('spark.sql.shuffle.partitions')} SF dir={data_dir}")

        if args.trace:
            traced = report.traced_passes(spark, wl, data_dir, args.seconds)
            passes = traced.passes
        else:
            passes = workloads.run_passes(spark, wl, data_dir, args.seconds)
        t = time.time()

        if args.record_digests:
            record_digests(wl, passes[0])
        failures = []
        for p in passes:
            failures += wl.check(p)
        check_s = time.time() - t
        rss = peak_rss_mb(jvm.pid)
        print(f"# session_s={session_s:.2f} cold_setup_s={cold_setup_s:.2f} setup_s={setup_times} "
              f"warmup_s={warmup_s:.2f} "
              f"passes={[round(p.wall, 2) for p in passes]} check_s={check_s:.2f}")
        for p in passes:
            print("# ops " + " ".join(f"{op.name}={op.latency:.3f}" for op in p.ops))
    finally:
        if spark is not None:
            spark.stop()
            spark.sparkContext._gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its launcher's pipe closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(len(p.ops) for p in passes)
    failed = len(failures)
    for line in failures:
        print(f"# CHECK FAILED {line}")
    if args.trace:
        metrics = traced.metrics(session_s, warmup_s, rss, failed / max(attempted, 1))
        traced.dump(os.path.join(ROOT, ".perfbench-work", f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = report.end_to_end(passes, statistics.median(setup_times))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def record_digests(wl, p) -> None:
    import workloads

    if wl.name != "curation_batch":
        raise SystemExit("--record-digests applies to curation_batch only")
    digests = workloads.load_digests()
    for op in p.ops:
        if op.error is None and op.name not in workloads._oracle_keys():
            digests[f"{wl.variant}/{op.name}"] = workloads.digest(op.output)
    with open(workloads.DIGESTS_PATH, "w") as f:
        json.dump(dict(sorted(digests.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
