#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root.  The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``.  The run writes only under ``.perfbench_work/``
in the repository root; it removes its own files when it ends, except the
span log of a traced run (``.perfbench_work/spans-<workload>.jsonl``).
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "unstructured_data_pipeline_spark"
WORKLOADS = ("ingest", "intake")


def parse_args(argv):
    p = argparse.ArgumentParser(description="Run one benchmark workload.")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def declared_metrics(trace: int) -> dict[str, str]:
    """name -> unit of the metrics BENCHMARK.json declares for this mode."""
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


# A quiet JVM: one C1 compiler thread instead of tiered C1 + C2 (C2 compile
# threads used a third of a run's CPU and made op times drift for minutes),
# and the serial collector with a 2 GB heap (no concurrent GC threads; the
# peak RSS no longer depends on when a 6 GB heap gets grown)
JVM_OPTIONS = (
    "-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:CICompilerCount=1 -XX:+UseSerialGC"
    " -Xms2g -XX:MetaspaceSize=256m"
)
DRIVER_MEMORY = "2g"
# Spark runs on this many cores at most: the rest of the host's cores stay
# free for the JVM's own threads and the Python driver
MAX_CORES = 2


def start_spark(work: str, cores: int):
    from unstructured_data_pipeline_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} {JVM_OPTIONS}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def measure(args, work: str) -> dict:
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    # Spark's temp files, the shipped package zip and the Python workers'
    # temp files all land in the run's own directory
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    sys.path.insert(1, str(ROOT))

    import report
    import workloads
    from spans import NoTracer, Tracer
    from unstructured_data_pipeline_spark.dist import ensure_shipped

    declared = declared_metrics(args.trace)
    t0 = time.perf_counter()
    spark = start_spark(work, cores)
    try:
        t1 = time.perf_counter()
        ensure_shipped(spark)
        t2 = time.perf_counter()
        setup = {"get_spark_s": t1 - t0, "ship_s": t2 - t1}
        tracer = NoTracer()
        if args.trace:
            tracer = Tracer(spark)
            workloads.install_spans(tracer)
        b = workloads.Bench(spark, work, args.seed, tracer, bool(args.trace), T_PROCESS)
        b.log("Spark started")
        res = workloads.WORKLOADS[args.workload](b, args.seconds)
        if args.trace:
            tracer.finish()
            tracer.dump(str(ROOT / ".perfbench_work" / f"spans-{args.workload}.jsonl"))
            values = report.per_layer(tracer, b, setup, res)
        else:
            values = report.end_to_end(res)
        b.log("checked")
    finally:
        stop_spark(spark)
        workloads.wait_descendants_gone(timeout=30)

    b.log("Spark stopped")
    if values.keys() != declared.keys():
        raise RuntimeError(
            f"metrics differ from BENCHMARK.json: {sorted(values.keys() ^ declared.keys())}"
        )
    ops = res["ops"]
    print(
        f"# {args.workload} seed={args.seed}: {len(ops)} timed operations "
        f"({sum(o['traced'] for o in ops)} traced), {b.attempted} checked, "
        f"{b.failed} failed: failed_ops_ratio={b.failed / b.attempted}",
        file=sys.stderr,
    )
    for p in b.problems:
        print(f"# check: {p}", file=sys.stderr)
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in declared.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / PACKAGE).is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        print(
            f"run.py: {ROOT} is not a checkout of the repository "
            f"(needs {PACKAGE}/ and BENCHMARK.json)",
            file=sys.stderr,
        )
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        result = measure(args, str(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
