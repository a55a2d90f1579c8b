"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload replication --seed 1 --seconds 24 --trace 0

Run it from the repository root. Each run builds a fresh Spark session on
``local[nproc]``, makes its inputs from ``--seed``, runs the bulk-broker
phases (see phases.py), checks every output, and prints one JSON object as
its last line of standard output. With ``--trace 0`` the object holds the
end-to-end metrics. With ``--trace 1`` the run also puts messages through
the writeback sink, runs the workload's query panel and replays single
layers (layers.py); the object then holds the per-layer metrics, and the
run's spans are written to ``.perfbench_out/``. The exit code is 0 only
when every output was correct.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import phases  # noqa: E402
SETUP_REPEATS = 3
DRAIN_EVERY_S = 12.0  # one timed drain, with its snapshots, per this many seconds of --seconds
DEADLINE_S = 175.0  # a run that is still going by then is killed


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory_gib() -> int:
    """A quarter of the host's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return max(1, min(4, total_kib // (4 << 20)))


def _git_sha() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head, encoding="ascii") as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:]), encoding="ascii") as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _environment(work: str) -> dict:
    """Pin the session to this host and keep every scratch file in ``work``.

    The JVM compiles with C1 only (``TieredStopAtLevel=1``). A run is about
    a minute long, and with the default tiered compiler the moment C2's
    compilations landed differed from run to run: on 4 vCPUs the timed
    drain's rate over nine seeds spread 0.42 of its median between
    quartiles. With C1 alone, four of five seeds agreed within 3 %. The
    program's own code is Python, which this does not touch."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cpus, mem = _cpus(), _driver_memory_gib()
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEMORY": f"{mem}g",
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_SCRATCH": tmp,
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    tempfile.tempdir = tmp
    return {
        "nproc": cpus, "SPARK_GRAFT_CPUS": cpus, "driver_memory": f"{mem}g", "jit": "C1",
        "git_sha": _git_sha(),
    }


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


def bench(args, work: str, stamp: dict) -> dict:
    from perfbench import layers
    from perfbench.trace import Tracer

    tracer = Tracer(bool(args.trace))
    with tracer.span("session.get_spark"):
        from spark_ibm_mq_spark import registry
        from spark_ibm_mq_spark.session import get_spark
        from spark_ibm_mq_spark.sources import register_ibmmq

        spark = get_spark()
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
        with tracer.span("session.register_ibmmq"):
            register_ibmmq(spark)
        registry.load_all_modules()
        marks = {"session_ready_s": time.perf_counter() - PROCESS_START}
        run = phases.Run(
            spark=spark, tracer=tracer, work=work, seed=args.seed,
            workload=args.workload, drains=max(1, round(args.seconds / DRAIN_EVERY_S)),
        )
        phases.generate_inputs(run)
        marks["inputs_ready_s"] = time.perf_counter() - PROCESS_START
        builds = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            phases.build_backlog(run, run.path(f"backlog{i}"))
            builds.append(time.perf_counter() - t0)
            if i:
                shutil.rmtree(run.path(f"backlog{i - 1}"))
        marks["backlog_ready_s"] = time.perf_counter() - PROCESS_START
        phases.warm_up(run)
        timed_from = time.perf_counter()
        run.metrics["setup_s"] = (timed_from - PROCESS_START - sum(builds) + statistics.median(builds), "s")
        run.notes["setup"] = {**marks, "backlog_builds_s": builds, "until_first_timed_op_s": timed_from - PROCESS_START}

        phases.timed(run)
        timed_s = time.perf_counter() - timed_from
        run.notes["timed_s"] = timed_s
        if args.trace:
            phases.writeback(run)
            phases.panel(run)
        t0 = time.perf_counter()
        phases.check_outputs(run)
        run.notes["checks_s"] = time.perf_counter() - t0
        if args.trace:
            layers.replay(run)
        return {"run": run, "spark": spark}
    except BaseException:
        _stop_spark(spark)
        raise


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(phases.PANELS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument(
        "--seconds", type=float, required=True,
        help=f"length of the timed part: one drain per {DRAIN_EVERY_S:g} s, at least one",
    )
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    if not os.path.isfile(os.path.join(ROOT, "spark_ibm_mq_spark", "__init__.py")):
        print("perfbench: the spark_ibm_mq_spark package is not in this checkout", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)

    def deadline():
        print("perfbench: the run passed its deadline", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    watchdog = threading.Timer(DEADLINE_S, deadline)
    watchdog.daemon = True
    watchdog.start()
    try:
        stamp = _environment(work)
        stamp.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace)
        result = bench(args, work, stamp)
        run = result["run"]
        _stop_spark(result["spark"])
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        watchdog.cancel()

    chosen = run.layers if args.trace else run.metrics
    if args.trace:
        run.tracer.write(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"stamp": stamp, "notes": run.notes,
             "traced_end_to_end": {k: v[0] for k, v in run.metrics.items()}},
        )
    for p in run.problems:
        print(f"perfbench: {p}", file=sys.stderr)
    correct = not run.problems and run.failed == 0
    print(json.dumps({"stamp": stamp, "notes": run.notes, "failed_frac": run.failed / max(1, run.attempted)}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(chosen.items())},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
