"""CDC engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload trickle_hot --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload operator_suite --seed 1 --seconds 12 --trace 1

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the metrics are the ``end_to_end`` list of BENCHMARK.json, with ``--trace 1``
the ``per_layer`` list, measured in a run whose public entry points are
wrapped in spans.  Everything a run writes stays under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (detail and span files), both in
the repository root.  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work``: Python and JVM temp
    files, Spark's local dir. A fresh private TMPDIR per run also means the
    query-side caches that live under ``tempfile.gettempdir()`` start cold in
    every run. The driver heap is left to ``session.get_spark``. Its shuffle
    and spill directory moves from tmpfs into the work directory, and the
    JVM's temp files stay there too, because a run may write only inside its
    checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: closing the gateway's stdin is the JVM's signal to quit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, ROOT)
    try:
        import pocket_etl_spark  # noqa: F401  the engine must be in the checkout
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    import suite
    import workloads

    runners = {
        "trickle_hot": workloads.run_trickle_hot,
        "operator_suite": suite.run_operator_suite,
    }
    if args.workload not in runners:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _isolate(work)

    from pocket_etl_spark.session import get_spark
    from tracing import Tracer

    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = get_spark(
            "perfbench",
            cores=cores,
            shuffle_partitions=cores,
            extra_conf={
                "spark.ui.retainedStages": "10000",
                "spark.ui.retainedJobs": "10000",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        spark.range(1).count()
        session_s = time.time() - T_PROCESS
        tracer = Tracer() if args.trace else None
        res = runners[args.workload](spark, args.seed, args.seconds, work, tracer, session_s)
        if tracer is not None:
            tracer.write(os.path.join(out_dir, f"spans-{tag}.json"))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    # A layer the workload does not run reads 0 (README.md, per-layer table).
    values = res.e2e if not args.trace else {m["name"]: 0.0 for m in wanted} | res.layer
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "wall_s": time.time() - T_PROCESS,
        "problems": res.problems,
        "end_to_end": res.e2e,
        "per_layer": res.layer,
        **res.detail,
    }
    with open(os.path.join(out_dir, f"detail-{tag}.json"), "w") as f:
        json.dump(detail, f, default=str)
    for p in res.problems:
        print(f"perfbench: FAILED {p}", file=sys.stderr)
    print(json.dumps({
        "correct": not res.problems,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
