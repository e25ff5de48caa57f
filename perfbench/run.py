"""Benchmark entry point.

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints the end-to-end metrics (or,
with ``--trace 1``, the per-layer metrics) as one JSON object on the
last line of standard output, and exits non-zero without a result when
the run cannot be made. Everything the run writes (generated tables,
the parquet snapshot, Spark's local and warehouse dirs, temp files)
goes under one directory in ``.perfbench/`` that is removed at exit;
the traced run's spans go to ``.perfbench/traces/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("samgov_pipeline", "relational_mix", "iterative_mix")
#: Executor threads: at most 4, never more than the CPUs this process may use.
CPUS = min(4, len(os.sched_getaffinity(0)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(tmp: str) -> None:
    """Pin the session shape and keep every file Spark writes under ``tmp``."""
    for sub in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    for knob in (
        "SPARK_GRAFT_MASTER",
        "SPARK_GRAFT_TASK_MAX_FAILURES",
        "SPARK_GRAFT_MAX_PARTITION_BYTES",
    ):
        os.environ.pop(knob, None)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        TMPDIR=os.path.join(tmp, "tmp"),
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(
            filter(None, [ROOT, os.environ.get("PYTHONPATH")])
        ),
        SPARK_GRAFT_EXTRA_CONFS=",".join(
            [
                "spark.ui.showConsoleProgress=false",
                f"spark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
                "spark.driver.extraJavaOptions=-XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}",
            ]
        ),
    )


def stop_spark() -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    state = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(state, f"run-{os.getpid()}")
    configure_env(tmp)
    sys.path.insert(0, ROOT)
    try:
        from perfbench import workloads

        run = workloads.Run(
            workload=args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            tmp=tmp,
            cpus=CPUS,
            t_process=T_PROCESS,
        )
        try:
            result = workloads.execute(run)
        finally:
            if run.trace and run.tracer is not None:
                os.makedirs(os.path.join(state, "traces"), exist_ok=True)
                run.tracer.write(
                    os.path.join(state, "traces", f"{args.workload}-{args.seed}.json")
                )
            stop_spark()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(state)  # only when no traces were kept
        except OSError:
            pass
    for note in run.notes:
        print("note:", note, file=sys.stderr)
    ratio = result["failed"] / result["attempted"]
    print(
        f"{args.workload}: failed_ops_ratio {ratio:.4f} "
        f"({result['failed']} of {result['attempted']} operations)"
    )
    for name, m in result["metrics"].items():
        print(f"  {name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
