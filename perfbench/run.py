"""Repository benchmark: one command, two workloads (``queries``, ``sensor``).

    python3 perfbench/run.py --workload queries --seed 1 --seconds 15 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``
under ``perfbench/.run/``, starts a SparkSession on ``local[N]`` with N
the number of usable CPUs, measures for about ``--seconds`` seconds,
checks the outputs, and prints one JSON object as the last line of
standard output::

    {"correct": true, "attempted": 25, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see perfbench/README.md). The line before it carries
the run's details: ambient load, per-operation samples, check results.
A JSON file with the same details and, in a traced run, every span is
written under ``perfbench/.out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _ambient(spark=None) -> dict:
    with open("/proc/loadavg") as fh:
        load = fh.read().split()
    out = {
        "loadavg": [float(x) for x in load[:3]],
        "cpu_ticks": _cpu_ticks(),
        "nproc": len(os.sched_getaffinity(0)),
        "requested_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }
    if spark is not None:
        out["master"] = spark.sparkContext.master
        out["default_parallelism"] = spark.sparkContext.defaultParallelism
    return out


def _environment(work: Path) -> None:
    """Point every scratch location of Spark, its Python workers and the
    engine's temp tables inside this run's directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": "4g",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    import tempfile

    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    try:
        import data_pipeline_project_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = HERE / ".run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _environment(work)
    ambient_before = _ambient()
    run = workloads.Run(
        workload=args.workload, seed=args.seed, seconds=args.seconds,
        traced=bool(args.trace), work=work, t_start=T_START,
    )
    try:
        workloads.WORKLOADS[args.workload](run)
        run.ambient = {"before": ambient_before, "after": _ambient(run.spark)}
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    # share of the box's CPU time taken by other tenants (steal) and idle
    # while this run went on, and the CPU seconds this run's processes used
    delta = [b - a for a, b in zip(ambient_before["cpu_ticks"],
                                   run.ambient.get("after", ambient_before)["cpu_ticks"])]
    total = sum(delta) or 1
    t = os.times()
    run.ambient.update(steal_share=round(delta[7] / total, 4), idle_share=round(delta[3] / total, 4),
                       process_cpu_s=round(t.user + t.system + t.children_user + t.children_system, 2))

    metrics = run.layer_metrics() if run.traced else run.end_to_end_metrics()
    detail = run.detail()
    out_dir = HERE / ".out"
    out_dir.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(out_dir / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json", "w") as fh:
        json.dump({"detail": detail, "metrics": metrics, "spans": run.span_dump()}, fh)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
