"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload incremental_sync --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Every file the run writes goes under ``.perfbench_work/``
in the repository root; a traced run leaves its span dump there in
``trace/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "3g"
# A fixed set of JIT compiler threads that live as long as the JVM, so
# the CPU metrics can leave out all of their time (workloads.JIT_THREADS);
# and the serial collector, whose work is done where it is needed, not
# by concurrent cycles and spinning workers that start when they will.
JAVA_OPTIONS = "-XX:-UseDynamicNumberOfCompilerThreads -XX:+UseSerialGC"


def _isolate(work: str) -> None:
    """Keep the JVM, Spark and Python scratch files inside ``work``;
    the driver heap must be set before the JVM launches."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEMORY} "
        f"--driver-java-options {shlex.quote(JAVA_OPTIONS + ' -Djava.io.tmpdir=' + tmp)} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("couchwarehouse_spark") is None:
        print(f"couchwarehouse_spark not found under {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    from perfbench import layers, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    res, bench = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work, T_START)

    for k, v in sorted(bench.setup_parts.items()):
        print(f"# setup.{k} {v:.3f}")
    for k in workloads.END_TO_END:
        print(f"# {k} {res.metrics[k]:.4f} {workloads.END_TO_END[k]}")
    for k in workloads.WALL:
        print(f"# wall.{k} {res.wall[k]:.4f} {workloads.WALL[k]}")
    print(f"# error_rate {res.failed / max(res.attempted, 1):.4f} ({res.failed}/{res.attempted})")
    for e in res.errors[:20]:
        print(f"# FAILED {e}")

    if args.trace:
        out = layers.per_layer(bench, res, os.path.join(base, "trace", f"{args.workload}-seed{args.seed}"))
        metrics = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in out.items()}
    else:
        metrics = {k: {"value": res.metrics[k], "unit": u} for k, u in workloads.END_TO_END.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {"correct": res.failed == 0, "attempted": res.attempted, "failed": res.failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
