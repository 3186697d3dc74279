"""Python task latency probe: the fixed cost of one Arrow task.

Each round runs two jobs over ``defaultParallelism`` partitions on
``get_spark``'s default master (local[$SPARK_GRAFT_CPUS], local[*] when
unset):

- an empty-kernel ``mapInArrow`` job, timed on the driver from submit
  to collect; each task reports when its kernel started, and the round
  prints the delay from the submit to the LAST kernel start;
- a probe job whose kernel times the worker's own
  ``importlib.invalidate_caches()``, the call pyspark's worker makes
  before every task; the round prints the slowest task's time.

Both kernels import ``ballet_spark`` as every engine kernel does when a
task unpickles it, so the worker runs what the package installs on
import. The first round pays the worker start-up; the medians over all
rounds are printed last.

Usage: python scripts/python_task_latency.py [--rounds 7]
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

from ballet_spark.session import get_spark  # noqa: E402


def _empty_kernel(batches):
    import ballet_spark  # noqa: F401

    start = time.time()
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"t": [start]})


def _invalidate_kernel(batches):
    import importlib

    import ballet_spark  # noqa: F401

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict({"t": [time.perf_counter() - t0]})


def run_round(spark) -> tuple[float, float, float]:
    """(job wall s, submit-to-last-kernel-start s, max invalidate s)."""
    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, n, 1, numPartitions=n)
    submit = time.time()
    starts = df.mapInArrow(_empty_kernel, "t double").toArrow()["t"]
    wall = time.time() - submit
    delay = max(starts.to_pylist()) - submit
    inval = df.mapInArrow(_invalidate_kernel, "t double").toArrow()["t"]
    return wall, delay, max(inval.to_pylist())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--rounds", type=int, default=7)
    args = ap.parse_args()
    spark = get_spark(
        app_name="python_task_latency",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    print(f"master={spark.sparkContext.master} "
          f"partitions={spark.sparkContext.defaultParallelism} "
          f"python={sys.version.split()[0]}")
    rows = []
    try:
        for i in range(args.rounds):
            wall, delay, inval = run_round(spark)
            rows.append((wall, delay, inval))
            print(f"round {i}: job_wall_s={wall:.3f} "
                  f"kernel_start_delay_s={delay:.3f} "
                  f"worker_invalidate_caches_s={inval:.4f}")
    finally:
        spark.stop()
    med = [statistics.median(col) for col in zip(*rows)]
    print(f"median: job_wall_s={med[0]:.3f} kernel_start_delay_s={med[1]:.3f} "
          f"worker_invalidate_caches_s={med[2]:.4f}")


if __name__ == "__main__":
    main()
