"""Generated-code profile: how many classes each query compiles, and
how many it compiles again when it runs a second time.

Spark compiles every whole-stage-codegen stage and generated
projection, ordering and predicate into a Java class and keeps the
classes in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries. A query whose classes outlive its first run compiles nothing
the second time; a repeat that compiles again shows a cache too small
for the query's working set.

Each named headline query of ``bench_extra.py`` (all of them by
default) is built and sunk to the noop sink twice in a row, then one op
of each ``perfbench`` workload (imported from ``perfbench/workloads.py``
and run unedited, over the workload's seeded inputs) runs twice in a
row. Compiles are the delta of ``CodegenMetrics``' compilation-time
histogram count; compile seconds are the delta of
``CodeGenerator.compileTime()``, the exact nanosecond sum that the same
cache loader adds to (the histogram keeps a sample of whole
milliseconds). In local mode the driver and the executors share one
JVM, so both count every class the run compiled.

Prints one JSON line per query, then one line with the suite totals::

    {"totals": {"first": {"compiles": ..., "compile_s": ...},
                "repeat": {...}, "repeat_share": ...}, ...}

Usage, from the root of a checkout:
    python scripts/codegen_profile.py --sf-dir DIR [--seed 1] [query ...]
``--sf-dir`` (default ``$SPARK_GRAFT_SF_DIR``) holds the headline
queries' tables; the perfbench inputs are generated from ``--seed``
into ``.perfbench/cache`` as ``perfbench/run.py`` does. The session is
``get_spark``'s on local[$SPARK_GRAFT_CPUS] (local[*] when unset).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

import bench_extra  # noqa: E402
import corpus  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from ballet_spark.session import get_spark  # noqa: E402


class Counter:
    """Classes compiled and seconds spent compiling since the last
    ``take``, JVM-wide."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._last = self._read()

    def _read(self) -> tuple[int, int]:
        return self._hist.getCount(), self._gen.compileTime()

    def take(self) -> dict:
        now = self._read()
        (n0, ns0), (n1, ns1) = self._last, now
        self._last = now
        return {"compiles": n1 - n0, "compile_s": round((ns1 - ns0) / 1e9, 3)}


def profile(counter: Counter, run) -> dict:
    """``run(phase)`` twice: what the first run and the repeat compiled."""
    out = {}
    for phase in ("first", "repeat"):
        counter.take()
        run(phase)
        out[phase] = counter.take()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", help="headline queries (default: all)")
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--seed", type=int, default=1, help="perfbench input seed")
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("--sf-dir (or $SPARK_GRAFT_SF_DIR) is required")
    names = args.queries or bench_extra.HEADLINE

    spark = get_spark(app_name="codegen_profile")
    work = os.path.join(REPO, ".perfbench", f"codegen-{os.getpid()}")
    try:
        counter = Counter(spark)
        qs = entry.queries()
        report = {}

        def emit(name: str, run) -> None:
            report[name] = profile(counter, run)
            print(json.dumps({name: report[name]}), flush=True)

        for name in names:
            def run(phase, name=name):
                bench_extra.noop_sink(qs[name](spark, args.sf_dir))
                spark.catalog.clearCache()

            emit(name, run)

        cache = corpus.Cache(os.path.join(REPO, ".perfbench", "cache"))
        for wname, cls in workloads.WORKLOADS.items():
            wl = cls(cache, args.seed, work)
            wl.start(spark, tracing.NullTracer())

            def run(phase, wl=wl):
                wl.op(phase)
                workloads.clear_caches(spark)

            emit(f"perfbench.{wname}", run)

        totals = {
            phase: {
                "compiles": sum(r[phase]["compiles"] for r in report.values()),
                "compile_s": round(sum(r[phase]["compile_s"] for r in report.values()), 3),
            }
            for phase in ("first", "repeat")
        }
        first = totals["first"]["compiles"]
        totals["repeat_share"] = round(totals["repeat"]["compiles"] / first, 4) if first else 0.0
        print(json.dumps({
            "totals": totals,
            "cache_max_entries": spark.conf.get("spark.sql.codegen.cache.maxEntries"),
            "sf_dir": args.sf_dir,
            "seed": args.seed,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
