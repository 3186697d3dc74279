"""Hot-entity window salting stress (VERDICT r3 ask #4 evidence).

A running aggregate over ONE pathological key is a single task under
the plain window plan no matter how many cores exist; the two-phase
salted plan (plans/skew.py salted_running_agg) chunks the hot key's
history by time so the heavy phase parallelizes across cores and the
carry-in merge restores exact prefix semantics.

Fixture: one hot url with ``hot_rows`` minutely snapshots (≈695 days
at 1e6 rows) + a uniform tail of the same total size. The plain plan's
wall time is dominated by the single hot-partition task; the salted
plan's by max(chunk) — day-granularity chunks ⇒ ~1440-row tasks.

Protocol per BENCH/BASELINE.md round-3 lessons: quiet machine, worker
warmup first, plain/salted INTERLEAVED within each rep (VM noise
windows span minutes and would otherwise land on one variant), min of
``reps``.

    python scripts/salted_window_stress.py [hot_rows] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ballet_spark.plans.skew import salted_running_agg  # noqa: E402
from ballet_spark.session import get_spark  # noqa: E402

AGGS = ("sum", "count", "min", "max")


def fixture(spark, hot_rows: int):
    """hot url: one row per minute from 2020-01-01; tail: hot_rows
    spread over 2000 urls on the same clock."""
    hot = spark.range(hot_rows).select(
        F.lit("https://hot.example/").alias("url"),
        (
            F.lit("2020-01-01 00:00:00").cast("timestamp")
            + F.make_interval(mins=F.col("id").cast("int"))
        ).alias("ts"),
        (F.pmod(F.col("id") * 7919, F.lit(1000)).cast("double") / 4).alias("v"),
    )
    tail = spark.range(hot_rows).select(
        F.concat(
            F.lit("https://t"),
            F.pmod(F.col("id"), F.lit(2000)).cast("string"),
            F.lit(".example/"),
        ).alias("url"),
        (
            F.lit("2020-01-01 00:00:00").cast("timestamp")
            + F.make_interval(mins=F.col("id").cast("int"))
        ).alias("ts"),
        (F.pmod(F.col("id") * 104729, F.lit(1000)).cast("double") / 4).alias("v"),
    )
    df = hot.unionByName(tail).repartition(64).persist()
    df.count()
    return df


def sink(df):
    return df.agg(
        F.count(F.lit(1)),
        F.sum(F.xxhash64("url", "run_sum", "run_count").cast("decimal(38,0)")),
    ).collect()


def main():
    hot_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="salted_window_stress")
    df = fixture(spark, hot_rows)
    head = ["https://hot.example/"]

    def plain():
        return sink(salted_running_agg(df, "url", "ts", "v", AGGS, head=[]))

    def salted():
        return sink(
            salted_running_agg(
                df, "url", "ts", "v", AGGS, head=head, chunk_seconds=86_400
            )
        )

    plain()  # warmup: codegen + worker pool, discarded
    t_plain, t_salted = [], []
    for _ in range(reps):  # interleave variants within each rep
        t0 = time.perf_counter()
        plain()
        t_plain.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        salted()
        t_salted.append(time.perf_counter() - t0)
    out = {
        "hot_rows": hot_rows,
        "total_rows": 2 * hot_rows,
        "cpus": spark.sparkContext.defaultParallelism,
        "plain_sec": round(min(t_plain), 3),
        "salted_sec": round(min(t_salted), 3),
        "speedup": round(min(t_plain) / min(t_salted), 2),
        "plain_draws": [round(t, 3) for t in t_plain],
        "salted_draws": [round(t, 3) for t in t_salted],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
