"""Per-query optimization harness (guide §1.4) — NOT the official bench.

Times individual declared queries in isolation with the noop sink
(computation only, no output write), dumps ``.explain("formatted")``
for the plans/r06 deliverables, and leaves the frozen ``bench.py``
untouched. Each query's JSON line also carries ``digest`` =
``[rows, sum of xxhash64 over all output columns]`` (doubles hashed
unrounded), computed once before the timed draws, so two checkouts
can be compared for bit-identical output without an oracle.

Usage:
    python bench_extra.py q1_pricing_summary minhash_lsh_dups ...
    python bench_extra.py --explain-dir plans/r06 --suffix before q ...
    python bench_extra.py --all            # every headline query
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1, the bench's
     scale), SPARK_GRAFT_CPUS (default: this machine's core count,
     ``os.cpu_count()``), BENCH_EXTRA_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary", "q3_top_revenue_orders", "window_lag_delta",
    "rolling_mean_5", "forward_fill", "sessionize_30m", "asof_join_purchase",
    "groupwise_mean_impute", "dedup_exact", "minhash_lsh_dups",
    "embedding_topk", "quality_scores", "embedding_neardups",
    "embedding_lsh_topk", "dfs_customer_orders", "ts_features_user",
    "dedup_components", "tfidf_top_terms", "grouped_apply_normalize",
    "embedding_ivf_fixed_topk", "salted_running_stats", "salted_rolling_stats",
    "gfssf_select_docs", "lm_perplexity_docs", "decontaminate_docs",
    "pii_redaction_docs", "remove_frequent_segments_docs",
    "semantic_dedup_docs", "nb_classifier_docs", "pack_sequences_docs",
    "mixing_weights_docs", "exactsubstr_dedup_docs",
    "pack_sequences_salted_docs", "curation_pipeline_v2",
]


def noop_sink(df):
    df.write.format("noop").mode("overwrite").save()


def digest(df) -> list[int]:
    """``[rows, sum of xxhash64(all columns)]``: equal digests mean the
    same multiset of rows (up to a 64-bit hash collision)."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("d"),
    ).first()
    return [int(row["n"]), int(row["d"] or 0)]


def main():
    args = [a for a in sys.argv[1:]]
    explain_dir = None
    suffix = "before"
    if "--explain-dir" in args:
        i = args.index("--explain-dir")
        explain_dir = args[i + 1]
        del args[i : i + 2]
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        del args[i : i + 2]
    names = HEADLINE if "--all" in args else [a for a in args if a != "--all"]

    from ballet_spark.session import get_spark

    import __spark_entry__ as entry
    import bench

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "3"))
    spark = get_spark(app_name="bench_extra", master=f"local[{cpus}]")
    bench.warmup_workers(spark)
    qs = entry.queries()
    out = {}
    for n in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{n}")
        if explain_dir:
            os.makedirs(explain_dir, exist_ok=True)
            import contextlib
            import io

            df = qs[n](spark, sf_dir)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(explain_dir, f"{n}_{suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            spark.catalog.clearCache()
        dig = digest(qs[n](spark, sf_dir))
        spark.catalog.clearCache()
        # construction (may include eager fits/persists) vs sink
        draws = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = qs[n](spark, sf_dir)
            t1 = time.perf_counter()
            noop_sink(df)
            t2 = time.perf_counter()
            draws.append((round(t1 - t0, 3), round(t2 - t1, 3), round(t2 - t0, 3)))
            spark.catalog.clearCache()
        best = min(draws, key=lambda d: d[2])
        out[n] = {"construct": best[0], "noop": best[1], "total": best[2],
                  "draws": draws, "digest": dig}
        print(json.dumps({n: out[n]}), flush=True)
    print(json.dumps({"summary": {k: v["total"] for k, v in out.items()},
                      "sf": sf_dir}))
    spark.stop()


if __name__ == "__main__":
    main()
