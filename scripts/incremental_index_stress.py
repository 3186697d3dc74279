"""Incremental-index growth stress (VERDICT r3 ask #7).

The 100 TB question for the incremental dedup path: does per-batch
ingest cost stay flat as the persisted LSH index grows? Each ingest
shingles ONLY the batch and probes the index's compact bucket table by
(band, bucket) equi-join, so the batch-side work is constant and the
index-side work is one scan of the bucket table per ingest in this
in-memory harness (at scale the bucket table is storage-bucketed, so
the probe prunes to touched buckets and even that scan disappears).

Protocol (per the round-3 measurement lessons in BENCH/BASELINE.md):
- fixed batch size, K successive ingests → index grows K×;
- the WHOLE K-step sequence repeats R times fresh (the index state at
  step k depends on steps <k, so levels cannot interleave within a
  rep; repetition across sequences replaces it);
- per-step wall is the MIN across the R sequences;
- the index is persisted+counted after each union, OUTSIDE the timed
  region — timing covers the ingest job only (shingle batch, band,
  new×new join, new×index probe, Jaccard verify, sink count).

Run on a QUIET machine (no concurrent pytest/bench):
    python scripts/incremental_index_stress.py [batch_docs] [k] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ballet_spark.cache import release_caches  # noqa: E402
from ballet_spark.operators.dedup import (  # noqa: E402
    LshIndex,
    minhash_lsh_pairs_incremental,
)
from ballet_spark.session import get_spark  # noqa: E402
from ballet_spark.sources.webtext import generate_webtext_spark  # noqa: E402


def make_batch(spark, n_docs: int, batch_no: int):
    """Deterministic distinct batch: page text from the webtext
    generator with a per-batch seed, ids offset so batches never
    collide."""
    pages = generate_webtext_spark(
        spark, n_pages=n_docs, seed=1000 + batch_no, n_domains=n_docs // 8
    )
    return pages.select(
        (
            F.monotonically_increasing_id() + batch_no * 10_000_000
        ).alias("doc_id"),
        "text",
    )


def one_sequence(spark, batch_docs: int, k: int):
    steps = []
    index = LshIndex(
        buckets=spark.createDataFrame([], "id long, band int, bucket long"),
        grams=spark.createDataFrame([], "id long, hs array<long>"),
    )
    for step in range(k):
        batch = make_batch(spark, batch_docs, step).persist()
        n_batch = batch.count()  # materialize outside the timed region
        t0 = time.perf_counter()
        pairs, delta = minhash_lsh_pairs_incremental(
            batch, index, num_hashes=64, bands=16
        )
        n_pairs = pairs.count()
        dt = time.perf_counter() - t0
        # grow + materialize the index outside the timed region, as a
        # production ingest would persist it between snapshots.
        # localCheckpoint truncates the deepening union lineage AND
        # lets the previous generation unpersist — without both, the
        # harness accumulates k overlapping cached copies and measures
        # its own memory pressure instead of the ingest
        old = index
        merged = old.union(delta)
        index = LshIndex(
            merged.buckets.localCheckpoint(eager=True),
            merged.grams.localCheckpoint(eager=True),
        )
        n_index = index.grams.count()
        for df in (old.buckets, old.grams):
            try:
                df.unpersist()
            except Exception:
                pass
        release_caches(None)  # operator-internal persists (all scopes)
        batch.unpersist()
        steps.append(
            {
                "step": step,
                "batch_docs": n_batch,
                "index_docs_after": n_index,
                "pairs": n_pairs,
                "sec": round(dt, 3),
            }
        )
    for df in (index.buckets, index.grams):
        df.unpersist()
    return steps


def one_sequence_bucketed(spark, batch_docs: int, k: int):
    """Same protocol, but the index lives as the BUCKETED tables
    save_lsh_index writes (sorted on the probe key): each step probes
    the on-disk table, then appends the delta and rewrites — the
    production snapshot cycle. The timed region is the ingest only;
    the rewrite is the untimed between-snapshots maintenance (at scale
    an append into the bucketed layout, not a rewrite). The point vs
    the in-memory sequence: per-ingest index-side work is one
    streaming scan of presorted buckets — no shuffle, no sort — so the
    per-step slope is the scan, not the r4-measured shuffle+sort
    term."""
    from ballet_spark.operators.dedup import load_lsh_index, save_lsh_index

    steps = []
    index = LshIndex(
        buckets=spark.createDataFrame([], "id long, band int, bucket long"),
        grams=spark.createDataFrame([], "id long, hs array<long>"),
    )
    save_lsh_index(index, "stress_lsh", n_buckets=16)
    for step in range(k):
        disk_index = load_lsh_index(spark, "stress_lsh")
        batch = make_batch(spark, batch_docs, step).persist()
        n_batch = batch.count()
        t0 = time.perf_counter()
        pairs, delta = minhash_lsh_pairs_incremental(
            batch, disk_index, num_hashes=64, bands=16
        )
        n_pairs = pairs.count()
        dt = time.perf_counter() - t0
        # untimed maintenance: fold the delta into the bucketed tables
        merged = LshIndex(
            disk_index.buckets.unionByName(delta.buckets).localCheckpoint(
                eager=True
            ),
            disk_index.grams.unionByName(delta.grams).localCheckpoint(
                eager=True
            ),
        )
        save_lsh_index(merged, "stress_lsh", n_buckets=16)
        n_index = spark.table("stress_lsh_grams").count()
        release_caches(None)
        batch.unpersist()
        steps.append(
            {
                "step": step,
                "batch_docs": n_batch,
                "index_docs_after": n_index,
                "pairs": n_pairs,
                "sec": round(dt, 3),
            }
        )
    for t in ("stress_lsh_buckets", "stress_lsh_grams"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    return steps


def main():
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    batch_docs = int(pos[0]) if len(pos) > 0 else 25_000
    k = int(pos[1]) if len(pos) > 1 else 6
    reps = int(pos[2]) if len(pos) > 2 else 3
    bucketed = "--bucketed" in sys.argv
    spark = get_spark(app_name="incremental_index_stress")
    # worker warmup (pandas UDF import storm must not land in step 0)
    make_batch(spark, 512, 999).count()
    minhash_lsh_pairs_incremental(
        make_batch(spark, 512, 998),
        LshIndex(
            buckets=spark.createDataFrame([], "id long, band int, bucket long"),
            grams=spark.createDataFrame([], "id long, hs array<long>"),
        ),
    )[0].count()
    release_caches(None)

    seq = one_sequence_bucketed if bucketed else one_sequence
    runs = [seq(spark, batch_docs, k) for _ in range(reps)]
    best = []
    for step in range(k):
        draws = [r[step]["sec"] for r in runs]
        row = dict(runs[0][step])
        row["sec"] = min(draws)
        row["draws"] = draws
        best.append(row)
    base = best[0]["sec"]
    for row in best:
        row["vs_step0"] = round(row["sec"] / base, 2)
    print(json.dumps({"batch_docs": batch_docs, "k": k, "reps": reps,
                      "mode": "bucketed" if bucketed else "memory",
                      "steps": best}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
