"""The benchmark's workloads: one closed-loop op each, driven by the
benchmark's single client thread.

Every op calls the engine through module attributes (``materialize.
materialize``, ``asof.asof_join`` ...) so a traced run can wrap those
attributes with spans. ``op`` returns the digests of its sinks;
``outcome`` turns them, untimed, into ``(units, digest)``: the row
count the throughput metric divides by, and an order-insensitive
digest of the op's outputs that must repeat exactly from op to op.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from types import SimpleNamespace as Inputs

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import ballet_spark.cache as cache
import ballet_spark.core as core
import ballet_spark.operators.asof as asof
import ballet_spark.operators.components as components
import ballet_spark.operators.dedup as dedup
import ballet_spark.plans.materialize as materialize
import ballet_spark.plans.skew as skew
from ballet_spark.operators.encoders import TargetEncoder
from ballet_spark.operators.fitted import StandardScaler
from ballet_spark.functions.text import char_count, punct_ratio, quality_score, token_count
from ballet_spark.operators.base import SparkFunctionTransformer as Fn
from ballet_spark.operators.sessionize import SessionId
from ballet_spark.operators.window_ops import (
    CumAgg,
    Delta,
    ForwardFill,
    Lag,
    Rolling,
    SnapshotIndex,
    TimeSinceLast,
)

import corpus
import reference

SNAPSHOT = "s0"
MINHASH_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.95
# SRP LSH sized to the corpus: 2^6 buckets of ~78 vectors per table at
# 5k vectors; a planted pair (cosine ~0.99) shares no bucket in any of
# the 10 tables with probability ~(1 - 0.76)^10 < 1e-6
EMB_PLANES, EMB_TABLES = 6, 10
# the training-set fit sees only the probes before this time
FIT_CUTOFF = "2024-03-01 00:00:00"
# domains that take salted_running_agg's head path
HEAD_DOMAINS = 3


def backfill_features() -> list:
    """The 12-feature webtext pipeline of ``bench._backfill_matrix``:
    text expressions plus lag, delta, rolling, cumulative, ffill,
    snapshot index, gap and session windows over (url, warc_ts)."""
    F_ = core.Feature
    return [
        F_("text", Fn(char_count), output="n_chars"),
        F_("text", Fn(token_count), output="n_tokens"),
        F_("text", Fn(punct_ratio), output="punct_r"),
        F_("text", Fn(quality_score), output="quality"),
        F_("text_len", Lag(1), output="len_lag1"),
        F_("text_len", Delta(1), output="len_delta"),
        F_("text_len", Rolling("mean", 5), output="len_roll5"),
        F_("text_len", CumAgg("sum"), output="len_cum"),
        F_("lang", ForwardFill(), output="lang_ffill"),
        F_("url", SnapshotIndex(), output="snap_idx"),
        F_("url", TimeSinceLast(), output="gap_s"),
        F_("url", SessionId(gap_s=24 * 3600), output="session_id"),
    ]


FEATURES = [f.alias for f in backfill_features()]


def training_features() -> list:
    """The training set's columns: the label, the matched snapshot's
    time and length, the domain's running stats, two scaled features
    and a target encoding of the url's domain. Both fitted transformers
    fit eagerly, each with its own Spark jobs over the as-of join."""
    F_ = core.Feature
    return [
        F_("label", None, output="y"),
        F_("__matched_ts", None, output="matched_ts"),
        F_("n_chars", None, output="n_chars"),
        F_(["run_count", "run_sum", "run_max"], None, output="domain_run"),
        F_(["quality", "len_delta"], StandardScaler(), output="z"),
        F_("domain", TargetEncoder(), output="domain_te"),
    ]


def digest(df) -> tuple[int, int]:
    """(row count, order-insensitive sum of per-row xxhash64) in one job.
    Doubles are rounded to 9 places first: a fitted mean or deviation
    may differ in its last bits with the order partial sums arrive in."""
    cols = [
        F.round(c, 9) if t == "double" else F.col(c) for c, t in df.dtypes
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("d"),
    ).first()
    return int(row["n"]), int(row["d"] or 0)


def live_handles(spark) -> int:
    """Operator-registered persisted frames plus the persistent RDDs
    that back cached frames. Unnamed RDD persists (local checkpoints)
    are left out: the context cleaner frees them whenever the JVM
    collects garbage, so their count does not repeat from run to run."""
    tracked = sum(len(v) for v in cache._PERSISTED.values())
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return tracked + sum(1 for r in rdds if r.name() is not None)


def clear_caches(spark) -> None:
    cache.release_caches(None)
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist()


class Workload:
    """Reads its seeded inputs (``corpus.INPUTS``) from the cache at
    construction; ``start`` binds the session and the tracer."""

    name: str

    def __init__(self, cache_: corpus.Cache, seed: int, work: str):
        self.work = work
        self.cur = self.inputs({
            name: cache_.get(name, seed, size)
            for name, size in corpus.INPUTS[self.name].items()
        })

    def start(self, spark, tracer) -> None:
        self.spark = spark
        self.span = tracer.span


class Backfill(Workload):
    """Writes, then builds a training set from what it wrote:
    materialize the 12-feature point-in-time matrix (per-unit and
    per-feature lineage digests) into a fresh root, read it back with
    ``read_matrix``, as-of join the seeded label probes to it, add
    per-domain running stats with ``salted_running_agg`` (the Zipf-hot
    domains take the head path), then fit the training transformers
    on the probes before ``FIT_CUTOFF`` and apply them to every probe."""

    name = "backfill"
    unit = "feature-matrix rows written"
    root = None  # the newest matrix, kept for the reference check

    @staticmethod
    def inputs(t: dict) -> Inputs:
        (pages, side), (probes, pside) = t["pages"], t["probes"]
        return Inputs(
            pages=pages, probes=probes, sources=[pages, probes], rows=side["rows"] + pside["rows"]
        )

    def op(self, tag: str):
        spark = self.spark
        root = os.path.join(self.work, f"matrix-{tag}")
        pages = spark.read.parquet(self.cur.pages).withColumn(
            "text_len", F.length("text").cast("double")
        )
        with self.span("sink"):
            materialize.materialize(
                spark, pages, backfill_features(), os.path.join(root, "m"),
                os.path.join(root, "lineage"), SNAPSHOT,
                feature_lineage_path=os.path.join(root, "feature_lineage"),
            )
        training_set = self.training_set(os.path.join(root, "m"))
        with self.span("sink"):
            label_digest = digest(training_set)
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = root
        return label_digest

    def outcome(self, sink) -> tuple[int, tuple]:
        """Rows written and the lineage digests, read from the lineage
        files without Spark so the check adds no jobs."""
        rows = pq.read_table(os.path.join(self.root, "lineage")).column("row_count")
        feats = pq.read_table(os.path.join(self.root, "feature_lineage")).to_pylist()
        lineage = sorted((r["feature"], r["unit"], r["digest"]) for r in feats)
        return int(sum(rows.to_pylist())), (tuple(lineage), sink)

    def training_set(self, matrix_path: str):
        """The labelled probes with their domain's running stats and the
        fitted features, fitted on the probes before ``FIT_CUTOFF``."""
        labelled = self.asof_labels(matrix_path).withColumn("domain", F.split("url", "/")[2])
        stats = skew.salted_running_agg(
            labelled, key="domain", time_col="ts", value_col="n_chars",
            aggs=("count", "sum", "max"), top_k=HEAD_DOMAINS,
        )
        # the running stats are not fitted, so the fit reads the labelled
        # rows without them
        train = labelled.filter(F.col("ts") < F.lit(FIT_CUTOFF).cast("timestamp"))
        pipe = core.FeatureEngineeringPipeline(training_features(), time_col="ts")
        return pipe.fit(train, y="label").transform(stats)

    def asof_labels(self, matrix_path: str):
        """Each label probe with the features of its url as of the probe."""
        m = materialize.read_matrix(self.spark, matrix_path, snapshot=SNAPSHOT).select(
            "url", "warc_ts", *FEATURES
        )
        probes = self.spark.read.parquet(self.cur.probes)
        return asof.asof_join(probes, m, on="url", left_ts="ts", right_ts="warc_ts")

    def training_rows(self) -> list:
        """(url, ts, matched snapshot ts, n_chars, running count, sum and
        max of n_chars) per training row, for the reference check."""
        t = self.training_set(os.path.join(self.root, "m"))
        return t.select(
            "url", F.unix_micros("ts"), F.unix_micros("matched_ts"), "n_chars",
            "domain_run_0", "domain_run_1", "domain_run_2",
        ).collect()

    def check(self) -> list[str]:
        return reference.check_backfill(self)

    def trace_extras(self) -> dict:
        """Share of the training rows whose domain takes the head path
        of ``salted_running_agg``: the ``HEAD_DOMAINS`` busiest ones."""
        urls = pq.read_table(self.cur.probes, columns=["url"]).column("url").to_pylist()
        counts = Counter(u.split("/")[2] for u in urls)
        head = sorted(counts.values(), reverse=True)[:HEAD_DOMAINS]
        return {
            "dedup.lsh_verified_per_candidate": 0.0,
            "skew.head_row_share": sum(head) / len(urls),
        }


class Curation(Workload):
    """Python boundary: MinHash-LSH near-duplicate pairs (mapInArrow
    kernel) reduced to canonical docs through connected components,
    and embedding near-duplicate pairs (SRP LSH plus applyInPandas
    verify). The op collects the kept doc ids and the embedding pairs."""

    name = "curation"
    unit = "input docs deduplicated"

    @staticmethod
    def inputs(t: dict) -> Inputs:
        (docs, side), (emb, eside) = t["docs"], t["embeddings"]
        return Inputs(
            docs=docs, emb=emb, sources=[docs, emb], rows=side["rows"] + eside["rows"],
            n_docs=side["rows"], planted_docs=side["planted"], planted_emb=eside["planted"],
        )

    def op(self, tag: str):
        docs = self.spark.read.parquet(self.cur.docs)
        pairs = dedup.minhash_lsh_pairs(
            docs, id_col="doc_id", text_col="text", threshold=MINHASH_THRESHOLD
        )
        canon = components.canonical_docs(docs, pairs, id_col="doc_id")
        with self.span("sink"):
            kept = canon.select("doc_id").collect()
        emb = dedup.embedding_neardup_pairs(
            self.spark.read.parquet(self.cur.emb), id_col="vec_id", vec_col="embedding",
            threshold=COSINE_THRESHOLD, n_planes=EMB_PLANES, n_tables=EMB_TABLES,
        )
        with self.span("sink"):
            emb_pairs = emb.select("id_a", "id_b").collect()
        return kept, emb_pairs

    def outcome(self, sink) -> tuple[int, tuple]:
        """The kept doc ids and embedding pairs, also kept for the check."""
        kept, emb_pairs = sink
        self.kept = frozenset(r[0] for r in kept)
        self.emb_pairs = frozenset((r[0], r[1]) for r in emb_pairs)
        return self.cur.n_docs, (self.kept, self.emb_pairs)

    def check(self) -> list[str]:
        return reference.check_curation(self)

    def trace_extras(self) -> dict:
        """Verified MinHash pairs per LSH candidate pair; no training rows."""
        counts = []
        for verify in (False, True):
            docs = self.spark.read.parquet(self.cur.docs)
            counts.append(dedup.minhash_lsh_pairs(
                docs, id_col="doc_id", text_col="text", threshold=MINHASH_THRESHOLD,
                verify_exact=verify,
            ).count())
            clear_caches(self.spark)
        cand, verified = counts
        return {
            "dedup.lsh_verified_per_candidate": verified / cand if cand else 0.0,
            "skew.head_row_share": 0.0,
        }


WORKLOADS = {"backfill": Backfill, "curation": Curation}
