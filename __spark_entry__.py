"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises a ballet_spark engine operator
(SURVEY.md §2) against the driver's parquet tables; ``oracle_sql()``
holds the equivalent DuckDB SQL. Column names/aliases match pairwise so
the driver's order-insensitive value-hash comparison is meaningful.

Floating aggregates are rounded to 4 decimals on BOTH sides to absorb
summation-order differences between engines; timestamps are emitted as
epoch-second bigints to sidestep timezone-representation differences.
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


_SHIPPED = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """The driver may hand us ITS OWN SparkSession (not built by
    ballet_spark.session.get_spark), in which case the package was
    never shipped to executor Python workers — every query with a
    Python kernel would fail with ModuleNotFoundError. Ship once per
    session.

    Keyed on applicationId, not ``id(sparkContext)`` — after a
    stop/start cycle CPython can hand the freed object's id to the new
    context, which would skip the ship for a brand-new cluster. Also
    pins the session timezone to UTC: string→timestamp literal casts
    (q1's shipdate bound) happen in SESSION-LOCAL time, and the DuckDB
    oracles compare against naive UTC timestamps."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        from ballet_spark.session import ship_package

        ship_package(spark)
    except Exception:
        return  # transient (e.g. zip I/O) — retry on the next query
    _SHIPPED.add(key)  # only mark success, so failures are retried


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_shipped(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _sround(col, d: int):
    """Engine-stable rounding: sign(x)·floor(|x|·10^d + 0.5)/10^d in
    pure double arithmetic. `round()` implementations legitimately
    disagree on the SAME double at .xxx5 boundaries (Spark rounds the
    exact binary expansion via BigDecimal HALF_UP; DuckDB multiplies
    by 10^d first, whose float error can cross the boundary) —
    observed flipping one value at sf0.01. When the input double is
    already engine-identical (exact decimal sums), this expression
    makes the rounded output engine-identical too; the oracle spells
    out the same formula. NaN/NULL propagate; 10^d must stay within
    exact-double range (d ≤ 15)."""
    col = col.cast("double")
    s = float(10**d)
    return F.signum(col) * F.floor(F.abs(col) * s + F.lit(0.5)) / s


# Deterministic 5-word positional chunking of a pre-tokenized array
# column `__ftoks`, chunks joined by newlines — shared by the three
# sub-document-granularity queries (dedup_paragraphs_docs,
# remove_frequent_segments_docs, curation_pipeline_v2) and replayed
# verbatim by their DuckDB oracles.
_SEG5_EXPR = (
    "array_join(CASE WHEN size(__ftoks) = 0 THEN array() ELSE "
    "transform(sequence(0, cast(ceil(size(__ftoks) / 5.0) as int) - 1),"
    " i -> concat_ws(' ', slice(__ftoks, i * 5 + 1, 5))) END, '\\n')"
)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time feature matrix over the events timeline
    (entity=user_id, time=ts): lag, rolling mean, forward-fill and
    session id in ONE window pass, engine-compiled."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.base import SparkFunctionTransformer
    from ballet_spark.operators.sessionize import SessionId
    from ballet_spark.operators.window_ops import ForwardFill, Lag, Rolling

    ev = _t(spark, "/root/testdata/sf0.001", "events").withColumn(
        "v_or_null",
        F.when(F.col("event_type") != "error", F.col("value")),
    )
    feats = [
        Feature("value", SparkFunctionTransformer(lambda c: c), output="value"),
        Feature("value", Lag(1), output="value_lag1"),
        Feature("value", Rolling("mean", 5), output="value_roll5"),
        Feature("v_or_null", ForwardFill(), output="value_ffill"),
        Feature("value", SessionId(gap_s=1800), output="session_id"),
    ]
    pipe = FeatureEngineeringPipeline(feats, entity_col="user_id", time_col="ts")
    return pipe.fit(ev).transform(ev)


# ---------------------------------------------------------------------------
# relational / aggregation (Catalyst-native operators)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style multi-agg (hash agg, partial+final)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_top_revenue_orders(spark, sf_dir):
    """3-way join + agg + deterministic top-10 (broadcastable dims)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .select(
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def agg_by_nation(spark, sf_dir):
    """Join chain with two broadcast dims + grouped aggregates."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


def topk_docs_per_source(spark, sf_dir):
    """Top-3 per group via ranking window (SURVEY.md §2.6 top-k)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select("source", "doc_id", "n_chars", "rank")
    )


# ---------------------------------------------------------------------------
# window / time-series operators (engine window_ops)
# ---------------------------------------------------------------------------


def window_lag_delta(spark, sf_dir):
    """Lag + delta via engine Feature pipeline (E16, skits difference)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.window_ops import Delta, Lag

    ev = _t(spark, sf_dir, "events")
    feats = [
        Feature("value", Lag(1), output="value_lag1"),
        Feature("value", Delta(1), output="value_delta1"),
    ]
    pipe = FeatureEngineeringPipeline(feats, entity_col="user_id", time_col="ts")
    out = pipe.fit(ev).transform(ev)
    ev_keys = ev.select("user_id", "ts", "event_id")
    return (
        out.join(ev_keys, ["user_id", "ts"])
        .select(
            "event_id",
            F.round("value_lag1", 4).alias("value_lag1"),
            F.round("value_delta1", 4).alias("value_delta1"),
        )
    )


def rolling_mean_5(spark, sf_dir):
    """Trailing 5-row mean per user (skits RollingMeanTransformer)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.window_ops import Rolling

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", Rolling("mean", 5), output="roll5")],
        entity_col="user_id",
        time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("roll5", 4).alias("roll5"))
    )


def forward_fill(spark, sf_dir):
    """last(ignorenulls) forward-fill backfill (E15 / north rule)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.window_ops import ForwardFill

    ev = _t(spark, sf_dir, "events").withColumn(
        "v_or_null", F.when(F.col("event_type") != "error", F.col("value"))
    )
    pipe = FeatureEngineeringPipeline(
        [Feature("v_or_null", ForwardFill(), output="v_ffill")],
        entity_col="user_id",
        time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("v_ffill", 4).alias("v_ffill"))
    )


def cumulative_stats(spark, sf_dir):
    """Expanding sum/count per user through each event (CumAgg)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.window_ops import CumAgg, SnapshotIndex

    ev = _t(spark, sf_dir, "events")
    feats = [
        Feature("value", CumAgg("sum"), output="cum_sum"),
        Feature("value", SnapshotIndex(), output="event_idx"),
    ]
    pipe = FeatureEngineeringPipeline(feats, entity_col="user_id", time_col="ts")
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("cum_sum", 4).alias("cum_sum"), "event_idx")
    )


def sessionize_30m(spark, sf_dir):
    """Gap-based sessionization, 30-minute threshold."""
    from ballet_spark.operators.sessionize import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev, "user_id", "ts", gap_s=1800).select(
        "event_id", "session_id"
    )


def session_stats_30m(spark, sf_dir):
    """Per-session rollup (bounds, size, duration)."""
    from ballet_spark.operators.sessionize import session_stats

    ev = _t(spark, sf_dir, "events")
    s = session_stats(ev, "user_id", "ts", gap_s=1800)
    return s.select(
        "user_id",
        "session_id",
        F.unix_timestamp("session_start").alias("start_epoch"),
        F.unix_timestamp("session_end").alias("end_epoch"),
        "n_events",
        "duration_s",
    )


def asof_join_purchase(spark, sf_dir):
    """Point-in-time as-of join: each click sees the latest purchase
    value of the same user at/before its timestamp (union+window SMJ)."""
    from ballet_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="pts",
        value_cols=["purchase_value"],
    )
    return out.select(
        "event_id",
        F.round("purchase_value", 4).alias("purchase_value"),
        F.unix_timestamp("__matched_ts").alias("matched_epoch"),
    )


def groupwise_mean_impute(spark, sf_dir):
    """Groupwise fitted imputation (E4): per-user mean learned once,
    applied via broadcast params join."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.fitted import Groupwise, SimpleImputer

    ev = _t(spark, sf_dir, "events").withColumn(
        "v_or_null", F.when(F.col("event_type") != "error", F.col("value"))
    )
    pipe = FeatureEngineeringPipeline(
        [
            Feature(
                "v_or_null",
                Groupwise(SimpleImputer("mean"), by="user_id", handle_unknown="ignore"),
                output="v_imp",
            )
        ],
        entity_col="user_id",
        time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("v_imp", 4).alias("v_imp"))
    )


def standard_scale_value(spark, sf_dir):
    """Global fitted scaler (sklearn StandardScaler semantics)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.fitted import StandardScaler

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", StandardScaler(), output="v_std")],
        entity_col="user_id",
        time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("v_std", 4).alias("v_std"))
    )


def target_encode_source(spark, sf_dir):
    """Smoothed target encoding of documents.source with a derived
    binary label (category_encoders TargetEncoder semantics)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.encoders import TargetEncoder

    docs = _t(spark, sf_dir, "documents").withColumn(
        "y", (F.col("n_chars") > 250).cast("double")
    )
    pipe = FeatureEngineeringPipeline(
        [Feature("source", TargetEncoder(), output="src_te")],
        entity_col="doc_id",
        time_col="doc_id",
    )
    out = pipe.fit(docs, y="y").transform(docs)
    return out.select(
        F.col("doc_id"), F.round("src_te", 4).alias("src_te")
    )


def count_encode_lang(spark, sf_dir):
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.encoders import CountEncoder

    docs = _t(spark, sf_dir, "documents")
    pipe = FeatureEngineeringPipeline(
        [Feature("lang", CountEncoder(), output="lang_n")],
        entity_col="doc_id",
        time_col="doc_id",
    )
    out = pipe.fit(docs).transform(docs)
    return out.select("doc_id", F.col("lang_n").cast("bigint").alias("lang_n"))


# ---------------------------------------------------------------------------
# text analysis / dedup / similarity (training-data pipeline ops)
# ---------------------------------------------------------------------------


def token_stats_by_lang(spark, sf_dir):
    """Per-language token statistics (text kernels, JVM-side)."""
    docs = _t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ", -1))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(n_tokens), 4).alias("avg_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max(n_tokens).cast("bigint").alias("max_tokens"),
    )


def quality_scores(spark, sf_dir):
    """Document quality heuristic (length/digit/punct composite)."""
    from ballet_spark.functions.text import quality_score

    from ballet_spark.cache import spread_small_input

    # single-small-file inputs otherwise run the whole regex-heavy
    # scoring scan on 1-2 tasks (no-op on real multi-split tables)
    docs = spread_small_input(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", quality_score(F.col("text")).alias("quality"))


def lang_id_heuristic(spark, sf_dir):
    """Stopword-voting language ID (n-gram heuristic, Arrow kernel)."""
    from ballet_spark.functions.text import lang_id_col

    from ballet_spark.cache import spread_small_input

    docs = spread_small_input(_t(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", lang_id_col(F.col("text")).alias("lang_pred"))


def dedup_exact(spark, sf_dir):
    """Exact dedup by content hash (hash-groupBy)."""
    from ballet_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def ngram_jaccard_dups(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs ≥ 0.1 with EXPLICIT
    doc-frequency pruning (max_df=1000): grams in >1000 docs are
    dropped before the self-join so no hot gram can go quadratic. The
    oracle mirrors the pruning (HAVING count(*) <= 1000)."""
    from ballet_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.1, n=3, max_df=1000
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def minhash_lsh_dups(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs, exact-verified at Jaccard ≥
    0.8 (64 hashes × 16 bands of 4 ⇒ recall ≥ 0.9998 at s=0.8, →1
    above; candidate rate for the ~0.1-similar background corpus is
    ~0.16%, keeping the bucket join linear-ish). Oracle: the exact
    n-gram Jaccard pair set at the same threshold — valid because this
    corpus's >=0.8 pairs sit at s >= 0.9 where the LSH miss probability
    is ~5e-8; pytest additionally verifies recall on planted
    near-duplicates."""
    from ballet_spark.operators.dedup import minhash_lsh_pairs

    out = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=64, bands=16, threshold=0.8, shingle_n=3,
    )
    return out.select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def incremental_minhash_dups(spark, sf_dir):
    """Two-snapshot incremental ingest: seed the persistent LSH index
    with even doc_ids, then dedup the odd batch against itself AND the
    index (never re-shingling snapshot 1). The pytest equivalence test
    proves incremental == one-shot, so the oracle is the SAME exact
    n-gram Jaccard pair set as `minhash_lsh_dups` — a pair split
    across the snapshot boundary must still be found."""
    from ballet_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    docs = _t(spark, sf_dir, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    idx = minhash_lsh_index(first, num_hashes=64, bands=16)
    p1 = minhash_lsh_pairs(first, num_hashes=64, bands=16, threshold=0.8)
    p2, _ = minhash_lsh_pairs_incremental(
        second, idx, num_hashes=64, bands=16, threshold=0.8
    )
    both = p1.select("id_a", "id_b", "jaccard").unionByName(
        p2.select("id_a", "id_b", "jaccard")
    )
    return both.select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        F.round("jaccard", 4).alias("jaccard"),
    )


def incremental_exact_dedup(spark, sf_dir):
    """Two-snapshot exact-dedup ingest (even doc_ids first, then odd):
    a row survives iff its content was never seen — in the prior
    snapshot's hash table or earlier (min id) in its own batch. The
    oracle replays the precedence in SQL."""
    from ballet_spark.operators.dedup import exact_dedup_incremental

    docs = _t(spark, sf_dir, "documents")
    empty = spark.createDataFrame([], "content_md5 string")
    k1, h1 = exact_dedup_incremental(docs.filter(F.col("doc_id") % 2 == 0), empty)
    k2, _ = exact_dedup_incremental(
        docs.filter(F.col("doc_id") % 2 == 1), empty.unionByName(h1)
    )
    both = k1.select("doc_id").unionByName(k2.select("doc_id"))
    return both.select(F.col("doc_id").cast("bigint").alias("doc_id"))


def simhash_dups(spark, sf_dir):
    """SimHash near-dup pairs (hamming ≤ 10 of 64 bits). Token hash is
    md5-first-8-bytes, reproducible in DuckDB, so the oracle recomputes
    the full simhash + brute-force hamming pair set in SQL; the Spark
    side's pigeonhole banding (11 chunks) is exact — no false negatives
    at hamming ≤ 10 — so both sides produce the identical pair set."""
    from ballet_spark.operators.dedup import simhash_dup_pairs

    out = simhash_dup_pairs(_t(spark, sf_dir, "documents"), max_hamming=10)
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def embedding_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the 20 lowest vec_ids
    (broadcast query side, one corpus scan, window rank)."""
    from ballet_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk(emb, queries, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    )


def embedding_neardups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.5) via the
    DEFAULT band-OR SRP LSH path (8 planes × 16 tables, equi-key
    self-join — never all-pairs). The oracle embeds the identical
    seeded hyperplanes and mirrors the candidate generation, so both
    engines compute the same deterministic candidate set before the
    exact cosine filter; pytest separately asserts ≥0.95 recall on
    planted near-duplicates."""
    from ballet_spark.operators.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_neardup_pairs(
        emb, threshold=0.5, dim=64, n_planes=8, n_tables=16, seed=42
    )
    return out.select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))


def semi_anti_join(spark, sf_dir):
    """Left-semi/anti joins (SURVEY.md §2.6): customers with and
    without orders, tagged."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    with_orders = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
    without = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
    return with_orders.select(
        "c_custkey", F.lit("has_orders").alias("tag")
    ).unionByName(without.select("c_custkey", F.lit("no_orders").alias("tag")))


def union_distinct_values(spark, sf_dir):
    """Row-wise union + distinct (§2.6)."""
    ev = _t(spark, sf_dir, "events").select(F.col("event_type").alias("v"))
    docs = _t(spark, sf_dir, "documents").select(F.col("lang").alias("v"))
    return ev.unionByName(docs).distinct()


def distinct_counts(spark, sf_dir):
    """Exact distinct counts (V14 countunique)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("event_type").alias("n_types"),
        F.count_distinct("user_id", "event_type").alias("n_user_types"),
    )


def rollup_orders(spark, sf_dir):
    """ROLLUP grouping sets (§2.6 gap list)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
        )
    )


def pivot_event_values(spark, sf_dir):
    """Pivot event_type → per-user sums (§2.6)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.round(F.sum("value"), 4))
    )
    return out.select(
        "user_id", *[F.col(t).alias(f"sum_{t}") for t in types]
    )


def range_join_next_hour(spark, sf_dir):
    """Range/interval join (§2.6): count of same-user events within the
    hour AFTER each event (exclusive start, inclusive end)."""
    ev = _t(spark, sf_dir, "events")
    a = ev.select("event_id", "user_id", "ts")
    b = ev.select(F.col("user_id").alias("u2"), F.col("ts").alias("ts2"))
    joined = a.join(
        b,
        (F.col("user_id") == F.col("u2"))
        & (F.col("ts2") > F.col("ts"))
        & (F.col("ts2") <= F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count(F.col("ts2")).alias("n_next_hour")
    )


def rolling_time_1h(spark, sf_dir):
    """Time-based trailing window (RollingRange): mean value over the
    preceding hour, inclusive."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.window_ops import RollingRange

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", RollingRange("mean", 3600), output="r1h")],
        entity_col="user_id",
        time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("r1h", 4).alias("r1h"))
    )


def multi_lag_value(spark, sf_dir):
    """FeatureUnion of laggers (C7/E17) — three lags, one WindowSpec."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.window_ops import MultiLag

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", MultiLag([1, 2, 3]), output="ml")],
        entity_col="user_id",
        time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select(
            "event_id",
            F.round("ml_0", 4).alias("lag1"),
            F.round("ml_1", 4).alias("lag2"),
            F.round("ml_2", 4).alias("lag3"),
        )
    )


def asof_tolerance_join(spark, sf_dir):
    """As-of join with a 6-hour tolerance: stale matches are nulled."""
    from ballet_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("pv")
    )
    out = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="pts",
        value_cols=["pv"], tolerance_s=6 * 3600,
    )
    return out.select("event_id", F.round("pv", 4).alias("pv"))


def fitted_minmax(spark, sf_dir):
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.fitted import MinMaxScaler

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", MinMaxScaler(), output="v_mm")],
        entity_col="user_id", time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("v_mm", 4).alias("v_mm"))
    )


def fitted_winsorize(spark, sf_dir):
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.fitted import Winsorizer

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", Winsorizer(0.05, 0.95), output="v_w")],
        entity_col="user_id", time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("v_w", 4).alias("v_w"))
    )


def fitted_kbins(spark, sf_dir):
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.fitted import KBinsDiscretizer

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", KBinsDiscretizer(4, "quantile"), output="v_bin")],
        entity_col="user_id", time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.col("v_bin").cast("int").alias("v_bin"))
    )


def groupwise_scale(spark, sf_dir):
    """Groupwise fitted scaler: per-event-type standardization via the
    broadcast params join (E4 with a scaler inner)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.fitted import Groupwise, StandardScaler

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [
            Feature(
                "value",
                Groupwise(StandardScaler(), by="event_type", handle_unknown="ignore"),
                output="v_gs",
            )
        ],
        entity_col="user_id", time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("v_gs", 4).alias("v_gs"))
    )


def ordinal_encode_lang(spark, sf_dir):
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.encoders import OrdinalEncoder

    docs = _t(spark, sf_dir, "documents")
    pipe = FeatureEngineeringPipeline(
        [Feature("lang", OrdinalEncoder(), output="lang_ord")],
        entity_col="doc_id", time_col="doc_id",
    )
    out = pipe.fit(docs).transform(docs)
    return out.select("doc_id", F.col("lang_ord").alias("lang_ord"))


def embedding_lsh_topk(spark, sf_dir):
    """Multi-probe (band-OR) LSH approximate top-k: candidates = union
    of same-bucket matches over 20 independent 3-plane SRP tables,
    exact cosine re-rank (measured recall@5 = 0.99 vs exact cosine_topk
    on this fixture; pytest asserts ≥ 0.95). The oracle embeds the
    identical seeded hyperplanes and replays the candidate generation
    in SQL, so the approximate result is checked exactly."""
    from ballet_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries_ = emb.filter(F.col("vec_id") < 20)
    out = cosine_topk_lsh(
        emb, queries_, k=5, dim=64, n_planes=3, n_tables=20, seed=42
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"),
        F.round("cosine", 4).alias("cosine"),
    )


def doc_fingerprints(spark, sf_dir):
    """Rolling-hash winnowing fingerprint (Arrow kernel): min over all
    8-byte windows of the polynomial hash Σ byte·B^j mod 2^61-1. The
    oracle replays the polynomial per window in DuckDB HUGEINT
    arithmetic (the corpus is ASCII, so unicode(char) == utf-8 byte)."""
    from ballet_spark.functions.text import rolling_fingerprint_col

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint_col(F.col("text")).alias("fp")
    )


def asof_skew_split(spark, sf_dir):
    """As-of join with explicit head/tail plan splitting (hot keys take
    the broadcast path) — must equal the plain as-of join, so it shares
    the DuckDB ASOF oracle."""
    from ballet_spark.plans.skew import asof_join_skew

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("value").alias("purchase_value")
    )
    out = asof_join_skew(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="pts",
        value_cols=["purchase_value"], top_k=10,
    )
    return out.select(
        "event_id", F.round("purchase_value", 4).alias("purchase_value")
    )


def discrete_mutual_information(spark, sf_dir):
    """EXACT distributed mutual information for discrete columns
    (V2's Shannon path: one groupBy count per marginal/joint — no
    sampling, runs at any scale). MI(event_type; high_value)."""
    from ballet_spark.validation.entropy import shannon_entropy_spark

    ev = _t(spark, sf_dir, "events").withColumn(
        "high_value", (F.col("value") > 100).cast("int")
    )
    h_x = shannon_entropy_spark(ev, ["event_type"])
    h_y = shannon_entropy_spark(ev, ["high_value"])
    h_xy = shannon_entropy_spark(ev, ["event_type", "high_value"])
    mi = max(0.0, h_x + h_y - h_xy)
    return spark.createDataFrame(
        [(round(h_x, 6), round(h_y, 6), round(mi, 8))],
        "h_event_type double, h_high_value double, mi double",
    )


def ordered_target_encode(spark, sf_dir):
    """CatBoost-style ordered target encoding over event time: each
    event's category (event_type) encoded with strictly-earlier labels
    only — zero-leakage by construction (OrderedTargetEncoder). Output
    is the exact integer numerator/denominator of the encoding
    ((s*C + S), (n+1)*C): the float encoding can land exactly on
    decimal-rounding boundaries where Spark's HALF_UP BigDecimal round
    and DuckDB's float round disagree on the identical double, so the
    contract emits the exact rational instead."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.encoders import OrderedTargetEncoder

    ev = _t(spark, sf_dir, "events").withColumn(
        "y", (F.col("value") > 100).cast("double")
    )
    pipe = FeatureEngineeringPipeline(
        [Feature("event_type", OrderedTargetEncoder(y_col="y", a=1.0), output="ote")],
        entity_col="user_id",
        time_col="ts",
    )
    out = pipe.fit(ev, y="y").transform(ev)
    exact = _ote_exact(spark, sf_dir)
    # sanity-tie the operator output to the exact rational, then emit
    # the integer form (ote is bit-equal to ote_num/ote_den by
    # construction; the division is one IEEE op on exact operands)
    joined = (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .join(exact, "event_id")
        .filter(
            F.abs(F.col("ote") - F.col("ote_num") / F.col("ote_den")) < 1e-12
        )
    )
    return joined.select("event_id", "ote_num", "ote_den")


def _ote_exact(spark, sf_dir):
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events").withColumn(
        "y", (F.col("value") > 100).cast("double")
    )
    tot = ev.agg(F.sum("y").alias("S"), F.count("y").alias("C")).first()
    S, C = float(tot["S"]), float(tot["C"])
    # tie-safe strict-before: cumulative RANGE through peers minus the
    # peer group (same construction as OrderedTargetEncoder — order of
    # tied rows can never change the result)
    base = W.partitionBy("event_type").orderBy("ts")
    w_cum = base.rangeBetween(W.unboundedPreceding, W.currentRow)
    w_tie = base.rangeBetween(W.currentRow, W.currentRow)
    s_ = F.coalesce(F.sum("y").over(w_cum), F.lit(0.0)) - F.coalesce(
        F.sum("y").over(w_tie), F.lit(0.0)
    )
    n_ = (
        F.coalesce(F.count("y").over(w_cum), F.lit(0))
        - F.coalesce(F.count("y").over(w_tie), F.lit(0))
    ).cast("double")
    return ev.select(
        "event_id",
        (s_ * F.lit(C) + F.lit(S)).cast("bigint").alias("ote_num"),
        ((n_ + F.lit(1.0)) * F.lit(C)).cast("bigint").alias("ote_den"),
    )


def cube_orders(spark, sf_dir):
    """CUBE grouping sets over two dims (§2.6)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


def boxcox_value(spark, sf_dir):
    """BoxCox fitted on train skewness (E12): the per-column decision
    (|population skew| > 0.5) compiles at plan time; oracle recomputes
    the same population skewness via central moments."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.fitted import BoxCoxTransformer

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", BoxCoxTransformer(threshold=0.5), output="v_bc")],
        entity_col="user_id", time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    return (
        out.join(ev.select("user_id", "ts", "event_id"), ["user_id", "ts"])
        .select("event_id", F.round("v_bc", 4).alias("v_bc"))
    )


def _contrast_query(scheme: str, alias: str):
    """Contrast coding of lang (k=5 ⇒ 4 contrast columns) — fit
    collects the sorted category list, transform is a pure Project
    (when-chain × contrast matrix, no join). The oracle embeds the
    SAME matrix via ballet_spark.operators.encoders.contrast_matrix."""

    def q(spark, sf_dir):
        from ballet_spark.core import Feature, FeatureEngineeringPipeline
        from ballet_spark.operators.encoders import ContrastEncoder

        docs = _t(spark, sf_dir, "documents")
        pipe = FeatureEngineeringPipeline(
            [Feature("lang", ContrastEncoder(scheme), output=alias)],
            entity_col="doc_id", time_col="doc_id",
        )
        out = pipe.fit(docs).transform(docs)
        enc_cols = [c for c in out.columns if c.startswith(alias)]
        # + 0.0 normalizes IEEE negative zero: the polynomial matrix's
        # middle-category linear term is -2.9e-17, which rounds to -0.0
        # here but 0.0 in DuckDB — distinct in the value hash
        return out.select(
            "doc_id",
            *[(F.round(c, 4) + F.lit(0.0)).alias(c) for c in enc_cols],
        )

    return q


helmert_encode_lang = _contrast_query("helmert", "hel")
sum_encode_lang = _contrast_query("sum", "sc")
backward_diff_encode_lang = _contrast_query("backward_difference", "bd")
poly_encode_lang = _contrast_query("polynomial", "pc")


def horizon_targets(spark, sf_dir):
    """Multi-step-ahead label building (skits HorizonTransformer):
    leads 1..3 of value per user — explicitly whitelisted through the
    leakage guard with allow_future=True (pytest asserts the same
    pipeline WITHOUT the whitelist is rejected)."""
    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.operators.window_ops import Horizon

    ev = _t(spark, sf_dir, "events")
    pipe = FeatureEngineeringPipeline(
        [Feature("value", Horizon(3, allow_future=True), output="h")],
        entity_col="user_id", time_col="ts",
    )
    out = pipe.fit(ev).transform(ev)
    ev_keys = ev.select("user_id", "ts", "event_id")
    return out.join(ev_keys, ["user_id", "ts"]).select(
        "event_id",
        F.round("h_0", 4).alias("h_0"),
        F.round("h_1", 4).alias("h_1"),
        F.round("h_2", 4).alias("h_2"),
    )


def knn_impute_value(spark, sf_dir):
    """Approximate KNN imputation (bucketed by event_type): every 20th
    event's (integer-rounded) value is masked, then imputed as the mean
    of its 5 nearest donors by squared-euclidean distance over
    (epoch seconds, user_id), ties broken on event_id — deterministic,
    so the oracle replays the exact same neighbor selection in SQL.
    Integer-valued donors keep the mean order-independent in float64."""
    from ballet_spark.core import PipelineContext
    from ballet_spark.operators.fitted import KNNImputer

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("double").alias("uid"),
        "event_type",
        F.col("ts").cast("timestamp").cast("double").alias("t"),
        F.when(F.col("event_id") % 20 == 0, None)
        .otherwise(F.round("value", 0))
        .alias("v"),
    )
    imp = KNNImputer(
        n_neighbors=5, feature_cols=["t", "uid"], by="event_type",
        id_col="event_id",
    )
    ctx = PipelineContext(entity_col="event_type", time_col="t", point_in_time=False)
    imp.fit(ev, ["v"], ctx)
    out, _ = imp.transform_df(ev, ["v"], "v_imp", ctx)
    return out.select("event_id", F.round("v_imp", 4).alias("v_imp"))


def dfs_customer_orders(spark, sf_dir):
    """Depth-2 deep feature synthesis (featuretools DFSTransformer
    analog): orders aggregate onto customers (sum/mean/max totalprice +
    count), then the customer-level features aggregate onto nations —
    each level ONE groupBy aggregation, the stacking featuretools does
    with agg primitives."""
    from ballet_spark.operators.dfs import DFSAggFeatures

    # money flows through DECIMAL(18,2): float sums of prices are
    # order-dependent and land exactly on .xx5 rounding boundaries
    # (observed: one nation's mean flipped at sf0.01 vs the oracle);
    # decimal sums are associative, so any partitioning/engine agrees.
    # The per-capita columns divide the exact sums by the FULL customer
    # count — zero-order customers count in the denominator — and are
    # NAMED percap_* to say so (ADVICE r4: the old mean_cust_* names
    # read as avg-over-customers-with-orders). Cast to double before
    # dividing: decimal division scale rules differ per engine.
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    lvl1 = DFSAggFeatures(
        orders, "c_custkey", ["o_totalprice"],
        agg_primitives=("sum",), prefix="ord",
    ).augment(cust, "c_custkey")
    lvl2 = DFSAggFeatures(
        lvl1, "c_nationkey", ["ord_sum_o_totalprice", "ord_count"],
        agg_primitives=("sum",), count=True, prefix="cust",
    ).features()
    total = F.col("cust_sum_ord_sum_o_totalprice").cast("double")
    cnt = F.col("cust_count")
    return lvl2.select(
        "c_nationkey",
        F.round(total, 2).alias("nation_order_total"),
        F.round(total / cnt, 2).alias("percap_order_total"),
        F.round("cust_sum_ord_count", 4).alias("nation_order_cnt"),
        F.round(F.col("cust_sum_ord_count") / cnt, 4).alias("percap_order_cnt"),
        cnt.alias("n_customers"),
    )


def ts_features_user(spark, sf_dir):
    """tsfresh-FeatureAugmenter-style per-entity feature vector over
    event values: one shared (entity,time) window + one aggregation for
    the whole catalog. ``exact_sums=True``: decimal accumulation makes
    every sum/mean order-independent, so the value is IDENTICAL across
    engines and partitionings (float sums flipped a rounding boundary
    at sf0.01 — see the operator docstring)."""
    from ballet_spark.operators.dfs import ts_features

    ev = _t(spark, sf_dir, "events")
    out = ts_features(
        ev, "user_id", "ts", "value", exact_sums=True, fft_k=(0, 1, 2, 3)
    )
    # _sround, not F.round: the exact sums make the doubles identical
    # across engines, and _sround makes the ROUNDING identical too
    return out.select(
        "user_id",
        F.col("ts_length").alias("ts_length"),
        _sround(F.col("ts_mean"), 4).alias("ts_mean"),
        _sround(F.col("ts_std"), 4).alias("ts_std"),
        _sround(F.col("ts_min"), 4).alias("ts_min"),
        _sround(F.col("ts_max"), 4).alias("ts_max"),
        _sround(F.col("ts_sum"), 4).alias("ts_sum"),
        _sround(F.col("ts_abs_energy"), 2).alias("ts_abs_energy"),
        _sround(F.col("ts_mean_abs_change"), 4).alias("ts_mean_abs_change"),
        _sround(F.col("ts_first"), 4).alias("ts_first"),
        _sround(F.col("ts_last"), 4).alias("ts_last"),
        F.col("ts_n_peaks").alias("ts_n_peaks"),
        F.col("ts_count_above_mean").alias("ts_count_above_mean"),
        F.col("ts_longest_strike_above_mean")
        .cast("bigint")
        .alias("ts_longest_strike_above_mean"),
        _sround(F.col("ts_autocorr1"), 4).alias("ts_autocorr1"),
        _sround(F.col("ts_cid_ce"), 4).alias("ts_cid_ce"),
        *[
            _sround(F.col(f"ts_fft{k}_{a}"), 4).alias(f"ts_fft{k}_{a}")
            for k in (0, 1, 2, 3)
            for a in ("re", "im", "abs")
        ],
    )


def iterative_impute_value(spark, sf_dir):
    """Regression (IterativeImputer-analog) imputation: every 20th
    event's value is masked and predicted from centered OLS on
    (epoch seconds, user_id), fit via moment aggregates only. The
    2-feature normal system solves in closed form with a fixed
    operation order, so the oracle replays the identical fit in SQL."""
    from ballet_spark.core import PipelineContext
    from ballet_spark.operators.fitted import IterativeImputer

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("double").alias("uid"),
        F.col("ts").cast("timestamp").cast("double").alias("t"),
        F.when(F.col("event_id") % 20 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
    )
    imp = IterativeImputer(feature_cols=["t", "uid"], max_iter=1)
    ctx = PipelineContext(entity_col="event_id", time_col="t", point_in_time=False)
    imp.fit(ev, ["v"], ctx)
    out, _ = imp.transform_df(ev, ["v"], "v_imp", ctx)
    return out.select("event_id", F.round("v_imp", 4).alias("v_imp"))


def dedup_components(spark, sf_dir):
    """Near-duplicate clusters: MinHash+LSH candidate pairs, exact-
    verified at Jaccard ≥ 0.8, resolved to connected components (every
    clustered doc → the min doc_id of its cluster) — the full
    pairs→canonical-representative pipeline every dedup run ends with,
    with the LINEAR candidate generator feeding the cluster step (the
    exact all-shared-gram self-join would do the same pairs at
    quadratic hot-gram cost). Min-label propagation with pointer
    jumping: one Spark job per round, O(log diameter) rounds. Oracle:
    recursive-CTE transitive closure over the exact Jaccard ≥ 0.8 pair
    set (same equivalence argument as `minhash_lsh_dups`: at this
    corpus's similarity profile LSH misses ~5e-8 of qualifying
    pairs)."""
    from ballet_spark.operators.components import connected_components
    from ballet_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=64, bands=16, threshold=0.8, shingle_n=3,
    )
    comp = connected_components(pairs)
    return comp.select(F.col("id").alias("doc_id"), "component")


def url_parse_docs(spark, sf_dir):
    """URL parsing kernels (host / www-stripped domain / path depth /
    query param / scheme) over deterministic per-doc URLs — all pure
    JVM parse_url/regex expressions that fuse into the scan stage.
    The oracle rebuilds the same URLs and extracts with regexes."""
    from ballet_spark.functions.url import (
        is_https,
        path_depth,
        registrable_domain,
        url_host,
        url_query_param,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url",
        F.concat(
            F.when(F.col("doc_id") % 4 == 0, F.lit("http://")).otherwise(
                F.lit("https://")
            ),
            F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.col("source"),
            F.lit(".example.org/"),
            F.col("lang"),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
            F.lit("?q="),
            F.col("n_chars").cast("string"),
        ),
    )
    return docs.select(
        "doc_id",
        url_host(F.col("url")).alias("host"),
        registrable_domain(F.col("url")).alias("domain"),
        path_depth(F.col("url")).cast("bigint").alias("depth"),
        url_query_param(F.col("url"), "q").alias("q"),
        is_https(F.col("url")).cast("bigint").alias("https"),
    )


def hash_split_docs(spark, sf_dir):
    """Deterministic hash-based train/val/test split (80/10/10) on
    doc_id — a pure map-side md5-bucket expression: no shuffle, no
    sampler state, identical assignment on every engine and rerun
    (the splitting discipline for append-only 100 TB corpora). The
    oracle recomputes the same md5 bucket in SQL."""
    from ballet_spark.plans.splits import hash_split

    out = hash_split(_t(spark, sf_dir, "documents"), key="doc_id")
    return out.select("doc_id", "split")


def tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (tf = count/len, idf =
    ln((N+1)/(df+1)), ties term-asc): one explode + two hash aggs +
    one term join + one per-doc top-k window — all JVM expressions,
    every shuffle linear in token volume."""
    from ballet_spark.functions.text import tf_idf_top_terms

    out = tf_idf_top_terms(_t(spark, sf_dir, "documents"), k=3)
    return out.select(
        F.col("id").alias("doc_id"),
        "term",
        F.col("rank").cast("bigint").alias("rank"),
        F.round("tf_idf", 4).alias("tf_idf"),
    )


def embedding_ivf_topk(spark, sf_dir):
    """IVF ANN top-5: deterministic md5-seeded k-means (16 lists, 3
    Lloyd rounds, sampled fit), queries probe their 8 nearest lists,
    exact cosine re-rank of candidates only. NO SQL oracle by design:
    the centroid averages are floating-point sums whose per-partition
    order is engine-specific, so near-boundary assignments (and hence
    candidate sets) cannot be reproduced bit-stably in a second engine
    — correctness is instead pytest-oracled (recall@5 vs exact
    cosine_topk, fit determinism across repartitionings, exactness of
    re-ranked cosines; tests/test_similarity_recall.py)."""
    from ballet_spark.operators.similarity import ivf_fit, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    cents = ivf_fit(emb, n_centroids=16, n_iter=3)
    out = ivf_topk(emb, q, cents, k=5, n_probe=8)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def curation_pipeline(spark, sf_dir):
    """End-to-end training-data curation, engine ops composed: quality
    score (JVM expr, fused into the scan) → quality gate ≥ 0.35 →
    exact dedup to the min-id canonical per distinct text (one hash
    agg + one semi-join) → deterministic md5 train/val/test split
    (map-side) → per-(lang, split) corpus stats. Every stage is the
    shipped operator, not a reimplementation; the oracle replays the
    pipeline in SQL."""
    from ballet_spark.functions.text import quality_score
    from ballet_spark.operators.dedup import exact_dedup
    from ballet_spark.plans.splits import hash_split

    # Gate on quality rounded to 6dp via _sround (NOT F.round) so the
    # boundary decision is bit-identical to the oracle, which spells
    # out the same sign/floor formula — engine round() algorithms can
    # legitimately disagree on the SAME double at .xxx5 boundaries
    # (see _sround's docstring; ADVICE r4).
    docs = _t(spark, sf_dir, "documents").withColumn(
        "quality", _sround(quality_score(F.col("text")), 6)
    )
    gated = docs.filter(F.col("quality") >= 0.35)
    keep = exact_dedup(gated, "doc_id", "text").select("doc_id")
    canon = gated.join(keep, "doc_id", "semi")
    split = hash_split(canon, "doc_id")
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _sround(F.avg("quality"), 4).alias("avg_quality"),
    )


def curation_pipeline_v2(spark, sf_dir):
    """End-to-end curation composing the round-4/5 corpus surface —
    the composition a real pretraining pipeline actually runs, every
    stage the shipped operator: (1) char-bigram LM perplexity gate
    (functions/lm.py; fit on the train corpus, keep lm_logp ≥ −1.78 on
    the shared 1e-6 grid), (2) NB label-consistency gate
    (functions/classifier.py; fit on the LM survivors with y=lang-is-en,
    keep docs whose integer-sign prediction agrees with their lang
    metadata — the mislabeled-data scrub), (3) sub-document exact
    dedup over 5-word chunks (operators/dedup.py dedup_lines), (4)
    benchmark decontamination of the CLEANED text against the held-out
    eval slice (doc_id % 10 == 0; 8-word-gram overlap), (5) corpus
    mixing to a fixed language target (mixing_weights + apply_mixing's
    deterministic 52-bit md5 Bernoulli), (6) hot-shard-salted sequence
    packing over composite (doc_id#copy_id) keys. Output = one row per
    packed doc-copy. Every gate decision is integer or grid-rounded
    arithmetic, so ONE SQL oracle replays the entire chain exactly."""
    from ballet_spark.functions.classifier import fit_nb_tokens, score_nb_tokens
    from ballet_spark.functions.lm import fit_char_bigram_lm, score_char_bigram_lm
    from ballet_spark.operators.dedup import decontaminate, dedup_lines
    from ballet_spark.operators.packing import (
        apply_mixing,
        mixing_weights,
        pack_sequences,
    )

    all_docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.length("text") > 0)
    )
    # the CI tables arrive as ONE parquet split; without this the
    # entire six-stage chain (three Arrow kernels among them) runs as
    # a chain of single-task stages. Guarded: a real multi-split
    # table is left untouched. Same pattern as dedup_substrings.
    from ballet_spark.cache import persist_tracked, spread_small_input

    all_docs = spread_small_input(all_docs)
    eval_docs = all_docs.filter(F.col("doc_id") % 10 == 0)
    train = all_docs.filter(F.col("doc_id") % 10 != 0)

    # 1. LM perplexity gate
    lm = fit_char_bigram_lm(train, "text")
    scored = score_char_bigram_lm(train, lm, "text")
    # g1 is scanned by the NB fit action, NB scoring, and the final
    # DAG — persist the gate output so the LM kernel runs once.
    # Lifecycle: the caller owns the returned DataFrame, so this
    # query's four persists stay alive after it returns; they are
    # registered under scope "query", and release_caches("query") /
    # (None) frees them once the caller has consumed the result.
    g1 = persist_tracked(
        scored.filter(_sround(F.col("lm_logp"), 6) >= -1.78).select(
            "doc_id", "lang", "text"
        ),
        scope="query",
    )

    # 2. NB label-consistency gate (integer sign test, engine-exact)
    labeled = g1.withColumn("y", (F.col("lang") == "en").cast("int"))
    model = fit_nb_tokens(labeled, "y", "text", n_buckets=256)
    nb = score_nb_tokens(g1, model, "text")
    # g2 feeds dedup_lines, which scans its input for the winner agg
    # AND the join back — persist so the NB kernel runs once
    g2 = persist_tracked(
        nb.filter(F.col("nb_pred") == (F.col("lang") == "en")).select(
            "doc_id", "lang", "text"
        ),
        scope="query",
    )

    # 3. sub-document exact dedup on deterministic 5-word chunks.
    # Tokenize on \s+ (not ' '): the chunks are '\n'-joined and
    # dedup_lines re-splits on '\n', so no token may CONTAIN the
    # separator or chunk atomicity diverges from the oracle's
    # row_number replay. \s+ tokens cannot contain any whitespace —
    # lockstep by construction on any corpus (the oracle's dw CTE
    # uses the same regex split).
    seg = g2.selectExpr(
        "doc_id",
        "lang",
        "filter(split(trim(text), '\\\\s+'), x -> x != '') AS __ftoks",
    ).selectExpr("doc_id", "lang", f"{_SEG5_EXPR} AS t2")
    # persist (same lifecycle note as g1 above): decontaminate
    # references its corpus TWICE (gram probe pass + the final left
    # join), which would re-run dedup_lines' three shuffles per
    # reference
    cleaned = persist_tracked(
        dedup_lines(seg, id_col="doc_id", text_col="t2", out_col="ct").select(
            "doc_id", "lang", F.col("ct").alias("text")
        ),
        scope="query",
    )

    # 4. decontaminate the cleaned text vs the eval slice
    dec = decontaminate(
        cleaned,
        eval_docs.select("doc_id", "text"),
        n=8,
    )
    # persist: the mix+pack tail references the decontaminated corpus
    # ~4x (mixing_weights' per-group agg + its broadcast total,
    # apply_mixing's corpus side, and pack_sequences' window + shard
    # totals) — measured 12.2s of the query's 16.7s was re-running
    # dedup_lines + decontaminate once per reference
    g4 = persist_tracked(
        dec.filter(~F.col("contaminated")).select("doc_id", "lang", "text"),
        scope="query",
    )

    # 5. mix to a fixed language target
    target = {"en": 0.5, "de": 0.125, "fr": 0.125, "es": 0.125, "zh": 0.125}
    wts = mixing_weights(g4, target, by="lang")
    mixed = apply_mixing(g4, wts, by="lang", key_col="doc_id")

    # 6. salted packing over composite doc#copy keys
    packed_in = mixed.select(
        F.concat_ws("#", F.col("doc_id"), F.col("copy_id")).alias("pid"),
        "text",
    )
    return pack_sequences(
        packed_in, budget=512, n_shards=4, id_col="pid", salt_chunks=4
    )


def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-style six-table join: revenue by nation for one
    region/year where customer and supplier share a nation. The scale
    shape Catalyst should pick (AQE confirms): region/nation/supplier/
    customer broadcast up the tree, ONE shuffle joins orders↔lineitem
    on the orderkey, partial aggregation before the final group — the
    fact table is shuffled once and never by a dimension key."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    nat = nation.join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    joined = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == nat["n_nationkey"])
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


def gopher_quality_filter(spark, sf_dir):
    """Gopher/C4-style heuristic curation gate (Rae et al. 2021 table
    A1 rules, thresholds scaled to the short synthetic docs): per-doc
    word/line stats, duplicate-line and bullet/ellipsis-line fractions,
    alphabetic-word fraction, symbol ratio, mean word length, and the
    composite ``keep`` flag. Pure JVM expressions — a map over the
    scan, no shuffle. Deterministic line structure is injected with a
    literal replace (identical left-to-right non-overlapping semantics
    in Spark and DuckDB) because the fixture text is single-line."""
    from ballet_spark.functions.text import gopher_filter

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text", F.replace(F.col("text"), F.lit(" table "), F.lit("\ntable "))
    )
    return gopher_filter(docs, min_words=40, max_mean_word_len=4.6)


def repetition_filter_docs(spark, sf_dir):
    """Gopher repetition rules (most-frequent-2-gram fraction +
    duplicate-5-gram fraction) — one Arrow-batched kernel, per-doc
    counters, no shuffle; oracle replays the counting with DuckDB
    unnest + GROUP BY."""
    from ballet_spark.functions.text import repetition_metrics

    out = repetition_metrics(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.round("top_2gram_frac", 6).alias("top_2gram_frac"),
        F.round("dup_5gram_frac", 6).alias("dup_5gram_frac"),
        # Gopher gate: ≤0.20 most-common-2-gram, ≤0.30 dup-5-grams
        (
            (F.col("top_2gram_frac") <= 0.20) & (F.col("dup_5gram_frac") <= 0.30)
        ).alias("keep"),
    )


def _gfssf_base_cols():
    """Shared feature/target definitions for the GFSSF driver query —
    integer-exact expressions so Spark and DuckDB derive identical
    discrete codes. y depends on doc length AND language, so the
    selection has real dynamics: f_len and f_lang carry information,
    f_src is noise, and the lang-bearing candidate earns acceptance."""
    return {
        "f_src": "source",
        "f_len": "least(cast(floor(n_chars / 75.0) as int), 6)",
        "f_lang": "lang",
        "y_cls": (
            "least(cast(floor(n_chars / 150.0) as int), 3)"
            " + (CASE WHEN lang IN ('en', 'de') THEN 4 ELSE 0 END)"
        ),
    }


def gfssf_select_docs(spark, sf_dir):
    """End-to-end GFSSF feature selection (accept + sequential prune)
    over a materialized discrete feature matrix on documents, with
    EXACT cube entropies (validation/validators.py
    gfssf_discrete_select): existing features {f_src, f_len}, candidate
    f_lang, target y_cls. Every CMI and both λs replay in the DuckDB
    oracle from the same GROUP BY CUBE counts, including the
    sequential prune's decision tree."""
    from ballet_spark.validation.validators import gfssf_discrete_select

    c = _gfssf_base_cols()
    base = _t(spark, sf_dir, "documents").selectExpr(
        f"{c['f_src']} AS f_src",
        f"{c['f_len']} AS f_len",
        f"{c['f_lang']} AS f_lang",
        f"{c['y_cls']} AS y_cls",
    )
    report = gfssf_discrete_select(
        base, ["f_src", "f_len"], "f_lang", "y_cls"
    )

    def r6(x: float) -> float:
        s = -1.0 if x < 0 else 1.0
        return s * math.floor(abs(x) * 1e6 + 0.5) / 1e6 + 0.0

    rows = [
        (d["feature"], d["role"], r6(d["cmi_full"]), d["kept"], r6(d["h_y"]))
        for d in report
    ]
    return spark.createDataFrame(
        rows,
        "feature string, role string, cmi_full double, kept boolean, "
        "h_y double",
    )


def salted_running_stats(spark, sf_dir):
    """Hot-entity running aggregates via the two-phase prefix scan
    (plans/skew.py salted_running_agg): head users take
    chunk-local windows + a broadcast carry-in merge, the tail a plain
    window — semantics identical to one RANGE window, so the oracle is
    the plain SQL form. Values quantized to exact integral microunit
    decimals first (floor(v·10^6 + 0.5) as decimal(38,0)): decimal
    addition is associative, so the head path's regrouped sums match
    the oracle's left-fold bit-for-bit (float sums would not)."""
    from ballet_spark.plans.skew import salted_running_agg

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("v_q"),
    )
    out = salted_running_agg(
        ev, "user_id", "ts", "v_q",
        aggs=("sum", "count", "min", "max"),
        top_k=5, chunk_seconds=7 * 86_400,
    )
    return out.select(
        "event_id",
        _sround(F.col("run_sum").cast("double") / 1e6, 4).alias("run_sum"),
        F.col("run_count").cast("bigint").alias("run_count"),
        _sround(F.col("run_min").cast("double") / 1e6, 4).alias("run_min"),
        _sround(F.col("run_max").cast("double") / 1e6, 4).alias("run_max"),
    )


def salted_rolling_stats(spark, sf_dir):
    """Hot-entity trailing 1h-window aggregates via the ghost-row
    two-phase plan (plans/skew.py salted_rolling_agg): head users get
    chunk-local RANGE windows with boundary rows replicated into the
    next chunk, tail a plain window — semantics identical to one RANGE
    [t−1h, t] window, so the oracle is the plain SQL form. Microunit
    integral decimals for regroup-proof sums (see
    salted_running_stats)."""
    from ballet_spark.plans.skew import salted_rolling_agg

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 1e6 + F.lit(0.5))
        .cast("decimal(38,0)")
        .alias("v_q"),
    )
    out = salted_rolling_agg(
        ev, "user_id", "ts", "v_q",
        duration_s=3600,
        aggs=("sum", "count", "min", "max"),
        top_k=5, chunk_seconds=4 * 3600,
    )
    return out.select(
        "event_id",
        _sround(F.col("roll_sum").cast("double") / 1e6, 4).alias("roll_sum"),
        F.col("roll_count").cast("bigint").alias("roll_count"),
        _sround(F.col("roll_min").cast("double") / 1e6, 4).alias("roll_min"),
        _sround(F.col("roll_max").cast("double") / 1e6, 4).alias("roll_max"),
    )


def lm_perplexity_docs(spark, sf_dir):
    """Char-bigram LM perplexity scoring over the documents corpus
    (functions/lm.py) — the CCNet-style quality gate: fit = one
    bounded-output mapInArrow count pass + tiny merge, score = exact
    int64 microunit sums under a broadcast 130×129 table, so any
    partitioning equals the SQL oracle's per-bigram replay. ln runs
    once per TABLE ENTRY (quantized to 1e-6 before scoring), never per
    character."""
    from ballet_spark.cache import spread_small_input
    from ballet_spark.functions.lm import (
        fit_char_bigram_lm,
        score_char_bigram_lm,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.length("text") > 0
    )
    # fit + score are two full passes over the same corpus; share the
    # spread output so the second pass reads the cached rows instead of
    # re-running scan+spread (persists ONLY when the input was a small
    # single-split file — a real multi-split corpus re-scans parquet,
    # the cheaper choice at scale). The operators' internal spreads
    # short-circuit on the Repartition already in the plan.
    docs = spread_small_input(docs, share=True)
    lm = fit_char_bigram_lm(docs, "text")
    scored = score_char_bigram_lm(docs, lm, "text")
    return scored.select(
        "doc_id",
        _sround(F.col("lm_logp"), 6).alias("lm_logp"),
        _sround(F.col("lm_logp_ppl"), 4).alias("lm_ppl"),
    )


def decontaminate_docs(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.py decontaminate):
    docs with doc_id % 10 == 0 stand in for the eval set; every other
    doc is flagged if it shares an 8-word-gram with any of them (the
    standard eval-leakage scrub — the hits here are the corpus's
    verbatim duplicates straddling the split, exactly the leakage the
    rule exists to catch). The benchmark gram set broadcasts — the
    corpus side never shuffles."""
    from ballet_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    out = decontaminate(train, bench, n=8)
    return out.select(
        "doc_id",
        F.col("n_contaminated_grams").cast("bigint").alias(
            "n_contaminated_grams"
        ),
        "contaminated",
    )


def pii_redaction_docs(spark, sf_dir):
    """PII scrub (functions/text.py redact_pii/pii_counts): the corpus
    text gets deterministic synthetic PII appended (email, IPv4, phone,
    long id — derived from doc_id identically in both engines, since
    the generator corpus carries none), then the JVM regex kernels
    count and redact. Shuffle-free map; patterns live in the
    Java-regex ∩ RE2 subset so the SQL replay is byte-identical."""
    from ballet_spark.functions.text import pii_counts, redact_pii

    d = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"),
        F.lit("@example.com or 10."), (d % 256).cast("string"),
        F.lit("."), ((d * 7) % 256).cast("string"),
        F.lit(".4 call 555-867-530"), (d % 10).cast("string"),
        F.lit(" id 12345678"), (d % 10).cast("string"),
    )
    from ballet_spark.cache import spread_small_input

    # 8 chained JVM regex passes per doc are the whole query — spread a
    # single-small-file corpus across cores first (no-op on real
    # multi-split tables)
    docs = spread_small_input(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", injected.alias("t"))
    counts = pii_counts(F.col("t"))
    return docs.select(
        "doc_id",
        *[counts[k].cast("bigint").alias(f"n_{k}") for k in
          ("email", "ipv4", "phone", "long_id")],
        redact_pii(F.col("t")).alias("redacted"),
    )


def remove_frequent_segments_docs(spark, sf_dir):
    """C4-style boilerplate removal (operators/dedup.py
    remove_frequent_lines): the corpus has no newlines, so docs first
    re-segment into 5-word chunks (deterministic positional slicing,
    identical in both engines) joined by newlines; chunks appearing in
    more than 3 documents — the corpus's duplicated boilerplate spans —
    are stripped from every doc. One bounded count-agg finds the
    removal set, then a pure map-side InSet rewrite; the corpus is
    never shuffled for the rewrite."""
    from ballet_spark.cache import spread_small_input
    from ballet_spark.operators.dedup import remove_frequent_lines

    # spread BEFORE the interpreted HOF segmentation expression — a
    # projection does not move across an exchange, so spreading inside
    # the operator would leave the expensive re-chunking on the single
    # small file's 1-2 tasks (no-op on real multi-split tables)
    raw = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spread = spread_small_input(raw)
    docs = spread.selectExpr(
        "doc_id",
        "filter(split(trim(text), ' '), x -> x != '') AS __ftoks",
    ).selectExpr("doc_id", f"{_SEG5_EXPR} AS t2")
    if spread is not raw:
        # the SEG5 re-chunk is an interpreted HOF evaluated by BOTH
        # phases of remove_frequent_lines (the count-agg pass and the
        # rewrite pass reference the same input); persist the chunked
        # projection so it runs once. Guarded by the same small-input
        # condition as the spread — a real multi-split corpus
        # recomputes rather than caching corpus-scale rows. Lifecycle:
        # caller-owned (same pattern as curation_pipeline_v2's gate
        # persists); registered under scope "spread" so
        # release_caches("spread") / (None) can free it, and the bench
        # clearCache()s between draws.
        from ballet_spark.cache import persist_tracked

        docs = persist_tracked(docs, scope="spread")
    out = remove_frequent_lines(
        docs, "t2", sep="\n", min_df=3, out_col="cleaned"
    )
    n_kept = F.when(F.col("cleaned") == "", F.lit(0)).otherwise(
        F.size(F.split(F.col("cleaned"), "\n"))
    )
    return out.select(
        "doc_id", "cleaned", n_kept.cast("bigint").alias("n_kept_segments")
    )


def percentile_stats(spark, sf_dir):
    """Exact interpolated percentiles (median / p95) of doc length per
    language — one hash agg with partial aggregation. At 100 TB the
    same query swaps `percentile` for `approx_percentile` (t-digest
    sketch, mergeable map-side); the exact form is kept here because
    the oracle can verify it bit-for-bit (both engines use linear
    interpolation)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("median_chars"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95_chars"),
    )


def stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sample: the 10 docs per language with
    the smallest md5(doc_id) — balanced downsampling whose membership
    is reproducible on any engine and stable under reshuffling (vs
    rand()-based sampling). Exact-N per stratum costs one per-group
    top-k window; the map-only scale path for constant-FRACTION
    sampling is `hash_bucket(key) < pct` (plans/splits.py) with no
    shuffle at all."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "lang", "rk")
    )


def grouped_apply_normalize(spark, sf_dir):
    """E3 GroupedFunctionTransformer (ballet/eng/base.py:64-91) driver
    query: per-language z-score of document length computed by an
    ARBITRARY per-group pandas function via GroupedApply /
    ``applyInPandas`` — the sanctioned escape hatch when no expression
    composition exists. One shuffle on the group key, Arrow both ways,
    numpy inside; the oracle replays it with SQL window aggregates
    (both sides use the population std, rounded to 4dp)."""
    import pandas as pd

    from ballet_spark.core import PipelineContext
    from ballet_spark.operators.fitted import GroupedApply

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = float(pdf["n_chars"].mean())
        sd = float(pdf["n_chars"].std(ddof=0))
        z = (pdf["n_chars"] - mu) / sd if sd > 0 else pdf["n_chars"] * 0.0
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "lang": pdf["lang"], "z_chars": z}
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    op = GroupedApply(
        zscore, schema="doc_id bigint, lang string, z_chars double", by="lang"
    )
    out, _ = op.transform_df(docs, ["n_chars"], "z", PipelineContext())
    return out.select("doc_id", "lang", F.round("z_chars", 4).alias("z_chars"))


def embedding_ivf_fixed_topk(spark, sf_dir):
    """IVF ANN with FIXED, engine-replayable centroids: the coarse
    quantizer is the 16 corpus vectors with the smallest md5(vec_id) —
    READ, not fitted, so no k-means float-sum ordering enters and the
    DuckDB oracle replays assignment + probe selection + exact-cosine
    re-rank value-for-value (upgrading IVF from the rows-only verdict
    of `embedding_ivf_topk`, which keeps the fitted path covered).
    Probe/assignment ties break (d2 ASC, centroid ASC) — stable
    argsort in ivf_topk, explicit ORDER BY in the oracle."""
    import numpy as np

    from ballet_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(16)
        .select("embedding")
        .collect()
    )
    cents = np.stack([np.asarray(r["embedding"], dtype="float64") for r in seeds])
    q = emb.filter(F.col("vec_id") < 20)
    out = ivf_topk(emb, q, cents, k=5, n_probe=8)
    return out.select(
        "query_id", "neighbor_id", "rank", F.round("cosine", 4).alias("cosine")
    )


def semantic_dedup_docs(spark, sf_dir):
    """SemDeDup-style semantic deduplication (operators/dedup.py
    semantic_dedup; Abbas et al. 2023) with the same FIXED md5-seeded
    centroids as `embedding_ivf_fixed_topk`, so the oracle replays
    assignment + within-cluster pairwise cosine value-for-value. One
    map-only assignment scan + ONE shuffle on centroid_id; pairwise
    cost is bounded per cluster, never corpus². is_dup compares on the
    1e-6 grid so the gate decision is engine-identical."""
    import numpy as np

    from ballet_spark.operators.dedup import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    seeds = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(16)
        .select("embedding")
        .collect()
    )
    cents = np.stack([np.asarray(r["embedding"], dtype="float64") for r in seeds])
    out = semantic_dedup(emb, cents, threshold=0.2)
    return out.select(
        "id",
        "centroid_id",
        "cluster_size",
        _sround(F.col("max_prev_cos"), 6).alias("max_prev_cos"),
        "is_dup",
    )


def nb_classifier_docs(spark, sf_dir):
    """Hashed-token Naive-Bayes quality/domain classifier
    (functions/classifier.py) — the fastText-style learned gate of
    DCLM/CCNet-class pipelines, fit here to predict lang='en' from
    hashed word unigrams. Fit = one bounded-output mapInArrow count
    pass + tiny merge (one small shuffle regardless of corpus size);
    score = map-only exact int64 microunit sums under a broadcast
    table, so `nb_logodds_q` is partitioning-invariant and equals the
    SQL oracle's per-token sum EXACTLY (integer compare, no float
    boundary)."""
    from ballet_spark.cache import spread_small_input
    from ballet_spark.functions.classifier import (
        fit_nb_tokens,
        score_nb_tokens,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").cast("int").alias("y")
    )
    # fit + score are two sequential full passes over the same corpus
    # (the fit collects its bounded count table before score is even
    # built): share the spread output so the score pass reads cached
    # rows instead of re-running scan+spread — see lm_perplexity_docs
    # for the persist-only-when-spread rationale
    docs = spread_small_input(docs, share=True)
    model = fit_nb_tokens(docs, "y", "text", n_buckets=256)
    scored = score_nb_tokens(docs.select("doc_id", "text"), model, "text")
    return scored.select("doc_id", "nb_logodds_q", "nb_pred")


def pack_sequences_docs(spark, sf_dir):
    """Concat-and-chunk sequence packing (operators/packing.py) — the
    GPT-style pretraining packing scheme as order-free arithmetic: one
    map-side md5 shard tag, ONE shuffle on the shard key, one
    within-shard sort + running token sum; every column is exact
    integer arithmetic the oracle replays verbatim."""
    from ballet_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, budget=512, n_shards=8)


def pack_sequences_salted_docs(spark, sf_dir):
    """Hot-shard-salted sequence packing (operators/packing.py): the
    within-shard prefix sum runs two-phase — bounded local windows per
    (shard, salt) chunk plus a broadcast carry of exclusive salt-chunk
    totals — so no single task ever sorts a whole shard (the 100 TB
    bottleneck of plain packing). Doc order within a shard is the
    deterministic (md5-salt, id); integer sums are associative, so the
    oracle replays the SAME order with one plain window and must match
    every start offset exactly."""
    from ballet_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(docs, budget=512, n_shards=4, salt_chunks=4)


def mixing_weights_docs(spark, sf_dir):
    """Corpus mixing table (operators/packing.py mixing_weights):
    per-language token shares and the resampling weight to hit a fixed
    target mixture — one partial+final aggregation, output is
    group-cardinality rows. share/weight are single IEEE expressions
    over exact int64 counts, so the doubles match bit-for-bit with no
    rounding step."""
    from ballet_spark.operators.packing import mixing_weights

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    target = {"en": 0.5, "de": 0.125, "fr": 0.125, "es": 0.125, "zh": 0.125}
    return mixing_weights(docs, target, by="lang")


def mixing_resample_docs(spark, sf_dir):
    """Mixing-table materialization (operators/packing.py
    apply_mixing): the mixing_weights table is joined back broadcast
    and every doc emits floor(weight) copies plus one
    Bernoulli(frac(weight)) copy decided by an md5 fraction — the
    actual resampled pretraining corpus, reproducible on any engine
    and partitioning (no RNG state). Corpus side is a pure map:
    broadcast join + explode, zero shuffles. The weight doubles and
    the u < frac(w) compare are single IEEE expressions over exact
    ints, so membership replays bit-for-bit."""
    from ballet_spark.operators.packing import apply_mixing, mixing_weights

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    target = {"en": 0.5, "de": 0.125, "fr": 0.125, "es": 0.125, "zh": 0.125}
    wts = mixing_weights(docs, target, by="lang")
    out = apply_mixing(docs.select("doc_id", "lang"), wts, by="lang")
    return out.select(
        "doc_id",
        "lang",
        F.col("n_copies").cast("bigint").alias("n_copies"),
        F.col("copy_id").cast("bigint").alias("copy_id"),
    )


def dedup_paragraphs_docs(spark, sf_dir):
    """Sub-document exact dedup (operators/dedup.py dedup_lines): docs
    re-segment into 5-word chunks (same deterministic slicing as
    remove_frequent_segments_docs — the corpus has no newlines), then
    every repeated chunk corpus-wide keeps only its FIRST occurrence
    under the total order (doc_id, position) — the Lee-et-al-style
    exact substring-dedup pass at paragraph granularity. Winner =
    min(struct(id,pos)) hash agg (map-side partial combine, so
    boilerplate chunks in 10^6 docs never make a hot reduce key), one
    winners equi-join, one per-doc reassembly."""
    from ballet_spark.operators.dedup import dedup_lines

    docs = (
        _t(spark, sf_dir, "documents")
        .selectExpr(
            "doc_id",
            "filter(split(trim(text), ' '), x -> x != '') AS __ftoks",
        )
        .selectExpr("doc_id", f"{_SEG5_EXPR} AS t2")
    )
    out = dedup_lines(docs, id_col="doc_id", text_col="t2", out_col="cleaned")
    return out.select("doc_id", "cleaned", "n_removed")


def exactsubstr_dedup_docs(spark, sf_dir):
    """ExactSubstr dedup (operators/dedup.py dedup_substrings; Lee et
    al. 2022): every repeated 5-token WINDOW — at any offset, no line
    structure assumed — keeps only its first occurrence under the
    total order (doc_id, pos); a non-first occurrence removes the
    union of its repeated windows' tokens. Fingerprints are one
    Arrow-batched bytes-join+md5 kernel over \\s+ tokens (map-only);
    the winner is a min(struct) hash agg with map-side partial
    combine; the oracle groups on the window STRING itself, so
    agreement also proves the 128-bit fingerprint route
    collision-free on this corpus."""
    from ballet_spark.operators.dedup import dedup_substrings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = dedup_substrings(docs, k=5, out_col="cleaned")
    return out.select("doc_id", "cleaned", "n_removed_tokens")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict order matters: the driver's CORRECTNESS gate evaluates
    only the FIRST 50 entries.

    STANDING ROTATION POLICY (VERDICT r3 ask #1): each round, order by
    driver-verdict staleness — (1) oracle-backed queries whose last
    driver verdict predates the current code (or that never had one),
    (2) queries ADDED or CHANGED this round, (3) fills from the
    previous round's green set, single-verified entries first, then
    flagship/bench-critical ones, (4) past the window: multiply
    driver-verified queries whose code is unchanged (still re-checked
    every round by tests/test_entry_oracle.py over all entries), with
    the structurally-oracle-free `embedding_ivf_topk` LAST so it never
    burns a verdict slot (its fixed-centroid companion carries the
    value verdict; pytest covers recall/determinism/re-rank). The
    verdict ledger in README.md records which round verified what.

    Round-6 layout: group (1) = the 34 queries whose latest driver
    verdict is r04 (parked through the r05 window — the stalest set
    the r5 verdict's ask #3 names: session_stats_30m, the encoder
    family, cube_orders, multi_lag_value, the incremental dedups,
    ts_features_user, dfs_customer_orders, tfidf_top_terms,
    gopher_quality_filter among them); group (2) = the 16 queries
    whose ENGINE PATH changed in the r06 optimization round (blockwise
    bucket verify, round-robin spreads, mapInArrow gram kernels,
    multi-arg band hashing, share persists, the codegen-capable
    token_count restore) — r05-green but on different plans, so fresh
    verdicts are wanted; group (3) = the 34 r05-verified queries whose
    code is unchanged since. The window holds precisely 50."""
    return {
        # --- (1) stalest driver verdicts (r04, parked two rounds):
        # re-verify first per the standing rotation policy ---
        "session_stats_30m": session_stats_30m,
        "count_encode_lang": count_encode_lang,
        "ordinal_encode_lang": ordinal_encode_lang,
        "helmert_encode_lang": helmert_encode_lang,
        "sum_encode_lang": sum_encode_lang,
        "backward_diff_encode_lang": backward_diff_encode_lang,
        "cube_orders": cube_orders,
        "multi_lag_value": multi_lag_value,
        "rolling_time_1h": rolling_time_1h,
        "asof_tolerance_join": asof_tolerance_join,
        "incremental_minhash_dups": incremental_minhash_dups,
        "incremental_exact_dedup": incremental_exact_dedup,
        "ngram_jaccard_dups": ngram_jaccard_dups,
        "union_distinct_values": union_distinct_values,
        "distinct_counts": distinct_counts,
        "fitted_minmax": fitted_minmax,
        "fitted_kbins": fitted_kbins,
        "groupwise_scale": groupwise_scale,
        "ts_features_user": ts_features_user,
        "curation_pipeline": curation_pipeline,
        "dfs_customer_orders": dfs_customer_orders,
        "q5_local_supplier_volume": q5_local_supplier_volume,
        "knn_impute_value": knn_impute_value,
        "iterative_impute_value": iterative_impute_value,
        "horizon_targets": horizon_targets,
        "poly_encode_lang": poly_encode_lang,
        "url_parse_docs": url_parse_docs,
        "hash_split_docs": hash_split_docs,
        "tfidf_top_terms": tfidf_top_terms,
        "percentile_stats": percentile_stats,
        "stratified_sample_docs": stratified_sample_docs,
        "gopher_quality_filter": gopher_quality_filter,
        "repetition_filter_docs": repetition_filter_docs,
        "grouped_apply_normalize": grouped_apply_normalize,
        # --- (2) engine path changed this round (r06 optimization):
        # fresh verdicts wanted on the new plans/kernels ---
        "embedding_neardups": embedding_neardups,
        "curation_pipeline_v2": curation_pipeline_v2,
        "nb_classifier_docs": nb_classifier_docs,
        "minhash_lsh_dups": minhash_lsh_dups,
        "exactsubstr_dedup_docs": exactsubstr_dedup_docs,
        "decontaminate_docs": decontaminate_docs,
        "dedup_components": dedup_components,
        "pii_redaction_docs": pii_redaction_docs,
        "remove_frequent_segments_docs": remove_frequent_segments_docs,
        "embedding_lsh_topk": embedding_lsh_topk,
        "embedding_ivf_fixed_topk": embedding_ivf_fixed_topk,
        "lm_perplexity_docs": lm_perplexity_docs,
        "quality_scores": quality_scores,
        "semantic_dedup_docs": semantic_dedup_docs,
        "dedup_paragraphs_docs": dedup_paragraphs_docs,
        "token_stats_by_lang": token_stats_by_lang,
        # --- (3) r05-verified and unchanged since: past the window ---
        "q1_pricing_summary": q1_pricing_summary,
        "asof_join_purchase": asof_join_purchase,
        "sessionize_30m": sessionize_30m,
        "rolling_mean_5": rolling_mean_5,
        "forward_fill": forward_fill,
        "window_lag_delta": window_lag_delta,
        "dedup_exact": dedup_exact,
        "embedding_topk": embedding_topk,
        "agg_by_nation": agg_by_nation,
        "topk_docs_per_source": topk_docs_per_source,
        "cumulative_stats": cumulative_stats,
        "asof_skew_split": asof_skew_split,
        "groupwise_mean_impute": groupwise_mean_impute,
        "standard_scale_value": standard_scale_value,
        "target_encode_source": target_encode_source,
        "ordered_target_encode": ordered_target_encode,
        "lang_id_heuristic": lang_id_heuristic,
        "simhash_dups": simhash_dups,
        "semi_anti_join": semi_anti_join,
        "rollup_orders": rollup_orders,
        "pivot_event_values": pivot_event_values,
        "range_join_next_hour": range_join_next_hour,
        "fitted_winsorize": fitted_winsorize,
        "doc_fingerprints": doc_fingerprints,
        "discrete_mutual_information": discrete_mutual_information,
        "boxcox_value": boxcox_value,
        "pack_sequences_salted_docs": pack_sequences_salted_docs,
        "pack_sequences_docs": pack_sequences_docs,
        "mixing_weights_docs": mixing_weights_docs,
        "mixing_resample_docs": mixing_resample_docs,
        "salted_running_stats": salted_running_stats,
        "salted_rolling_stats": salted_rolling_stats,
        "gfssf_select_docs": gfssf_select_docs,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        # oracle-free by necessity: never in a verdict slot
        "embedding_ivf_topk": embedding_ivf_topk,
    }


_LANG_MARKER_SQL = {
    "en": "['the','and','of','to','in','is','that','for','with','it']",
    "de": "['der','die','und','das','ist','nicht','mit','ein','zu','den']",
    "fr": "['le','la','les','et','des','est','une','dans','que','pour']",
    "es": "['el','la','los','que','de','y','en','un','una','por']",
}


def oracle_sql() -> dict[str, str]:
    lang_counts = ", ".join(
        f"len(list_intersect(toks, {markers})) AS c_{lang}"
        for lang, markers in _LANG_MARKER_SQL.items()
    )
    oracles = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue_orders": """
            SELECT o_orderkey,
                   floor(epoch(o_orderdate))::BIGINT AS o_orderdate_epoch,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey, o_orderdate
            ORDER BY revenue DESC, o_orderkey ASC
            LIMIT 10
        """,
        "agg_by_nation": """
            SELECT n_name, count(*) AS n_orders,
                   round(sum(o_totalprice), 4) AS total_price,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "topk_docs_per_source": """
            SELECT source, doc_id, n_chars, rank FROM (
                SELECT source, doc_id, n_chars,
                       row_number() OVER (PARTITION BY source
                           ORDER BY n_chars DESC, doc_id ASC) AS rank
                FROM documents)
            WHERE rank <= 3
        """,
        "window_lag_delta": """
            SELECT event_id,
                   round(lag(value, 1) OVER w, 4) AS value_lag1,
                   round(value - lag(value, 1) OVER w, 4) AS value_delta1
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "rolling_mean_5": """
            SELECT event_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS roll5
            FROM events
        """,
        "forward_fill": """
            SELECT event_id,
                   round(last_value(CASE WHEN event_type <> 'error' THEN value END
                       IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS v_ffill
            FROM events
        """,
        "cumulative_stats": """
            SELECT event_id,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
                       AS cum_sum,
                   (row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1)
                       AS event_idx
            FROM events
        """,
        "sessionize_30m": """
            SELECT event_id,
                   (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                       AS session_id
            FROM (
                SELECT event_id, user_id, ts,
                       CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                           (PARTITION BY user_id ORDER BY ts)) > 1800
                           THEN 1 ELSE 0 END AS is_new
                FROM events)
        """,
        "session_stats_30m": """
            WITH s AS (
                SELECT user_id, ts,
                       (sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                           AS session_id
                FROM (
                    SELECT user_id, ts,
                           CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                               (PARTITION BY user_id ORDER BY ts)) > 1800
                               THEN 1 ELSE 0 END AS is_new
                    FROM events))
            SELECT user_id, session_id,
                   floor(epoch(min(ts)))::BIGINT AS start_epoch,
                   floor(epoch(max(ts)))::BIGINT AS end_epoch,
                   count(*) AS n_events,
                   (floor(epoch(max(ts))) - floor(epoch(min(ts))))::BIGINT AS duration_s
            FROM s GROUP BY user_id, session_id
        """,
        "asof_join_purchase": """
            SELECT c.event_id,
                   round(p.value, 4) AS purchase_value,
                   floor(epoch(p.ts))::BIGINT AS matched_epoch
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
            ON c.user_id = p.user_id AND p.ts <= c.ts
        """,
        "groupwise_mean_impute": """
            SELECT event_id,
                   round(coalesce(
                       CASE WHEN event_type <> 'error' THEN value END,
                       avg(CASE WHEN event_type <> 'error' THEN value END)
                           OVER (PARTITION BY user_id)), 4) AS v_imp
            FROM events
        """,
        "standard_scale_value": """
            SELECT event_id,
                   round((value - avg(value) OVER ()) /
                         stddev_pop(value) OVER (), 4) AS v_std
            FROM events
        """,
        "target_encode_source": """
            WITH d AS (SELECT doc_id, source,
                              CASE WHEN n_chars > 250 THEN 1.0 ELSE 0.0 END AS y
                       FROM documents),
            stats AS (SELECT source, avg(y) AS m, count(*) AS n FROM d GROUP BY source),
            prior AS (SELECT avg(y) AS p FROM d)
            SELECT d.doc_id,
                   round(p * (1 - w) + m * w, 4) AS src_te
            FROM d JOIN stats USING (source), prior,
                 LATERAL (SELECT 1.0 / (1.0 + exp(-(n - 1) / 1.0)) AS w)
        """,
        "count_encode_lang": """
            SELECT doc_id, count(*) OVER (PARTITION BY lang) AS lang_n
            FROM documents
        """,
        "token_stats_by_lang": """
            SELECT lang, count(*) AS n_docs,
                   round(avg(len(string_split(text, ' '))), 4) AS avg_tokens,
                   round(avg(n_chars), 4) AS avg_chars,
                   max(len(string_split(text, ' ')))::BIGINT AS max_tokens
            FROM documents GROUP BY lang
        """,
        "quality_scores": """
            SELECT doc_id,
                   round(least(length(text) / 500.0, 1.0) * (1.0 - least(
                       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                           / length(text)::DOUBLE
                       + (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                           / length(text)::DOUBLE, 1.0)), 6) AS quality
            FROM documents
        """,
        "lang_id_heuristic": f"""
            WITH t AS (
                SELECT doc_id,
                       list_distinct(string_split(lower(text), ' ')) AS toks
                FROM documents),
            c AS (SELECT doc_id, {lang_counts} FROM t)
            SELECT doc_id,
                   CASE
                     WHEN c_de > 0 AND c_de >= c_en AND c_de >= c_es AND c_de >= c_fr THEN 'de'
                     WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_fr THEN 'en'
                     WHEN c_es > 0 AND c_es >= c_fr THEN 'es'
                     WHEN c_fr > 0 THEN 'fr'
                     ELSE 'und'
                   END AS lang_pred
            FROM c
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, md5(text) AS content_md5,
                   count(*) AS n_copies
            FROM documents GROUP BY text
        """,
        "ngram_jaccard_dups": """
            WITH toks AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
            docs AS (
                SELECT doc_id,
                       list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      for i in range(1, len(w) - 1)]) AS grams
                FROM toks WHERE len(w) >= 3),
            sizes AS (SELECT doc_id, len(grams) AS n FROM docs),
            ex0 AS (SELECT doc_id, unnest(grams) AS gram FROM docs),
            hot AS (SELECT gram FROM ex0 GROUP BY gram HAVING count(*) > 1000),
            ex AS (SELECT * FROM ex0 ANTI JOIN hot USING (gram)),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(shared::DOUBLE / (sa.n + sb.n - shared), 4) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.1
        """,
        "minhash_lsh_dups": """
            WITH toks AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
            docs AS (
                SELECT doc_id,
                       list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      for i in range(1, len(w) - 1)]) AS grams
                FROM toks WHERE len(w) >= 3),
            sizes AS (SELECT doc_id, len(grams) AS n FROM docs),
            ex AS (SELECT doc_id, unnest(grams) AS gram FROM docs),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(shared::DOUBLE / (sa.n + sb.n - shared), 4) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.8
        """,
        "incremental_minhash_dups": """
            WITH toks AS (
                SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
            docs AS (
                SELECT doc_id,
                       list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                      for i in range(1, len(w) - 1)]) AS grams
                FROM toks WHERE len(w) >= 3),
            sizes AS (SELECT doc_id, len(grams) AS n FROM docs),
            ex AS (SELECT doc_id, unnest(grams) AS gram FROM docs),
            shared AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
                FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(shared::DOUBLE / (sa.n + sb.n - shared), 4) AS jaccard
            FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.8
        """,
        "incremental_exact_dedup": """
            WITH s1 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
            s2 AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
            k1 AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY text),
            k2 AS (
                SELECT min(doc_id) AS doc_id FROM s2
                WHERE text NOT IN (SELECT text FROM s1)
                GROUP BY text)
            SELECT doc_id FROM k1 UNION ALL SELECT doc_id FROM k2
        """,
        "embedding_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 20),
            scored AS (
                SELECT q.query_id, e.vec_id AS neighbor_id,
                       list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cosine
                FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, rank, round(cosine, 4) AS cosine
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id ASC) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        "semi_anti_join": """
            SELECT c_custkey, 'has_orders' AS tag FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            UNION ALL
            SELECT c_custkey, 'no_orders' AS tag FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "union_distinct_values": """
            SELECT DISTINCT v FROM (
                SELECT event_type AS v FROM events
                UNION ALL
                SELECT lang AS v FROM documents)
        """,
        "distinct_counts": """
            SELECT count(DISTINCT user_id) AS n_users,
                   count(DISTINCT event_type) AS n_types,
                   count(DISTINCT (user_id, event_type)) AS n_user_types
            FROM events
        """,
        "rollup_orders": """
            SELECT o_orderpriority, o_orderstatus, count(*) AS n,
                   round(sum(o_totalprice), 4) AS total
            FROM orders
            GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        """,
        "pivot_event_values": """
            SELECT user_id,
                   round(sum(CASE WHEN event_type='click' THEN value END), 4) AS sum_click,
                   round(sum(CASE WHEN event_type='view' THEN value END), 4) AS sum_view,
                   round(sum(CASE WHEN event_type='purchase' THEN value END), 4) AS sum_purchase,
                   round(sum(CASE WHEN event_type='signup' THEN value END), 4) AS sum_signup,
                   round(sum(CASE WHEN event_type='error' THEN value END), 4) AS sum_error
            FROM events GROUP BY user_id
        """,
        "range_join_next_hour": """
            SELECT a.event_id, count(b.ts2) AS n_next_hour
            FROM events a
            LEFT JOIN (SELECT user_id AS u2, ts AS ts2 FROM events) b
              ON a.user_id = b.u2
              AND b.ts2 > a.ts
              AND b.ts2 <= a.ts + INTERVAL 1 HOUR
            GROUP BY a.event_id
        """,
        "rolling_time_1h": """
            SELECT event_id,
                   round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
                       AND CURRENT ROW), 4) AS r1h
            FROM events
        """,
        "multi_lag_value": """
            SELECT event_id,
                   round(lag(value, 1) OVER w, 4) AS lag1,
                   round(lag(value, 2) OVER w, 4) AS lag2,
                   round(lag(value, 3) OVER w, 4) AS lag3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        """,
        "asof_tolerance_join": """
            SELECT c.event_id,
                   round(CASE WHEN epoch(c.ts) - epoch(p.ts) <= 6*3600
                         THEN p.value END, 4) AS pv
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
            ON c.user_id = p.user_id AND p.ts <= c.ts
        """,
        "fitted_minmax": """
            SELECT event_id,
                   round((value - min(value) OVER ()) /
                         (max(value) OVER () - min(value) OVER ()), 4) AS v_mm
            FROM events
        """,
        "fitted_winsorize": """
            WITH q AS (SELECT quantile_cont(value, 0.05) AS lo,
                              quantile_cont(value, 0.95) AS hi FROM events)
            SELECT event_id,
                   round(least(greatest(value, lo), hi), 4) AS v_w
            FROM events, q
        """,
        "fitted_kbins": """
            WITH q AS (SELECT quantile_cont(value, 0.25) AS q0,
                              quantile_cont(value, 0.50) AS q1,
                              quantile_cont(value, 0.75) AS q2 FROM events)
            SELECT event_id,
                   (CASE WHEN value <= q0 THEN 0
                         WHEN value <= q1 THEN 1
                         WHEN value <= q2 THEN 2
                         ELSE 3 END)::INT AS v_bin
            FROM events, q
        """,
        "groupwise_scale": """
            SELECT event_id,
                   round(CASE WHEN stddev_pop(value) OVER w <> 0
                         THEN (value - avg(value) OVER w) / stddev_pop(value) OVER w
                         ELSE value - avg(value) OVER w END, 4) AS v_gs
            FROM events
            WINDOW w AS (PARTITION BY event_type)
        """,
        "ordinal_encode_lang": """
            SELECT doc_id,
                   (dense_rank() OVER (ORDER BY lang) - 1)::DOUBLE AS lang_ord
            FROM documents
        """,
        "ordered_target_encode": """
            WITH ev AS (SELECT event_id, event_type, ts,
                               CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END AS y
                        FROM events),
            tot AS (SELECT sum(y) AS S, count(y)::DOUBLE AS C FROM ev)
            SELECT event_id,
                   ((coalesce(sum(y) OVER wc, 0) - coalesce(sum(y) OVER wt, 0))
                        * C + S)::BIGINT AS ote_num,
                   ((coalesce(count(y) OVER wc, 0) - coalesce(count(y) OVER wt, 0))
                        + 1)::BIGINT * C::BIGINT AS ote_den
            FROM ev, tot
            WINDOW wc AS (PARTITION BY event_type ORDER BY ts
                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wt AS (PARTITION BY event_type ORDER BY ts
                          RANGE BETWEEN CURRENT ROW AND CURRENT ROW)
        """,
        "cube_orders": """
            SELECT o_orderpriority, o_orderstatus, count(*) AS n,
                   round(avg(o_totalprice), 4) AS avg_price
            FROM orders
            GROUP BY CUBE (o_orderpriority, o_orderstatus)
        """,
        "boxcox_value": """
            WITH m AS (SELECT avg(value) AS mu FROM events),
            cm AS (SELECT avg(pow(value - mu, 2)) AS m2,
                          avg(pow(value - mu, 3)) AS m3
                   FROM events, m),
            sk AS (SELECT m3 / pow(m2, 1.5) AS g1 FROM cm)
            SELECT event_id,
                   round(CASE WHEN abs(g1) > 0.5 THEN ln(1 + value)
                         ELSE value END, 4) AS v_bc
            FROM events, sk
        """,
        "asof_skew_split": """
            SELECT c.event_id, round(p.value, 4) AS purchase_value
            FROM (SELECT * FROM events WHERE event_type = 'click') c
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
            ON c.user_id = p.user_id AND p.ts <= c.ts
        """,
        "discrete_mutual_information": """
            WITH ev AS (SELECT event_type,
                               CASE WHEN value > 100 THEN 1 ELSE 0 END AS hv
                        FROM events),
            hy AS (SELECT ln((SELECT count(*) FROM ev)) -
                          sum(n * ln(n)) / (SELECT count(*) FROM ev) AS h
                   FROM (SELECT count(*)::DOUBLE n FROM ev GROUP BY hv)),
            hx2 AS (SELECT ln((SELECT count(*) FROM ev)) -
                           sum(n * ln(n)) / (SELECT count(*) FROM ev) AS h
                    FROM (SELECT count(*)::DOUBLE n FROM ev GROUP BY event_type)),
            hxy AS (SELECT ln((SELECT count(*) FROM ev)) -
                           sum(n * ln(n)) / (SELECT count(*) FROM ev) AS h
                    FROM (SELECT count(*)::DOUBLE n FROM ev
                          GROUP BY event_type, hv))
            SELECT round(hx2.h, 6) AS h_event_type,
                   round(hy.h, 6) AS h_high_value,
                   round(greatest(hx2.h + hy.h - hxy.h, 0.0), 8) AS mi
            FROM hx2, hy, hxy
        """,
    }
    oracles["grouped_apply_normalize"] = """
        SELECT doc_id, lang,
               round(CASE WHEN stddev_pop(n_chars) OVER (PARTITION BY lang) > 0
                     THEN (n_chars - avg(n_chars) OVER (PARTITION BY lang))
                          / stddev_pop(n_chars) OVER (PARTITION BY lang)
                     ELSE 0.0 END, 4) AS z_chars
        FROM documents
    """

    oracles["embedding_ivf_fixed_topk"] = """
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                    - 1)::INT AS c,
                   v AS cv
            FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        -- same expansion the Spark kernel uses: ||c||^2 - 2 v.c
        -- (the ||v||^2 term is constant per row, irrelevant to ranking)
        dist AS (
            SELECT e.vec_id, e.v, s.c,
                   list_dot_product(s.cv, s.cv)
                       - 2 * list_dot_product(e.v, s.cv) AS d2
            FROM e CROSS JOIN seeds s),
        assign AS (
            SELECT vec_id AS neighbor_id, v AS cv, c AS centroid_id FROM dist
            QUALIFY row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2 ASC, c ASC) = 1),
        probes AS (
            SELECT vec_id AS query_id, v AS qv, c AS centroid_id FROM dist
            WHERE vec_id < 20
            QUALIFY row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2 ASC, c ASC) <= 8),
        scored AS (
            SELECT p.query_id, a.neighbor_id,
                   list_cosine_similarity(p.qv, a.cv) AS cosine
            FROM probes p JOIN assign a USING (centroid_id)
            WHERE a.neighbor_id <> p.query_id)
        SELECT query_id, neighbor_id, rank, round(cosine, 4) AS cosine
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored)
        WHERE rank <= 5
    """

    oracles.update(_generated_oracles())
    return oracles


def _srp_buckets_sql(planes) -> str:
    """UNION ALL of one SELECT per SRP table computing that table's
    bucket id from hyperplane-sign bits. The plane constants are the
    EXACT doubles the Spark operator uses (6-decimal literals parse
    identically in both engines), so the oracle replays the candidate
    generation deterministically."""
    branches = []
    for t, table in enumerate(planes):
        terms = []
        for i, p in enumerate(table):
            arr = "[" + ", ".join(repr(float(x)) for x in p) + "]"
            terms.append(
                f"(CASE WHEN list_dot_product(v, {arr}) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        branches.append(
            f"SELECT vec_id AS id, {t} AS tbl, "
            + " + ".join(terms)
            + " AS bucket FROM e"
        )
    return " UNION ALL ".join(branches)


def _generated_oracles() -> dict[str, str]:
    """Oracle SQL that embeds constants shared with the Spark operators
    (SRP hyperplanes, rolling-hash powers) — generated, not hand-kept,
    so the two sides cannot drift."""
    from ballet_spark.operators.similarity import srp_planes

    out: dict[str, str] = {}

    # --- embedding_neardups: mirror the band-OR LSH candidate set ----
    nd_buckets = _srp_buckets_sql(srp_planes(64, 8, 16, seed=42))
    out["embedding_neardups"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        buckets AS ({nd_buckets}),
        cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                 FROM buckets a JOIN buckets b
                   ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.id < b.id)
        SELECT id_a, id_b,
               round(list_cosine_similarity(ea.v, eb.v), 4) AS cosine
        FROM cand
        JOIN e ea ON ea.vec_id = id_a
        JOIN e eb ON eb.vec_id = id_b
        WHERE list_cosine_similarity(ea.v, eb.v) >= 0.5
    """

    # --- embedding_lsh_topk: mirror multi-probe candidates + re-rank --
    tk_buckets = _srp_buckets_sql(srp_planes(64, 3, 20, seed=42))
    out["embedding_lsh_topk"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        buckets AS ({tk_buckets}),
        qb AS (SELECT * FROM buckets WHERE id < 20),
        cand AS (SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
                 FROM buckets c JOIN qb q
                   ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.id <> q.id),
        scored AS (SELECT query_id, neighbor_id,
                          list_cosine_similarity(eq.v, ec.v) AS cosine
                   FROM cand
                   JOIN e eq ON eq.vec_id = query_id
                   JOIN e ec ON ec.vec_id = neighbor_id)
        SELECT query_id, neighbor_id, rank, round(cosine, 4) AS cosine
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id ASC) AS rank
              FROM scored)
        WHERE rank <= 5
    """

    # --- simhash_dups: md5-first-8-bytes token hash, full simhash in
    # SQL, brute-force hamming pairs (the Spark banding is exact by
    # pigeonhole, so both sides produce the identical pair set) -------
    out["simhash_dups"] = """
        WITH toks AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id,
                       unnest(string_split_regex(trim(text), '\\s+')) AS tok
                FROM documents WHERE text IS NOT NULL)
            WHERE tok <> ''),
        hashed AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT) AS h
            FROM toks),
        votes AS (
            SELECT doc_id, j,
                   2 * sum(((h >> j) & 1)::BIGINT) - count(*) AS v
            FROM hashed CROSS JOIN range(64) t(j)
            GROUP BY doc_id, j),
        sh AS (
            SELECT doc_id,
                   sum(CASE WHEN v > 0
                            THEN ((1::UBIGINT << j::INTEGER))::HUGEINT
                            ELSE 0::HUGEINT END) AS u
            FROM votes GROUP BY doc_id),
        shu AS (SELECT doc_id, u::UBIGINT AS ub FROM sh)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.ub, b.ub))::INTEGER AS hamming
        FROM shu a JOIN shu b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ub, b.ub)) <= 10
    """

    # --- doc_fingerprints: polynomial rolling hash, HUGEINT-exact -----
    m = (1 << 61) - 1
    pw = [pow(1_000_003, 7 - j, m) for j in range(8)]
    terms = " + ".join(
        f"unicode(substr(text, i + {j}, 1))::HUGEINT * {pw[j]}::HUGEINT"
        for j in range(8)
    )
    out["doc_fingerprints"] = f"""
        WITH pos AS (
            SELECT doc_id, text, unnest(range(1, length(text) - 6)) AS i
            FROM documents WHERE length(text) >= 8),
        h AS (SELECT doc_id,
                     (({terms}) % {m}::HUGEINT)::BIGINT AS hw
              FROM pos)
        SELECT doc_id, min(hw) AS fp FROM h GROUP BY doc_id
    """

    # --- contrast coders: the matrix values come from the SAME
    # contrast_matrix() the Spark operator compiles, for k = 5 langs ---
    from ballet_spark.operators.encoders import contrast_matrix

    for name, scheme, alias in [
        ("helmert_encode_lang", "helmert", "hel"),
        ("sum_encode_lang", "sum", "sc"),
        ("backward_diff_encode_lang", "backward_difference", "bd"),
        ("poly_encode_lang", "polynomial", "pc"),
    ]:
        cm = contrast_matrix(scheme, 5)
        # "+ 0.0" matches the Spark side's negative-zero normalization
        cols = ", ".join(
            "round(CASE i "
            + " ".join(f"WHEN {i} THEN {float(cm[i][j])!r}" for i in range(5))
            + f" ELSE 0.0 END, 4) + 0.0 AS {alias}_{j}"
            for j in range(4)
        )
        out[name] = f"""
            WITH idx AS (SELECT doc_id,
                                dense_rank() OVER (ORDER BY lang) - 1 AS i
                         FROM documents)
            SELECT doc_id, {cols} FROM idx
        """

    out["horizon_targets"] = """
        SELECT event_id,
               round(lead(value, 1) OVER w, 4) AS h_0,
               round(lead(value, 2) OVER w, 4) AS h_1,
               round(lead(value, 3) OVER w, 4) AS h_2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """

    out["dfs_customer_orders"] = """
        WITH ord AS (SELECT o_custkey AS c_custkey,
                            sum(o_totalprice::DECIMAL(18,2)) AS osum,
                            count(*) AS ocnt
                     FROM orders GROUP BY 1),
        lvl1 AS (SELECT c.c_custkey, c.c_nationkey, ord.osum, ord.ocnt
                 FROM customer c LEFT JOIN ord USING (c_custkey))
        SELECT c_nationkey,
               round(sum(osum)::DOUBLE, 2) AS nation_order_total,
               round(sum(osum)::DOUBLE / count(*), 2)
                   AS percap_order_total,
               sum(ocnt)::BIGINT AS nation_order_cnt,
               round(sum(ocnt)::BIGINT / count(*)::DOUBLE, 4)
                   AS percap_order_cnt,
               count(*) AS n_customers
        FROM lvl1 GROUP BY c_nationkey
    """

    # exact_sums mirror: every sum/mean accumulates as fixed-point
    # MICROUNITS — floor(x·10^6 + 0.5) summed as integral
    # DECIMAL(38,0) (order-independent AND engine-exact; casting a
    # fractional double to decimal is NOT portable: Spark snaps to the
    # shortest decimal repr, DuckDB expands the binary value — a
    # measured 1-ulp sum divergence); derived mu/varp/std use the same
    # exact moments; integer sums cast to BIGINT (DuckDB's HUGEINT
    # would surface as float64 in the compared frame); and rounding is
    # the explicit sign/floor formula `_sround` uses — round()
    # built-ins disagree across engines at .xxx5 boundaries
    def qsum(expr: str) -> str:
        return (
            f"sum(CAST(floor(({expr}) * 1000000.0 + 0.5)"
            f" AS DECIMAL(38,0)))::DOUBLE / 1000000.0"
        )

    def sr(expr: str, d: int) -> str:
        s = 10**d
        return (
            f"(sign({expr}) * floor(abs({expr}) * {s}.0 + 0.5) / {s}.0)"
        )

    E1 = qsum("value")
    E2 = qsum("value * value")
    MAC = f"{qsum('chg')} / count(chg)"
    STD = (
        f"CASE WHEN count(value) > 1 THEN sqrt(greatest("
        f"({E2} - {E1} * {E1} / count(value)) / (count(value) - 1), 0.0))"
        f" END"
    )
    AC = (
        f"CASE WHEN count(value) > 1 AND max(varp) > 0 THEN "
        f"{qsum('(value - mu) * (lagv - mu)')}"
        f" / ((count(value) - 1) * max(varp)) END"
    )
    CID = f"sqrt({qsum('chg * chg')})"
    # fft_coefficient: angle = (2πk)·t/n with 2πk folded to ONE double
    # literal and the same association order as the Spark side; cos/sin
    # outputs (the only non-IEEE-exact step) snap to the 1e-6 grid
    # before the multiply, then microunit-decimal sums — identical
    # doubles end-to-end (operators/dfs.py ts_features fft_k docs)
    FFT = {}
    for _k in (0, 1, 2, 3):
        _ck = repr(2.0 * math.pi * float(_k))
        _theta = f"({_ck} * (rn - 1)::DOUBLE / nn::DOUBLE)"
        _qc = f"(floor(cos({_theta}) * 1000000.0 + 0.5) / 1000000.0)"
        _qs = f"(floor(sin({_theta}) * 1000000.0 + 0.5) / 1000000.0)"
        _re = qsum(f"value * {_qc}")
        _im = qsum(f"(-value) * {_qs}")
        FFT[_k] = (
            _re,
            _im,
            f"sqrt({_re} * {_re} + {_im} * {_im})",
        )
    QW1 = (
        "(sum(CAST(floor(value * 1000000.0 + 0.5) AS DECIMAL(38,0)))"
        " OVER pw)::DOUBLE / 1000000.0 / count(value) OVER pw"
    )
    QW2 = (
        "(sum(CAST(floor(value * value * 1000000.0 + 0.5)"
        " AS DECIMAL(38,0))) OVER pw)::DOUBLE / 1000000.0"
        " / count(value) OVER pw"
    )
    out["ts_features_user"] = f"""
        WITH d AS (SELECT user_id, ts, value,
                          lag(value) OVER w AS lagv,
                          abs(value - lag(value) OVER w) AS chg,
                          coalesce(value > lag(value) OVER w
                                   AND value > lead(value) OVER w,
                                   false) AS peak,
                          {QW1} AS mu,
                          greatest({QW2} - ({QW1}) * ({QW1}), 0.0)
                              AS varp,
                          row_number() OVER w AS rn,
                          count(*) OVER pw AS nn
                   FROM events
                   WINDOW w AS (PARTITION BY user_id ORDER BY ts),
                          pw AS (PARTITION BY user_id)),
        d2 AS (SELECT *, coalesce(value > mu, false) AS above FROM d),
        s AS (SELECT *,
                     max(CASE WHEN NOT above THEN rn END) OVER
                         (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS lna
              FROM d2)
        SELECT user_id,
               count(value) AS ts_length,
               {sr(f"{E1} / count(value)", 4)} AS ts_mean,
               {sr(STD, 4)} AS ts_std,
               {sr("min(value)", 4)} AS ts_min,
               {sr("max(value)", 4)} AS ts_max,
               {sr(E1, 4)} AS ts_sum,
               {sr(E2, 2)} AS ts_abs_energy,
               {sr(MAC, 4)} AS ts_mean_abs_change,
               {sr("min_by(value, ts)", 4)} AS ts_first,
               {sr("max_by(value, ts)", 4)} AS ts_last,
               sum(CASE WHEN peak THEN 1 ELSE 0 END)::BIGINT
                   AS ts_n_peaks,
               sum(CASE WHEN above THEN 1 ELSE 0 END)::BIGINT
                   AS ts_count_above_mean,
               max(CASE WHEN above THEN rn - coalesce(lna, 0)
                        ELSE 0 END)::BIGINT
                   AS ts_longest_strike_above_mean,
               {sr(AC, 4)} AS ts_autocorr1,
               {sr(CID, 4)} AS ts_cid_ce,
               {sr(FFT[0][0], 4)} AS ts_fft0_re,
               {sr(FFT[0][1], 4)} AS ts_fft0_im,
               {sr(FFT[0][2], 4)} AS ts_fft0_abs,
               {sr(FFT[1][0], 4)} AS ts_fft1_re,
               {sr(FFT[1][1], 4)} AS ts_fft1_im,
               {sr(FFT[1][2], 4)} AS ts_fft1_abs,
               {sr(FFT[2][0], 4)} AS ts_fft2_re,
               {sr(FFT[2][1], 4)} AS ts_fft2_im,
               {sr(FFT[2][2], 4)} AS ts_fft2_abs,
               {sr(FFT[3][0], 4)} AS ts_fft3_re,
               {sr(FFT[3][1], 4)} AS ts_fft3_im,
               {sr(FFT[3][2], 4)} AS ts_fft3_abs
        FROM s GROUP BY user_id
    """
    # --- gfssf_select_docs: generated mirror of the discrete GFSSF
    # decision procedure (validators.py gfssf_discrete_select). One
    # CUBE gives every subset entropy; λs, the accept disjunction, and
    # the sequential prune's decision tree unroll into CASE chains over
    # the same H values. gid convention matches Spark grouping_id
    # (first cube column = MSB, 1 = aggregated out).
    gc = _gfssf_base_cols()
    GCOLS = ["f_src", "f_len", "f_lang", "y_cls"]

    def ggid(keep: frozenset) -> int:
        return sum(
            1 << (len(GCOLS) - 1 - i)
            for i in range(len(GCOLS))
            if GCOLS[i] not in keep
        )

    def gh(*keep) -> str:
        return f"(SELECT h FROM ent WHERE gid = {ggid(frozenset(keep))})"

    def gcmi(x: str, z) -> str:
        zs = list(z)
        return (
            f"({gh(x, *zs)} + {gh('y_cls', *zs)} - {gh(*zs)}"
            f" - {gh(x, 'y_cls', *zs)})"
        )

    HY = gh("y_cls")
    L1A = f"({HY} / 64 / 3)"  # accept ctx: 3 single-col features
    ACC = (
        f"(({gcmi('f_lang', ['f_src', 'f_len'])} - ({L1A} + {L1A})) >= 0"
        f" OR (({gcmi('f_lang', ['f_len'])} - {gcmi('f_src', ['f_len'])})"
        f" - {L1A}) >= 0"
        f" OR (({gcmi('f_lang', ['f_src'])} - {gcmi('f_len', ['f_src'])})"
        f" - {L1A}) >= 0)"
    )
    # prune thresholds: λ1+λ2 for the post-accept set size
    T3 = f"({HY} / 64 / 3 + {HY} / 64 / 3)"
    T2 = f"({HY} / 64 / 2 + {HY} / 64 / 2)"
    P_SRC = (
        f"CASE WHEN acc THEN {gcmi('f_src', ['f_len', 'f_lang'])} < {T3}"
        f" ELSE {gcmi('f_src', ['f_len'])} < {T2} END"
    )
    P_LEN = (
        f"CASE WHEN acc AND p_src THEN {gcmi('f_len', ['f_lang'])} < {T3}"
        f" WHEN acc AND NOT p_src"
        f" THEN {gcmi('f_len', ['f_src', 'f_lang'])} < {T3}"
        f" WHEN NOT acc AND p_src THEN {gcmi('f_len', [])} < {T2}"
        f" ELSE {gcmi('f_len', ['f_src'])} < {T2} END"
    )
    P_LANG = (
        f"CASE WHEN NOT acc THEN false"
        f" WHEN p_src AND p_len THEN {gcmi('f_lang', [])} < {T3}"
        f" WHEN p_src AND NOT p_len THEN {gcmi('f_lang', ['f_len'])} < {T3}"
        f" WHEN NOT p_src AND p_len THEN {gcmi('f_lang', ['f_src'])} < {T3}"
        f" ELSE {gcmi('f_lang', ['f_src', 'f_len'])} < {T3} END"
    )

    def g6(expr: str) -> str:
        return f"({sr(expr, 6)} + 0.0)"

    out["gfssf_select_docs"] = f"""
        WITH base AS (SELECT {gc['f_src']} AS f_src,
                             {gc['f_len']} AS f_len,
                             {gc['f_lang']} AS f_lang,
                             {gc['y_cls']} AS y_cls
                      FROM documents),
        cnt AS (SELECT grouping(f_src) * 8 + grouping(f_len) * 4
                       + grouping(f_lang) * 2 + grouping(y_cls) AS gid,
                       count(*) AS n
                FROM base GROUP BY CUBE(f_src, f_len, f_lang, y_cls)),
        ent AS (
            -- mirror subset_entropies_cube exactly: microunit-quantized
            -- n·ln(n) terms summed as integral decimals (associative,
            -- engine-exact), H snapped to the 1e-9 grid
            SELECT gid,
                   sign(hr) * floor(abs(hr) * 1000000000.0 + 0.5)
                       / 1000000000.0 + 0.0 AS h
            FROM (SELECT gid,
                         ln(sum(n)::DOUBLE)
                         - (sum(CAST(floor(n::DOUBLE * ln(n::DOUBLE)
                                           * 1000000.0 + 0.5)
                                     AS DECIMAL(38,0)))::DOUBLE
                            / 1000000.0) / sum(n) AS hr
                  FROM cnt GROUP BY gid)),
        d0 AS (SELECT {ACC} AS acc),
        d1 AS (SELECT acc, {P_SRC} AS p_src FROM d0),
        d2 AS (SELECT acc, p_src, {P_LEN} AS p_len FROM d1),
        d3 AS (SELECT acc, p_src, p_len, {P_LANG} AS p_lang FROM d2)
        SELECT 'f_src' AS feature, 'existing' AS role,
               {g6(gcmi('f_src', ['f_len', 'f_lang']))} AS cmi_full,
               NOT p_src AS kept, {g6(HY)} AS h_y FROM d3
        UNION ALL
        SELECT 'f_len', 'existing',
               {g6(gcmi('f_len', ['f_src', 'f_lang']))},
               NOT p_len, {g6(HY)} FROM d3
        UNION ALL
        SELECT 'f_lang', 'candidate',
               {g6(gcmi('f_lang', ['f_src', 'f_len']))},
               acc AND NOT p_lang, {g6(HY)} FROM d3
    """

    out["salted_running_stats"] = f"""
        WITH q AS (SELECT event_id, user_id, ts,
                          CAST(floor(value * 1000000.0 + 0.5)
                               AS DECIMAL(38,0)) AS v_q
                   FROM events)
        SELECT event_id,
               {sr("(sum(v_q) OVER w)::DOUBLE / 1000000.0", 4)} AS run_sum,
               (count(v_q) OVER w)::BIGINT AS run_count,
               {sr("(min(v_q) OVER w)::DOUBLE / 1000000.0", 4)} AS run_min,
               {sr("(max(v_q) OVER w)::DOUBLE / 1000000.0", 4)} AS run_max
        FROM q
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """

    out["salted_rolling_stats"] = f"""
        WITH q AS (SELECT event_id, user_id, epoch(ts) AS te,
                          CAST(floor(value * 1000000.0 + 0.5)
                               AS DECIMAL(38,0)) AS v_q
                   FROM events)
        SELECT event_id,
               {sr("(sum(v_q) OVER w)::DOUBLE / 1000000.0", 4)} AS roll_sum,
               (count(v_q) OVER w)::BIGINT AS roll_count,
               {sr("(min(v_q) OVER w)::DOUBLE / 1000000.0", 4)} AS roll_min,
               {sr("(max(v_q) OVER w)::DOUBLE / 1000000.0", 4)} AS roll_max
        FROM q
        WINDOW w AS (PARTITION BY user_id ORDER BY te
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """

    # exact mirror of functions/lm.py: symbols = codepoints capped to
    # ASCII+OOV (129) with BOS=129; smoothed log-probs quantized to
    # the 1e-6 grid ONCE PER TABLE ENTRY; per-doc score = exact BIGINT
    # sum of quantized entries, then two IEEE-exact divisions
    out["lm_perplexity_docs"] = f"""
        WITH d AS (SELECT doc_id, text FROM documents
                   WHERE length(text) > 0),
        chars AS (
            SELECT doc_id, i,
                   CASE WHEN unicode(substr(text, i, 1)) < 128
                        THEN unicode(substr(text, i, 1)) ELSE 128 END AS cur,
                   CASE WHEN i = 1 THEN 129
                        ELSE CASE WHEN unicode(substr(text, i - 1, 1)) < 128
                                  THEN unicode(substr(text, i - 1, 1))
                                  ELSE 128 END END AS prev
            FROM d, unnest(generate_series(1, length(text))) AS t(i)),
        counts AS (SELECT prev, cur, count(*) AS n
                   FROM chars GROUP BY prev, cur),
        rown AS (SELECT prev, sum(n) AS rn FROM counts GROUP BY prev),
        logp AS (
            SELECT c.prev, c.cur,
                   floor(ln((coalesce(counts.n, 0) + 1.0)
                            / (coalesce(rown.rn, 0) + 129.0))
                         * 1000000.0 + 0.5)::BIGINT AS lq
            FROM (SELECT p.i AS prev, q.i AS cur
                  FROM unnest(generate_series(0, 129)) p(i),
                       unnest(generate_series(0, 128)) q(i)) c
            LEFT JOIN counts ON counts.prev = c.prev AND counts.cur = c.cur
            LEFT JOIN rown ON rown.prev = c.prev),
        scored AS (
            SELECT chars.doc_id,
                   sum(lq)::BIGINT AS total, count(*) AS nc
            FROM chars JOIN logp
              ON logp.prev = chars.prev AND logp.cur = chars.cur
            GROUP BY chars.doc_id)
        SELECT doc_id,
               {sr("total::DOUBLE / 1000000.0 / nc", 6)} AS lm_logp,
               {sr("exp(-(total::DOUBLE / 1000000.0 / nc))", 4)} AS lm_ppl
        FROM scored
    """

    out["decontaminate_docs"] = """
        WITH d AS (SELECT doc_id,
                          list_filter(string_split_regex(trim(text), '\\s+'),
                                      x -> x <> '') AS w
                   FROM documents),
        g AS (SELECT DISTINCT doc_id,
                     array_to_string(w[i:i+7], ' ') AS g
              FROM d, unnest(generate_series(1, len(w) - 7)) t(i)),
        bg AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
        hits AS (SELECT g.doc_id, count(*) AS n
                 FROM g JOIN bg USING (g)
                 WHERE g.doc_id % 10 <> 0
                 GROUP BY g.doc_id)
        SELECT d.doc_id,
               coalesce(hits.n, 0)::BIGINT AS n_contaminated_grams,
               coalesce(hits.n, 0) > 0 AS contaminated
        FROM d LEFT JOIN hits ON hits.doc_id = d.doc_id
        WHERE d.doc_id % 10 <> 0
    """

    # PII patterns imported from the engine so engine and oracle can
    # never drift; DuckDB single-quoted strings treat backslashes
    # literally, so the Java-subset patterns drop in raw
    from ballet_spark.functions.text import PII_PATTERNS as _PII

    _pii_t = (
        "text || ' contact user' || doc_id || '@example.com or 10.'"
        " || (doc_id % 256) || '.' || ((doc_id * 7) % 256)"
        " || '.4 call 555-867-530' || (doc_id % 10)"
        " || ' id 12345678' || (doc_id % 10)"
    )
    _pii_counts_sql = ",\n               ".join(
        f"len(regexp_extract_all(t, '{pat}'))::BIGINT AS n_{name}"
        for name, pat, _ in _PII
    )
    _pii_redacted = "t"
    for _, pat, token in _PII:
        _pii_redacted = (
            f"regexp_replace({_pii_redacted}, '{pat}', '{token}', 'g')"
        )
    out["pii_redaction_docs"] = f"""
        WITH base AS (SELECT doc_id, {_pii_t} AS t FROM documents)
        SELECT doc_id,
               {_pii_counts_sql},
               {_pii_redacted} AS redacted
        FROM base
    """

    out["remove_frequent_segments_docs"] = """
        WITH d AS (SELECT doc_id,
                          list_filter(string_split(trim(text), ' '),
                                      x -> x <> '') AS w
                   FROM documents),
        seg AS (SELECT doc_id, i,
                       array_to_string(w[i * 5 + 1 : i * 5 + 5], ' ') AS chunk
                FROM d, unnest(generate_series(
                         0, cast(ceil(len(w) / 5.0) as int) - 1)) t(i)),
        dfreq AS (SELECT chunk, count(DISTINCT doc_id) AS n
                  FROM seg GROUP BY chunk),
        freq AS (SELECT chunk FROM dfreq WHERE n > 3),
        kept AS (SELECT seg.doc_id, seg.i, seg.chunk
                 FROM seg LEFT JOIN freq USING (chunk)
                 WHERE freq.chunk IS NULL),
        agg AS (SELECT doc_id,
                       string_agg(chunk, chr(10) ORDER BY i) AS cleaned,
                       count(*) AS nseg
                FROM kept GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(agg.cleaned, '') AS cleaned,
               coalesce(agg.nseg, 0)::BIGINT AS n_kept_segments
        FROM d LEFT JOIN agg USING (doc_id)
    """

    out["iterative_impute_value"] = """
        WITH base AS (
            SELECT event_id, user_id::DOUBLE AS uid, epoch(ts) AS t,
                   CASE WHEN event_id % 20 = 0 THEN NULL ELSE value END AS v
            FROM events),
        obs AS (SELECT * FROM base WHERE v IS NOT NULL),
        m AS (SELECT avg(v) AS my, avg(t) AS mt, avg(uid) AS mu FROM obs),
        c AS (SELECT sum((t - mt) * (t - mt)) AS ctt,
                     sum((t - mt) * (uid - mu)) AS ctu,
                     sum((uid - mu) * (uid - mu)) AS cuu,
                     sum((t - mt) * (v - my)) AS cty,
                     sum((uid - mu) * (v - my)) AS cuy
              FROM obs, m),
        beta AS (SELECT my, mt, mu,
                        (cty * cuu - cuy * ctu) / (ctt * cuu - ctu * ctu) AS bt,
                        (ctt * cuy - ctu * cty) / (ctt * cuu - ctu * ctu) AS bu
                 FROM c, m)
        SELECT event_id,
               round(coalesce(v, my + bt * (t - mt) + bu * (uid - mu)), 4) AS v_imp
        FROM base, beta
    """

    out["knn_impute_value"] = """
        WITH base AS (
            SELECT event_id, user_id::DOUBLE AS uid, event_type,
                   epoch(ts) AS t,
                   CASE WHEN event_id % 20 = 0 THEN NULL
                        ELSE round(value, 0) END AS v
            FROM events),
        nn AS (
            SELECT m.event_id, d.v,
                   row_number() OVER (
                       PARTITION BY m.event_id
                       ORDER BY (m.t - d.t) * (m.t - d.t)
                              + (m.uid - d.uid) * (m.uid - d.uid),
                                d.event_id) AS rn
            FROM (SELECT * FROM base WHERE v IS NULL) m
            JOIN (SELECT * FROM base WHERE v IS NOT NULL) d
              ON m.event_type = d.event_type),
        imp AS (SELECT event_id, sum(v) / count(v) AS vi
                FROM nn WHERE rn <= 5 GROUP BY event_id)
        SELECT b.event_id,
               round(coalesce(b.v, imp.vi), 4) AS v_imp
        FROM base b LEFT JOIN imp ON imp.event_id = b.event_id
    """

    out["dedup_components"] = """
        WITH RECURSIVE toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        docs AS (
            SELECT doc_id,
                   list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                  for i in range(1, len(w) - 1)]) AS grams
            FROM toks WHERE len(w) >= 3),
        sizes AS (SELECT doc_id, len(grams) AS n FROM docs),
        ex AS (SELECT doc_id, unnest(grams) AS gram FROM docs),
        shared AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
            FROM ex a JOIN ex b ON a.gram = b.gram AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        pairs AS (
            SELECT id_a, id_b FROM shared
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE shared::DOUBLE / (sa.n + sb.n - shared) >= 0.8),
        edges AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
        reach AS (
            SELECT DISTINCT a AS id, a AS r FROM edges
            UNION
            SELECT e.a AS id, p.r
            FROM reach p JOIN edges e ON e.b = p.id)
        SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """

    out["url_parse_docs"] = """
        WITH u AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 4 = 0 THEN 'http://' ELSE 'https://' END)
                   || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
                   || source || '.example.org/' || lang || '/p/'
                   || doc_id::VARCHAR || '?q=' || n_chars::VARCHAR AS url
            FROM documents)
        SELECT doc_id,
               regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
               regexp_replace(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1),
                              '^www\\.', '') AS domain,
               len(list_filter(
                   string_split(regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1), '/'),
                   x -> x <> '')) AS depth,
               regexp_extract(url, '[?&]q=([^&#]*)', 1) AS q,
               (CASE WHEN url LIKE 'https://%' THEN 1 ELSE 0 END)::BIGINT AS https
        FROM u
    """

    out["hash_split_docs"] = """
        WITH b AS (
            SELECT doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100
                       AS bucket
            FROM documents)
        SELECT doc_id,
               CASE WHEN bucket < 80 THEN 'train'
                    WHEN bucket < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    """

    out["tfidf_top_terms"] = """
        WITH toks AS (
            SELECT doc_id, unnest(string_split(trim(text), ' ')) AS term
            FROM documents),
        dt AS (SELECT doc_id, term, count(*) AS cnt FROM toks GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(cnt) AS len FROM dt GROUP BY 1),
        dfreq AS (SELECT term, count(*) AS df FROM dt GROUP BY 1),
        n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        scored AS (
            SELECT dt.doc_id, dt.term,
                   (cnt::DOUBLE / len) * ln((n + 1.0) / (df + 1.0)) AS tf_idf
            FROM dt JOIN dl USING (doc_id) JOIN dfreq USING (term) CROSS JOIN n)
        SELECT doc_id, term, rank, round(tf_idf, 4) AS tf_idf
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                  ORDER BY tf_idf DESC, term ASC) AS rank
              FROM scored)
        WHERE rank <= 3
    """

    out["percentile_stats"] = """
        SELECT lang, count(*) AS n_docs,
               round(quantile_cont(n_chars, 0.5), 4) AS median_chars,
               round(quantile_cont(n_chars, 0.95), 4) AS p95_chars
        FROM documents GROUP BY lang
    """

    out["curation_pipeline"] = """
        WITH q AS (
            SELECT doc_id, lang, text,
                   least(length(text) / 500.0, 1.0) * (1.0 - least(
                       (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                           / length(text)::DOUBLE
                       + (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                           / length(text)::DOUBLE, 1.0)) AS quality
            FROM documents),
        rq AS (
            SELECT doc_id, lang, text,
                   sign(quality) * floor(abs(quality) * 1e6 + 0.5) / 1e6
                       AS quality
            FROM q),
        gated AS (SELECT * FROM rq WHERE quality >= 0.35),
        keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY text),
        canon AS (SELECT gated.* FROM gated SEMI JOIN keep USING (doc_id)),
        split AS (
            SELECT *,
                   CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100 < 80
                            THEN 'train'
                        WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT % 100 < 90
                            THEN 'val'
                        ELSE 'test' END AS split
            FROM canon)
        SELECT lang, split, count(*) AS n_docs,
               sign(avg(quality)) * floor(abs(avg(quality)) * 1e4 + 0.5) / 1e4
                   AS avg_quality
        FROM split GROUP BY lang, split
    """

    out["q5_local_supplier_volume"] = """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND c_nationkey = s_nationkey
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name ASC
    """

    out["gopher_quality_filter"] = """
        WITH d AS (
            SELECT doc_id, replace(text, ' table ', chr(10) || 'table ') AS t
            FROM documents),
        s AS (
            SELECT doc_id, t,
                   string_split(t, chr(10)) AS lines,
                   list_filter(string_split_regex(t, '\\s+'), w -> w <> '') AS words
            FROM d),
        m AS (
            SELECT doc_id,
                len(words)::BIGINT AS n_words,
                len(lines)::BIGINT AS n_lines,
                CASE WHEN len(lines) > 0 THEN round(
                    (len(lines) - len(list_distinct(lines))) / len(lines)::DOUBLE, 6)
                    ELSE 0.0 END AS dup_line_frac,
                CASE WHEN len(lines) > 0 THEN round(
                    len(list_filter(lines, l -> starts_with(l, '- ')
                        OR starts_with(l, '* ') OR starts_with(l, '•')))
                    / len(lines)::DOUBLE, 6) ELSE 0.0 END AS bullet_line_frac,
                CASE WHEN len(lines) > 0 THEN round(
                    len(list_filter(lines, l -> ends_with(l, '...')))
                    / len(lines)::DOUBLE, 6) ELSE 0.0 END AS ellipsis_line_frac,
                CASE WHEN len(words) > 0 THEN round(
                    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
                    / len(words)::DOUBLE, 6) ELSE 0.0 END AS alpha_word_frac,
                CASE WHEN len(words) > 0 THEN round(
                    len(list_filter(words, w -> contains(w, '#')))
                    / len(words)::DOUBLE, 6) ELSE 0.0 END AS symbol_word_ratio,
                CASE WHEN len(words) > 0 THEN round(
                    length(regexp_replace(t, '\\s', '', 'g')) / len(words)::DOUBLE, 6)
                    ELSE 0.0 END AS mean_word_len
            FROM s)
        SELECT *,
               (n_words BETWEEN 40 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 4.6
                AND dup_line_frac <= 0.30
                AND bullet_line_frac <= 0.90
                AND ellipsis_line_frac <= 0.30
                AND alpha_word_frac >= 0.80
                AND symbol_word_ratio <= 0.10) AS keep
        FROM m
    """

    out["repetition_filter_docs"] = """
        WITH s AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\\s+'), w -> w <> '')
                       AS words
            FROM documents),
        g2 AS (
            SELECT doc_id,
                   unnest([words[i] || ' ' || words[i+1]
                           for i in range(1, len(words))]) AS gram
            FROM s WHERE len(words) >= 2),
        c2 AS (SELECT doc_id, gram, count(*) AS n FROM g2 GROUP BY 1, 2),
        t2 AS (SELECT doc_id, max(n)::DOUBLE / sum(n) AS top FROM c2 GROUP BY 1),
        g5 AS (
            SELECT doc_id,
                   unnest([words[i] || ' ' || words[i+1] || ' ' || words[i+2]
                           || ' ' || words[i+3] || ' ' || words[i+4]
                           for i in range(1, len(words) - 3)]) AS gram
            FROM s WHERE len(words) >= 5),
        c5 AS (SELECT doc_id, gram, count(*) AS n FROM g5 GROUP BY 1, 2),
        t5 AS (SELECT doc_id,
                      sum(CASE WHEN n > 1 THEN n ELSE 0 END)::DOUBLE / sum(n)
                          AS dup
               FROM c5 GROUP BY 1)
        SELECT s.doc_id,
               round(coalesce(t2.top, 0.0), 6) AS top_2gram_frac,
               round(coalesce(t5.dup, 0.0), 6) AS dup_5gram_frac,
               (coalesce(t2.top, 0.0) <= 0.20
                AND coalesce(t5.dup, 0.0) <= 0.30) AS keep
        FROM s LEFT JOIN t2 USING (doc_id) LEFT JOIN t5 USING (doc_id)
    """

    out["stratified_sample_docs"] = """
        SELECT doc_id, lang, rk FROM (
            SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                       ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS rk
            FROM documents)
        WHERE rk <= 10
    """

    # SemDeDup replay: same fixed md5-seeded centroids + d2 expansion
    # as embedding_ivf_fixed_topk; within-cluster max cosine to any
    # smaller id; dup gate on the 1e-6 grid (the kernel's exact
    # sign/floor formula)
    out["semantic_dedup_docs"] = f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        seeds AS (
            SELECT (row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)
                    - 1)::INT AS c,
                   v AS cv
            FROM e ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 16),
        dist AS (
            SELECT e.vec_id, e.v, s.c,
                   list_dot_product(s.cv, s.cv)
                       - 2 * list_dot_product(e.v, s.cv) AS d2
            FROM e CROSS JOIN seeds s),
        assign AS (
            SELECT vec_id AS id, v, c AS centroid_id FROM dist
            QUALIFY row_number() OVER (PARTITION BY vec_id
                        ORDER BY d2 ASC, c ASC) = 1),
        mx AS (
            -- zero-norm guard mirrors the kernel's nrm[nrm==0]=1:
            -- a zero vector has cosine 0.0 with everything (its dot
            -- product is 0 and the denominator is forced to 1), where
            -- bare list_cosine_similarity would yield NaN/NULL
            SELECT b.id,
                   max(CASE WHEN list_dot_product(a.v, a.v) = 0
                              OR list_dot_product(b.v, b.v) = 0
                            THEN 0.0
                            ELSE list_cosine_similarity(a.v, b.v)
                       END) AS m
            FROM assign a JOIN assign b
              ON a.centroid_id = b.centroid_id AND a.id < b.id
            GROUP BY b.id)
        SELECT a.id, a.centroid_id,
               count(*) OVER (PARTITION BY a.centroid_id) AS cluster_size,
               {sr('mx.m', 6)} AS max_prev_cos,
               CASE WHEN mx.m IS NULL THEN FALSE
                    ELSE {sr('mx.m', 6)} >= 0.2 END AS is_dup
        FROM assign a LEFT JOIN mx ON mx.id = a.id
    """

    # hashed-token NB replay (functions/classifier.py): bucket = first
    # 8 md5 hex digits mod 256; add-1-smoothed log-probs quantized to
    # the 1e-6 grid ONCE PER TABLE ENTRY; per-doc score = exact BIGINT
    # sum of quantized entries + quantized prior diff — integer
    # arithmetic end to end, so nb_logodds_q matches EXACTLY
    out["nb_classifier_docs"] = """
        WITH lab AS (SELECT doc_id, text, (lang = 'en')::INT AS y
                     FROM documents),
        toks AS (SELECT doc_id, y,
                        unnest(string_split(trim(text, ' '), ' ')) AS tok
                 FROM lab WHERE text IS NOT NULL),
        bt AS (SELECT doc_id, y,
                      (('0x' || substr(md5(tok), 1, 8))::UBIGINT % 256)::INT
                          AS b
               FROM toks),
        counts AS (SELECT y AS cls, b, count(*) AS n
                   FROM bt WHERE y IS NOT NULL GROUP BY 1, 2),
        rown AS (SELECT cls, sum(n) AS rn FROM counts GROUP BY 1),
        grid AS (SELECT c.cls, g.b
                 FROM (SELECT 0 AS cls UNION ALL SELECT 1) c,
                      unnest(generate_series(0, 255)) g(b)),
        lp AS (SELECT grid.cls, grid.b,
                      floor(ln((coalesce(counts.n, 0) + 1.0)
                               / (coalesce(rown.rn, 0) + 256.0))
                            * 1000000.0 + 0.5)::BIGINT AS lq
               FROM grid
               LEFT JOIN counts ON counts.cls = grid.cls
                               AND counts.b = grid.b
               LEFT JOIN rown ON rown.cls = grid.cls),
        dc AS (SELECT y AS cls, count(*) AS n FROM lab
               WHERE text IS NOT NULL AND y IS NOT NULL GROUP BY 1),
        prior AS (
            SELECT (SELECT floor(ln(n::DOUBLE /
                        (SELECT sum(n)::DOUBLE FROM dc)) * 1000000.0
                        + 0.5)::BIGINT FROM dc WHERE cls = 1)
                 - (SELECT floor(ln(n::DOUBLE /
                        (SELECT sum(n)::DOUBLE FROM dc)) * 1000000.0
                        + 0.5)::BIGINT FROM dc WHERE cls = 0) AS pd),
        scored AS (SELECT bt.doc_id, sum(l1.lq - l0.lq)::BIGINT AS s
                   FROM bt
                   JOIN lp l1 ON l1.cls = 1 AND l1.b = bt.b
                   JOIN lp l0 ON l0.cls = 0 AND l0.b = bt.b
                   GROUP BY bt.doc_id)
        SELECT lab.doc_id,
               (scored.s + prior.pd)::BIGINT AS nb_logodds_q,
               (scored.s + prior.pd) > 0 AS nb_pred
        FROM lab LEFT JOIN scored USING (doc_id) CROSS JOIN prior
    """

    # concat-and-chunk packing replay (operators/packing.py): md5
    # shard tag, within-shard prefix token sum, integer chunk
    # arithmetic — exact end to end
    out["pack_sequences_docs"] = """
        WITH b AS (
            SELECT doc_id AS id,
                   (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT
                       % 8)::INT AS shard,
                   len(string_split(trim(text, ' '), ' '))::BIGINT
                       AS n_tokens
            FROM documents),
        s AS (SELECT id, shard, n_tokens,
                     (sum(n_tokens) OVER (PARTITION BY shard ORDER BY id)
                      - n_tokens)::BIGINT AS start
              FROM b)
        SELECT id, shard, n_tokens,
               (start // 512)::BIGINT AS pack_id,
               (start % 512)::BIGINT AS offset_in_pack,
               (start % 512) + n_tokens > 512 AS crosses_boundary
        FROM s
    """

    # salted-packing replay: ONE window over the same deterministic
    # (salt, id) order proves the engine's two-phase local+carry plan
    # exact (integer sums are associative)
    out["pack_sequences_salted_docs"] = """
        WITH b AS (
            SELECT doc_id AS id,
                   (('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT
                       % 4)::INT AS shard,
                   (('0x' || substr(md5('pack' || doc_id::VARCHAR), 1, 8)
                       )::UBIGINT % 4)::INT AS salt,
                   len(string_split(trim(text, ' '), ' '))::BIGINT
                       AS n_tokens
            FROM documents),
        s AS (SELECT id, shard, n_tokens,
                     (sum(n_tokens) OVER (PARTITION BY shard
                          ORDER BY salt, id)
                      - n_tokens)::BIGINT AS start
              FROM b)
        SELECT id, shard, n_tokens,
               (start // 512)::BIGINT AS pack_id,
               (start % 512)::BIGINT AS offset_in_pack,
               (start % 512) + n_tokens > 512 AS crosses_boundary
        FROM s
    """

    # mixing table replay (operators/packing.py mixing_weights):
    # exact int64 counts; share/weight are the same single IEEE
    # expressions (tgt * total / n_tokens, left-assoc) — bit-for-bit,
    # no rounding step
    out["mixing_weights_docs"] = """
        WITH per AS (
            SELECT lang AS grp, count(*)::BIGINT AS n_docs,
                   sum(len(string_split(trim(text, ' '), ' '))::BIGINT
                       )::BIGINT AS n_tokens
            FROM documents GROUP BY lang),
        tot AS (SELECT sum(n_tokens)::BIGINT AS t FROM per)
        SELECT grp, n_docs, n_tokens,
               n_tokens::DOUBLE / t AS share,
               CASE grp WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.125
                        WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.125
                        WHEN 'zh' THEN 0.125 ELSE 0.0 END
                   * t / n_tokens AS weight
        FROM per CROSS JOIN tot
    """

    # apply_mixing replay: same weight expression as mixing_weights,
    # u = first 13 md5 hex digits / 2^52 (exact in a double on both
    # engines), n_copies = floor(w) + (u < frac(w)), one output row
    # per copy via generate_series
    out["mixing_resample_docs"] = """
        WITH per AS (
            SELECT lang AS grp, count(*)::BIGINT AS n_docs,
                   sum(len(string_split(trim(text, ' '), ' '))::BIGINT
                       )::BIGINT AS n_tokens
            FROM documents GROUP BY lang),
        tot AS (SELECT sum(n_tokens)::BIGINT AS t FROM per),
        wts AS (SELECT grp,
                       CASE grp WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.125
                                WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.125
                                WHEN 'zh' THEN 0.125 ELSE 0.0 END
                           * t / n_tokens AS weight
                FROM per CROSS JOIN tot),
        b AS (SELECT d.doc_id, d.lang, w.weight,
                     ('0x' || substr(md5('mix' || d.doc_id::VARCHAR),
                                     1, 13))::UBIGINT
                         / 4503599627370496.0 AS u
              FROM documents d JOIN wts w ON w.grp = d.lang),
        c AS (SELECT doc_id, lang,
                     (floor(weight)::BIGINT
                      + CASE WHEN u < weight - floor(weight)
                             THEN 1 ELSE 0 END)::BIGINT AS n_copies
              FROM b)
        SELECT doc_id, lang, n_copies,
               unnest(generate_series(1, n_copies))::BIGINT AS copy_id
        FROM c WHERE n_copies >= 1
    """

    # dedup_lines replay on the same 5-word re-segmentation as
    # remove_frequent_segments_docs; winner per chunk = rn 1 under
    # ORDER BY (doc_id, i) — identical to min(struct(id, pos))
    out["dedup_paragraphs_docs"] = """
        WITH d AS (SELECT doc_id,
                          list_filter(string_split(trim(text), ' '),
                                      x -> x <> '') AS w
                   FROM documents),
        seg AS (SELECT doc_id, i,
                       array_to_string(w[i * 5 + 1 : i * 5 + 5], ' ') AS chunk
                FROM d, unnest(generate_series(
                         0, cast(ceil(len(w) / 5.0) as int) - 1)) t(i)),
        r AS (SELECT doc_id, i, chunk,
                     row_number() OVER (PARTITION BY chunk
                                        ORDER BY doc_id, i) AS rn
              FROM seg),
        agg AS (SELECT doc_id,
                       string_agg(chunk, chr(10) ORDER BY i)
                           FILTER (WHERE rn = 1) AS cleaned,
                       count(*) FILTER (WHERE rn > 1) AS n_removed
                FROM r GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(agg.cleaned, '') AS cleaned,
               coalesce(agg.n_removed, 0)::BIGINT AS n_removed
        FROM d LEFT JOIN agg USING (doc_id)
    """

    # ExactSubstr replay: window-level dedup on the window STRING (the
    # engine fingerprints with 128-bit md5; string grouping here makes
    # the oracle collision-free, so a match also certifies the hashes)
    out["exactsubstr_dedup_docs"] = """
        WITH d AS (SELECT doc_id,
                          list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '') AS w
                   FROM documents),
        wins AS (SELECT doc_id, i AS pos,
                        array_to_string(w[i+1:i+5], ' ') AS win
                 FROM d, unnest(generate_series(0, len(w) - 5)) t(i)),
        r AS (SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY win
                                        ORDER BY doc_id, pos) AS rn
              FROM wins),
        rem AS (SELECT DISTINCT doc_id, j
                FROM r, unnest(generate_series(pos, pos + 4)) g(j)
                WHERE rn > 1),
        tok AS (SELECT doc_id, i, w[i+1] AS t
                FROM d, unnest(generate_series(0, len(w) - 1)) g(i)),
        kept AS (SELECT tok.doc_id,
                        coalesce(string_agg(t, ' ' ORDER BY i)
                            FILTER (WHERE rem.j IS NULL), '') AS cleaned,
                        count(*) FILTER (WHERE rem.j IS NOT NULL) AS nr
                 FROM tok LEFT JOIN rem
                   ON rem.doc_id = tok.doc_id AND rem.j = tok.i
                 GROUP BY tok.doc_id)
        SELECT d.doc_id, coalesce(kept.cleaned, '') AS cleaned,
               coalesce(kept.nr, 0)::BIGINT AS n_removed_tokens
        FROM d LEFT JOIN kept USING (doc_id)
    """

    # curation pipeline v2: the full LM→NB→dedup→decontaminate→mix→
    # pack chain replayed as one SQL — each block is the (already
    # individually driver-green) per-operator oracle, re-rooted on the
    # previous stage's survivor CTE
    out["curation_pipeline_v2"] = f"""
        WITH all0 AS (SELECT doc_id, lang, text FROM documents
                      WHERE length(text) > 0),
        evald AS (SELECT doc_id, text FROM all0 WHERE doc_id % 10 = 0),
        train0 AS (SELECT * FROM all0 WHERE doc_id % 10 <> 0),
        -- (1) char-bigram LM fit on train0 + perplexity gate
        chars AS (
            SELECT doc_id, i,
                   CASE WHEN unicode(substr(text, i, 1)) < 128
                        THEN unicode(substr(text, i, 1)) ELSE 128 END AS cur,
                   CASE WHEN i = 1 THEN 129
                        ELSE CASE WHEN unicode(substr(text, i - 1, 1)) < 128
                                  THEN unicode(substr(text, i - 1, 1))
                                  ELSE 128 END END AS prev
            FROM train0, unnest(generate_series(1, length(text))) AS t(i)),
        lmc AS (SELECT prev, cur, count(*) AS n
                FROM chars GROUP BY prev, cur),
        lmr AS (SELECT prev, sum(n) AS rn FROM lmc GROUP BY prev),
        lmq AS (
            SELECT c.prev, c.cur,
                   floor(ln((coalesce(lmc.n, 0) + 1.0)
                            / (coalesce(lmr.rn, 0) + 129.0))
                         * 1000000.0 + 0.5)::BIGINT AS lq
            FROM (SELECT p.i AS prev, q.i AS cur
                  FROM unnest(generate_series(0, 129)) p(i),
                       unnest(generate_series(0, 128)) q(i)) c
            LEFT JOIN lmc ON lmc.prev = c.prev AND lmc.cur = c.cur
            LEFT JOIN lmr ON lmr.prev = c.prev),
        lms AS (SELECT chars.doc_id,
                       sum(lq)::BIGINT AS total, count(*) AS nc
                FROM chars JOIN lmq
                  ON lmq.prev = chars.prev AND lmq.cur = chars.cur
                GROUP BY chars.doc_id),
        g1 AS (SELECT t.* FROM train0 t JOIN lms USING (doc_id)
               WHERE {sr('lms.total::DOUBLE / 1000000.0 / lms.nc', 6)}
                     >= -1.78),
        -- (2) hashed-unigram NB fit on g1 + label-consistency gate
        lab AS (SELECT doc_id, lang, text, (lang = 'en')::INT AS y FROM g1),
        ntk AS (SELECT doc_id, y,
                       unnest(string_split(trim(text, ' '), ' ')) AS tok
                FROM lab WHERE text IS NOT NULL),
        nbt AS (SELECT doc_id, y,
                       (('0x' || substr(md5(tok), 1, 8))::UBIGINT
                           % 256)::INT AS b
                FROM ntk),
        nbc AS (SELECT y AS cls, b, count(*) AS n
                FROM nbt WHERE y IS NOT NULL GROUP BY 1, 2),
        nbr AS (SELECT cls, sum(n) AS rn FROM nbc GROUP BY 1),
        nbg AS (SELECT c.cls, g.b
                FROM (SELECT 0 AS cls UNION ALL SELECT 1) c,
                     unnest(generate_series(0, 255)) g(b)),
        nbl AS (SELECT nbg.cls, nbg.b,
                       floor(ln((coalesce(nbc.n, 0) + 1.0)
                                / (coalesce(nbr.rn, 0) + 256.0))
                             * 1000000.0 + 0.5)::BIGINT AS lq
                FROM nbg
                LEFT JOIN nbc ON nbc.cls = nbg.cls AND nbc.b = nbg.b
                LEFT JOIN nbr ON nbr.cls = nbg.cls),
        nbd AS (SELECT y AS cls, count(*) AS n FROM lab
                WHERE text IS NOT NULL AND y IS NOT NULL GROUP BY 1),
        nbp AS (
            SELECT (SELECT floor(ln(n::DOUBLE /
                        (SELECT sum(n)::DOUBLE FROM nbd)) * 1000000.0
                        + 0.5)::BIGINT FROM nbd WHERE cls = 1)
                 - (SELECT floor(ln(n::DOUBLE /
                        (SELECT sum(n)::DOUBLE FROM nbd)) * 1000000.0
                        + 0.5)::BIGINT FROM nbd WHERE cls = 0) AS pd),
        nbs AS (SELECT nbt.doc_id, sum(l1.lq - l0.lq)::BIGINT AS s
                FROM nbt
                JOIN nbl l1 ON l1.cls = 1 AND l1.b = nbt.b
                JOIN nbl l0 ON l0.cls = 0 AND l0.b = nbt.b
                GROUP BY nbt.doc_id),
        g2 AS (SELECT lab.doc_id, lab.lang, lab.text
               FROM lab JOIN nbs USING (doc_id) CROSS JOIN nbp
               WHERE ((nbs.s + nbp.pd) > 0) = (lab.lang = 'en')),
        -- (3) sub-document exact dedup on 5-word chunks
        dw AS (SELECT doc_id, lang,
                      list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '') AS w
               FROM g2),
        seg AS (SELECT doc_id, i,
                       array_to_string(w[i * 5 + 1 : i * 5 + 5], ' ')
                           AS chunk
                FROM dw, unnest(generate_series(
                         0, cast(ceil(len(w) / 5.0) as int) - 1)) t(i)),
        sr3 AS (SELECT doc_id, i, chunk,
                       row_number() OVER (PARTITION BY chunk
                                          ORDER BY doc_id, i) AS rn
                FROM seg),
        agg3 AS (SELECT doc_id,
                        string_agg(chunk, chr(10) ORDER BY i)
                            FILTER (WHERE rn = 1) AS ct
                 FROM sr3 GROUP BY doc_id),
        g3 AS (SELECT dw.doc_id, dw.lang,
                      coalesce(agg3.ct, '') AS text
               FROM dw LEFT JOIN agg3 USING (doc_id)),
        -- (4) 8-gram decontamination of the cleaned text vs evald
        d4 AS (SELECT doc_id, lang, text,
                      list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '') AS w
               FROM g3),
        g4g AS (SELECT DISTINCT doc_id,
                       array_to_string(w[i:i+7], ' ') AS g
                FROM d4, unnest(generate_series(1, len(w) - 7)) t(i)),
        bw AS (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '') AS w
               FROM evald),
        bgr AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
                FROM bw, unnest(generate_series(1, len(w) - 7)) t(i)),
        cont AS (SELECT DISTINCT g4g.doc_id
                 FROM g4g JOIN bgr USING (g)),
        g4 AS (SELECT d4.doc_id, d4.lang, d4.text FROM d4
               WHERE d4.doc_id NOT IN (SELECT doc_id FROM cont)),
        -- (5) mixing to the fixed language target
        per AS (SELECT lang AS grp, count(*)::BIGINT AS n_docs,
                       sum(len(string_split(trim(text, ' '), ' '))::BIGINT
                           )::BIGINT AS n_tokens
                FROM g4 GROUP BY lang),
        tot AS (SELECT sum(n_tokens)::BIGINT AS t FROM per),
        wts AS (SELECT grp,
                       CASE grp WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.125
                                WHEN 'es' THEN 0.125 WHEN 'fr' THEN 0.125
                                WHEN 'zh' THEN 0.125 ELSE 0.0 END
                           * t / n_tokens AS weight
                FROM per CROSS JOIN tot),
        mb AS (SELECT g4.doc_id, g4.lang, g4.text, w.weight,
                      ('0x' || substr(md5('mix' || g4.doc_id::VARCHAR),
                                      1, 13))::UBIGINT
                          / 4503599627370496.0 AS u
               FROM g4 JOIN wts w ON w.grp = g4.lang),
        mc AS (SELECT doc_id, text,
                      (floor(weight)::BIGINT
                       + CASE WHEN u < weight - floor(weight)
                              THEN 1 ELSE 0 END)::BIGINT AS n_copies
               FROM mb),
        mixed AS (SELECT doc_id::VARCHAR || '#' ||
                         unnest(generate_series(1, n_copies))::VARCHAR
                             AS id,
                         text
                  FROM mc WHERE n_copies >= 1),
        -- (6) salted packing over the composite keys
        pb AS (SELECT id,
                      (('0x' || substr(md5(id), 1, 8))::UBIGINT
                          % 4)::INT AS shard,
                      (('0x' || substr(md5('pack' || id), 1, 8))::UBIGINT
                          % 4)::INT AS salt,
                      len(string_split(trim(text, ' '), ' '))::BIGINT
                          AS n_tokens
               FROM mixed),
        ps AS (SELECT id, shard, n_tokens,
                      (sum(n_tokens) OVER (PARTITION BY shard
                           ORDER BY salt, id)
                       - n_tokens)::BIGINT AS start
               FROM pb)
        SELECT id, shard, n_tokens,
               (start // 512)::BIGINT AS pack_id,
               (start % 512)::BIGINT AS offset_in_pack,
               (start % 512) + n_tokens > 512 AS crosses_boundary
        FROM ps
    """
    return out
