"""Unit tests for the late-round-4 trio: sequence packing / corpus
mixing (operators/packing.py), the hashed-token NB classifier
(functions/classifier.py), and SemDeDup semantic deduplication
(operators/dedup.py::semantic_dedup). The DuckDB value oracles live in
test_entry_oracle.py via the driver queries; these tests pin the
SEMANTICS: boundary arithmetic, partitioning invariance, determinism,
and error contracts."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.functions.classifier import (
    fit_nb_tokens,
    nb_quality_filter,
    score_nb_tokens,
)
from ballet_spark.operators.dedup import semantic_dedup
from ballet_spark.operators.packing import mixing_weights, pack_sequences


# ---------------------------------------------------------------- packing
def test_pack_sequences_chunk_arithmetic(spark):
    # one shard (n_shards=1) so the prefix sum is a single ordered walk:
    # docs of 300/300/100/512 tokens under budget 512 →
    # starts 0/300/600/700 → packs 0/0/1/1, offsets 0/300/88/188
    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate([300, 300, 100, 512])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = (
        pack_sequences(df, budget=512, n_shards=1)
        .orderBy("id")
        .collect()
    )
    assert [r["n_tokens"] for r in out] == [300, 300, 100, 512]
    assert [r["pack_id"] for r in out] == [0, 0, 1, 1]
    assert [r["offset_in_pack"] for r in out] == [0, 300, 88, 188]
    # doc 1 straddles 512 (300+300 > 512); doc 3 straddles (188+512 > 512);
    # doc 2 fits (88+100 <= 512); doc 0 fits exactly from 0
    assert [r["crosses_boundary"] for r in out] == [False, True, False, True]


def test_pack_sequences_exact_fit_is_not_a_crossing(spark):
    # a doc ending EXACTLY at the budget boundary does not cross
    rows = [(0, " ".join(["w"] * 512)), (1, " ".join(["w"] * 5))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in pack_sequences(df, budget=512, n_shards=1).collect()}
    assert out[0]["crosses_boundary"] is False
    assert out[1]["pack_id"] == 1 and out[1]["offset_in_pack"] == 0


def test_pack_sequences_precomputed_token_col(spark):
    df = spark.createDataFrame(
        [(0, "ignored", 7), (1, "ignored", 9)], "doc_id long, text string, nt int"
    )
    out = {
        r["id"]: r
        for r in pack_sequences(
            df, budget=8, n_shards=1, n_tokens_col="nt"
        ).collect()
    }
    assert out[0]["n_tokens"] == 7 and out[1]["offset_in_pack"] == 7
    assert out[1]["crosses_boundary"] is True


def test_pack_sequences_shard_stability(spark):
    # shard assignment is md5(id)-deterministic: appending rows never
    # moves an existing doc to a different shard
    a = spark.createDataFrame([(i, "x y z") for i in range(40)], "doc_id long, text string")
    b = spark.createDataFrame([(i, "x y z") for i in range(80)], "doc_id long, text string")
    sa = {r["id"]: r["shard"] for r in pack_sequences(a, n_shards=8).collect()}
    sb = {r["id"]: r["shard"] for r in pack_sequences(b, n_shards=8).collect()}
    assert all(sb[i] == sa[i] for i in sa)


def test_mixing_weights_exact_shares(spark):
    rows = [(f"d{i}", "en", "a b c d") for i in range(3)] + [
        ("x", "de", "a b"),
    ]  # en: 12 tokens, de: 2 tokens, total 14
    df = spark.createDataFrame(rows, "doc_id string, lang string, text string")
    out = {r["grp"]: r for r in mixing_weights(df, {"en": 0.6, "de": 0.4}).collect()}
    assert out["en"]["n_docs"] == 3 and out["en"]["n_tokens"] == 12
    assert out["en"]["share"] == 12.0 / 14.0
    assert out["en"]["weight"] == 0.6 * 14.0 / 12.0
    assert out["de"]["weight"] == 0.4 * 14.0 / 2.0


def test_mixing_weights_absent_group_dropped(spark):
    df = spark.createDataFrame(
        [("a", "en", "x"), ("b", "zz", "x y")], "doc_id string, lang string, text string"
    )
    out = {r["grp"]: r for r in mixing_weights(df, {"en": 1.0}).collect()}
    assert out["zz"]["weight"] == 0.0 and out["en"]["weight"] > 1.0


# ------------------------------------------------------------- classifier
@pytest.fixture(scope="module")
def nb_corpus(spark):
    rows = []
    for i in range(40):
        rows.append((i, "good clean prose with the and of to", 1))
    for i in range(40, 80):
        rows.append((i, "spam buy now click here free offer", 0))
    # a few mixed docs so neither class is trivially separable
    for i in range(80, 90):
        rows.append((i, "good spam the offer", i % 2))
    return spark.createDataFrame(rows, "doc_id long, text string, y int")


def test_nb_fit_score_separates_classes(spark, nb_corpus):
    model = fit_nb_tokens(nb_corpus, "y", "text", n_buckets=64)
    scored = score_nb_tokens(nb_corpus, model, "text").collect()
    for r in scored:
        if r["doc_id"] < 40:
            assert r["nb_pred"] is True, r
        elif r["doc_id"] < 80:
            assert r["nb_pred"] is False, r


def test_nb_score_partitioning_invariant(spark, nb_corpus):
    """nb_logodds_q is an exact int64 sum — identical under ANY
    partitioning (the 100 TB invariant: a repartitioned cluster run
    scores every doc to the same integer)."""
    model = fit_nb_tokens(nb_corpus, "y", "text", n_buckets=64)
    one = {
        r["doc_id"]: r["nb_logodds_q"]
        for r in score_nb_tokens(nb_corpus.coalesce(1), model, "text").collect()
    }
    many = {
        r["doc_id"]: r["nb_logodds_q"]
        for r in score_nb_tokens(nb_corpus.repartition(7), model, "text").collect()
    }
    assert one == many


def test_nb_fit_partitioning_invariant(spark, nb_corpus):
    """The fitted table itself is partitioning-invariant: counts merge
    through an integer groupBy, log-probs quantize once per entry."""
    m1 = fit_nb_tokens(nb_corpus.coalesce(1), "y", "text", n_buckets=32)
    m2 = fit_nb_tokens(nb_corpus.repartition(5), "y", "text", n_buckets=32)
    t1 = {(r["cls"], r["bucket"]): (r["n"], r["logp_q"]) for r in m1.collect()}
    t2 = {(r["cls"], r["bucket"]): (r["n"], r["logp_q"]) for r in m2.collect()}
    assert t1 == t2
    assert len(t1) == 2 * 32 + 2  # every bucket present + 2 priors


def test_nb_fit_skips_null_labels(spark):
    """NULL labels arrive in the Arrow batch as NaN in a float column
    (not None) — the fit must skip them, not crash on int(NaN)."""
    rows = [(0, "the and of", 1), (1, "buy now free", 0), (2, "whatever", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, y int")
    model = fit_nb_tokens(df, "y", "text", n_buckets=16)
    # the NULL-label doc contributed nothing: doc counts are 1/1
    priors = {r["cls"]: r["n"] for r in model.filter("bucket = -1").collect()}
    assert priors == {0: 1, 1: 1}


def test_nb_single_class_raises(spark):
    df = spark.createDataFrame([(0, "a b", 1), (1, "c", 1)], "doc_id long, text string, y int")
    with pytest.raises(ValueError, match="each class"):
        fit_nb_tokens(df, "y", "text", n_buckets=16)


def test_nb_null_text_scores_null_and_passes_filter(spark, nb_corpus):
    model = fit_nb_tokens(nb_corpus, "y", "text", n_buckets=64)
    extra = spark.createDataFrame([(999, None)], "doc_id long, text string")
    scored = score_nb_tokens(extra, model, "text").collect()[0]
    assert scored["nb_logodds_q"] is None and scored["nb_pred"] is None
    kept = nb_quality_filter(extra, model, "text").collect()
    assert len(kept) == 1  # NULL text passes through the quality gate


# ----------------------------------------------------------- semantic dedup
def test_semantic_dedup_flags_near_duplicates(spark):
    """Two exact duplicates + one near-dup + orthogonal singletons:
    the smallest id of each similar set survives, the rest flag."""
    e = np.eye(4)
    rows = [
        (0, e[0].tolist()),
        (1, e[0].tolist()),                      # exact dup of 0
        (2, (0.9 * e[0] + 0.1 * e[1]).tolist()),  # near-dup of 0
        (3, e[1].tolist()),
        (4, e[2].tolist()),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.stack([e[0], e[1], e[2]])
    out = {r["id"]: r for r in semantic_dedup(df, cents, threshold=0.95).collect()}
    assert out[0]["is_dup"] is False and out[0]["max_prev_cos"] is None
    assert out[1]["is_dup"] is True and out[1]["max_prev_cos"] == 1.0
    assert out[2]["is_dup"] is True  # cos(0.9,0.1 mix vs e0) ≈ 0.9939
    assert out[3]["is_dup"] is False and out[4]["is_dup"] is False
    # rows 0,1,2 share centroid 0's cluster
    assert out[0]["cluster_size"] == 3 and out[4]["cluster_size"] == 1


def test_semantic_dedup_partitioning_invariant(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(30, 8))
    rows = [(i, base[i].tolist()) for i in range(30)]
    # plant dups: 100..104 duplicate 0..4
    rows += [(100 + i, base[i].tolist()) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = base[:4]
    a = {r["id"]: (r["is_dup"], r["max_prev_cos"], r["centroid_id"])
         for r in semantic_dedup(df.coalesce(1), cents, 0.99).collect()}
    b = {r["id"]: (r["is_dup"], r["max_prev_cos"], r["centroid_id"])
         for r in semantic_dedup(df.repartition(9), cents, 0.99).collect()}
    assert a == b
    for i in range(5):
        assert a[100 + i][0] is True and a[i][0] is False


def test_semantic_dedup_one_row_per_input(spark):
    rng = np.random.default_rng(3)
    rows = [(i, rng.normal(size=6).tolist()) for i in range(25)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.stack([rng.normal(size=6) for _ in range(4)])
    out = semantic_dedup(df, cents)
    assert out.count() == 25
    assert out.select("id").distinct().count() == 25


# ------------------------------------------- salted / auto-shard packing
def _md5_bucket(key, n, salt=""):
    import hashlib

    h = hashlib.md5((salt + str(key)).encode()).hexdigest()
    return int(h[:8], 16) % n


def _expected_packing(rows, budget, n_shards, salt_chunks):
    """Pandas replay of the salted semantics: within a shard, docs
    ordered by (salt, id); prefix sum; pack arithmetic."""
    recs = []
    for doc_id, n_tok in rows:
        recs.append(
            {
                "id": doc_id,
                "shard": _md5_bucket(doc_id, n_shards),
                "salt": _md5_bucket(doc_id, salt_chunks, salt="pack"),
                "n_tokens": n_tok,
            }
        )
    out = {}
    by_shard = {}
    for r in recs:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r["salt"], r["id"]))
        start = 0
        for r in rs:
            out[r["id"]] = {
                "shard": shard,
                "pack_id": start // budget,
                "offset_in_pack": start % budget,
                "crosses_boundary": start % budget + r["n_tokens"] > budget,
            }
            start += r["n_tokens"]
    return out


@pytest.mark.parametrize("n_shards", [2, 8])
def test_pack_sequences_salted_matches_single_window_order(spark, n_shards):
    """Two-phase (local prefix + carry broadcast) must equal a plain
    walk over the SAME (salt, id) order — at two shard counts."""
    rng = np.random.default_rng(3)
    rows = [(int(i), int(rng.integers(1, 700))) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    got = {
        r["id"]: r
        for r in pack_sequences(
            df,
            budget=512,
            n_shards=n_shards,
            n_tokens_col="n_tok",
            salt_chunks=4,
        ).collect()
    }
    want = _expected_packing(rows, 512, n_shards, 4)
    assert len(got) == len(want)
    for doc_id, w in want.items():
        g = got[doc_id]
        assert (g["shard"], g["pack_id"], g["offset_in_pack"],
                g["crosses_boundary"]) == (
            w["shard"], w["pack_id"], w["offset_in_pack"],
            w["crosses_boundary"]), doc_id


def test_pack_sequences_salted_partitioning_invariance(spark):
    rows = [(int(i), int(i % 13 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    a = sorted(
        pack_sequences(df.repartition(1), budget=64, n_shards=3,
                       n_tokens_col="n_tok", salt_chunks=5).collect(),
        key=lambda r: r["id"],
    )
    b = sorted(
        pack_sequences(df.repartition(11, "doc_id"), budget=64, n_shards=3,
                       n_tokens_col="n_tok", salt_chunks=5).collect(),
        key=lambda r: r["id"],
    )
    assert a == b


def test_pack_sequences_auto_shards(spark):
    rows = [(int(i), 100) for i in range(50)]  # 5000 tokens total
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = pack_sequences(
        df, budget=512, n_shards=None, n_tokens_col="n_tok",
        tokens_per_shard=1000,
    )
    shards = {r["shard"] for r in out.collect()}
    # ceil(5000/1000) = 5 shards resolved; md5 buckets land inside [0,5)
    assert shards <= set(range(5)) and len(shards) >= 2
    # empty corpus: resolves to 1 shard, no crash
    empty = spark.createDataFrame([], "doc_id long, n_tok long")
    assert pack_sequences(empty, n_shards=None, n_tokens_col="n_tok").count() == 0


def test_pack_sequences_salt_preserves_token_mass(spark):
    rows = [(int(i), int(i % 7 + 1)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    plain = pack_sequences(df, budget=128, n_shards=4, n_tokens_col="n_tok")
    salted = pack_sequences(df, budget=128, n_shards=4, n_tokens_col="n_tok",
                            salt_chunks=6)
    p = {r["shard"]: r["s"] for r in
         plain.groupBy("shard").agg(F.sum("n_tokens").alias("s")).collect()}
    s = {r["shard"]: r["s"] for r in
         salted.groupBy("shard").agg(F.sum("n_tokens").alias("s")).collect()}
    assert p == s  # salting changes order/plan, never shard token mass


# --------------------------------------------- semdedup auto-k / guard
def test_semdedup_auto_k():
    from ballet_spark.operators.dedup import semdedup_auto_k

    assert semdedup_auto_k(0) == 16
    assert semdedup_auto_k(1_000) == 16
    assert semdedup_auto_k(10_000_000, expected_cluster=4096) == 2442
    # k ∝ n: doubling the corpus doubles k (constant cluster size)
    assert semdedup_auto_k(20_000_000, 4096) == 2 * 2442 - 1  # ceil rounding
    with pytest.raises(ValueError):
        semdedup_auto_k(-1)
    with pytest.raises(ValueError):
        semdedup_auto_k(10, expected_cluster=0)


def test_semantic_dedup_hot_cluster_guard(spark):
    rows = [(i, [1.0, 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0]])
    with pytest.raises(Exception, match="max_cluster"):
        semantic_dedup(df, cents, max_cluster=5).collect()
    # under the cap: runs fine
    assert semantic_dedup(df, cents, max_cluster=100).count() == 10


def test_semantic_dedup_zero_norm_embedding(spark):
    """A zero-norm embedding must score cosine 0.0 (never NaN) and the
    DuckDB oracle's CASE guard must agree row for row."""
    import duckdb

    from ballet_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),   # zero vector, same cluster as id 1
        (3, [1.0, 0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0]])  # single centroid: everyone together
    out = semantic_dedup(df, cents, threshold=0.9).toPandas()
    out = out.sort_values("id").reset_index(drop=True)
    z = out[out["id"] == 2].iloc[0]
    assert z["max_prev_cos"] == 0.0 and not z["is_dup"]
    assert not out["max_prev_cos"].iloc[1:].isna().any()
    con = duckdb.connect()
    oracle = con.execute(
        """
        WITH e AS (SELECT * FROM (VALUES
            (1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.001])
        ) t(id, v)),
        mx AS (
            SELECT b.id,
                   max(CASE WHEN list_dot_product(a.v, a.v) = 0
                              OR list_dot_product(b.v, b.v) = 0
                            THEN 0.0
                            ELSE list_cosine_similarity(a.v, b.v) END) AS m
            FROM e a JOIN e b ON a.id < b.id GROUP BY b.id)
        SELECT e.id,
               sign(mx.m) * floor(abs(mx.m) * 1000000 + 0.5) / 1000000 AS q
        FROM e LEFT JOIN mx ON mx.id = e.id ORDER BY e.id
        """
    ).fetchall()
    def grid(x):  # the shared 1e-6 sign/floor rounding
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    got = {int(r["id"]): r["max_prev_cos"] for _, r in out.iterrows()}
    for oid, oq in oracle:
        if oq is None:
            assert pd.isna(got[oid])
        else:
            assert grid(got[oid]) == pytest.approx(oq, abs=0)
