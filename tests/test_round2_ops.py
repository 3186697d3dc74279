"""Round-2 operators: contrast coders (category_encoders semantics),
Horizon label builder (leakage-guard whitelist), approximate KNNImputer
(bucketed neighbor contract)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import (
    Feature,
    FeatureEngineeringPipeline,
    LeakageError,
    PipelineContext,
)
from ballet_spark.operators.encoders import ContrastEncoder, contrast_matrix
from ballet_spark.operators.fitted import KNNImputer
from ballet_spark.operators.window_ops import Horizon


# ---- contrast matrices vs published statsmodels/R values -------------


def test_helmert_matrix_k4():
    assert contrast_matrix("helmert", 4) == [
        [-1.0, -1.0, -1.0],
        [1.0, -1.0, -1.0],
        [0.0, 2.0, -1.0],
        [0.0, 0.0, 3.0],
    ]


def test_sum_matrix_k3():
    assert contrast_matrix("sum", 3) == [[1.0, 0.0], [0.0, 1.0], [-1.0, -1.0]]


def test_backward_difference_matrix_k4():
    got = np.array(contrast_matrix("backward_difference", 4))
    exp = np.array(
        [
            [-0.75, -0.5, -0.25],
            [0.25, -0.5, -0.25],
            [0.25, 0.5, -0.25],
            [0.25, 0.5, 0.75],
        ]
    )
    assert np.allclose(got, exp)


def test_polynomial_matrix_k3_matches_r_contr_poly():
    got = np.array(contrast_matrix("polynomial", 3))
    exp = np.array(
        [
            [-0.7071067811865476, 0.4082482904638631],
            [0.0, -0.8164965809277261],
            [0.7071067811865476, 0.4082482904638631],
        ]
    )
    assert np.allclose(got, exp)
    # orthonormal columns
    assert np.allclose(got.T @ got, np.eye(2))


def test_contrast_encoder_end_to_end(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "b"), (5, None)],
        "id long, cat string",
    )
    pipe = FeatureEngineeringPipeline(
        [Feature("cat", ContrastEncoder("helmert"), output="h")],
        entity_col="id", time_col="id",
    )
    out = pipe.fit(df).transform(df).orderBy("id").toPandas()
    m = contrast_matrix("helmert", 3)
    assert out.loc[0, ["h_0", "h_1"]].tolist() == m[0]  # 'a' -> level 0
    assert out.loc[1, ["h_0", "h_1"]].tolist() == m[1]
    assert out.loc[2, ["h_0", "h_1"]].tolist() == m[2]
    assert out.loc[4, ["h_0", "h_1"]].tolist() == [0.0, 0.0]  # NULL -> zeros


def test_contrast_unknown_scheme_rejected():
    with pytest.raises(ValueError, match="unknown contrast scheme"):
        ContrastEncoder("quadratic-ish")


# ---- Horizon: label builder must be whitelisted -----------------------


def test_horizon_rejected_without_whitelist(spark, webtext_df):
    df = webtext_df.withColumn("y", F.length("text").cast("double"))
    pipe = FeatureEngineeringPipeline([Feature("y", Horizon(2), output="h")])
    with pytest.raises(LeakageError, match="Horizon"):
        pipe.fit(df).transform(df)


def test_horizon_builds_leads_when_whitelisted(spark):
    df = spark.createDataFrame(
        [("u", 1.0, 10.0), ("u", 2.0, 20.0), ("u", 3.0, 30.0)],
        "url string, warc_ts double, y double",
    )
    pipe = FeatureEngineeringPipeline(
        [Feature("y", Horizon(2, allow_future=True), output="h")]
    )
    out = pipe.fit(df).transform(df).orderBy("warc_ts").toPandas()
    assert out["h_0"].tolist()[:2] == [20.0, 30.0] and np.isnan(out["h_0"][2])
    assert out["h_1"].tolist()[:1] == [30.0]
    assert np.isnan(out["h_1"][1]) and np.isnan(out["h_1"][2])


# ---- KNNImputer: bucketed-neighbor approximation contract -------------


def _knn_fixture(spark):
    # bucket A: donors at coords 0,1,2 with values 10,20,30; one missing
    # row at coord 0.1 (nearest donors 0,1 -> mean 15 with k=2).
    # bucket B: a donor at coord 0.05 with value 999 — closer in space
    # than any A donor, but MUST NOT be used (cross-bucket).
    rows = [
        (1, "A", 0.0, 0.0, 10.0),
        (2, "A", 1.0, 0.0, 20.0),
        (3, "A", 2.0, 0.0, 30.0),
        (4, "A", 0.1, 0.0, None),
        (5, "B", 0.05, 0.0, 999.0),
        (6, "B", 5.0, 0.0, None),
    ]
    return spark.createDataFrame(
        rows, "id long, b string, x double, y double, v double"
    )


def test_knn_imputer_bucketed(spark):
    df = _knn_fixture(spark)
    imp = KNNImputer(n_neighbors=2, feature_cols=["x", "y"], by="b", id_col="id")
    ctx = PipelineContext(entity_col="b", time_col="x", point_in_time=False)
    imp.fit(df, ["v"], ctx)
    out, names = imp.transform_df(df, ["v"], "vi", ctx)
    pdf = out.orderBy("id").toPandas()
    assert names == ["vi"]
    # nearest A donors to 0.1 are x=0 (d²=0.01) and x=1 (d²=0.81)
    assert pdf.loc[3, "vi"] == pytest.approx(15.0)
    # cross-bucket donor 999 (closer!) is never consulted — that IS the
    # approximation: error vs exact KNN is bounded by bucket purity
    assert pdf.loc[3, "vi"] != pytest.approx((10.0 + 999.0) / 2)
    # B's missing row has a single donor -> k clamps to 1
    assert pdf.loc[5, "vi"] == pytest.approx(999.0)
    # donors pass through untouched
    assert pdf.loc[0, "vi"] == 10.0


def test_knn_imputer_requires_features():
    with pytest.raises(ValueError, match="feature_cols"):
        KNNImputer(n_neighbors=3).fit(None, ["v"], None)


def test_gopher_rules_on_synthetic_docs(spark):
    """Line-based Gopher rules (the fixture corpus is single-line, so
    the oracle query can't exercise these): duplicate lines, bullets,
    ellipses, symbol words, non-alpha words."""
    from pyspark.sql import functions as F

    from ballet_spark.functions.text import gopher_filter

    docs = spark.createDataFrame(
        [
            (1, "good prose line one\nanother fine line\nthird line here"),
            (2, "same line\nsame line\nsame line\nsame line"),  # dup lines
            (3, "- item one\n- item two\n- item three"),  # bullets
            (4, "teaser text...\nmore teaser...\nfinal..."),  # ellipses
            (5, "## ## ## ## word"),  # symbol-heavy
            (6, "1 2 3 4 5 6 7 8 9 10"),  # no alpha words
            (7, ""),  # empty
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in gopher_filter(
            docs, min_words=3, min_mean_word_len=0.5, max_mean_word_len=20.0
        ).collect()
    }
    assert out[1]["keep"] is True and out[1]["dup_line_frac"] == 0.0
    assert out[2]["dup_line_frac"] == 0.75 and out[2]["keep"] is False
    assert out[3]["bullet_line_frac"] == 1.0 and out[3]["keep"] is False
    assert out[4]["ellipsis_line_frac"] == 1.0 and out[4]["keep"] is False
    assert out[5]["symbol_word_ratio"] == 0.8 and out[5]["keep"] is False
    assert out[6]["alpha_word_frac"] == 0.0 and out[6]["keep"] is False
    assert out[7]["n_words"] == 0 and out[7]["keep"] is False


def test_repetition_metrics_planted(spark):
    """Planted boilerplate: 'buy now ' x20 has top-2-gram frac near 1
    and full 5-gram duplication; varied prose scores near 0 on both."""
    from pyspark.sql import functions as F

    from ballet_spark.functions.text import repetition_metrics

    docs = spark.createDataFrame(
        [
            (1, " ".join(["buy", "now"] * 20)),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "one two"),   # too short for 5-grams
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_metrics(docs).collect()}
    assert out[1]["top_2gram_frac"] > 0.5
    assert out[1]["dup_5gram_frac"] == 1.0
    assert out[2]["top_2gram_frac"] < 0.2
    assert out[2]["dup_5gram_frac"] == 0.0
    assert out[3]["dup_5gram_frac"] == 0.0  # no 5-grams -> 0, not crash
    assert out[4]["top_2gram_frac"] == 0.0  # NULL text


def test_incremental_minhash_equals_one_shot(spark):
    """Ingesting a corpus in two snapshots through the incremental LSH
    index finds EXACTLY the pairs the one-shot batch job finds — a
    pair split across the snapshot boundary is never lost."""
    from pyspark.sql import functions as F

    from ballet_spark.operators.dedup import (
        minhash_lsh_index,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
    )
    kw = dict(num_hashes=32, bands=8, threshold=0.3)
    want = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]), round(r["jaccard"], 9))
        for r in minhash_lsh_pairs(docs, **kw).collect()
    }
    assert want, "fixture must contain near-dup pairs for this test to bite"

    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    # snapshot 1: seed the index (num_hashes/bands must match later use)
    idx = minhash_lsh_index(first, num_hashes=32, bands=8)
    p1 = minhash_lsh_pairs(first, **kw)  # within-snapshot-1 pairs
    # snapshot 2: batch vs itself + batch vs index
    p2, idx_rows = minhash_lsh_pairs_incremental(second, idx, **kw)
    got = {
        (min(r["id_a"], r["id_b"]), max(r["id_a"], r["id_b"]), round(r["jaccard"], 9))
        for r in p1.collect() + p2.select("id_a", "id_b", "jaccard").collect()
    }
    assert got == want
    # the appended index composes to the full corpus index
    assert idx.union(idx_rows).count() == minhash_lsh_index(
        docs, num_hashes=32, bands=8
    ).count()


def test_exact_dedup_incremental_composes(spark):
    """Two-snapshot exact-dedup ingest keeps exactly one copy of every
    distinct text, including duplicates split across the boundary."""
    from pyspark.sql import functions as F

    from ballet_spark.operators.dedup import exact_dedup_incremental

    empty = spark.createDataFrame([], "content_md5 string")
    s1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    k1, h1 = exact_dedup_incremental(s1, empty)
    assert sorted(r["doc_id"] for r in k1.collect()) == [1, 2]
    seen = empty.unionByName(h1)
    s2 = spark.createDataFrame(
        [(4, "beta"), (5, "gamma"), (6, "gamma")], "doc_id long, text string"
    )
    k2, h2 = exact_dedup_incremental(s2, seen)
    # 'beta' was seen in snapshot 1 -> dropped; one 'gamma' survives
    assert sorted(r["doc_id"] for r in k2.collect()) == [5]
    assert seen.unionByName(h2).distinct().count() == 3  # alpha, beta, gamma


def test_decontaminate_flags_planted_overlaps(spark):
    """Planted eval leakage: verbatim copy, 8-gram-substring overlap,
    and clean docs; benchmark gram set must broadcast."""
    from ballet_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # verbatim copy → many shared grams
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # contains one 8-gram of the benchmark inside other text
            (2, "xx beta gamma delta epsilon zeta eta theta iota yy"),
            # 7-word overlap only → NOT flagged at n=8
            (3, "beta gamma delta epsilon zeta eta theta"),
            (4, "completely unrelated words that never overlap anything here"),
            (5, ""),  # shorter than n → 0, false
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(train, bench, n=8).collect()}
    assert out[1]["contaminated"] and out[1]["n_contaminated_grams"] == 3
    assert out[2]["contaminated"] and out[2]["n_contaminated_grams"] == 1
    assert not out[3]["contaminated"] and out[3]["n_contaminated_grams"] == 0
    assert not out[4]["contaminated"]
    assert not out[5]["contaminated"]

    plan = (
        decontaminate(train, bench, n=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan  # bench grams broadcast

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must be"):
        decontaminate(train, bench, n=0)


def test_remove_frequent_lines_boilerplate(spark):
    """C4-style boilerplate stripping: corpus-frequent lines removed,
    order and repetition of kept lines preserved, strict > min_df,
    empty-after-cleaning docs yield ''."""
    from ballet_spark.operators.dedup import (
        frequent_lines,
        remove_frequent_lines,
    )

    docs = [
        (1, "real content line one\nSubscribe now!\nmore content"),
        (2, "Subscribe now!\nunique thoughts here"),
        (3, "Subscribe now!\ncookie banner\nand body text"),
        (4, "cookie banner\nSubscribe now!\ncookie banner"),
        (5, "Subscribe now!"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    assert frequent_lines(df, min_df=2) == ["Subscribe now!"]
    out = {
        r["doc_id"]: r["text"]
        for r in remove_frequent_lines(df, min_df=2).collect()
    }
    assert out[1] == "real content line one\nmore content"
    assert out[2] == "unique thoughts here"
    # 'cookie banner' df=2 is NOT > 2: kept, both occurrences, in order
    assert out[4] == "cookie banner\ncookie banner"
    assert out[5] == ""  # everything stripped
    # explicit removal set skips the count pass
    out2 = {
        r["doc_id"]: r["text"]
        for r in remove_frequent_lines(df, freq=["cookie banner"]).collect()
    }
    assert out2[4] == "Subscribe now!"
    # the rewrite is map-side: no Exchange in the plan with freq given
    plan = (
        remove_frequent_lines(df, freq=["cookie banner"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_stopword_ratio_empty_list_is_zero(spark):
    from ballet_spark.functions.text import stopword_ratio

    df = spark.createDataFrame([("the cat and the dog",)], "text string")
    r_default = df.select(stopword_ratio(F.col("text")).alias("r")).first()["r"]
    r_empty = df.select(stopword_ratio(F.col("text"), []).alias("r")).first()["r"]
    assert r_default > 0
    assert r_empty == 0.0


def test_gopher_filter_rejects_unknown_threshold(spark):
    from ballet_spark.functions.text import gopher_filter

    df = spark.createDataFrame([(1, "some text here")], "doc_id long, text string")
    with pytest.raises(TypeError, match="unknown gopher threshold"):
        gopher_filter(df, minwords=5)  # typo'd key must not pass silently
