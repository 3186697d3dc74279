"""NULL and NaN across the Python boundary of the text, LM, NB,
ExactSubstr and KNN kernels: a NaN double that only passes through a
kernel's stage comes back NaN (not NULL), and every value the kernel
itself leaves undefined comes back NULL."""

import math

import pytest

from ballet_spark.core import PipelineContext
from ballet_spark.functions.classifier import fit_nb_tokens, score_nb_tokens
from ballet_spark.functions.lm import fit_char_bigram_lm, score_char_bigram_lm
from ballet_spark.operators.dedup import dedup_substrings
from ballet_spark.operators.fitted import KNNImputer

NAN = float("nan")


def _is_nan(v) -> bool:
    return v is not None and math.isnan(v)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", NAN, 1),
        (2, "spam buy now click here free offer", None, 0),
        (3, "the quick brown fox jumps over the lazy dog again", 2.5, 1),
        (4, None, NAN, 0),
        (5, "", 1.0, 1),
        (6, "buy now click here free offer spam spam", NAN, 0),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, x double, y int")


def test_lm_score_keeps_nan_and_nulls(docs):
    lm = fit_char_bigram_lm(docs, "text")
    out = {r.doc_id: r for r in score_char_bigram_lm(docs, lm, "text").collect()}
    assert _is_nan(out[1].x) and _is_nan(out[4].x) and _is_nan(out[6].x)
    assert out[2].x is None and out[3].x == 2.5
    # NULL and empty text score NULL; the others score
    assert out[4].lm_logp is None and out[4].lm_logp_ppl is None
    assert out[5].lm_logp is None and out[5].lm_logp_ppl is None
    assert all(out[i].lm_logp is not None for i in (1, 2, 3, 6))


def test_nb_score_keeps_nan_and_nulls(docs):
    model = fit_nb_tokens(docs, "y", "text", n_buckets=16)
    out = {r.doc_id: r for r in score_nb_tokens(docs, model, "text").collect()}
    assert _is_nan(out[1].x) and _is_nan(out[4].x) and _is_nan(out[6].x)
    assert out[2].x is None and out[3].x == 2.5
    r = out[4]
    assert (r.nb_logodds_q, r.nb_logodds, r.nb_pred) == (None, None, None)
    assert all(out[i].nb_logodds_q is not None for i in (1, 2, 3, 5, 6))


def test_dedup_substrings_keeps_nan(docs):
    out = {r.doc_id: r for r in dedup_substrings(docs, k=3).collect()}
    assert _is_nan(out[1].x) and _is_nan(out[4].x) and _is_nan(out[6].x)
    assert out[2].x is None and out[3].x == 2.5
    assert out[4].text == "" and out[4].n_removed_tokens == 0
    # doc 3 repeats doc 1's whole 9-token prefix
    assert out[3].text == "again" and out[3].n_removed_tokens == 9


def _impute(spark, rows, k=2):
    df = spark.createDataFrame(
        rows, "id long, b string, x double, y double, v double, z double"
    )
    imp = KNNImputer(n_neighbors=k, feature_cols=["x", "y"], by="b", id_col="id")
    ctx = PipelineContext(entity_col="b", time_col="x", point_in_time=False)
    imp.fit(df, ["v"], ctx)
    out, _ = imp.transform_df(df, ["v"], "vi", ctx)
    return {r.id: r for r in out.collect()}


def test_knn_imputer_keeps_nan_passthrough(spark):
    out = _impute(
        spark,
        [
            (1, "A", 0.0, 0.0, 10.0, NAN),
            (2, "A", 1.0, 0.0, 20.0, None),
            (3, "A", 0.1, 0.0, None, NAN),
        ],
    )
    assert _is_nan(out[1].z) and _is_nan(out[3].z) and out[2].z is None
    assert out[3].vi == pytest.approx(15.0)


def test_knn_imputer_bucket_without_donors_stays_null(spark):
    out = _impute(
        spark,
        [
            (1, "A", 0.0, 0.0, 10.0, 0.0),
            (2, "C", 0.0, 0.0, None, 0.0),
            (3, "C", 1.0, 0.0, NAN, 0.0),
        ],
    )
    assert out[1].vi == 10.0
    assert out[2].vi is None and out[3].vi is None


def test_knn_imputer_nan_target_imputed_like_null(spark):
    rows = [
        (1, "A", 0.0, 0.0, 10.0, 0.0),
        (2, "A", 1.0, 0.0, 20.0, 0.0),
        (3, "A", 2.0, 0.0, 30.0, 0.0),
        (4, "A", 0.1, 0.0, None, 0.0),
        (5, "A", 1.9, 0.0, NAN, 0.0),
    ]
    out = _impute(spark, rows)
    assert out[4].vi == pytest.approx(15.0)
    assert out[5].vi == pytest.approx(25.0)
    # and the same rows with the NaN written as NULL impute identically
    out_null = _impute(spark, [r[:4] + (None, 0.0) if r[0] == 5 else r for r in rows])
    assert out_null[5].vi == out[5].vi and out_null[4].vi == out[4].vi


def test_text_kernels_map_null_to_null(spark):
    from pyspark.sql import functions as F

    from ballet_spark.functions.text import (
        extract_text_col,
        extract_title_col,
        lang_id,
        lang_id_col,
        repetition_metrics,
        rolling_fingerprint,
        rolling_fingerprint_col,
    )
    from ballet_spark.operators.dedup import simhash, simhash_col

    texts = [None, "", "the cat and the dog", "der Hund und die Katze"]
    html = [None, b"<title>t</title><p>a</p><p>b</p>"]
    df = spark.createDataFrame(
        [(i, t, html[i % 2]) for i, t in enumerate(texts)],
        "doc_id long, text string, html binary",
    )
    got = df.select(
        "doc_id",
        lang_id_col(F.col("text")).alias("lang"),
        rolling_fingerprint_col(F.col("text")).alias("fp"),
        simhash_col(F.col("text")).alias("sh"),
        extract_text_col(F.col("html")).alias("body"),
        extract_title_col(F.col("html")).alias("title"),
    ).orderBy("doc_id").collect()
    assert [r.lang for r in got] == [None, "und", "en", "de"]
    assert [r.lang for r in got][1:] == [lang_id(t) for t in texts[1:]]
    assert [r.fp for r in got] == [None] + [rolling_fingerprint(t) for t in texts[1:]]
    assert [r.sh for r in got] == simhash(texts)
    assert got[0].fp is None and got[0].sh is None and got[1].sh == 0
    assert [(r.body, r.title) for r in got] == [(None, None), ("a\nb", "t")] * 2
    rep = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert (rep[0].top_2gram_frac, rep[0].dup_5gram_frac) == (0.0, 0.0)
