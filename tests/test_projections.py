"""Projections / quantile transform / splits vs numpy oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import (
    Feature,
    FeatureEngineeringPipeline,
    PipelineContext,
)
from ballet_spark.operators.projections import (
    GaussianRandomProjection,
    Normalizer,
    QuantileTransformer,
    SparseRandomProjection,
    YeoJohnson,
    yeo_johnson_expr,
)
from ballet_spark.plans.splits import as_of_slice, train_val_split


@pytest.fixture(scope="module")
def xy_df(spark):
    rng = np.random.default_rng(9)
    n = 300
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "warc_ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(np.arange(n), "h"),
            "x1": rng.standard_normal(n),
            "x2": rng.exponential(2.0, n),
            "x3": rng.standard_normal(n) * 3,
        }
    )
    df = spark.createDataFrame(pdf)
    df.persist().count()
    return df, pdf


def _run(df, feat):
    return (
        FeatureEngineeringPipeline([feat])
        .fit(df)
        .transform(df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
        .reset_index(drop=True)
    )


def _sorted(pdf):
    return pdf.sort_values(["url", "warc_ts"], kind="mergesort").reset_index(drop=True)


def test_normalizer_l2(xy_df):
    df, pdf = xy_df
    out = _run(df, Feature(["x1", "x2", "x3"], Normalizer("l2"), output="n"))
    p = _sorted(pdf)
    X = p[["x1", "x2", "x3"]].to_numpy()
    exp = X / np.linalg.norm(X, axis=1, keepdims=True)
    got = out[["n_0", "n_1", "n_2"]].to_numpy()
    assert np.allclose(got, exp)


def test_gaussian_projection_matches_numpy(xy_df):
    df, pdf = xy_df
    tr = GaussianRandomProjection(n_components=2, seed=7)
    out = _run(df, Feature(["x1", "x2", "x3"], tr, output="g"))
    p = _sorted(pdf)
    X = p[["x1", "x2", "x3"]].to_numpy()
    rng = np.random.default_rng(7)
    R = rng.standard_normal((3, 2)) / np.sqrt(2)
    exp = X @ R
    got = out[["g_0", "g_1"]].to_numpy()
    assert np.allclose(got, exp, atol=1e-9)


def test_sparse_projection_shape_and_determinism(xy_df):
    df, _ = xy_df
    tr = SparseRandomProjection(n_components=2, seed=7)
    out1 = _run(df, Feature(["x1", "x2", "x3"], tr, output="s"))
    out2 = _run(df, Feature(["x1", "x2", "x3"], tr.copy(), output="s"))
    assert np.allclose(out1[["s_0", "s_1"]].to_numpy(), out2[["s_0", "s_1"]].to_numpy())


def test_quantile_transformer_uniformizes(xy_df):
    df, pdf = xy_df
    out = _run(df, Feature("x2", QuantileTransformer(n_quantiles=21), output="q"))
    q = out["q"].to_numpy()
    assert q.min() >= 0 and q.max() <= 1
    # rank correlation with the raw values must be ~1 (monotone map)
    p = _sorted(pdf)
    raw = p["x2"].to_numpy()
    assert np.corrcoef(np.argsort(np.argsort(raw)), np.argsort(np.argsort(q)))[0, 1] > 0.999
    # approx uniform: quartile masses ~25%
    for lo, hi in [(0, 0.25), (0.25, 0.5), (0.5, 0.75), (0.75, 1.0)]:
        frac = ((q > lo) & (q <= hi)).mean()
        assert 0.15 < frac < 0.35


def test_yeo_johnson_lambda_zero_is_log1p_on_positive(xy_df):
    df, pdf = xy_df
    out = _run(df, Feature("x2", YeoJohnson(0.0), output="yj"))
    p = _sorted(pdf)
    exp = np.log1p(p["x2"].to_numpy())  # x2 > 0
    assert np.allclose(out["yj"].to_numpy(), exp)


def test_yeo_johnson_negative_branch(spark):
    pdf = pd.DataFrame({"url": ["a"], "warc_ts": pd.to_datetime(["2024-01-01"]), "v": [-3.0]})
    df = spark.createDataFrame(pdf)
    got = df.select(yeo_johnson_expr(F.col("v"), 0.5).alias("o")).first()["o"]
    # YJ for x<0, λ=0.5: -(((1-x)^(2-λ)) - 1)/(2-λ)
    exp = -(((1 - (-3.0)) ** 1.5) - 1) / 1.5
    assert np.isclose(got, exp)


def test_as_of_slice_and_split(xy_df):
    df, pdf = xy_df
    t = pd.Timestamp("2024-01-05")
    train, val = train_val_split(df, t)
    assert train.count() == (pdf["warc_ts"] <= t).sum()
    assert val.count() == (pdf["warc_ts"] > t).sum()
    assert as_of_slice(df, t).count() == train.count()
    # same-instant inclusivity
    exact_t = pdf["warc_ts"].iloc[10]
    assert (
        as_of_slice(df, exact_t).filter(F.col("warc_ts") == F.lit(exact_t)).count() == 1
    )


def test_quantile_transformer_propagates_nulls(spark):
    from ballet_spark.operators.projections import QuantileTransformer

    df = spark.createDataFrame([(float(i),) for i in range(1, 21)] + [(None,)], "x double")
    ctx = PipelineContext(point_in_time=False)
    qt = QuantileTransformer(n_quantiles=5).fit(df, ["x"], ctx)
    out, names = qt.transform_df(df, ["x"], "q", ctx)
    assert out.filter(F.col(names[0]).isNull()).count() == 1
