"""Fitted operators vs pandas oracles with reference fit/transform
semantics: params learned on TRAIN only, applied to test rows
(ballet/eng/base.py:94-148; tests/eng/test_base.py:82-197 goldens)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.utils import PythonException

from ballet_spark.core import Feature, FeatureEngineeringPipeline, PipelineContext
from ballet_spark.operators.fitted import (
    Binarizer,
    BoxCoxTransformer,
    ComputedValueTransformer,
    ConditionalTransformer,
    Groupwise,
    KBinsDiscretizer,
    MaxAbsScaler,
    MinMaxScaler,
    PolynomialFeatures,
    RobustScaler,
    SimpleImputer,
    StandardScaler,
    Winsorizer,
)


@pytest.fixture(scope="module")
def num_pdf():
    rng = np.random.default_rng(11)
    n = 400
    pdf = pd.DataFrame(
        {
            "url": [f"u{i % 40}" for i in range(n)],
            "warc_ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(np.arange(n), unit="h"),
            "grp": [f"g{i % 5}" for i in range(n)],
            "x": rng.exponential(10.0, n),
            "z": rng.normal(0, 2, n),
        }
    )
    pdf.loc[pdf.sample(frac=0.15, random_state=5).index, "x"] = np.nan
    return pdf


@pytest.fixture(scope="module")
def num_df(spark, num_pdf):
    df = spark.createDataFrame(num_pdf)
    df.persist().count()
    return df


def _fitcheck(train_df, train_pdf, transformer, col, expected_fn, atol=1e-9):
    """Fit on train, transform train, compare to pandas oracle."""
    out = (
        FeatureEngineeringPipeline([Feature(col, transformer, output="o")])
        .fit(train_df)
        .transform(train_df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
    )
    exp = expected_fn(train_pdf.sort_values(["url", "warc_ts"], kind="mergesort"))
    assert np.allclose(
        out["o"].to_numpy(dtype=float), np.asarray(exp, dtype=float),
        equal_nan=True, atol=atol,
    )


def test_standard_scaler(num_df, num_pdf):
    _fitcheck(
        num_df, num_pdf, StandardScaler(), "z",
        lambda p: (p["z"] - p["z"].mean()) / p["z"].std(ddof=0),
    )


def test_minmax_scaler(num_df, num_pdf):
    _fitcheck(
        num_df, num_pdf, MinMaxScaler(), "z",
        lambda p: (p["z"] - p["z"].min()) / (p["z"].max() - p["z"].min()),
    )


def test_maxabs_scaler(num_df, num_pdf):
    _fitcheck(
        num_df, num_pdf, MaxAbsScaler(), "z",
        lambda p: p["z"] / p["z"].abs().max(),
    )


def test_robust_scaler(num_df, num_pdf):
    def oracle(p):
        q1, med, q3 = p["z"].quantile([0.25, 0.5, 0.75])
        return (p["z"] - med) / (q3 - q1)

    _fitcheck(num_df, num_pdf, RobustScaler(), "z", oracle, atol=1e-6)


def test_simple_imputer_mean(num_df, num_pdf):
    _fitcheck(
        num_df, num_pdf, SimpleImputer("mean"), "x",
        lambda p: p["x"].fillna(p["x"].mean()),
    )


def test_simple_imputer_median(num_df, num_pdf):
    _fitcheck(
        num_df, num_pdf, SimpleImputer("median"), "x",
        lambda p: p["x"].fillna(p["x"].median()),
        atol=1e-6,
    )


def test_winsorizer(num_df, num_pdf):
    def oracle(p):
        lo, hi = p["z"].quantile([0.05, 0.95])
        return p["z"].clip(lo, hi)

    _fitcheck(num_df, num_pdf, Winsorizer(0.05, 0.95), "z", oracle, atol=1e-6)


def test_computed_value(num_df, num_pdf):
    _fitcheck(
        num_df, num_pdf, ComputedValueTransformer(F.avg), "z",
        lambda p: np.full(len(p), p["z"].mean()),
    )


def test_binarizer_and_poly(num_df, num_pdf):
    _fitcheck(
        num_df, num_pdf, Binarizer(0.0), "z",
        lambda p: (p["z"] > 0).astype(int),
    )
    out = (
        FeatureEngineeringPipeline(
            [Feature(["z", "x"], PolynomialFeatures(), output="p")]
        )
        .fit(num_df)
        .transform(num_df)
    )
    # 2 linear + 3 quadratic columns
    assert [c for c in out.columns if c.startswith("p_")] == [
        f"p_{i}" for i in range(5)
    ]


def test_boxcox_selects_skewed_only(num_df, num_pdf):
    """x is exponential (skew >> 0.75) → log1p'd; z is normal → identity
    (ballet/eng/misc.py:33-55)."""
    pipe = FeatureEngineeringPipeline(
        [
            Feature("x", [SimpleImputer("mean"), BoxCoxTransformer(0.75)], output="bx"),
            Feature("z", BoxCoxTransformer(0.75), output="bz"),
        ]
    )
    out = (
        pipe.fit(num_df)
        .transform(num_df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
    )
    p = num_pdf.sort_values(["url", "warc_ts"], kind="mergesort")
    exp_x = np.log1p(p["x"].fillna(p["x"].mean()))
    assert np.allclose(out["bx"].to_numpy(float), exp_x, atol=1e-9)
    assert np.allclose(out["bz"].to_numpy(float), p["z"].to_numpy(float))


def test_kbins_quantile(num_df, num_pdf):
    out = (
        FeatureEngineeringPipeline(
            [Feature("z", KBinsDiscretizer(4, "quantile"), output="b")]
        )
        .fit(num_df)
        .transform(num_df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
    )
    p = num_pdf.sort_values(["url", "warc_ts"], kind="mergesort")
    qs = p["z"].quantile([0.25, 0.5, 0.75]).to_numpy()
    exp = np.digitize(p["z"].to_numpy(), qs, right=True)
    assert (out["b"].to_numpy() == exp).all()


def test_groupwise_mean_impute_train_and_unseen(spark):
    """The reference golden scenario (tests/eng/test_base.py:82-197):
    group-mean imputation learned on train, applied to test rows,
    unseen group 'Z' → error or passthrough by handle_unknown."""
    train_pdf = pd.DataFrame(
        {
            "url": list("AAABBCC"),
            "warc_ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(range(7), unit="D"),
            "grp": list("AAABBCC"),
            "value": [1.0, np.nan, 3.0, 4.0, np.nan, 6.0, 8.0],
        }
    )
    test_pdf = pd.DataFrame(
        {
            "url": list("ABCZ"),
            "warc_ts": pd.to_datetime("2024-02-01")
            + pd.to_timedelta(range(4), unit="D"),
            "grp": list("ABCZ"),
            "value": [np.nan, np.nan, np.nan, np.nan],
        }
    )
    train, test = spark.createDataFrame(train_pdf), spark.createDataFrame(test_pdf)

    feat = Feature(
        "value", Groupwise(SimpleImputer("mean"), by="grp", handle_unknown="ignore"),
        output="imp",
    )
    fitted = FeatureEngineeringPipeline([feat]).fit(train)
    got_train = fitted.transform(train).toPandas().sort_values("warc_ts")
    assert np.allclose(got_train["imp"].to_numpy(float), [1, 2, 3, 4, 4, 6, 8])
    got_test = fitted.transform(test).toPandas().sort_values("warc_ts")
    # A→mean(1,3)=2, B→4, C→7; unseen Z passes through unchanged (NaN)
    exp = [2.0, 4.0, 7.0, np.nan]
    assert np.allclose(got_test["imp"].to_numpy(float), exp, equal_nan=True)

    # handle_unknown='error' raises on the unseen group at execution
    feat_err = Feature(
        "value", Groupwise(SimpleImputer("mean"), by="grp", handle_unknown="error"),
        output="imp",
    )
    fitted_err = FeatureEngineeringPipeline([feat_err]).fit(train)
    with pytest.raises(Exception, match="Unknown group"):
        fitted_err.transform(test).collect()


def test_conditional_transformer(num_df, num_pdf):
    """Columns failing the condition pass through unchanged
    (ballet/eng/base.py:257-326)."""
    tr = ConditionalTransformer(
        condition_agg=lambda c: F.avg(c) > 5.0,
        satisfy=lambda e: e * 2.0,
    )
    out = (
        FeatureEngineeringPipeline(
            [Feature("z", tr, output="c1"), Feature("x", tr.copy(), output="c2")]
        )
        .fit(num_df)
        .transform(num_df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
    )
    p = num_pdf.sort_values(["url", "warc_ts"], kind="mergesort")
    # mean(z) ≈ 0 → unchanged; mean(x) ≈ 10 → doubled
    assert np.allclose(out["c1"].to_numpy(float), p["z"].to_numpy(float))
    assert np.allclose(
        out["c2"].to_numpy(float), p["x"].to_numpy(float) * 2, equal_nan=True
    )


def test_fit_params_frozen_against_test_distribution(spark, num_df, num_pdf):
    """Transforming a shifted test set must use TRAIN params (no
    leakage): scaler output on test is NOT zero-mean."""
    test_pdf = num_pdf.copy()
    test_pdf["z"] = test_pdf["z"] + 100.0
    test = spark.createDataFrame(test_pdf)
    fitted = FeatureEngineeringPipeline(
        [Feature("z", StandardScaler(), output="s")]
    ).fit(num_df)
    got = fitted.transform(test).toPandas()["s"]
    assert got.mean() > 10  # ~100/std, nowhere near 0


def test_winsorizer_and_kbins_preserve_nulls(spark):
    from ballet_spark.operators.fitted import KBinsDiscretizer, Winsorizer

    df = spark.createDataFrame(
        [(float(i),) for i in range(1, 21)] + [(None,)], "x double"
    )
    ctx = PipelineContext(point_in_time=False)
    w = Winsorizer(0.05, 0.95).fit(df, ["x"], ctx)
    out, names = w.transform_df(df, ["x"], "xw", ctx)
    assert out.filter(F.col(names[0]).isNull()).count() == 1  # not imputed to lo
    for strat in ("quantile", "uniform"):
        kb = KBinsDiscretizer(n_bins=4, strategy=strat).fit(df, ["x"], ctx)
        out, names = kb.transform_df(df, ["x"], "xb", ctx)
        assert out.filter(F.col(names[0]).isNull()).count() == 1, strat
