"""Registry (S3/V12), seasonal/Fourier/trend ops, hard-op stubs."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import Feature, FeatureEngineeringPipeline
from ballet_spark.operators.fitted import IterativeImputer, KNNImputer
from ballet_spark.operators.window_ops import FourierFeatures, SeasonalLag, Trend
from ballet_spark.registry import FeatureRegistry, RegistrationError


def test_registry_rules():
    reg = FeatureRegistry()
    f = Feature("text", None, output="tl")
    reg.register("alice/feature_text_len", f)
    assert "alice/feature_text_len" in reg
    # register stamps a COPY (caller's object keeps its provenance)
    assert f.source == ""
    assert reg.features["alice/feature_text_len"].source == "alice/feature_text_len"
    with pytest.raises(RegistrationError, match="already registered"):
        reg.register("alice/feature_text_len", Feature("text", None))
    with pytest.raises(RegistrationError, match="must match"):
        reg.register("Alice/BadName", Feature("text", None))
    with pytest.raises(RegistrationError, match="must match"):
        reg.register("feature_no_owner", Feature("text", None))
    with pytest.raises(RegistrationError, match="expected a Feature"):
        reg.register("bob/feature_x", object())
    reg.register("bob/feature_y", Feature("lang", None))
    assert len(reg.collect()) == 2
    assert len(reg.collect(owner="bob")) == 1


def test_seasonal_and_fourier_and_trend(spark, webtext_df, webtext_pdf):
    df = webtext_df.withColumn("text_len", F.length("text").cast("double"))
    feats = [
        Feature("text_len", SeasonalLag(2), output="s2"),
        Feature("text_len", FourierFeatures(period=4.0, n_terms=1), output="fo"),
        Feature("text_len", Trend(window=3), output="tr"),
    ]
    out = (
        FeatureEngineeringPipeline(feats)
        .fit(df)
        .transform(df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    p = webtext_pdf.sort_values(["url", "warc_ts"], kind="mergesort")
    tl = p["text"].str.len().astype(float)
    exp_s2 = tl.groupby(p["url"]).shift(2).to_numpy()
    assert np.allclose(out["s2"].to_numpy(float), exp_s2, equal_nan=True)
    # Fourier of the 0-based snapshot index
    idx = p.groupby("url").cumcount().to_numpy().astype(float)
    assert np.allclose(out["fo_0"].to_numpy(float), np.sin(2 * np.pi * idx / 4.0), atol=1e-9)
    assert np.allclose(out["fo_1"].to_numpy(float), np.cos(2 * np.pi * idx / 4.0), atol=1e-9)
    # trend: rolling OLS slope oracle over (idx, value), window 3
    def slope(g):
        import pandas as pd

        vals = g.to_numpy()
        t = np.arange(len(vals), dtype=float)
        res = []
        for i in range(len(vals)):
            lo = max(0, i - 2)
            tt, yy = t[lo : i + 1], vals[lo : i + 1]
            n = len(tt)
            den = n * (tt * tt).sum() - tt.sum() ** 2
            res.append((n * (tt * yy).sum() - tt.sum() * yy.sum()) / den if den else np.nan)
        return pd.Series(res, index=g.index)

    exp_tr = tl.groupby(p["url"]).transform(slope).to_numpy()
    assert np.allclose(out["tr"].to_numpy(float), exp_tr, equal_nan=True, atol=1e-9)


def test_hard_imputers_raise_clearly():
    # both imputers are now implemented (approximate/bucketed KNN,
    # moment-aggregate regression) but refuse to fit without explicit
    # coordinate columns
    with pytest.raises(ValueError, match="feature_cols"):
        KNNImputer().fit(None, ["v"], None)
    with pytest.raises(ValueError, match="feature_cols"):
        IterativeImputer().fit(None, ["v"], None)


def test_registry_does_not_mutate_callers_feature(spark):
    from ballet_spark.registry import FeatureRegistry

    f = Feature("text", None, output="t")
    reg = FeatureRegistry()
    reg.register("alice/feature_t", f)
    reg2 = FeatureRegistry()
    reg2.register("bob/feature_t", f)
    assert f.source == ""  # caller's object untouched
    assert reg.features["alice/feature_t"].source == "alice/feature_t"
    assert reg2.features["bob/feature_t"].source == "bob/feature_t"
