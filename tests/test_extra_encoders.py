"""Extended encoder/imputer surface vs pandas oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import Feature, FeatureEngineeringPipeline, PipelineContext
from ballet_spark.operators.encoders import (
    BinaryEncoder,
    FrequencyEncoder,
    MeanEncoder,
    OrderedTargetEncoder,
)
from ballet_spark.operators.fitted import (
    ArbitraryDiscretiser,
    ArbitraryOutlierCapper,
    EndTailImputer,
    drop_missing,
    trim_outliers,
)


@pytest.fixture(scope="module")
def cat_pdf2():
    rng = np.random.default_rng(31)
    n = 200
    cats = rng.choice(["a", "b", "c"], n, p=[0.6, 0.3, 0.1])
    pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            "warc_ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(np.arange(n), "h"),
            "cat": cats,
            "x": rng.normal(10, 3, n),
            "y": (rng.random(n) < 0.3).astype("float64"),
        }
    )
    pdf.loc[pdf.sample(frac=0.1, random_state=3).index, "x"] = np.nan
    return pdf


@pytest.fixture(scope="module")
def cat_df2(spark, cat_pdf2):
    df = spark.createDataFrame(cat_pdf2)
    df.persist().count()
    return df


def _run(df, feat, y=None):
    return (
        FeatureEngineeringPipeline([feat])
        .fit(df, y=y)
        .transform(df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
        .reset_index(drop=True)
    )


def _sorted(p):
    return p.sort_values(["url", "warc_ts"], kind="mergesort").reset_index(drop=True)


def test_mean_and_frequency_encoders(cat_df2, cat_pdf2):
    out_m = _run(cat_df2, Feature("cat", MeanEncoder(), output="m"), y="y")
    out_f = _run(cat_df2, Feature("cat", FrequencyEncoder(), output="f"))
    p = _sorted(cat_pdf2)
    exp_m = p["cat"].map(p.groupby("cat")["y"].mean())
    exp_f = p["cat"].map(p["cat"].value_counts(normalize=True))
    assert np.allclose(out_m["m"].to_numpy(float), exp_m.to_numpy(float))
    assert np.allclose(out_f["f"].to_numpy(float), exp_f.to_numpy(float))


def test_binary_encoder_digits(cat_df2, cat_pdf2):
    out = _run(cat_df2, Feature("cat", BinaryEncoder(), output="b"))
    p = _sorted(cat_pdf2)
    # codes are 1-based (category_encoders convention): the all-zero
    # vector is reserved for unseen/NULL and collides with no category
    mapping = {c: i + 1 for i, c in enumerate(sorted(p["cat"].unique()))}
    idx = p["cat"].map(mapping).to_numpy()
    # 3 categories → max code 3 → 2 binary digits
    assert (out["b_0"].to_numpy() == idx % 2).all()
    assert (out["b_1"].to_numpy() == idx // 2 % 2).all()


def test_ordered_target_encoder_zero_leakage(cat_df2, cat_pdf2):
    """Each row's encoding uses only STRICTLY EARLIER labels of its
    category — verified against a pandas expanding-mean oracle."""
    a = 1.0
    out = (
        FeatureEngineeringPipeline(
            [Feature("cat", OrderedTargetEncoder(y_col="y", a=a), output="ote")]
        )
        .fit(cat_df2, y="y")
        .transform(cat_df2)
        .toPandas()
        .sort_values("warc_ts", kind="mergesort")  # time order = encoding order
        .reset_index(drop=True)
    )
    p = cat_pdf2.sort_values("warc_ts", kind="mergesort").reset_index(drop=True)
    prior = p["y"].mean()

    def oracle(g):
        s = g.shift(1).expanding().sum().fillna(0)
        n = g.shift(1).expanding().count().fillna(0)
        return (s + a * prior) / (n + a)

    exp = p.groupby("cat")["y"].transform(oracle)
    assert np.allclose(out["ote"].to_numpy(float), exp.to_numpy(float))
    # first occurrence of each category encodes to exactly the prior
    first_idx = p.groupby("cat").head(1).index
    assert np.allclose(out.loc[first_idx, "ote"].to_numpy(float), prior)


def test_arbitrary_discretiser_and_capper(cat_df2, cat_pdf2):
    out = _run(
        cat_df2, Feature("x", ArbitraryDiscretiser([0.0, 8.0, 12.0, 100.0]), output="d")
    )
    p = _sorted(cat_pdf2)
    x = p["x"].to_numpy()
    exp = np.select([x <= 8, x <= 12], [0, 1], default=2)
    mask = ~np.isnan(x)
    assert (out["d"].to_numpy()[mask] == exp[mask]).all()

    out_c = _run(
        cat_df2, Feature("x", ArbitraryOutlierCapper(8.0, 12.0), output="c")
    )
    exp_c = np.clip(x, 8.0, 12.0)
    assert np.allclose(out_c["c"].to_numpy(float), exp_c, equal_nan=True)


def test_endtail_imputer(cat_df2, cat_pdf2):
    out = _run(cat_df2, Feature("x", EndTailImputer("gaussian"), output="e"))
    p = _sorted(cat_pdf2)
    tail = p["x"].mean() + 3 * p["x"].std(ddof=1)
    exp = p["x"].fillna(tail)
    assert np.allclose(out["e"].to_numpy(float), exp.to_numpy(float))


def test_drop_missing_and_trim(cat_df2, cat_pdf2):
    assert drop_missing(cat_df2, ["x"]).count() == cat_pdf2["x"].notna().sum()
    trimmed = trim_outliers(cat_df2, "x", 0.1, 0.9).toPandas()
    lo, hi = cat_pdf2["x"].quantile([0.1, 0.9])
    exp_n = cat_pdf2["x"].between(lo, hi).sum()
    assert abs(len(trimmed) - exp_n) <= 1  # interpolation boundary slack


def test_ordered_target_encode_tie_safe(spark):
    """Two rows sharing (category, ts) must neither see each other's
    label nor depend on partition order — both get the stats of rows
    STRICTLY earlier in time."""
    from ballet_spark.operators.encoders import OrderedTargetEncoder

    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 0.0), ("a", 2.0, 1.0), ("a", 3.0, 1.0)],
        "cat string, t double, y double",
    )
    ctx = PipelineContext(entity_col="cat", time_col="t", point_in_time=True)
    enc = OrderedTargetEncoder(y_col="y", a=1.0).fit(df, ["cat"], ctx)
    (expr,) = enc.transform_exprs([F.col("cat")], ctx)
    got = df.select("t", "y", expr.alias("ote")).collect()
    by = {}
    for r in got:
        by.setdefault(r["t"], []).append(r["ote"])
    # S=3, C=4, prior=0.75. t=1: (0*4+3)/(1*4)=0.75
    assert by[1.0][0] == pytest.approx(0.75)
    # t=2 rows BOTH see only t=1 stats: (1*4+3)/(2*4)=0.875 — identical
    assert by[2.0][0] == by[2.0][1] == pytest.approx(0.875)
    # t=3 sees all three earlier rows: (2*4+3)/(4*4)=0.6875
    assert by[3.0][0] == pytest.approx(0.6875)


def test_basen_unseen_gets_unique_zero_vector(spark):
    from ballet_spark.operators.encoders import BaseNEncoder

    train = spark.createDataFrame([("a",), ("b",), ("c",), ("d",)], "cat string")
    test = spark.createDataFrame(
        [("a",), ("d",), ("zz",), (None,)], "cat string"
    )
    ctx = PipelineContext(point_in_time=False)
    enc = BaseNEncoder(base=2).fit(train, ["cat"], ctx)
    exprs = enc.transform_exprs([F.col("cat")], ctx)
    rows = test.select("cat", *[e.alias(f"d{i}") for i, e in enumerate(exprs)]).collect()
    vecs = {r["cat"]: tuple(r[f"d{i}"] for i in range(len(exprs))) for r in rows}
    assert vecs["zz"] == vecs[None]  # unknowns share the zero vector
    assert all(v == 0 for v in vecs["zz"])
    # and no real category collides with it
    assert vecs["a"] != vecs["zz"] and vecs["d"] != vecs["zz"]
