"""End-to-end flagship slice (SURVEY.md §7): register features →
materialize wide matrix keyed by (url, warc_ts) → numpy.allclose vs a
single-node pandas pipeline with reference fit/transform semantics.
This is the BASELINE.json correctness bar."""

import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import (
    EncoderPipeline,
    Feature,
    FeatureEngineeringPipeline,
    engineer_features,
)
from ballet_spark.functions.text import (
    char_count,
    extract_text_col,
    punct_ratio,
    token_count,
)
from ballet_spark.operators.base import SparkFunctionTransformer
from ballet_spark.operators.window_ops import ForwardFill, Lag, Rolling


def _spark_matrix(webtext_df):
    feats = [
        Feature("text", SparkFunctionTransformer(char_count), output="text_len"),
        Feature("text", SparkFunctionTransformer(token_count), output="n_tokens"),
        Feature("text", SparkFunctionTransformer(punct_ratio), output="punct_r"),
        Feature(
            "text",
            [SparkFunctionTransformer(lambda c: char_count(c).cast("double")), Lag(1)],
            output="len_lag1",
        ),
        Feature(
            "text",
            [
                SparkFunctionTransformer(lambda c: char_count(c).cast("double")),
                Rolling("mean", 3),
            ],
            output="len_roll3",
        ),
        Feature("lang", ForwardFill(), output="lang_ffill"),
    ]
    pipe = FeatureEngineeringPipeline(feats)
    return pipe.fit(webtext_df).transform(webtext_df)


def _pandas_matrix(webtext_pdf):
    pdf = webtext_pdf.sort_values(["url", "warc_ts"], kind="mergesort").copy()
    text = pdf["text"]
    out = pd.DataFrame(
        {
            "url": pdf["url"],
            "warc_ts": pdf["warc_ts"],
            "text_len": text.str.len().astype("int64"),
            "n_tokens": text.str.split().map(len).astype("int64"),
            "punct_r": text.map(
                lambda t: sum(1 for ch in t if not (ch.isalnum() or ch == "_" or ch.isspace()))
                / len(t)
                if t
                else 0.0
            ),
        }
    )
    tl = text.str.len().astype(float)
    out["len_lag1"] = tl.groupby(pdf["url"]).shift(1)
    out["len_roll3"] = (
        tl.groupby(pdf["url"]).rolling(3, min_periods=1).mean().reset_index(0, drop=True)
    )
    out["lang_ffill"] = pdf.groupby("url")["lang"].ffill()
    return out


def test_flagship_feature_matrix_allclose(webtext_df, webtext_pdf):
    got = (
        _spark_matrix(webtext_df)
        .toPandas()
        .sort_values(["url", "warc_ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    exp = _pandas_matrix(webtext_pdf).reset_index(drop=True)
    assert len(got) == len(exp)
    num_cols = ["text_len", "n_tokens", "punct_r", "len_lag1", "len_roll3"]
    for c in num_cols:
        assert np.allclose(
            got[c].to_numpy(dtype=float), exp[c].to_numpy(dtype=float), equal_nan=True
        ), c
    assert (got["lang_ffill"].fillna("∅") == exp["lang_ffill"].fillna("∅")).all()


def test_empty_pipeline_is_key_only(webtext_df):
    """Empty feature list ⇒ key-only frame — the NullTransformer
    n×0 analog (ballet/eng/misc.py:119-127)."""
    out = FeatureEngineeringPipeline([]).fit(webtext_df).transform(webtext_df)
    assert out.columns == ["url", "warc_ts"]
    assert out.count() == webtext_df.count()


def test_single_wide_select_plan(webtext_df):
    """All expr features merge into one plan without repeated scans:
    the physical plan should contain exactly one scan of the input."""
    df = _spark_matrix(webtext_df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("inmemorytablescan") + plan.lower().count("scan existingrdd") <= 2


def test_callable_input_selector(webtext_df):
    """input may be a callable evaluated against the schema
    (ballet/feature.py:25-31)."""
    feat = Feature(
        lambda df: [c for c in df.columns if c == "text"],
        SparkFunctionTransformer(char_count),
        output="tl",
    )
    out = FeatureEngineeringPipeline([feat]).fit(webtext_df).transform(webtext_df)
    assert "tl" in out.columns


def test_nested_feature_reuse(webtext_df):
    """Nested Feature sugar: a Feature used as a transformer reuses its
    own input (ballet/transformer.py:290-309; tests/test_pipeline.py:29-31)."""
    base = Feature("text", SparkFunctionTransformer(char_count), output="tl")
    nested = Feature("lang", base, output="tl2")  # input 'lang' is overridden
    out = FeatureEngineeringPipeline([nested]).fit(webtext_df).transform(webtext_df)
    pdf = out.toPandas()
    assert (pdf["tl2"] >= 0).all()


def test_extract_text_feature_path(webtext_df):
    """HTML→text through the pipeline UDF path stays byte-identical."""
    feat = Feature("html", SparkFunctionTransformer(extract_text_col), output="ext")
    out = (
        FeatureEngineeringPipeline([feat])
        .fit(webtext_df)
        .transform(webtext_df)
        .join(webtext_df.select("url", "warc_ts", "text"), ["url", "warc_ts"])
        .filter(F.col("ext") != F.col("text"))
    )
    assert out.count() == 0


def test_encoder_pipeline_and_engineer_features(spark, webtext_df):
    from ballet_spark.operators.fitted import StandardScaler

    labels = webtext_df.select(
        "url", "warc_ts", F.length("text").cast("double").alias("y")
    )
    enc = EncoderPipeline([StandardScaler()], y_col="y")
    encoded = enc.fit_transform(labels)
    assert "y_encoded" in encoded.columns
    stats = encoded.agg(F.avg("y_encoded"), F.stddev_pop("y_encoded")).first()
    assert abs(stats[0]) < 1e-9 and abs(stats[1] - 1.0) < 1e-6

    res = engineer_features(
        webtext_df,
        [Feature("text", SparkFunctionTransformer(char_count), output="tl")],
        y_df=labels,
        encoder=EncoderPipeline([StandardScaler()], y_col="y"),
    )
    assert res.X.count() == webtext_df.count()
    assert "tl" in res.X.columns
    assert res.y is not None and "y_encoded" in res.y.columns


def test_stateful_step_after_step_in_pipeline(spark, webtext_df):
    """A stateful df-path step fitted mid-pipeline keys its params by
    the fit-time intermediate column names — transform must reproduce
    those names exactly."""
    from ballet_spark.operators.base import NullFiller
    from ballet_spark.operators.fitted import Groupwise, StandardScaler

    df = webtext_df.withColumn("text_len", F.length("text").cast("double"))
    feat = Feature(
        "text_len", [NullFiller(), Groupwise(StandardScaler(), by="lang")],
        output="z",
    )
    m = FeatureEngineeringPipeline([feat]).fit(df).transform(df)
    assert m.filter(F.col(m.columns[-1]).isNotNull()).count() > 0


def test_subset_selector_single_string_not_exploded(spark, webtext_df):
    feat = Feature("text", ((lambda df: "text"), None), output="t2")
    m = FeatureEngineeringPipeline([feat]).fit(webtext_df).transform(webtext_df)
    assert "t2" in m.columns  # would raise AnalysisException on 't','e','x','t'


def test_callable_input_pinned_at_fit(spark):
    """A callable selector resolves against the TRAIN schema; a
    transform frame with extra/reordered columns must not remap the
    fitted params."""
    from ballet_spark.operators.fitted import StandardScaler

    train = spark.createDataFrame(
        [("u", float(i), float(i) * 100.0) for i in range(10)],
        "url string, a double, b double",
    ).withColumn("warc_ts", F.timestamp_seconds(F.col("a")))
    # selector: all double columns in schema order
    feat = Feature(
        lambda df: [c for c, t in df.dtypes if t == "double"],
        StandardScaler(),
        output="s",
    )
    fitted = FeatureEngineeringPipeline([feat]).fit(train)
    # new frame with an extra double column FIRST in the schema
    shifted = train.select(
        F.lit(1e9).alias("zz"), "url", "warc_ts", "a", "b"
    )
    out = fitted.transform(shifted).toPandas()
    # column a scaled by a's own fit stats: mean 4.5, stddev_pop
    # ~2.8723 -> min value (0-4.5)/2.8723 ~ -1.5667. If the selector
    # re-resolved against the shifted schema, 'a' would be scaled by
    # zz/b stats instead and neither assertion holds.
    import numpy as np

    a_scaled = sorted(out["s_0"].tolist())
    assert abs(np.mean(a_scaled)) < 1e-9  # a scaled by its own stats
    assert a_scaled[0] == pytest.approx(-1.5667, abs=1e-3)


def test_hash_callable_stable_across_processes():
    """Nested lambdas put code objects into co_consts; their repr
    embeds addresses. The hash must be identical in separate
    interpreter processes."""
    code = (
        f"import sys; sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})\n"
        "from ballet_spark.core import _hash_callable\n"
        "def sel(df):\n"
        "    return sorted(['a', 'bb'], key=lambda c: len(c))\n"
        "print(_hash_callable(sel))\n"
    )
    outs = {
        subprocess.run(
            [sys.executable, "-c", code], capture_output=True, text=True, check=True
        ).stdout.strip()
        for _ in range(2)
    }
    assert len(outs) == 1, outs
