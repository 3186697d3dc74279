"""Validation layer vs hand-computed oracles (reference test strategy:
tests/validation/test_entropy.py hand cases; accepter decisions on
seeded synthetic regression data, tests/util.py:119-142)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import Feature
from ballet_spark.operators.base import SparkFunctionTransformer
from ballet_spark.validation.checks import validate_feature
from ballet_spark.validation.discovery import discover
from ballet_spark.validation.entropy import (
    digamma,
    estimate_conditional_information,
    estimate_entropy,
    estimate_mutual_information,
    is_column_disc,
    shannon_entropy_spark,
)
from ballet_spark.validation.validators import (
    AlwaysAccepter,
    CompoundAccepter,
    GFSSFAccepter,
    GFSSFContext,
    GFSSFPruner,
    MutualInformationAccepter,
    NeverAccepter,
    NoOpPruner,
    RandomAccepter,
    VarianceThresholdAccepter,
)

EULER = 0.5772156649015329


def test_digamma_known_values():
    assert np.isclose(digamma(1.0), -EULER, atol=1e-10)
    assert np.isclose(digamma(2.0), 1 - EULER, atol=1e-10)
    assert np.isclose(digamma(0.5), -2 * np.log(2) - EULER, atol=1e-9)
    # recurrence property on an array
    x = np.array([0.3, 1.7, 5.5, 42.0])
    assert np.allclose(digamma(x + 1), digamma(x) + 1 / x, atol=1e-10)


def test_disc_heuristics():
    assert is_column_disc(np.array([1, 2, 3]))
    assert is_column_disc(np.array([1.0, 2.0, 3.0]))  # near-integer
    rng = np.random.default_rng(0)
    cont = rng.random(100) + np.arange(100)  # distinct floats
    assert not is_column_disc(cont)
    repeated = np.repeat([0.5, 1.7], 50)  # max count > 20
    assert is_column_disc(repeated)


def test_discrete_entropy_uniform():
    # H(uniform over k) = log k, exactly
    x = np.repeat(np.arange(4), 25)
    assert np.isclose(estimate_entropy(x), np.log(4), atol=1e-12)


def test_mi_identical_discrete_is_entropy():
    x = np.repeat(np.arange(5), 30)
    mi = estimate_mutual_information(x, x.copy())
    assert np.isclose(mi, np.log(5), atol=1e-9)


def test_mi_independent_near_zero_dependent_high():
    rng = np.random.default_rng(4)
    n = 400
    x = rng.standard_normal(n)
    y_ind = rng.standard_normal(n)
    y_dep = x + 0.05 * rng.standard_normal(n)
    mi_ind = estimate_mutual_information(x, y_ind)
    mi_dep = estimate_mutual_information(x, y_dep)
    assert mi_dep > mi_ind + 0.5


def test_cmi_screens_out_mediated_dependence():
    rng = np.random.default_rng(5)
    n = 400
    z = rng.standard_normal(n)
    x = z + 0.1 * rng.standard_normal(n)  # x depends on y only via z
    y = z + 0.1 * rng.standard_normal(n)
    cmi = estimate_conditional_information(x, y, z)
    mi = estimate_mutual_information(x, y)
    assert mi > 1.0
    assert cmi < mi / 2


def test_shannon_entropy_spark_exact(spark):
    pdf = pd.DataFrame({"k": np.repeat(np.arange(4), 25)})
    df = spark.createDataFrame(pdf)
    h = shannon_entropy_spark(df, ["k"])
    assert np.isclose(h, np.log(4), atol=1e-12)


@pytest.fixture(scope="module")
def regression_df(spark):
    """Seeded regression data: informative A_0, noise Z_0..Z_4, target
    y = linear in A_0 (tests/util.py:119-142 analog)."""
    rng = np.random.default_rng(1)
    n = 500
    pdf = pd.DataFrame({f"Z_{i}": rng.standard_normal(n) for i in range(5)})
    pdf["A_0"] = rng.standard_normal(n)
    pdf["y"] = 3.0 * pdf["A_0"] + 0.1 * rng.standard_normal(n)
    pdf["url"] = [f"u{i}" for i in range(n)]
    pdf["warc_ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(range(n), "h")
    df = spark.createDataFrame(pdf)
    df.persist().count()
    return df


def test_variance_accepter(spark, regression_df):
    acc = VarianceThresholdAccepter(threshold=0.05)
    assert acc.judge(regression_df, ["A_0"])
    const = regression_df.withColumn("c", F.lit(1.0))
    assert not acc.judge(const, ["c"])


def test_mi_accepter(regression_df):
    # The KSG-with-self-count estimator (reference semantics) carries a
    # small positive bias for independent continuous pairs (~1/k), so
    # the informative/noise separation is tested at a threshold between
    # the two regimes, mirroring the reference's relative-style asserts
    # (tests/validation/test_entropy.py: mi > H/4 vs mi < H/4).
    acc = MutualInformationAccepter(threshold=1.0, sample_n=500)
    assert acc.judge(regression_df, ["A_0"], "y")
    assert not acc.judge(regression_df, ["Z_0"], "y")


def test_mi_accepter_nan_targets(spark):
    pdf = pd.DataFrame(
        {"x": np.arange(50, dtype=float), "y": [np.nan] + [1.0] * 49}
    )
    df = spark.createDataFrame(pdf)
    assert not MutualInformationAccepter(handle_nan_targets="fail").judge(
        df, ["x"], "y"
    )
    # ignore-mode drops the nan row and proceeds (constant y ⇒ MI 0 ⇒ reject)
    assert not MutualInformationAccepter(handle_nan_targets="ignore").judge(
        df, ["x"], "y"
    )


def test_compound_and_trivial_accepters(regression_df):
    assert AlwaysAccepter().judge()
    assert not NeverAccepter().judge()
    assert RandomAccepter(p=1.0).judge() and not RandomAccepter(p=0.0).judge()
    comp_all = CompoundAccepter([AlwaysAccepter(), NeverAccepter()], agg="all")
    comp_any = CompoundAccepter([AlwaysAccepter(), NeverAccepter()], agg="any")
    assert not comp_all.judge() and comp_any.judge()
    assert NoOpPruner().prune([1, 2]) == []


@pytest.fixture(scope="module")
def disc_matrix(spark):
    """Discrete feature matrix: the KSG mixed estimator reduces to the
    EXACT Shannon path there, so GFSSF accept/prune outcomes are
    clear-cut (the continuous KSG path carries the reference's
    ~1/k positive bias for independent pairs — see test_mi_accepter)."""
    rng = np.random.default_rng(2)
    n = 2000
    A = rng.integers(0, 8, n)
    pdf = pd.DataFrame(
        {
            "A_0": A,
            "A_dup": A.copy(),  # exactly redundant given A_0
            "Z_0": rng.integers(0, 8, n),
            "Z_1": rng.integers(0, 8, n),
            "y": A,
        }
    ).astype("int64")
    df = spark.createDataFrame(pdf)
    df.persist().count()
    return df


def test_gfssf_accepts_informative_rejects_noise(disc_matrix):
    ctx = GFSSFContext(
        matrix=disc_matrix,
        feature_cols={"A_0": ["A_0"], "Z_0": ["Z_0"], "Z_1": ["Z_1"]},
        y_col="y",
        sample_n=2000,
    )
    acc = GFSSFAccepter()
    assert acc.judge(ctx, "A_0")
    assert not acc.judge(ctx, "Z_0")


def test_gfssf_pruner_drops_redundant_and_noise(disc_matrix):
    ctx = GFSSFContext(
        matrix=disc_matrix,
        feature_cols={"A_0": ["A_0"], "A_dup": ["A_dup"], "Z_0": ["Z_0"]},
        y_col="y",
        sample_n=2000,
    )
    redundant = GFSSFPruner().prune(ctx)
    # A_0 is examined first: CMI(A_0; y | A_dup) = 0 ⇒ pruned as
    # redundant with its duplicate still in the set; the duplicate then
    # carries the signal and survives; noise is pruned. (Same order-
    # dependent outcome as the reference's sequential lines 12-13 loop.)
    assert redundant == ["A_0", "Z_0"] or redundant == ["A_dup", "Z_0"]
    assert not ("A_0" in redundant and "A_dup" in redundant)


def test_feature_api_checks_pass_and_fail(spark, webtext_df):
    good = Feature(
        "text",
        SparkFunctionTransformer(lambda c: F.length(c).cast("double")),
        output="len",
    )
    res = validate_feature(good, webtext_df)
    assert res.passed, res.failures

    # a feature producing NaN must fail the no-NaN check
    bad = Feature(
        "text",
        SparkFunctionTransformer(
            lambda c: F.lit(float("nan")) + F.length(c)
        ),
        output="nanfeat",
    )
    res = validate_feature(bad, webtext_df)
    assert not res.passed
    assert any("has_nan_or_inf" in f for f in res.failures)


def test_discover_metrics(spark, regression_df):
    out = discover(
        regression_df,
        {"A_0": ["A_0"], "Z_0": ["Z_0"]},
        y_col="y",
        sample_n=500,
    )
    a = out[out.feature == "A_0"].iloc[0]
    z = out[out.feature == "Z_0"].iloc[0]
    assert a["mutual_information"] > z["mutual_information"] + 0.3
    assert abs(a["mean"]) < 0.2 and 0.7 < a["std"] < 1.3
    assert a["nunique"] > 400


def test_subset_entropies_cube_hand_case(spark):
    """All 2^k subset entropies from one cube pass vs hand-computed
    numpy values; H(∅) = 0."""
    import numpy as np

    from ballet_spark.validation.entropy import (
        cmi_discrete,
        subset_entropies_cube,
    )

    rows = [(a, b, (a + b) % 2) for a in (0, 1) for b in (0, 1, 2)] * 3
    rows += [(0, 0, 1)] * 2  # break uniformity
    df = spark.createDataFrame(rows, "a int, b int, c int")

    def h(cols):
        from collections import Counter

        counts = Counter(tuple(r[c] for c in cols) for r in rows) if cols else {(): len(rows)}
        n = len(rows)
        return float(-sum((k / n) * np.log(k / n) for k in counts.values()))

    # dict rows index by frozenset of column names; tuples index data
    data = [dict(zip("abc", r)) for r in rows]

    def h_named(cols):
        from collections import Counter

        n = len(data)
        counts = Counter(tuple(d[c] for c in cols) for d in data)
        if not cols:
            return 0.0
        return float(-sum((k / n) * np.log(k / n) for k in counts.values()))

    H = subset_entropies_cube(df, ["a", "b", "c"])
    assert len(H) == 8
    # terms quantize to the 1e-6 grid (engine-portability discipline):
    # per-H error bounded by ~5e-7·rows/N ≈ 5e-7
    for S in H:
        assert abs(H[S] - h_named(sorted(S))) < 2e-6, S
    # CMI identity: I(a;c|b) matches the four-term formula
    cmi = cmi_discrete(H, "a", "c", ["b"])
    expect = (
        h_named(["a", "b"]) + h_named(["b", "c"])
        - h_named(["b"]) - h_named(["a", "b", "c"])
    )
    assert abs(cmi - expect) < 8e-6


def test_gfssf_discrete_select_decisions(spark):
    """Noise feature pruned, informative kept, informative candidate
    accepted; pure-noise candidate rejected."""
    import numpy as np

    from ballet_spark.validation.validators import gfssf_discrete_select

    rng = np.random.default_rng(5)
    n = 3000
    x = rng.integers(0, 4, n)       # informative
    noise = rng.integers(0, 3, n)   # junk
    extra = rng.integers(0, 2, n)   # candidate, independently informative
    y = x * 2 + extra               # y = f(x, extra)
    df = spark.createDataFrame(
        [(int(a), int(b), int(c), int(t)) for a, b, c, t in zip(x, noise, extra, y)],
        "x int, noise int, extra int, y int",
    )
    rep = {d["feature"]: d for d in gfssf_discrete_select(df, ["x", "noise"], "extra", "y")}
    assert rep["x"]["kept"] and not rep["noise"]["kept"]
    assert rep["extra"]["kept"] and rep["extra"]["role"] == "candidate"
    assert rep["x"]["cmi_full"] > 0.5 and rep["noise"]["cmi_full"] < 0.05

    # a candidate carrying nothing about y must be rejected
    junk = rng.integers(0, 5, n)
    df2 = spark.createDataFrame(
        [(int(a), int(c), int(j), int(t)) for a, c, j, t in zip(x, extra, junk, y)],
        "x int, extra int, junk int, y int",
    )
    rep2 = {d["feature"]: d for d in gfssf_discrete_select(df2, ["x", "extra"], "junk", "y")}
    assert not rep2["junk"]["kept"]
    assert rep2["x"]["kept"] and rep2["extra"]["kept"]


def test_shannon_entropy_empty_frame(spark):
    from ballet_spark.validation.entropy import shannon_entropy_spark

    empty = spark.createDataFrame([], "c string")
    assert shannon_entropy_spark(empty, ["c"]) == 0.0


def test_discover_averages_stats_over_feature_columns(spark):
    from ballet_spark.validation.discovery import discover

    df = spark.createDataFrame(
        [(float(i), float(i) * 10) for i in range(1, 11)], "a double, b double"
    )
    out = discover(df, {"f": ["a", "b"]})
    rec = out[out.feature == "f"].iloc[0]
    # mean = avg(mean(a)=5.5, mean(b)=55) = 30.25, not mean(a)
    assert rec["mean"] == pytest.approx(30.25)
    assert rec["ncols"] == 2


def test_validate_feature_catches_unseen_group_failure(spark):
    """A params-join operator with handle_unknown='error' must FAIL the
    new-rows check (the holdout now contains genuinely unseen
    entities)."""
    from ballet_spark.operators.fitted import Groupwise, SimpleImputer
    from ballet_spark.validation.checks import validate_feature

    rows = [(f"u{i}", float(i), float(i)) for i in range(40)]
    df = spark.createDataFrame(rows, "url string, sec double, text_len double").select(
        "url", F.timestamp_seconds("sec").alias("warc_ts"), "text_len"
    )
    bad = Feature(
        "text_len",
        Groupwise(SimpleImputer("mean"), by="url", handle_unknown="error"),
        output="g",
    )
    res = validate_feature(bad, df)
    assert any("can_transform_new_rows" in f for f in res.failures)
