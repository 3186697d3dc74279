"""As-of join vs pandas ``merge_asof`` oracle (FIXTURES.md §6)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.operators.asof import asof_join, asof_join_broadcast


def _probe_frame(webtext_pdf, seed=3):
    """Probe timestamps between/around snapshots, per url."""
    rng = np.random.default_rng(seed)
    rows = []
    for url, gr in webtext_pdf.groupby("url"):
        ts = gr["warc_ts"].sort_values().tolist()
        lo, hi = ts[0], ts[-1]
        for i in range(3):
            offset = pd.Timedelta(hours=int(rng.integers(-48, 72)))
            rows.append({"url": url, "ts": lo + (hi - lo) * (i / 2 if len(ts) > 1 else 0) + offset})
    return pd.DataFrame(rows)


def _oracle(left_pdf, right_pdf, value_col, tolerance=None):
    l = left_pdf.sort_values("ts", kind="mergesort").reset_index(drop=True)
    r = (
        right_pdf[["url", "warc_ts", value_col]]
        .sort_values("warc_ts", kind="mergesort")
        .reset_index(drop=True)
    )
    kwargs = {}
    if tolerance is not None:
        kwargs["tolerance"] = pd.Timedelta(seconds=tolerance)
    return pd.merge_asof(
        l, r, left_on="ts", right_on="warc_ts", by="url", direction="backward", **kwargs
    )


def _check(out_pdf, oracle_pdf, value_col):
    a = out_pdf.sort_values(["url", "ts"], kind="mergesort").reset_index(drop=True)
    b = oracle_pdf.sort_values(["url", "ts"], kind="mergesort").reset_index(drop=True)
    assert len(a) == len(b)
    assert np.allclose(
        a[value_col].to_numpy(dtype=float),
        b[value_col].to_numpy(dtype=float),
        equal_nan=True,
    )


def test_asof_join_union_window(spark, webtext_df, webtext_pdf):
    right_pdf = webtext_pdf.copy()
    right_pdf["text_len"] = right_pdf["text"].str.len().astype(float)
    right = webtext_df.withColumn("text_len", F.length("text").cast("double")).select(
        "url", "warc_ts", "text_len"
    )
    left_pdf = _probe_frame(webtext_pdf)
    left = spark.createDataFrame(left_pdf)

    out = asof_join(left, right, on="url", left_ts="ts", right_ts="warc_ts").toPandas()
    _check(out, _oracle(left_pdf, right_pdf, "text_len"), "text_len")


def test_asof_join_exact_match_inclusive(spark, webtext_df, webtext_pdf):
    """A probe exactly at a snapshot timestamp sees that snapshot."""
    right = webtext_df.withColumn("text_len", F.length("text").cast("double")).select(
        "url", "warc_ts", "text_len"
    )
    left_pdf = webtext_pdf[["url", "warc_ts"]].rename(columns={"warc_ts": "ts"})
    left = spark.createDataFrame(left_pdf)
    out = asof_join(left, right, on="url", left_ts="ts", right_ts="warc_ts").toPandas()
    right_pdf = webtext_pdf.copy()
    right_pdf["text_len"] = right_pdf["text"].str.len().astype(float)
    _check(out, _oracle(left_pdf, right_pdf, "text_len"), "text_len")
    assert out["text_len"].notna().all()


def test_asof_join_tolerance(spark, webtext_df, webtext_pdf):
    right = webtext_df.withColumn("text_len", F.length("text").cast("double")).select(
        "url", "warc_ts", "text_len"
    )
    right_pdf = webtext_pdf.copy()
    right_pdf["text_len"] = right_pdf["text"].str.len().astype(float)
    left_pdf = _probe_frame(webtext_pdf)
    left = spark.createDataFrame(left_pdf)
    tol = 6 * 3600
    out = asof_join(
        left, right, on="url", left_ts="ts", right_ts="warc_ts", tolerance_s=tol
    ).toPandas()
    _check(out, _oracle(left_pdf, right_pdf, "text_len", tolerance=tol), "text_len")


def test_asof_join_broadcast_matches_smj(spark, webtext_df, webtext_pdf):
    right = webtext_df.withColumn("text_len", F.length("text").cast("double")).select(
        "url", "warc_ts", "text_len"
    )
    left_pdf = _probe_frame(webtext_pdf)
    left = spark.createDataFrame(left_pdf)
    a = (
        asof_join(left, right, on="url", left_ts="ts", right_ts="warc_ts")
        .select("url", "ts", "text_len")
        .toPandas()
    )
    b = (
        asof_join_broadcast(left, right, on="url", left_ts="ts", right_ts="warc_ts")
        .select("url", "ts", "text_len")
        .toPandas()
    )
    a = a.sort_values(["url", "ts"]).reset_index(drop=True)
    b = b.sort_values(["url", "ts"]).reset_index(drop=True)
    assert np.allclose(
        a["text_len"].to_numpy(float), b["text_len"].to_numpy(float), equal_nan=True
    )


def test_asof_strategies_agree_on_random_adversarial_inputs(spark):
    """Window and broadcast paths must return IDENTICAL rows on random
    inputs engineered for the hard cases: tied timestamps (both within
    the right side and probe==right), NULL values in matched rows,
    entities with empty histories, and tolerance cutoffs. This is the
    invariant the skew splitter relies on to union the two paths."""
    import numpy as np

    from ballet_spark.operators.asof import asof_join, asof_join_broadcast

    rng = np.random.default_rng(1234)
    for trial in range(4):
        n_r, n_l = 60, 40
        ents = [f"e{i}" for i in range(6)] + ["lonely"]
        right_rows = [
            (
                str(rng.choice(ents[:6])),          # no history for 'lonely'
                float(rng.integers(0, 12)),          # coarse grid -> many ties
                None if rng.random() < 0.25 else float(rng.integers(0, 100)),
            )
            for _ in range(n_r)
        ]
        left_rows = [
            (str(rng.choice(ents)), float(rng.integers(0, 14)))
            for _ in range(n_l)
        ]
        right = spark.createDataFrame(
            right_rows, "url string, rts double, v double"
        ).select("url", F.timestamp_seconds("rts").alias("rts"), "v")
        left = spark.createDataFrame(
            left_rows, "url string, ts double"
        ).select("url", F.timestamp_seconds("ts").alias("ts")).repartition(5)
        for tol in (None, 3):
            a = asof_join(
                left, right, on="url", left_ts="ts", right_ts="rts",
                tolerance_s=tol,
            )
            b = asof_join_broadcast(
                left, right, on="url", left_ts="ts", right_ts="rts",
                tolerance_s=tol,
            )
            ra = sorted(map(tuple, a.collect()))
            rb = sorted(map(tuple, b.collect()))
            # broadcast path can't match NULL-keyed probes; none here
            assert ra == rb, (trial, tol)


def _ts(df, *cols):
    for c in cols:
        df = df.withColumn(c, F.timestamp_seconds(F.col(c)))
    return df


def test_asof_null_in_matched_row_stays_null(spark):
    """The matched (latest) right row's NULL value must NOT be
    backfilled from an older right row — merge_asof takes the matched
    row as-is, on BOTH strategies."""
    right = _ts(
        spark.createDataFrame(
            [("e", 1.0, 10.0), ("e", 5.0, None)], "url string, rts double, v double"
        ),
        "rts",
    )
    left = _ts(spark.createDataFrame([("e", 6.0)], "url string, ts double"), "ts")
    for fn in (asof_join, asof_join_broadcast):
        row = fn(left, right, on="url", left_ts="ts", right_ts="rts").first()
        assert row["v"] is None, fn.__name__
        assert row["__matched_ts"] is not None
    # and with tolerance 2s the (out-of-tolerance-at-t=1) older value
    # must not reappear either
    row = asof_join(
        left, right, on="url", left_ts="ts", right_ts="rts", tolerance_s=2
    ).first()
    assert row["v"] is None


def test_asof_tie_deterministic_and_paths_agree(spark):
    """Equal-timestamp right rows resolve identically (max value
    tuple) on the window and broadcast paths."""
    right = _ts(
        spark.createDataFrame(
            [("e", 3.0, 1.0), ("e", 3.0, 2.0)], "url string, rts double, v double"
        ),
        "rts",
    ).repartition(4)
    left = _ts(spark.createDataFrame([("e", 3.0)], "url string, ts double"), "ts")
    a = asof_join(left, right, on="url", left_ts="ts", right_ts="rts").first()
    b = asof_join_broadcast(left, right, on="url", left_ts="ts", right_ts="rts").first()
    assert a["v"] == b["v"] == 2.0


def test_asof_mixed_ts_types_order_chronologically(spark):
    """timestamp probe vs ISO-string right ts: ordering must be
    chronological, not lexicographic ('T' > ' ' would hide matches)."""
    right = spark.createDataFrame(
        [("e", "2024-01-02T10:00:00", 7.0)], "url string, rts string, v double"
    )
    left = _ts(
        spark.createDataFrame(
            [("e", 1704189605.0)], "url string, ts double"  # 10:00:05 UTC
        ),
        "ts",
    )
    row = asof_join(left, right, on="url", left_ts="ts", right_ts="rts").first()
    assert row["v"] == 7.0


def test_asof_rejects_colliding_value_columns(spark):
    right = _ts(
        spark.createDataFrame([("e", 1.0, 1.0)], "url string, rts double, score double"),
        "rts",
    )
    left = _ts(
        spark.createDataFrame([("e", 2.0, 9.0)], "url string, ts double, score double"),
        "ts",
    )
    for fn in (asof_join, asof_join_broadcast):
        with pytest.raises(ValueError, match="collide"):
            fn(left, right, on="url", left_ts="ts", right_ts="rts")
        # suffix disambiguates
        out = fn(left, right, on="url", left_ts="ts", right_ts="rts", suffix="_r")
        assert "score_r" in out.columns and "score" in out.columns
