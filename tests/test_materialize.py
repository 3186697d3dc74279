"""Checkpoint/resume + lineage (SURVEY.md §5: kill after unit j,
resume, identical output + lineage rows) and skew plan splitting."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import Feature
from ballet_spark.operators.base import SparkFunctionTransformer
from ballet_spark.operators.window_ops import ForwardFill, Lag
from ballet_spark.functions.text import char_count
from ballet_spark.plans.materialize import (
    feature_set_id,
    lineage_metrics,
    materialize,
    read_matrix,
)
from ballet_spark.plans.skew import asof_join_skew, head_keys, salted_agg, skew_report


FEATS = [
    Feature("text", SparkFunctionTransformer(char_count), output="n_chars"),
    Feature(
        "text",
        [SparkFunctionTransformer(lambda c: char_count(c).cast("double")), Lag(1)],
        output="len_lag1",
    ),
    Feature("lang", ForwardFill(), output="lang_ffill"),
]


def _canon(pdf):
    pdf = pdf.drop(columns=[c for c in pdf.columns if c == "unit"])
    return (
        pdf.reindex(sorted(pdf.columns), axis=1)
        .sort_values(["url", "warc_ts"], kind="mergesort")
        .reset_index(drop=True)
    )


def test_materialize_resume_identical(spark, webtext_df, tmp_path):
    base = str(tmp_path)
    # one-shot reference materialization
    materialize(
        spark, webtext_df, FEATS,
        f"{base}/ref", f"{base}/ref_lineage", "snap1", n_units=6,
    )
    ref = _canon(read_matrix(spark, f"{base}/ref").toPandas())

    # crash after 2 units, then resume
    with pytest.raises(RuntimeError, match="injected failure"):
        materialize(
            spark, webtext_df, FEATS,
            f"{base}/out", f"{base}/lineage", "snap1",
            n_units=6, fail_after_units=2,
        )
    lin = lineage_metrics(spark, f"{base}/lineage")
    assert lin.count() == 2

    summary = materialize(
        spark, webtext_df, FEATS,
        f"{base}/out", f"{base}/lineage", "snap1", n_units=6,
    )
    assert summary["units_skipped"] == 2
    assert summary["units_computed"] == 4

    got = _canon(read_matrix(spark, f"{base}/out").toPandas())
    assert len(got) == len(ref)
    for c in ("n_chars", "len_lag1"):
        assert np.allclose(
            got[c].to_numpy(float), ref[c].to_numpy(float), equal_nan=True
        )
    assert (got["lang_ffill"].fillna("∅") == ref["lang_ffill"].fillna("∅")).all()

    # lineage: 6 rows, digests match the reference materialization's
    lin = lineage_metrics(spark, f"{base}/lineage").toPandas().sort_values("unit")
    ref_lin = (
        lineage_metrics(spark, f"{base}/ref_lineage").toPandas().sort_values("unit")
    )
    assert len(lin) == 6
    assert (lin["digest"].to_numpy() == ref_lin["digest"].to_numpy()).all()
    assert (lin["row_count"].to_numpy() == ref_lin["row_count"].to_numpy()).all()
    assert lin["row_count"].sum() == len(ref)


def test_rerun_is_full_noop(spark, webtext_df, tmp_path):
    base = str(tmp_path)
    materialize(
        spark, webtext_df, FEATS, f"{base}/o", f"{base}/l", "snapA", n_units=4
    )
    s2 = materialize(
        spark, webtext_df, FEATS, f"{base}/o", f"{base}/l", "snapA", n_units=4
    )
    assert s2["units_computed"] == 0
    # a NEW snapshot id recomputes everything
    s3 = materialize(
        spark, webtext_df, FEATS, f"{base}/o2", f"{base}/l", "snapB", n_units=4
    )
    assert s3["units_computed"] == 4


def test_feature_set_id_sensitivity():
    a = feature_set_id(FEATS)
    b = feature_set_id(FEATS[:2])
    assert a != b and len(a) == 16


def test_head_keys_and_skew_report(webtext_df):
    heads = head_keys(webtext_df, "url", top_k=5)
    assert len(heads) == 5
    rep = skew_report(webtext_df, "url").first()
    assert rep["total_rows"] > 0 and 0 < rep["topk_share"] < 1


def test_asof_join_skew_matches_plain(spark, webtext_df):
    right = webtext_df.select(
        "url", "warc_ts", F.length("text").cast("double").alias("text_len")
    )
    probes = webtext_df.select(
        "url", (F.col("warc_ts") + F.expr("INTERVAL 2 HOURS")).alias("ts")
    )
    from ballet_spark.operators.asof import asof_join

    plain = (
        asof_join(probes, right, "url", "ts", "warc_ts")
        .select("url", "ts", "text_len")
        .toPandas()
        .sort_values(["url", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    split = (
        asof_join_skew(probes, right, "url", "ts", "warc_ts", top_k=5)
        .select("url", "ts", "text_len")
        .toPandas()
        .sort_values(["url", "ts"], kind="mergesort")
        .reset_index(drop=True)
    )
    assert len(plain) == len(split)
    assert np.allclose(
        plain["text_len"].to_numpy(float),
        split["text_len"].to_numpy(float),
        equal_nan=True,
    )


def test_salted_agg_matches_plain(spark, webtext_df):
    df = webtext_df.withColumn("text_len", F.length("text").cast("double"))
    got = (
        salted_agg(df, "url", "text_len", n_salts=8, time_col="warc_ts")
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    exp = (
        df.groupBy("url")
        .agg(
            F.sum("text_len").alias("sum"),
            F.count("text_len").alias("count"),
            F.min("text_len").alias("min"),
            F.max("text_len").alias("max"),
            F.avg("text_len").alias("mean"),
        )
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    for c in ("sum", "count", "min", "max", "mean"):
        assert np.allclose(got[c].to_numpy(float), exp[c].to_numpy(float))


def test_snapshot_time_travel_read(spark, webtext_df, tmp_path):
    """VERSION-AS-OF: materializing a later snapshot into the same
    table must not disturb the earlier snapshot's matrix, and the
    as-of read must prune to that snapshot's partitions."""
    base = str(tmp_path)
    materialize(
        spark, webtext_df, FEATS, f"{base}/m", f"{base}/l", "snapA", n_units=4
    )
    a1 = _canon(read_matrix(spark, f"{base}/m", snapshot="snapA").toPandas())

    # snapshot B sees a CHANGED source (text doubled -> n_chars doubles)
    changed = webtext_df.withColumn("text", F.concat("text", "text"))
    materialize(
        spark, changed, FEATS, f"{base}/m", f"{base}/l", "snapB", n_units=4
    )
    a2 = _canon(read_matrix(spark, f"{base}/m", snapshot="snapA").toPandas())
    b = _canon(read_matrix(spark, f"{base}/m", snapshot="snapB").toPandas())

    # time travel: snapA unchanged byte-for-byte
    assert (a1["n_chars"].to_numpy() == a2["n_chars"].to_numpy()).all()
    assert len(a1) == len(a2) == len(b)
    assert (b["n_chars"].to_numpy() == 2 * a1["n_chars"].to_numpy()).all()

    # the as-of read is partition-pruned, not a full-table filter
    plan = (
        read_matrix(spark, f"{base}/m", snapshot="snapA")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters" in plan
    assert "snapshot" in plan.split("PartitionFilters")[1].splitlines()[0]


def test_feature_set_id_tracks_transformer_logic():
    """Resume keys on this id — editing a feature's LOGIC (same
    name/input) must change it, and rebuilding the identical feature
    list must NOT (else resume never matches across processes)."""
    from ballet_spark.core import Feature
    from ballet_spark.operators.window_ops import Lag, Rolling
    from ballet_spark.plans.materialize import feature_set_id

    a1 = [Feature("text_len", Lag(1), output="f")]
    a2 = [Feature("text_len", Lag(1), output="f")]
    b = [Feature("text_len", Lag(2), output="f")]
    c = [Feature("text_len", Rolling("mean", 5), output="f")]
    assert feature_set_id(a1) == feature_set_id(a2)
    assert feature_set_id(a1) != feature_set_id(b)
    assert feature_set_id(a1) != feature_set_id(c)
    # callable transformers: identical bodies agree, different differ
    d1 = [Feature("text_len", lambda col: col * 2, output="f")]
    d2 = [Feature("text_len", lambda col: col * 2, output="f")]
    e = [Feature("text_len", lambda col: col * 3, output="f")]
    assert feature_set_id(d1) == feature_set_id(d2)
    assert feature_set_id(d1) != feature_set_id(e)


def test_per_feature_lineage_rows(spark, tmp_path, webtext_df):
    """North-rule lineage granularity: one digest row per (feature id,
    snapshot, unit), collected in the SAME observe() job. A changed
    feature column changes ITS digest rows only."""
    from ballet_spark.core import Feature
    from ballet_spark.operators.window_ops import Lag
    from ballet_spark.plans.materialize import materialize

    df = webtext_df.withColumn("text_len", F.length("text").cast("double"))
    feats = [
        Feature("text_len", Lag(1), output="len_lag"),
        Feature("text_len", None, output="len_id"),
    ]
    out, lin, flin = (
        str(tmp_path / "m"), str(tmp_path / "lin"), str(tmp_path / "flin")
    )
    materialize(
        spark, df, feats, out, lin, "snapA", n_units=4,
        feature_lineage_path=flin,
    )
    fl = spark.read.parquet(flin)
    assert fl.count() == 2 * 4  # 2 features × 4 units
    assert {r["feature"] for r in fl.select("feature").distinct().collect()} == {
        "len_lag", "len_id"
    }
    # same data under a different feature LIST: the shared column's
    # per-feature digests are identical, proving digests are per-column
    feats2 = [Feature("text_len", None, output="len_id")]
    materialize(
        spark, df, feats2, out, lin, "snapA", n_units=4,
        feature_lineage_path=flin,
    )
    fl2 = spark.read.parquet(flin)
    a = {
        (r["unit"], r["digest"])
        for r in fl2.filter("feature = 'len_id'").distinct().collect()
        if True
    }
    # len_id digests agree across the two feature sets (per unit)
    per_unit = (
        fl2.filter("feature = 'len_id'")
        .groupBy("unit")
        .agg(F.count_distinct("digest").alias("d"))
        .collect()
    )
    assert all(r["d"] == 1 for r in per_unit)


def test_feature_digest_is_permutation_sensitive(spark):
    """Swapping a feature's values between two entities (same value
    multiset) must change the per-feature digest — it hashes
    (entity, time, value), not the value alone."""
    from ballet_spark.plans.materialize import fold_digest, row_hash

    a = spark.createDataFrame(
        [("u1", 1.0, 10.0), ("u2", 1.0, 20.0)], "url string, ts double, f double"
    )
    b = spark.createDataFrame(  # values swapped across entities
        [("u1", 1.0, 20.0), ("u2", 1.0, 10.0)], "url string, ts double, f double"
    )
    da = fold_digest(a.agg(F.sum(row_hash(["url", "ts", "f"]))).first()[0])
    db = fold_digest(b.agg(F.sum(row_hash(["url", "ts", "f"]))).first()[0])
    assert da != db


def _two_features(webtext_df):
    df = webtext_df.withColumn("text_len", F.length("text").cast("double"))
    feats = [
        Feature("text_len", Lag(1), output="len_lag"),
        Feature("text_len", None, output="len_id"),
    ]
    return df, feats


def test_lineage_digests_match_written_matrix(spark, webtext_df, tmp_path):
    """The observe() digest grid, re-derived from the matrix as
    written: per unit, the folded SUM(row_hash) over every column but
    the partition columns is the unit's lineage digest, the folded SUM of each
    feature's (entity, time, value) hash is its feature-lineage digest,
    and the row counts agree."""
    from ballet_spark.plans.materialize import fold_digest, row_hash

    df, feats = _two_features(webtext_df)
    out, lin, flin = (str(tmp_path / n) for n in ("m", "lin", "flin"))
    materialize(
        spark, df, feats, out, lin, "snapA", n_units=4,
        feature_lineage_path=flin,
    )
    m = read_matrix(spark, out)
    cols = [c for c in m.columns if c not in ("unit", "snapshot", "feature_set")]
    outs = ["len_lag", "len_id"]
    assert set(outs) < set(cols)
    got = {
        r["unit"]: r
        for r in m.groupBy("unit").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(row_hash(cols)).alias("d"),
            *[F.sum(row_hash(["url", "warc_ts", c])).alias(c) for c in outs],
        ).collect()
    }
    units = lineage_metrics(spark, lin).collect()
    assert sorted(r["unit"] for r in units) == [0, 1, 2, 3]
    assert sum(r["row_count"] for r in units) == df.count()
    for r in units:
        g = got.get(r["unit"])
        if g is None:  # an empty unit writes no partition directory
            assert (r["row_count"], r["digest"]) == (0, 0)
            continue
        assert r["row_count"] == g["n"]
        assert r["digest"] == fold_digest(g["d"])
    frows = spark.read.parquet(flin).collect()
    assert len(frows) == 4 * len(outs)
    for r in frows:
        g = got.get(r["unit"])
        assert r["digest"] == (fold_digest(g[r["feature"]]) if g else 0)


def test_lineage_schema_empty_unit_and_rerun(spark, webtext_df, tmp_path):
    """Both lineage tables keep their parquet schema; a unit that holds
    no entity (more units than urls) still gets a (0, 0) lineage row and
    zero feature digests; and the rerun is a no-op that appends
    nothing."""
    df, feats = _two_features(webtext_df)
    urls = [r["url"] for r in df.select("url").distinct().limit(2).collect()]
    df = df.filter(F.col("url").isin(urls))
    out, lin, flin = (str(tmp_path / n) for n in ("m", "lin", "flin"))

    def run():
        return materialize(
            spark, df, feats, out, lin, "snapA", n_units=8,
            feature_lineage_path=flin,
        )

    assert run()["units_computed"] == 8
    lt, ft = spark.read.parquet(lin), spark.read.parquet(flin)
    assert lt.dtypes == [
        ("feature_set", "string"), ("input_snapshot", "string"),
        ("unit", "int"), ("row_count", "bigint"), ("digest", "bigint"),
        ("completed_at", "double"), ("n_units", "int"),
    ]
    assert ft.dtypes == [
        ("feature_set", "string"), ("feature", "string"),
        ("input_snapshot", "string"), ("unit", "int"), ("digest", "bigint"),
        ("completed_at", "double"),
    ]
    rows = lt.collect()
    assert sorted(r["unit"] for r in rows) == list(range(8))
    assert {r["n_units"] for r in rows} == {8}
    assert sum(r["row_count"] for r in rows) == df.count()
    empty = {r["unit"] for r in rows if r["row_count"] == 0}
    assert len(empty) >= 6  # 2 urls fill at most 2 of the 8 units
    assert all(r["digest"] == 0 for r in rows if r["unit"] in empty)
    frows = ft.collect()
    assert len(frows) == 8 * 2
    assert all(r["digest"] == 0 for r in frows if r["unit"] in empty)

    assert run()["units_computed"] == 0
    assert spark.read.parquet(lin).count() == 8
    assert spark.read.parquet(flin).count() == 8 * 2


def test_each_lineage_append_writes_one_file(spark, webtext_df, tmp_path):
    """Every batch appends its lineage rows and its feature-lineage rows
    as one parquet file each, however many rows the append holds."""
    df, feats = _two_features(webtext_df)
    out, lin, flin = (tmp_path / n for n in ("m", "lin", "flin"))
    materialize(
        spark, df, feats, str(out), str(lin), "snapA", n_units=4,
        units_per_batch=2, feature_lineage_path=str(flin),
    )
    assert len(list(lin.glob("*.parquet"))) == 2
    assert len(list(flin.glob("*.parquet"))) == 2
    assert spark.read.parquet(str(lin)).count() == 4
    assert spark.read.parquet(str(flin)).count() == 4 * 2


@pytest.mark.parametrize("n_units", [2, 8])
def test_digest_grid_builds_one_hash_per_feature(
    spark, webtext_df, tmp_path, monkeypatch, n_units
):
    """Driver-cost guard: the digest grid shares one row hash plus one
    (entity, time, value) hash per feature across all units, so the
    number of row_hash calls does not grow with n_units."""
    import ballet_spark.plans.materialize as mat

    calls = []
    real = mat.row_hash

    def counting(cols):
        calls.append(list(cols))
        return real(cols)

    monkeypatch.setattr(mat, "row_hash", counting)
    df, feats = _two_features(webtext_df)
    mat.materialize(
        spark, df, feats, str(tmp_path / "m"), str(tmp_path / "lin"),
        "snapA", n_units=n_units, feature_lineage_path=str(tmp_path / "flin"),
    )
    assert len(calls) == 1 + len(feats)


def test_backfill_job_requires_input_or_generate():
    from scripts.backfill_job import main

    with pytest.raises(SystemExit):
        main(["--output", "/tmp/x", "--lineage", "/tmp/y", "--snapshot", "s"])
