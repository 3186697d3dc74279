"""io sources and sinks: config loaders, feature save/load, the Iceberg
fallback and the session-scoped ``cached`` memo."""

import pytest
from pyspark.sql import functions as F

from ballet_spark.sources.io import (
    load_features,
    load_table_from_config,
    save_features,
    table,
)


def test_load_table_from_config(spark, tmp_path, webtext_pdf):
    pq = str(tmp_path / "t.parquet")
    csv = str(tmp_path / "t.csv")
    df = spark.createDataFrame(webtext_pdf[["url", "lang"]].head(20))
    df.write.parquet(pq)
    df.write.option("header", "true").csv(csv)
    got_pq = load_table_from_config(spark, {"name": "t", "path": pq})
    got_csv = load_table_from_config(
        spark, {"name": "t", "path": csv, "format": "csv"}
    )
    assert got_pq.count() == 20 and got_csv.count() == 20
    with pytest.raises(ValueError, match="unsupported format"):
        load_table_from_config(spark, {"path": pq, "format": "avro"})


def test_save_load_features_roundtrip(spark, webtext_df, tmp_path):
    m = webtext_df.select("url", "warc_ts", F.length("text").alias("tl"))
    save_features(m, str(tmp_path / "m"))
    back = load_features(spark, str(tmp_path / "m"))
    assert back.count() == m.count()


def test_iceberg_table_degrades_clearly(spark):
    with pytest.raises(RuntimeError, match="Iceberg"):
        table(spark, "web.pages", snapshot_id=123)


def test_cached_memoizes_and_persists(spark):
    from ballet_spark.sources import io as io_mod

    df1 = spark.range(100)
    a = io_mod.cached("t_cached_key", df1)
    b = io_mod.cached("t_cached_key", spark.range(5))  # ignored: memo hit
    assert a is b
    assert a.storageLevel.useMemory  # persisted
    assert a.count() == 100
    # keys are scoped per SparkSession (stale-session handles must
    # never be served to a fresh session)
    sid = spark.sparkContext.applicationId
    assert (sid, "t_cached_key") in io_mod._CACHE
    io_mod.uncache("t_cached_key")
    assert not any(k[1] == "t_cached_key" for k in io_mod._CACHE)
