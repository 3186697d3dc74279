"""The worker-side zip-cache guard, the package shipping and the
generated-class cache size of ``ballet_spark.session``.

The contract tests call the installer directly (no Spark) and put the
stdlib method back afterwards; the worker test checks that a Python
worker running an engine kernel has the guard and the driver does not.
The shipping test drives ``ship_package`` with a stub session. The
compile-reuse test counts the classes a multi-stage build compiles
(Spark's ``CodegenMetrics``) on its first run and on a repeat.
"""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pyarrow as pa
import pytest

from ballet_spark import session

needs_eager_invalidate = pytest.mark.skipif(
    sys.version_info >= (3, 13)
    or not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="zipimporter.invalidate_caches is already lazy or absent",
)


def test_ship_package_zips_sources_and_removes_zip_at_exit(tmp_path, monkeypatch):
    added, hooks = [], []
    monkeypatch.setattr(session.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(
        session.atexit, "register", lambda fn, *a: hooks.append((fn, a))
    )
    stub = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(addPyFile=added.append)
    )
    session.ship_package(stub)
    session.ship_package(stub)  # second session: same zip, no rebuild
    zip_path = str(tmp_path / f"ballet_spark_pyfiles_{os.getpid()}.zip")
    assert added == [zip_path, zip_path]
    with zipfile.ZipFile(zip_path) as zf:
        names = zf.namelist()
    assert "ballet_spark/__init__.py" in names
    assert "ballet_spark/operators/dedup.py" in names
    assert all(n.endswith(".py") and "__pycache__" not in n for n in names), names
    assert len(hooks) == 1
    fn, args = hooks[0]
    fn(*args)
    assert not os.path.exists(zip_path)
    fn(*args)  # an already-removed zip is not an error


def _is_stdlib(method) -> bool:
    return method.__module__ == "zipimport" and not hasattr(method, "_stat_keyed")


@pytest.fixture
def guard():
    stdlib = zipimport.zipimporter.invalidate_caches
    assert _is_stdlib(stdlib)
    session._install_zip_cache_guard()
    yield
    zipimport.zipimporter.invalidate_caches = stdlib


@pytest.fixture
def reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    seen = []
    read = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "zc_pkg.zip")
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("zc_mod_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in ("zc_mod_a", "zc_mod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


@needs_eager_invalidate
def test_unchanged_archive_is_read_at_most_once(guard, archive, reads):
    assert importlib.import_module("zc_mod_a").X == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) <= 1


@needs_eager_invalidate
def test_rewritten_archive_is_reread(guard, archive, reads):
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    with zipfile.ZipFile(archive, "w") as zf:  # same inode, new size
        zf.writestr("zc_mod_a.py", "X = 1\n")
        zf.writestr("zc_mod_b.py", "Y = 2\n")
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("zc_mod_b").Y == 2


@needs_eager_invalidate
def test_deleted_archive_falls_back_to_stdlib(guard, archive, reads, tmp_path):
    importlib.import_module("zc_mod_a")
    importlib.invalidate_caches()
    (tmp_path / "zc_pkg.zip").unlink()
    reads.clear()
    importlib.invalidate_caches()  # raises nothing
    importer = sys.path_importer_cache[archive]
    assert reads.count(archive) == 1  # the stdlib's failed re-read
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


@needs_eager_invalidate
def test_second_install_does_not_rewrap(guard):
    first = zipimport.zipimporter.invalidate_caches
    session._install_zip_cache_guard()
    assert zipimport.zipimporter.invalidate_caches is first


@needs_eager_invalidate
def test_workers_run_the_guard_and_the_driver_does_not(spark):
    # nested, so it pickles by value: workers cannot import this module
    def _worker_probe(batches):
        import importlib
        import zipimport

        import ballet_spark  # noqa: F401  (as an engine kernel's unpickle does)

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        read = zipimport._read_directory
        calls = []

        def counting(archive):
            calls.append(archive)
            return read(archive)

        importlib.invalidate_caches()  # records any archive not yet keyed
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        yield pa.RecordBatch.from_pydict({
            "patched": [hasattr(method, "_stat_keyed")],
            "reads": [len(calls)],
        })

    n = spark.sparkContext.defaultParallelism
    out = (
        spark.range(0, n, 1, numPartitions=n)
        .mapInArrow(_worker_probe, "patched boolean, reads long")
        .toArrow()
        .to_pylist()
    )
    assert len(out) == n
    assert all(r["patched"] for r in out), out
    assert all(r["reads"] == 0 for r in out), out
    assert _is_stdlib(zipimport.zipimporter.invalidate_caches)


def _backfill_build(spark, pages, root: str):
    """One training-set build from a fresh root: materialize
    ``bench._backfill_matrix``'s 12 features, read the matrix back, as-of
    join per-page label probes to it, add per-domain running stats and
    fit a scaler and a target encoder."""
    from pyspark.sql import functions as F

    from ballet_spark.core import Feature, FeatureEngineeringPipeline
    from ballet_spark.functions.text import char_count, punct_ratio, quality_score, token_count
    from ballet_spark.operators.asof import asof_join
    from ballet_spark.operators.base import SparkFunctionTransformer as Fn
    from ballet_spark.operators.encoders import TargetEncoder
    from ballet_spark.operators.fitted import StandardScaler
    from ballet_spark.operators.sessionize import SessionId
    from ballet_spark.operators.window_ops import (
        CumAgg, Delta, ForwardFill, Lag, Rolling, SnapshotIndex, TimeSinceLast,
    )
    from ballet_spark.plans.materialize import materialize, read_matrix
    from ballet_spark.plans.skew import salted_running_agg

    feats = [
        Feature("text", Fn(char_count), output="n_chars"),
        Feature("text", Fn(token_count), output="n_tokens"),
        Feature("text", Fn(punct_ratio), output="punct_r"),
        Feature("text", Fn(quality_score), output="quality"),
        Feature("text_len", Lag(1), output="len_lag1"),
        Feature("text_len", Delta(1), output="len_delta"),
        Feature("text_len", Rolling("mean", 5), output="len_roll5"),
        Feature("text_len", CumAgg("sum"), output="len_cum"),
        Feature("lang", ForwardFill(), output="lang_ffill"),
        Feature("url", SnapshotIndex(), output="snap_idx"),
        Feature("url", TimeSinceLast(), output="gap_s"),
        Feature("url", SessionId(gap_s=24 * 3600), output="session_id"),
    ]
    source = pages.withColumn("text_len", F.length("text").cast("double"))
    materialize(
        spark, source, feats, f"{root}/m", f"{root}/lineage", "s0",
        feature_lineage_path=f"{root}/feature_lineage",
    )
    matrix = read_matrix(spark, f"{root}/m", snapshot="s0").select(
        "url", "warc_ts", *(f.alias for f in feats)
    )
    probes = pages.select(
        "url",
        (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        (F.length("text") > 400).cast("double").alias("label"),
    )
    labelled = asof_join(probes, matrix, on="url", left_ts="ts", right_ts="warc_ts")
    labelled = labelled.withColumn("domain", F.split("url", "/")[2])
    stats = salted_running_agg(
        labelled, key="domain", time_col="ts", value_col="n_chars",
        aggs=("count", "sum", "max"), top_k=3,
    )
    pipe = FeatureEngineeringPipeline([
        Feature("label", None, output="y"),
        Feature(["run_count", "run_sum", "run_max"], None, output="domain_run"),
        Feature(["quality", "len_delta"], StandardScaler(), output="z"),
        Feature("domain", TargetEncoder(), output="domain_te"),
    ], time_col="ts")
    out = pipe.fit(labelled, y="label").transform(stats)
    return out.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*out.columns).cast("decimal(38,0)"))
    ).first()


def test_repeat_build_reuses_generated_classes(spark, webtext_df, tmp_path):
    """The generated-class cache holds a whole multi-stage build: run
    again into a fresh root, the same build compiles (almost) nothing.
    With Spark's 100-entry default, a build that needs more than 100
    classes evicts its own classes and recompiles them every run."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    counts, results = [], []
    for run in ("first", "repeat"):
        before = compiles.getCount()
        results.append(_backfill_build(spark, webtext_df, str(tmp_path / run)))
        counts.append(compiles.getCount() - before)
    first, repeat = counts
    assert results[0] == results[1]
    assert first > 100, counts
    assert repeat <= 0.1 * first, counts
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
