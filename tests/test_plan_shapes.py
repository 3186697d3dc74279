"""Physical-plan shape assertions — the scale contract.

Correctness tests prove the math; these prove the PLANS stay in the
shape that survives 100 TB: one exchange+sort+window for all same-spec
window features, broadcast (never shuffled big side) for fitted params
and encoders, column pruning down to the parquet reader, and filter
pushdown. A regression here is a performance bug even if results stay
correct."""

import pytest
from pyspark.sql import functions as F
from pyspark.util import PythonEvalType

from ballet_spark.core import Feature, FeatureEngineeringPipeline
from ballet_spark.functions.text import char_count, token_count
from ballet_spark.operators.base import SparkFunctionTransformer as Fn
from ballet_spark.operators.encoders import CountEncoder, TargetEncoder
from ballet_spark.operators.fitted import Groupwise, SimpleImputer
from ballet_spark.operators.sessionize import SessionId
from ballet_spark.operators.window_ops import ForwardFill, Lag, Rolling


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# the three boundary shapes of an engine kernel: arrow_udf (column
# valued), mapInArrow (row sets), applyInArrow (grouped)
_ARROW_EVAL_TYPES = frozenset({
    PythonEvalType.SQL_SCALAR_ARROW_UDF,
    PythonEvalType.SQL_MAP_ARROW_ITER_UDF,
    PythonEvalType.SQL_GROUPED_MAP_ARROW_UDF,
})


def _nodes(node, seen=None):
    """Nodes of an executed plan, unwrapped through AQE, query stages
    and the cached relations' own plans (each cached plan once, however
    many scans read it)."""
    from pyspark import SparkContext

    seen = set() if seen is None else seen
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _nodes(node.executedPlan(), seen)
        return
    if name.endswith("QueryStageExec"):
        yield from _nodes(node.plan(), seen)
        return
    yield node
    if name == "InMemoryTableScanExec":
        cached = node.relation().cachedPlan()
        key = SparkContext._jvm.System.identityHashCode(cached)
        if key not in seen:
            seen.add(key)
            yield from _nodes(cached, seen)
    children = node.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i), seen)


def _evaluations(df, node_name: str) -> int:
    """How many ``node_name`` nodes the executed plan evaluates. The
    plan string cannot tell: AQE prints a materialized cached subtree
    twice (its final plan and its initial plan)."""
    plan = df._jdf.queryExecution().executedPlan()
    return sum(n.nodeName() == node_name for n in _nodes(plan))


def _python_udfs(df) -> list[tuple[str, int, int]]:
    """``(plan node, evalType, resultId)`` of every ``PythonUDF`` that
    the executed plan evaluates: scalar UDFs in ``ArrowEvalPython``,
    map and grouped kernels in their own nodes. The plan string prints
    a pandas and an Arrow scalar UDF alike (both ``ArrowEvalPython``);
    the eval type tells them apart (200 = ``pandas_udf``, 250 =
    ``arrow_udf``). One kernel evaluated by two nodes (a projection
    collapsed into two consumers, a filter pushed below it) shows as
    one ``resultId`` twice."""
    out = []
    for node in _nodes(df._jdf.queryExecution().executedPlan()):
        exprs = node.expressions()
        todo = [exprs.apply(i) for i in range(exprs.size())]
        while todo:
            expr = todo.pop()
            if expr.nodeName() == "PythonUDF":
                out.append((node.nodeName(), expr.evalType(), expr.resultId().id()))
            kids = expr.children()
            todo.extend(kids.apply(i) for i in range(kids.size()))
    return out


@pytest.fixture(scope="module")
def pages_parquet(spark, webtext_pdf, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "pages")
    spark.createDataFrame(webtext_pdf).write.mode("overwrite").parquet(path)
    return path


def test_window_features_share_one_exchange_and_sort(spark, pages_parquet):
    """lag + rolling + ffill + session over the same (entity, time)
    spec must plan ONE Exchange, ONE Sort, ONE Window node."""
    pages = spark.read.parquet(pages_parquet).withColumn(
        "text_len", F.length("text").cast("double")
    )
    feats = [
        Feature("text_len", Lag(1), output="l1"),
        Feature("text_len", Rolling("mean", 3), output="rm"),
        Feature("lang", ForwardFill(), output="lf"),
        Feature("url", SessionId(gap_s=3600), output="sid"),
    ]
    out = FeatureEngineeringPipeline(feats).fit(pages).transform(pages)
    plan = _plan(out)
    # session id needs a lag (unbounded-free spec) + running-sum frame;
    # Catalyst may keep ≤2 Window nodes but must NOT exchange per feature
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("+- Sort") <= 2
    assert plan.count("Window") <= 3


def test_column_pruning_reaches_parquet_reader(spark, pages_parquet):
    """A text-only feature must not read html from parquet."""
    pages = spark.read.parquet(pages_parquet)
    out = (
        FeatureEngineeringPipeline(
            [Feature("text", Fn(char_count), output="tl")]
        )
        .fit(pages)
        .transform(pages)
    )
    plan = _plan(out)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "html" not in read_schema
    assert "text" in read_schema


def test_filter_pushdown_to_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    out = pages.filter(F.col("lang") == "en").select("url", "lang")
    plan = _plan(out)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)" in plan, plan


def test_fitted_params_join_is_broadcast(spark, pages_parquet):
    """Groupwise + encoders must broadcast the params table — the big
    side is never shuffled for a fitted transform."""
    pages = spark.read.parquet(pages_parquet).withColumn(
        "text_len", F.length("text").cast("double")
    ).withColumn(
        "domain", F.regexp_extract("url", "https://([^/]+)/", 1)
    ).withColumn("y", (F.length("text") > 300).cast("double"))
    feats = [
        Feature(
            "text_len",
            Groupwise(SimpleImputer("mean"), by="domain", handle_unknown="ignore"),
            output="gi",
        ),
        Feature("domain", TargetEncoder(), output="te"),
        Feature("domain", CountEncoder(), output="ce"),
    ]
    out = FeatureEngineeringPipeline(feats).fit(pages, y="y").transform(pages)
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan
    # the probe side has no exchange before the joins
    first_bhj = plan.index("BroadcastHashJoin")
    probe_section = plan[first_bhj:]
    assert "Exchange hashpartitioning" not in plan[:first_bhj]


def test_expression_features_fuse_into_one_codegen_project(spark, pages_parquet):
    """All stateless text features compile into a single whole-stage
    codegen'd Project — no per-feature passes."""
    pages = spark.read.parquet(pages_parquet)
    feats = [
        Feature("text", Fn(char_count), output="a"),
        Feature("text", Fn(token_count), output="b"),
        Feature("text", Fn(lambda c: F.length(F.upper(c))), output="c"),
    ]
    out = FeatureEngineeringPipeline(feats).fit(pages).transform(pages)
    plan = _plan(out)
    assert plan.count("Project") == 1, plan
    # '*(n)' prefixes mark whole-stage-codegen stages in the string form
    assert plan.lstrip().startswith("*("), plan


def test_asof_join_single_exchange(spark, pages_parquet):
    from ballet_spark.operators.asof import asof_join

    pages = spark.read.parquet(pages_parquet)
    right = pages.select("url", "warc_ts", F.length("text").cast("double").alias("v"))
    probes = pages.select("url", (F.col("warc_ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"))
    out = asof_join(probes, right, "url", "ts", "warc_ts")
    plan = _plan(out)
    # union + one window: exactly one hash exchange on the entity
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") == 1


def test_contrast_encoder_is_pure_project(spark, pages_parquet):
    """Contrast coding compiles to expressions only — no join, no
    exchange anywhere in the plan (the 10^12-row side streams)."""
    from ballet_spark.operators.encoders import ContrastEncoder

    pages = spark.read.parquet(pages_parquet)
    out = (
        FeatureEngineeringPipeline(
            [Feature("lang", ContrastEncoder("helmert"), output="h")],
            entity_col="url", time_col="warc_ts",
        )
        .fit(pages)
        .transform(pages)
    )
    plan = _plan(out)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_ngram_jaccard_no_window_over_exploded_grams(spark, pages_parquet):
    """Doc-frequency pruning must be a groupBy + broadcast anti-join —
    never a Window over every exploded gram row (the round-1 shape)."""
    from ballet_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(pages_parquet).select(
        F.xxhash64("url", "warc_ts").alias("doc_id"), "text"
    )
    out = ngram_jaccard_pairs(docs, threshold=0.5, max_df=1000)
    plan = _plan(out)
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan  # the anti-join on hot grams


def test_dfs_level_is_single_aggregate(spark, pages_parquet):
    """One DFS level = one partial+final hash aggregate pair, one
    exchange on the key."""
    from ballet_spark.operators.dfs import DFSAggFeatures

    pages = spark.read.parquet(pages_parquet).select(
        F.regexp_extract("url", "https://([^/]+)/", 1).alias("domain"),
        F.length("text").cast("double").alias("x"),
    )
    out = DFSAggFeatures(pages, "domain", ["x"]).features()
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final


def test_lsh_neardup_join_is_bucket_equikey(spark):
    """The near-dup self-join must hash-partition on the (tbl, bucket)
    LSH key — candidates co-locate by bucket, never all-pairs."""
    from ballet_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = embedding_neardup_pairs(emb, threshold=0.9)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "tbl" in plan and "bucket" in plan


def test_lsh_neardup_python_boundary_is_map_in_arrow(spark):
    """Bucketing and per-bucket verify cross into Python only through
    mapInArrow: no pandas scalar UDF (ArrowEvalPython) and no grouped
    pandas apply (FlatMapGroupsInPandas) in the default plan."""
    from ballet_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = embedding_neardup_pairs(emb, threshold=0.9)
    plan = _plan(df)
    assert _evaluations(df, "MapInArrow") == 2, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_minhash_signatures_is_one_map_in_arrow(spark):
    """Gram hashing and the MinHash affine-min run in ONE mapInArrow
    kernel pass: no pandas scalar UDF (ArrowEvalPython) on the
    signature path."""
    from ballet_spark.operators.dedup import minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = minhash_signatures(docs, num_hashes=16)
    plan = _plan(df)
    assert _evaluations(df, "MapInArrow") == 1, plan
    assert "ArrowEvalPython" not in plan, plan


def test_spread_guard_ignores_column_names(spark):
    """The spread guard skips its partition probe only for plans with a
    shuffling NODE; a single-partition frame whose column is named
    `Join` (or `Sort`) is still a narrow scan and must come back
    spread across the cluster's cores."""
    from pyspark.sql import functions as F

    from ballet_spark.cache import spread_small_input

    target = spark.sparkContext.defaultParallelism
    one = spark.range(0, 10, 1, 1).select(
        F.col("id").alias("Join"), F.col("id").alias("Sort")
    )
    assert one.rdd.getNumPartitions() == 1
    assert spread_small_input(one).rdd.getNumPartitions() == target
    # a real shuffle node still skips the probe (and the spread)
    agg = one.groupBy("Join").count().coalesce(1)
    assert spread_small_input(agg) is agg


def test_bucketed_tables_join_without_exchange(spark, pages_parquet):
    """Two tables bucketed on the join key sort-merge-join with ZERO
    Exchange (the write-once-shuffle-never contract of save_bucketed)."""
    from ballet_spark.sources.io import load_bucketed, save_bucketed

    pages = spark.read.parquet(pages_parquet)
    left = pages.select("url", "warc_ts", F.length("text").alias("text_len"))
    right = pages.groupBy("url").agg(F.count(F.lit(1)).alias("n_snaps"))
    save_bucketed(left, "bk_left", ["url"], n_buckets=8, sort_cols=["url"])
    save_bucketed(right, "bk_right", ["url"], n_buckets=8, sort_cols=["url"])
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = load_bucketed(spark, "bk_left").join(
                load_bucketed(spark, "bk_right"), "url"
            )
            plan = _plan(j)
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, plan
            # bucket metadata also elides the agg shuffle on the key
            agg = load_bucketed(spark, "bk_left").groupBy("url").count()
            assert "Exchange" not in _plan(agg)
            assert j.count() == left.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_hash_split_and_url_parse_are_shuffle_free(spark, pages_parquet):
    """hash_split and the URL kernels are pure map-side projections —
    no Exchange, no Python eval nodes."""
    from ballet_spark.functions.url import path_depth, registrable_domain, url_host
    from ballet_spark.plans.splits import hash_split

    pages = spark.read.parquet(pages_parquet)
    out = hash_split(pages, "url").select(
        "url",
        "split",
        url_host(F.col("url")).alias("host"),
        registrable_domain(F.col("url")).alias("dom"),
        path_depth(F.col("url")).alias("depth"),
    )
    plan = _plan(out)
    assert "Exchange" not in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_tfidf_plan_is_jvm_only(spark, pages_parquet):
    """TF-IDF never leaves the JVM: no Python eval nodes anywhere in
    the executed plan (explode/agg/join/window only)."""
    from ballet_spark.functions.text import tf_idf_top_terms

    pages = spark.read.parquet(pages_parquet).select(
        F.col("url").alias("doc_id"), "text"
    )
    plan = _plan(tf_idf_top_terms(pages, id_col="doc_id", k=2))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_ivf_probe_join_is_broadcast(spark):
    """IVF candidate generation = broadcast join of the tiny
    (query, probed-centroid) table against the tagged corpus — the
    corpus is never shuffled."""
    import numpy as np

    from ballet_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = rng.standard_normal((4, 8))
    q = df.filter(F.col("vec_id") < 3)
    plan = _plan(ivf_topk(df, q, cents, k=3, n_probe=2))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vector_queries_cross_python_as_arrow_only(spark):
    """The vector stack's kernels take Arrow batches, never pandas
    frames; semantic_dedup scores its clusters in ONE grouped Arrow
    apply."""
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in (
        "embedding_topk",
        "embedding_lsh_topk",
        "embedding_ivf_fixed_topk",
        "semantic_dedup_docs",
    ):
        df = qs[name](spark, "/root/testdata/sf0.001")
        plan = _plan(df)
        for node in ("MapInPandas", "FlatMapGroupsInPandas"):
            assert node not in plan, (name, node)
        if name == "semantic_dedup_docs":
            assert _evaluations(df, "FlatMapGroupsInArrow") == 1


def test_vector_scalar_udfs_are_arrow_udfs(spark):
    """Every scalar kernel of the vector queries is an ``arrow_udf``,
    not a ``pandas_udf``; the walk does see a pandas scalar UDF where
    one is used (a ``PandasSeriesTransformer`` column)."""
    import pandas as pd

    import __spark_entry__ as entry
    from test_entry_oracle import SF_DIR

    from ballet_spark.cache import release_caches
    from ballet_spark.operators.base import PandasSeriesTransformer

    def scalar_types(df):
        return [t for n, t, _ in _python_udfs(df) if n == "ArrowEvalPython"]

    qs = entry.queries()
    for name in (
        "embedding_lsh_topk",
        "embedding_ivf_fixed_topk",
        "semantic_dedup_docs",
    ):
        types = scalar_types(qs[name](spark, SF_DIR))
        release_caches(None)
        assert types, name
        assert set(types) == {PythonEvalType.SQL_SCALAR_ARROW_UDF}, (name, types)

    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    col = PandasSeriesTransformer(plus_one).transform_exprs(
        [F.col("id").cast("double")], None
    )[0]
    types = scalar_types(spark.range(3).select(col))
    assert types == [PythonEvalType.SQL_SCALAR_PANDAS_UDF], types


# the Python kernel nodes of the queries whose kernels moved to Arrow
_KERNEL_NODES = {
    "lang_id_heuristic": {"ArrowEvalPython": 1},
    "simhash_dups": {"ArrowEvalPython": 1},
    "doc_fingerprints": {"ArrowEvalPython": 1},
    "repetition_filter_docs": {"ArrowEvalPython": 1},
    "lm_perplexity_docs": {"ArrowEvalPython": 1},  # the fit ran eagerly
    "nb_classifier_docs": {"ArrowEvalPython": 1},
    "exactsubstr_dedup_docs": {"ArrowEvalPython": 1, "MapInArrow": 1},
    "knn_impute_value": {"FlatMapGroupsInArrow": 1},
    "curation_pipeline_v2": {"ArrowEvalPython": 2, "MapInArrow": 2},
    # every cluster in ONE grouped apply
    "semantic_dedup_docs": {"ArrowEvalPython": 1, "FlatMapGroupsInArrow": 1},
}


def test_every_query_crosses_python_as_arrow_once_per_kernel(spark):
    """Engine kernels cross into Python one way, as Arrow: every Python
    kernel of every query is an ``arrow_udf``, ``mapInArrow`` or
    ``applyInArrow`` (no ``MapInPandas``, ``FlatMapGroupsInPandas`` or
    pandas scalar UDF), except in ``grouped_apply_normalize``, whose
    user function is ballet's pandas surface. And each kernel is
    evaluated by one plan node, so no collapsed projection or pushed
    filter runs a kernel twice. The queries of the converted kernels
    show exactly their kernels."""
    from collections import Counter

    import __spark_entry__ as entry
    from test_entry_oracle import SF_DIR

    from ballet_spark.cache import release_caches

    kernels = 0
    for name, query in entry.queries().items():
        udfs = _python_udfs(query(spark, SF_DIR))
        release_caches(None)
        kernels += len(udfs)
        if name == "grouped_apply_normalize":
            assert [u[:2] for u in udfs] == [
                ("FlatMapGroupsInPandas", PythonEvalType.SQL_GROUPED_MAP_PANDAS_UDF)
            ], udfs
            continue
        assert all(t in _ARROW_EVAL_TYPES for _, t, _ in udfs), (name, udfs)
        assert not any("Pandas" in n for n, _, _ in udfs), (name, udfs)
        twice = [r for r, c in Counter(r for _, _, r in udfs).items() if c > 1]
        assert not twice, (name, udfs)
        if name in _KERNEL_NODES:
            assert Counter(n for n, _, _ in udfs) == _KERNEL_NODES[name], (name, udfs)
    assert kernels > 30  # the walk does see the kernels


def test_python_udf_walk_sees_pandas_udfs_and_double_evaluation(spark):
    """Positive controls for the guard above: a ``PandasSeriesTransformer``
    column is a pandas scalar UDF (200), and a kernel column read by both
    sides of an uncached self-join is evaluated twice."""
    import pandas as pd

    from ballet_spark.operators.base import PandasSeriesTransformer
    from ballet_spark.operators.dedup import simhash_col

    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    col = PandasSeriesTransformer(plus_one).transform_exprs(
        [F.col("id").cast("double")], None
    )[0]
    udfs = _python_udfs(spark.range(3).select(col))
    assert [u[:2] for u in udfs] == [
        ("ArrowEvalPython", PythonEvalType.SQL_SCALAR_PANDAS_UDF)
    ]
    d = spark.range(3).select("id", simhash_col(F.col("id").cast("string")).alias("h"))
    udfs = _python_udfs(d.alias("a").join(d.alias("b"), "h"))
    assert len(udfs) > 1 and len({r for _, _, r in udfs}) == 1, udfs
    assert {t for _, t, _ in udfs} == {PythonEvalType.SQL_SCALAR_ARROW_UDF}


def test_gopher_filter_is_shuffle_free_map(spark, pages_parquet):
    """The curation gate is a pure map over the scan: no Exchange, no
    Join, no Python evaluator — it must run at input-scan speed."""
    from ballet_spark.functions.text import gopher_filter

    pages = spark.read.parquet(pages_parquet).withColumnRenamed("url", "doc_id")
    plan = _plan(gopher_filter(pages, id_cols=("doc_id",)))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    for py in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert py not in plan, plan


def test_q5_broadcasts_dims_single_fact_shuffle(spark):
    """The six-table Q5 join must broadcast every dimension: the only
    Exchanges allowed are the orders↔lineitem orderkey join plus the
    final aggregation/sort — the fact table is never shuffled by a
    dimension key."""
    import __spark_entry__ as entry

    df = entry.queries()["q5_local_supplier_volume"](
        spark, "/root/testdata/sf0.01"
    )
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    # hash exchanges: orderkey join sides (2) + partial->final agg (1);
    # the sort's range exchange is separate. Anything more means a
    # dimension shuffled the fact table.
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_incremental_minhash_joins_are_equi_key(spark):
    """Every join in the incremental-dedup plan must be an equi-join
    (bucket/id keys): a CartesianProduct or BroadcastNestedLoopJoin
    anywhere means a candidate path went quadratic."""
    import __spark_entry__ as entry

    df = entry.queries()["incremental_minhash_dups"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_grouped_apply_query_single_exchange(spark):
    """E3 driver query: applyInPandas = ONE exchange on the group key +
    one grouped-map Arrow node; anything more is a regression."""
    import __spark_entry__ as entry

    df = entry.grouped_apply_normalize(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert _evaluations(df, "FlatMapGroupsInPandas") == 1, plan


def test_ts_exact_sums_stays_one_exchange_jvm_only(spark):
    """exact_sums microunit accumulation must not add exchanges or drop
    out of the JVM: one hash exchange (windows + agg reuse it), zero
    Python nodes."""
    import __spark_entry__ as entry

    df = entry.ts_features_user(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for marker in ("FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan, marker


def test_lm_fit_single_small_shuffle_and_jvm_scan(spark):
    """LM fit: one Exchange whose input is the bounded per-batch
    partial counts (≤16,770 rows/batch), never raw characters."""
    import __spark_entry__ as entry

    df = entry.queries()["lm_perplexity_docs"](spark, "/root/testdata/sf0.001")
    # driver queries collect the table during construction; assert the
    # fit plan directly instead
    from ballet_spark.functions.lm import fit_char_bigram_lm

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lm = fit_char_bigram_lm(docs)
    plan = lm._jdf.queryExecution().executedPlan().toString()
    # the fit already materialized: the returned table is a bounded
    # LOCAL relation (≤16,770 rows) — no scan, no exchange downstream;
    # the one shuffle ran inside the counts job over partial matrices
    assert "Exchange" not in plan and "FileScan" not in plan
    assert lm.count() == 130 * 129
    assert df.count() > 0  # and the full query still runs


def test_decontaminate_query_broadcasts_and_never_sorts_corpus(spark):
    import __spark_entry__ as entry

    df = entry.queries()["decontaminate_docs"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # both sides tokenize inside the one gram kernel: no interpreted
    # higher-order-function tokenizer in the JVM
    assert _evaluations(df, "MapInArrow") == 2, plan
    assert "lambdafunction" not in plan, plan


def test_pii_and_segment_removal_are_shuffle_free_maps(spark):
    """pii_redaction is a pure map; remove_frequent_lines' rewrite adds
    no Exchange once the removal set is known (the count pass runs at
    plan-construction time). r06: single-small-file inputs get exactly
    ONE round-robin spread exchange (cache.spread_small_input) so the
    regex/InSet map stages parallelize — still no hash/aggregate
    shuffle of the corpus, and the spread vanishes on any multi-split
    table (guarded on partition count). The segment-removal query
    additionally persists its chunked projection (the SEG5 HOF would
    otherwise run once per phase), so its one spread exchange now sits
    INSIDE the cached relation's plan — the executed tree, walked
    through the cache, holds exactly one exchange in each query, and
    it is the round-robin spread, never a hash partitioning of the
    corpus."""
    import __spark_entry__ as entry

    def _assert_map_only_plus_spread(df) -> None:
        # exactly one exchange, the round-robin spread, wherever it sits
        # (inside the cached subtree for segment removal); never a hash
        # partitioning, which would mean the corpus is shuffled by key
        plan = df._jdf.queryExecution().executedPlan()
        shuffles = [
            n for n in _nodes(plan)
            if n.getClass().getSimpleName() == "ShuffleExchangeExec"
        ]
        assert len(shuffles) == 1, plan.toString()
        partitioning = shuffles[0].outputPartitioning().getClass().getSimpleName()
        assert partitioning == "RoundRobinPartitioning", plan.toString()
        assert "hashpartitioning" not in plan.toString(), plan.toString()

    df = entry.queries()["pii_redaction_docs"](spark, "/root/testdata/sf0.001")
    _assert_map_only_plus_spread(df)

    df2 = entry.queries()["remove_frequent_segments_docs"](
        spark, "/root/testdata/sf0.001"
    )
    _assert_map_only_plus_spread(df2)


def test_lsh_index_bucketed_probe_has_no_index_side_exchange(spark):
    """save_lsh_index / load_lsh_index: the persisted bucket table is
    bucketed+sorted on (band, bucket) — the probe join's key — so an
    incremental ingest never shuffles or re-sorts the INDEX side (the
    side that grows to 10^12 rows). The batch side may exchange into
    the index's bucketing; that cost is batch-sized, not index-sized."""
    from ballet_spark.operators.dedup import (
        LshIndex,
        load_lsh_index,
        minhash_lsh_index,
        minhash_lsh_pairs_incremental,
        release_caches,
        save_lsh_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i} epsilon zeta eta theta") for i in range(200)],
        "doc_id long, text string",
    )
    idx = minhash_lsh_index(corpus, num_hashes=16, bands=4)
    save_lsh_index(idx, "lsh_t", n_buckets=8)
    try:
        loaded = load_lsh_index(spark, "lsh_t")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            # the probe shape: batch-banded rows joined to the index
            # bucket table on (band, bucket)
            batch = spark.createDataFrame(
                [(10_000 + i, f"alpha beta gamma delta {i} epsilon zeta eta theta")
                 for i in range(5)],
                "doc_id long, text string",
            )
            pairs, _ = minhash_lsh_pairs_incremental(
                batch, loaded, num_hashes=16, bands=4
            )
            plan = pairs._jdf.queryExecution().executedPlan().toString()
            # index side: scan of the bucketed table reaches its join
            # with NO Exchange between them. Heuristic: the plan has a
            # FileScan of lsh_t_buckets with 'Bucketed: true' and no
            # 'Exchange hashpartitioning(... id_b' on the index branch;
            # simplest robust check — with broadcast off, the number of
            # Exchanges is what the batch side alone requires
            assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
            assert pairs.count() >= 5  # each batch doc matches its twin
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        release_caches(None)
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_t_buckets")
        spark.sql("DROP TABLE IF EXISTS lsh_t_grams")


def test_lsh_index_save_load_roundtrip(spark):
    from ballet_spark.operators.dedup import (
        load_lsh_index,
        minhash_lsh_index,
        minhash_lsh_pairs_incremental,
        release_caches,
        save_lsh_index,
    )

    corpus = spark.createDataFrame(
        [(i, f"one two three four five {i % 7} six seven") for i in range(60)],
        "doc_id long, text string",
    )
    idx = minhash_lsh_index(corpus, num_hashes=16, bands=4)
    n_buckets_rows = idx.buckets.count()
    save_lsh_index(idx, "lsh_rt", n_buckets=4)
    try:
        loaded = load_lsh_index(spark, "lsh_rt")
        assert loaded.buckets.count() == n_buckets_rows
        assert loaded.grams.count() == 60
        # probing the loaded index equals probing the in-memory one
        batch = spark.createDataFrame(
            [(1000, "one two three four five 3 six seven")],
            "doc_id long, text string",
        )
        p_mem, _ = minhash_lsh_pairs_incremental(batch, idx, num_hashes=16, bands=4)
        p_disk, _ = minhash_lsh_pairs_incremental(batch, loaded, num_hashes=16, bands=4)
        assert sorted(map(tuple, p_mem.collect())) == sorted(
            map(tuple, p_disk.collect())
        )
        release_caches(None)
    finally:
        spark.sql("DROP TABLE IF EXISTS lsh_rt_buckets")
        spark.sql("DROP TABLE IF EXISTS lsh_rt_grams")
