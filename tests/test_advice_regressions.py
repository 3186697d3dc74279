"""Regression tests for the round-1 ADVICE findings: short-doc n-grams,
NULL-keyed skew split / Groupwise, Trend with NULLs in the window, and
duplication-sensitive materialization digests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ballet_spark.core import Feature, PipelineContext
from ballet_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    word_ngrams,
)
from ballet_spark.operators.fitted import Groupwise, SimpleImputer
from ballet_spark.operators.window_ops import Trend
from ballet_spark.plans.skew import asof_join_skew


def test_word_ngrams_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two"), (3, ""), (4, "solo"),
         (5, None)],
        "doc_id long, text string",
    )
    out = df.select("doc_id", word_ngrams(F.col("text"), 3).alias("g")).collect()
    by_id = {r["doc_id"]: r["g"] for r in out}
    assert by_id[1] == ["one two three", "two three four"]
    assert by_id[2] == []
    assert by_id[3] == []
    assert by_id[4] == []
    assert by_id[5] == []  # NULL text routes to the empty-array branch
    # the full dedup jobs must survive short/empty docs end-to-end
    assert ngram_jaccard_pairs(df, threshold=0.1).count() >= 0
    assert minhash_lsh_pairs(df, num_hashes=8, bands=4, threshold=0.1).count() >= 0


def test_asof_skew_keeps_null_keys(spark):
    right = spark.createDataFrame(
        [("a", 1.0, 10.0), ("a", 2.0, 20.0), (None, 1.0, 5.0)],
        "url string, sec double, v double",
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"), "v")
    probes = spark.createDataFrame(
        [("a", 3.0), (None, 3.0)], "url string, sec double"
    ).select("url", F.timestamp_seconds("sec").alias("ts"))
    plain = asof_join_skew(probes, right, head=["a"]).toPandas()
    # the NULL-keyed probe row must survive the head/tail split
    assert len(plain) == 2
    null_row = plain[plain["url"].isna()]
    assert len(null_row) == 1


def test_groupwise_null_group_seen_in_train(spark):
    train = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), (None, 10.0), (None, 20.0), ("a", None)],
        "g string, x double",
    )
    tr = Groupwise(SimpleImputer(strategy="mean"), by="g", handle_unknown="error")
    ctx = PipelineContext(entity_col="g", time_col="x", point_in_time=False)
    tr.fit(train, ["x"], ctx)
    out, names = tr.transform_df(train, ["x"], "imp", ctx)
    pdf = out.toPandas()  # must NOT raise "Unknown group: null"
    filled = pdf[pdf["g"].isna()]["imp"].tolist()
    assert sorted(filled) == [10.0, 20.0]
    a_imp = pdf[(pdf["g"] == "a") & (pdf["x"].isna())]["imp"].iloc[0]
    assert a_imp == pytest.approx(2.0)


def test_trend_null_masked_index_sums(spark):
    # window of 3 rows with a NULL in the middle: slope must use only
    # the rows where y is present for ALL of n, Σt, Σt², Σty, Σy
    df = spark.createDataFrame(
        [("u", 1.0, 0.0), ("u", 2.0, None), ("u", 3.0, 4.0)],
        "url string, warc_ts double, y double",
    )
    ctx = PipelineContext()
    (expr,) = Trend(window=3).transform_exprs([F.col("y")], ctx)
    got = (
        df.select("warc_ts", expr.alias("slope"))
        .orderBy("warc_ts")
        .toPandas()["slope"]
        .tolist()
    )
    # at t=3: rows (idx=0, y=0) and (idx=2, y=4) -> slope = 2.0 exactly
    assert got[2] == pytest.approx(2.0)


def test_digest_is_duplication_sensitive(spark, tmp_path):
    from ballet_spark.plans.materialize import row_digest

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    doubled = df.unionAll(df)
    d1 = df.agg(row_digest(df).alias("d")).first()["d"]
    d2 = doubled.agg(row_digest(doubled).alias("d")).first()["d"]
    assert d1 != d2  # XOR would self-cancel; SUM must not


# ---- round-2 code-review regressions ---------------------------------


def test_negative_offsets_hit_leakage_guard(webtext_df):
    """lag(e, -k) IS lead(e, k): negative offsets in MultiLag / Delta /
    SeasonalLag must pass the same point-in-time gate as Lead."""
    from ballet_spark.core import LeakageError
    from ballet_spark.operators.window_ops import Delta, MultiLag, SeasonalLag

    ctx = PipelineContext()  # point_in_time=True
    for tr in (MultiLag([-1, 1]), Delta(k=-1), SeasonalLag(-7)):
        with pytest.raises(LeakageError):
            tr.transform_exprs([F.col("text_len")], ctx)
    # past-only offsets still compile
    assert MultiLag([1, 2]).transform_exprs([F.col("x")], ctx)


def test_hash_callable_address_free(spark):
    """Auto-generated feature names must be stable across processes:
    two distinct function objects with identical code hash identically
    (repr(fn) would embed each one's memory address)."""
    from ballet_spark.core import _hash_callable

    fns = [(lambda df: ["text"]) for _ in range(2)]
    assert fns[0] is not fns[1]
    assert _hash_callable(fns[0]) == _hash_callable(fns[1])


def test_fit_rejects_dataframe_y(spark, webtext_df):
    from ballet_spark.core import Feature, FeatureEngineeringPipeline

    pipe = FeatureEngineeringPipeline([Feature("text_len", None)])
    with pytest.raises(TypeError, match="label column name"):
        pipe.fit(webtext_df, y=webtext_df)


def test_skew_report_empty_input(spark):
    from ballet_spark.plans.skew import skew_report

    empty = spark.createDataFrame([], "url string, v double")
    row = skew_report(empty, "url").first()
    assert row["total_rows"] == 0
    assert row["topk_share"] == 0.0


def test_mi_estimator_survives_nulls(spark):
    from ballet_spark.validation.entropy import (
        estimate_mutual_information_spark,
        sample_to_numpy,
    )

    rows = [(float(i), float(2 * i), None if i % 5 == 0 else float(i))
            for i in range(200)]
    df = spark.createDataFrame(rows, "x double, y double, z double")
    arr = sample_to_numpy(df, ["x", "z"], sample_n=100)
    assert not np.isnan(arr).any()
    mi = estimate_mutual_information_spark(df, ["x"], ["z"], sample_n=100)
    assert np.isfinite(mi) and mi > 0


def test_session_id_feature_matches_sessionize(spark):
    from ballet_spark.operators.sessionize import SessionId, sessionize

    df = spark.createDataFrame(
        [("u", 0.0), ("u", 10.0), ("u", 200.0), ("u", 205.0), ("v", 0.0)],
        "url string, sec double",
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"))
    ctx = PipelineContext()
    (expr,) = SessionId(gap_s=60).transform_exprs([], ctx)
    a = df.select("url", "warc_ts", expr.alias("sid"))
    b = sessionize(df, gap_s=60, out_col="sid").select("url", "warc_ts", "sid")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_skew_head_from_probe_side_with_history_cap(spark):
    """Head keys come from PROBE counts; a probe-hot key whose right
    history exceeds max_history stays on the window path. Either way
    the output must equal the plain as-of join."""
    from ballet_spark.operators.asof import asof_join
    from ballet_spark.plans.skew import asof_join_skew

    right_rows = [("hot", float(i), float(i)) for i in range(50)] + [
        ("cold", 1.0, -1.0)
    ]
    right = spark.createDataFrame(
        right_rows, "url string, sec double, v double"
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"), "v")
    probe_rows = [("hot", float(i) + 0.5) for i in range(200)] + [("cold", 5.0)]
    probes = spark.createDataFrame(probe_rows, "url string, sec double").select(
        "url", F.timestamp_seconds("sec").alias("ts")
    )
    plain = sorted(map(tuple, asof_join(probes, right).collect()))
    # default: hot goes broadcast (history 50 <= cap)
    split = sorted(map(tuple, asof_join_skew(probes, right, top_k=1).collect()))
    assert split == plain
    # tiny cap: hot's history too big to broadcast -> window path; same rows
    capped = sorted(
        map(tuple, asof_join_skew(probes, right, top_k=1, max_history=10).collect())
    )
    assert capped == plain


# ---- round-3 ADVICE regressions ----


def test_hash_callable_folds_closures_and_defaults():
    """ADVICE r3: same bytecode + different captured values must hash
    differently, else a resumed materialize() serves a stale matrix for
    a re-parameterized feature."""
    from ballet_spark.core import _hash_callable

    def make(th):
        def sel(df):
            return th

        return sel

    assert _hash_callable(make(1)) != _hash_callable(make(2))
    assert _hash_callable(make(1)) == _hash_callable(make(1))  # stable

    def mkdef(k):
        def f(x, scale=k):
            return x * scale

        return f

    assert _hash_callable(mkdef(0.5)) != _hash_callable(mkdef(2.0))

    def mkkw(k):
        def f(x, *, scale=k):
            return x * scale

        return f

    assert _hash_callable(mkkw(1)) != _hash_callable(mkkw(2))

    # captured functions recurse: outer closures differing only in the
    # inner function's captured value still hash apart
    def outer(g):
        def h(x):
            return g(x)

        return h

    assert _hash_callable(outer(make(1))) != _hash_callable(outer(make(2)))


def test_release_caches_releases_tracked_persists(spark, webtext_df):
    """ADVICE r3: dedup intermediates are released deterministically via
    release_caches(), no global clearCache needed — and the release is
    SCOPED: the batch-dedup scope cannot evict a serving-scope cache a
    live stream still depends on."""
    from ballet_spark.cache import _PERSISTED, persist_tracked, release_caches
    from ballet_spark.operators.dedup import minhash_lsh_pairs

    release_caches(None)  # clean slate, every scope
    pairs = minhash_lsh_pairs(webtext_df.limit(40), "url", "text")
    pairs.count()
    assert len(_PERSISTED.get("dedup", [])) > 0
    serving = persist_tracked(webtext_df.limit(3), scope="serving")
    serving.count()
    handles = list(_PERSISTED["dedup"])
    n = release_caches()  # default: dedup scope only
    assert n == len(handles)
    assert "dedup" not in _PERSISTED
    assert all(h.storageLevel.useMemory is False for h in handles)
    # the serving cache survived the dedup release
    assert serving.storageLevel.useMemory
    assert release_caches("serving") == 1
    assert not serving.storageLevel.useMemory


def test_cached_keeps_live_session_entries(spark, webtext_df):
    """ADVICE r3: cached() must not evict (and leak) entries for a
    session that is still alive."""
    from ballet_spark.sources import io

    io.uncache()
    df = webtext_df.limit(5)
    a = io.cached("k1", df)
    assert len(io._CACHE) == 1
    b = io.cached("k2", df.limit(2))
    # both keys survive: same live session, nothing evicted
    assert len(io._CACHE) == 2
    assert a.storageLevel.useMemory and b.storageLevel.useMemory
    io.uncache()
    assert not io._CACHE


def test_head_keys_min_count_collect_is_capped(spark, monkeypatch):
    """VERDICT r2 #8: a degenerate min_count threshold must not collect
    unbounded keys onto the driver."""
    import warnings

    import ballet_spark.plans.skew as skew

    df = spark.range(500).select(
        F.concat(F.lit("k"), F.col("id")).alias("url"), F.lit(1).alias("x")
    )
    monkeypatch.setattr(skew, "HEAD_KEYS_HARD_CAP", 50)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        keys = skew.head_keys(df, key="url", min_count=1)
    assert len(keys) == 50
    assert any("head_keys" in str(x.message) for x in w)
    # sane threshold: no cap, no warning
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        keys2 = skew.head_keys(df, key="url", min_count=2)
    assert keys2 == []
    assert not any("head_keys" in str(x.message) for x in w2)


def test_hash_callable_masks_addresses_and_hashes_array_contents():
    """ADVICE r4 (medium): partials, bound methods, and custom reprs
    embed per-process memory addresses; large ndarrays repr-truncate.
    Neither may reach the callable hash."""
    import functools
    import re

    from ballet_spark.core import _callable_key, _hash_callable, _value_key

    addr = re.compile(r"0x[0-9a-fA-F]{4,}")

    def base(x, y):
        return x + y

    p1 = functools.partial(base, 2)
    p2 = functools.partial(base, 3)
    pk = functools.partial(base, y=2)
    # distinct bound args hash apart; positional vs keyword binding too
    assert _hash_callable(p1) != _hash_callable(p2)
    assert _hash_callable(p1) != _hash_callable(pk)
    # and no per-process address survives into the key
    assert not addr.search(_callable_key(p1))
    assert not addr.search(_value_key(p1))

    class Holder:
        def __init__(self, th):
            self.th = th

        def sel(self, df):
            return self.th

    a, b = Holder(1), Holder(2)
    assert _hash_callable(a.sel) != _hash_callable(b.sel)
    assert _hash_callable(a.sel) == _hash_callable(Holder(1).sel)
    assert not addr.search(_callable_key(a.sel))

    # ndarray: repr of large arrays truncates with '...' — contents
    # must be hashed, not the repr
    big1 = np.zeros(10_000)
    big2 = np.zeros(10_000)
    big2[7777] = 1.0  # invisible in the truncated repr
    assert _value_key(big1) != _value_key(big2)
    assert _value_key(big1) == _value_key(np.zeros(10_000))

    def mk(arr):
        def f(df):
            return arr

        return f

    assert _hash_callable(mk(big1)) != _hash_callable(mk(big2))

    # custom repr embedding id(self): masked, so equal-state objects
    # key identically across instances
    class Repry:
        __slots__ = ()

        def __repr__(self):
            return f"<Repry at {hex(id(self))}>"

    assert _value_key(Repry()) == _value_key(Repry())
    assert not addr.search(_value_key(Repry()))
    # literal hex strings are values, not addresses — never masked
    assert "0x1f" in _value_key("0x1f")


def test_object_dtype_ndarray_key_is_content_based():
    """Review r4: dtype=object tobytes() silently serializes PyObject
    POINTERS — the key must recurse contents instead."""
    from ballet_spark.core import _value_key

    a1 = np.array([{"a": 1}, [2, 3]], dtype=object)
    a2 = np.array([{"a": 1}, [2, 3]], dtype=object)
    a3 = np.array([{"a": 2}, [2, 3]], dtype=object)
    assert _value_key(a1) == _value_key(a2)  # same content, new objects
    assert _value_key(a1) != _value_key(a3)
    import re as _re

    assert not _re.search(r"0x[0-9a-fA-F]{6,}", _value_key(a1))


# ---- round-4 ADVICE regressions ----


def test_apply_mixing_rejects_reserved_columns(spark):
    from ballet_spark.operators.packing import apply_mixing, mixing_weights

    df = spark.createDataFrame(
        [(1, "en", "a b"), (2, "de", "c d")], "doc_id long, lang string, text string"
    )
    w = mixing_weights(df, {"en": 0.5, "de": 0.5}, by="lang")
    for bad in ("weight", "n_copies", "copy_id"):
        poisoned = df.withColumn(bad, F.lit(1))
        with pytest.raises(ValueError, match="reserves"):
            apply_mixing(poisoned, w, by="lang", key_col="doc_id")
    # custom copy_col collision too
    with pytest.raises(ValueError, match="reserves"):
        apply_mixing(df.withColumn("cp", F.lit(1)), w, by="lang",
                     key_col="doc_id", copy_col="cp")
    # clean input still works
    assert apply_mixing(df, w, by="lang", key_col="doc_id").count() >= 0


def test_dedup_lines_rejects_output_reserved_columns(spark):
    from ballet_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
    for bad in ("__cleaned", "__removed", "n_removed"):
        poisoned = df.withColumn(bad, F.lit(1))
        with pytest.raises(ValueError, match="reserves"):
            dedup_lines(poisoned)
    with pytest.raises(ValueError, match="n_removed"):
        dedup_lines(df, out_col="n_removed")
    out = dedup_lines(df)
    assert len(out.columns) == len(set(out.columns))  # no dup names


def test_semantic_dedup_zero_norm_embedding(spark):
    """A zero-norm embedding must score cosine 0.0 (never NaN) and the
    DuckDB oracle's CASE guard must agree row for row."""
    import duckdb

    from ballet_spark.operators.dedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),   # zero vector, same cluster as id 1
        (3, [1.0, 0.001]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = np.array([[1.0, 0.0]])  # single centroid: everyone together
    out = semantic_dedup(df, cents, threshold=0.9).toPandas()
    out = out.sort_values("id").reset_index(drop=True)
    z = out[out["id"] == 2].iloc[0]
    assert z["max_prev_cos"] == 0.0 and not z["is_dup"]
    assert not out["max_prev_cos"].iloc[1:].isna().any()
    con = duckdb.connect()
    oracle = con.execute(
        """
        WITH e AS (SELECT * FROM (VALUES
            (1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 0.001])
        ) t(id, v)),
        mx AS (
            SELECT b.id,
                   max(CASE WHEN list_dot_product(a.v, a.v) = 0
                              OR list_dot_product(b.v, b.v) = 0
                            THEN 0.0
                            ELSE list_cosine_similarity(a.v, b.v) END) AS m
            FROM e a JOIN e b ON a.id < b.id GROUP BY b.id)
        SELECT e.id,
               sign(mx.m) * floor(abs(mx.m) * 1000000 + 0.5) / 1000000 AS q
        FROM e LEFT JOIN mx ON mx.id = e.id ORDER BY e.id
        """
    ).fetchall()
    def grid(x):  # the shared 1e-6 sign/floor rounding
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    got = {int(r["id"]): r["max_prev_cos"] for _, r in out.iterrows()}
    for oid, oq in oracle:
        if oq is None:
            assert pd.isna(got[oid])
        else:
            assert grid(got[oid]) == pytest.approx(oq, abs=0)


def test_chunk_dedup_lockstep_with_newline_tokens(spark):
    """Round-5 review regression: curation_pipeline_v2's step-3 chunks
    are '\\n'-joined and dedup_lines re-splits on '\\n', so tokens must
    not be able to CONTAIN the separator or chunk atomicity diverges
    from the oracle's chunk-level row_number replay. The fix tokenizes
    on \\s+ (no token can contain any whitespace); this pins the
    lockstep on a corpus that actually has newlines inside
    space-delimited runs."""
    import duckdb

    from ballet_spark.operators.dedup import dedup_lines
    from __spark_entry__ import _SEG5_EXPR

    rows = [
        (1, "a\nb c d e f g h i j k"),     # '\n' inside a space-run
        (2, "a b\nc d e f g h i j k"),
        (3, "p q r s t u v w x y"),
        (4, "p q r s t u v w x y"),        # exact chunk dup of 3
        (5, "one two\nthree"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    seg = df.selectExpr(
        "doc_id",
        "filter(split(trim(text), '\\\\s+'), x -> x != '') AS __ftoks",
    ).selectExpr("doc_id", f"{_SEG5_EXPR} AS t2")
    got = (
        dedup_lines(seg, id_col="doc_id", text_col="t2", out_col="ct")
        .select("doc_id", "ct")
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("docs", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = con.execute(r"""
        WITH dw AS (SELECT doc_id,
                           list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x <> '') AS w
                    FROM docs),
        seg AS (SELECT doc_id, i,
                       array_to_string(w[i * 5 + 1 : i * 5 + 5], ' ') AS chunk
                FROM dw, unnest(generate_series(
                         0, cast(ceil(len(w) / 5.0) as int) - 1)) t(i)),
        r AS (SELECT doc_id, i, chunk,
                     row_number() OVER (PARTITION BY chunk
                                        ORDER BY doc_id, i) AS rn
              FROM seg)
        SELECT dw.doc_id,
               coalesce((SELECT string_agg(chunk, chr(10) ORDER BY i)
                         FROM r WHERE r.doc_id = dw.doc_id AND rn = 1),
                        '') AS ct
        FROM dw ORDER BY doc_id
    """).df()
    assert got["ct"].tolist() == want["ct"].tolist()
    # doc 4's chunks all dedup away; doc 1/2's newline tokens stay atomic
    assert got.loc[got["doc_id"] == 4, "ct"].iloc[0] == ""


def test_whitespace_only_docs_and_exact_simhash_band(spark):
    """Round-5 review: (a) tab/newline-only docs passed the trim guard
    (F.trim strips spaces only), simhashed to 0, and every pair came
    back as a hamming-0 dup; (b) max_hamming=0 made width=64 and
    F.lit((1<<64)-1) overflowed a Java long."""
    from ballet_spark.operators.dedup import simhash_dup_pairs

    df = spark.createDataFrame(
        [(1, "\n\t"), (2, "\n"), (3, "real text here"), (4, "real text here")],
        "doc_id long, text string",
    )
    for mh in (3, 0):
        pairs = simhash_dup_pairs(df, max_hamming=mh).collect()
        assert all({r["id_a"], r["id_b"]} == {3, 4} for r in pairs), (mh, pairs)
        assert len(pairs) == 1, (mh, pairs)


def test_zero_norm_vectors_are_not_neardups(spark):
    """Round-5 review: 0/0 cosine is NaN and Spark evaluates
    NaN >= threshold as TRUE, so two zero embeddings (which share
    every SRP bucket) were reported as near-duplicates. The engine
    convention is zero-norm => cosine 0.0 (as in semantic_dedup)."""
    from ballet_spark.operators.dedup import embedding_neardup_pairs

    vecs = spark.createDataFrame(
        [(1, [0.0] * 8), (2, [0.0] * 8), (3, [1.0] * 8), (4, [1.0] * 8)],
        "vec_id long, embedding array<double>",
    )
    for exact in (False, True):
        pairs = embedding_neardup_pairs(
            vecs, dim=8, threshold=0.95, exact=exact
        ).collect()
        assert all({r["id_a"], r["id_b"]} == {3, 4} for r in pairs), pairs


def test_incremental_exact_dedup_null_text_across_batches(spark):
    """Round-5 review: md5(NULL) is NULL and NULL keys never match the
    anti-join, so every batch re-admitted one NULL-text row forever —
    diverging from the one-shot path's NULL-as-one-group semantics."""
    from ballet_spark.operators.dedup import exact_dedup_incremental

    seen = spark.createDataFrame([], "content_md5 string")
    b1 = spark.createDataFrame([(1, None), (2, "x")], "doc_id long, text string")
    kept1, h1 = exact_dedup_incremental(b1, seen)
    assert kept1.count() == 2
    b2 = spark.createDataFrame([(3, None), (4, "x")], "doc_id long, text string")
    kept2, _ = exact_dedup_incremental(b2, seen.unionByName(h1))
    assert kept2.count() == 0


def test_decontaminate_reserved_names(spark):
    from ballet_spark.operators.dedup import decontaminate

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in ("n_contaminated_grams", "contaminated", "__toks"):
        with pytest.raises(ValueError, match="reserves"):
            decontaminate(df.withColumn(bad, F.lit(1)), df)


def test_similarity_null_and_zero_vectors(spark):
    """Round-5 review: NULL embeddings crashed every np.stack kernel
    (bucket/assign/partial-sums/cosine_topk) and zero-norm queries
    ranked NaN cosines FIRST under desc ordering."""
    import numpy as np

    from ballet_spark.operators.dedup import semantic_dedup
    from ballet_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        ivf_fit,
        lsh_bucket_tables,
    )

    vecs = spark.createDataFrame(
        [(1, [0.0] * 8), (2, None), (3, [1.0] * 8), (4, [0.9] * 8)],
        "vec_id long, embedding array<double>",
    )
    out = cosine_topk(vecs, vecs, k=2).collect()
    assert out and all(r["cosine"] == r["cosine"] for r in out)  # no NaN
    # empty / all-NULL queries yield an empty frame, not a ValueError
    assert cosine_topk(
        vecs, spark.createDataFrame([], "vec_id long, embedding array<double>"), k=2
    ).count() == 0
    cents = ivf_fit(vecs, n_centroids=2, n_iter=1)
    assert (
        ivf_assign(vecs, cents).where(F.col("vec_id") == 2).first()["centroid_id"]
        is None
    )
    assert lsh_bucket_tables(vecs, dim=8).where(F.col("vec_id") == 2).count() == 0
    assert semantic_dedup(vecs, np.stack([[1.0] * 8])).count() == 3


def test_salted_agg_reserved_names_and_topk_zero(spark, webtext_df):
    from ballet_spark.plans.skew import head_keys, salted_running_agg

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 1.0)], "url string, ts string, v double"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"), "v")
    for bad in ("__chunk", "__ghost", "run_sum"):
        with pytest.raises(ValueError, match="reserves"):
            salted_running_agg(
                df.withColumn(bad, F.lit(1)), "url", "ts", "v", head=["a"]
            )
    # top_k=0 disables the head split instead of silently becoming 100
    assert head_keys(df, key="url", top_k=0) == []


def test_packing_budget_and_null_token_groups(spark):
    from ballet_spark.operators.packing import mixing_weights, pack_sequences

    df = spark.createDataFrame(
        [(1, "a b"), (2, None)], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, budget=0)
    dfl = spark.createDataFrame(
        [(1, "en", "a b"), (2, "zz", None)], "doc_id long, lang string, text string"
    )
    w = {r["grp"]: r for r in mixing_weights(dfl, {"en": 0.5, "zz": 0.5}).collect()}
    assert w["zz"]["n_tokens"] == 0 and w["zz"]["weight"] is None
    assert w["en"]["weight"] is not None


def test_asof_null_right_ts_never_matches(spark):
    """Round-5 review: NULL-ts right rows sorted FIRST in the window
    path's union frame and last(ignorenulls) surfaced their values for
    probes with no true predecessor — data of unknown time (leakage),
    and a divergence from the broadcast path."""
    from ballet_spark.operators.asof import asof_join, asof_join_broadcast

    left = spark.createDataFrame(
        [("a", "2024-01-02 00:00:00")], "url string, ts string"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("a", None, 99.0)], "url string, warc_ts string, val double"
    ).select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "val")
    for fn in (asof_join, asof_join_broadcast):
        row = fn(left, right).first()
        assert row["val"] is None and row["__matched_ts"] is None, (fn, row)


def test_asof_same_typed_string_timestamps(spark):
    """Round-5 review: __mts was unconditionally cast('timestamp'),
    crashing under ANSI (silently NULLing in legacy mode) for
    same-typed non-ISO string timestamps — 14-digit WARC stamps are
    the module's own stated domain."""
    from ballet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", "20240102000000")], "url string, ts string"
    )
    right = spark.createDataFrame(
        [("a", "20240101000000", 7.0)], "url string, warc_ts string, val double"
    )
    row = asof_join(left, right).first()
    assert row["val"] == 7.0 and row["__matched_ts"] == "20240101000000"


def test_asof_chaining_reserved_guard(spark):
    from ballet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", "2024-01-02 00:00:00")], "url string, ts string"
    ).select("url", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [("a", "2024-01-01 00:00:00", 7.0)],
        "url string, warc_ts string, val double",
    ).select("url", F.col("warc_ts").cast("timestamp").alias("warc_ts"), "val")
    j1 = asof_join(left, right)
    right2 = right.select("url", "warc_ts", F.col("val").alias("val2"))
    with pytest.raises(ValueError, match="__matched_ts"):
        asof_join(j1, right2)
    # the documented recovery: drop the prior match stamp
    assert asof_join(j1.drop("__matched_ts"), right2).first()["val2"] == 7.0


def test_callable_hash_frozenset_stable():
    """Round-5 review: frozenset co_consts repr'd in hash order, so
    auto feature names differed across PYTHONHASHSEED processes —
    breaking materialize resume. Non-code consts now go through
    _value_key (sorted sets)."""
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from ballet_spark.core import _hash_callable\n"
        "fn = lambda x: x in {'alpha','beta','gamma','delta','epsilon'}\n"
        "print(_hash_callable(fn))\n"
    )
    outs = {
        subprocess.run(
            [sys.executable, "-c", code],
            env={"PYTHONHASHSEED": seed, "PATH": "/usr/bin:/bin"},
            capture_output=True, text=True,
        ).stdout.strip()
        for seed in ("1", "2", "3")
    }
    assert len(outs) == 1 and outs != {""}, outs


def test_rolling_window_validation():
    from ballet_spark.operators.window_ops import Rolling

    with pytest.raises(ValueError, match="window"):
        Rolling("sum", window=0)


def test_encoder_pipeline_unfitted_error(spark):
    from ballet_spark.core import EncoderPipeline
    from ballet_spark.operators.base import Identity

    df = spark.createDataFrame([(1.0,)], "y double")
    with pytest.raises(RuntimeError, match="before fit"):
        EncoderPipeline([Identity()]).transform(df)


# --------------------------------------------------------------------
# Round-5 ADVICE items (fixed in the r6 optimization round)
# --------------------------------------------------------------------


def test_asof_tolerance_non_castable_string_ts_raises_clearly(spark):
    """ADVICE r5: tolerance_s over same-typed non-ISO string stamps
    (14-digit WARC stamps) silently matched nothing in legacy mode and
    threw an opaque CAST_INVALID_INPUT under ANSI; it must now raise
    the operator's own clear error."""
    from ballet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", "20240102000000")], "url string, ts string"
    )
    right = spark.createDataFrame(
        [("a", "20240101000000", 7.0)], "url string, warc_ts string, val double"
    )
    out = asof_join(left, right, tolerance_s=3600)
    with pytest.raises(Exception, match="timestamp-castable"):
        out.collect()
    # ISO-format string stamps remain a working tolerance path
    left2 = spark.createDataFrame(
        [("a", "2024-01-02 00:00:00")], "url string, ts string"
    )
    right2 = spark.createDataFrame(
        [("a", "2024-01-01 23:30:00", 7.0), ("a", "2024-01-01 00:00:00", 5.0)],
        "url string, warc_ts string, val double",
    )
    rows = asof_join(left2, right2, tolerance_s=3600).collect()
    assert rows[0]["val"] == 7.0


def test_completed_units_missing_path_is_first_run(spark, tmp_path):
    """ADVICE r5: 'missing lineage table' must be detected by a
    FileSystem existence probe / errorClass, not by exception-message
    wording."""
    from ballet_spark.plans.materialize import completed_units

    assert completed_units(
        spark, str(tmp_path / "never_written"), "fs", "snap"
    ) == set()


def test_materialize_old_layout_out_path_raises_migration_error(
    spark, webtext_df, tmp_path
):
    """ADVICE r5: resuming the feature_set-led partition layout into an
    out_path written by the old (snapshot, unit) layout must fail with
    an explicit migration message, not Spark's 'conflicting directory
    structures'."""
    from ballet_spark.plans.materialize import materialize

    from ballet_spark.functions.text import char_count
    from ballet_spark.operators.base import SparkFunctionTransformer

    feats = [
        Feature(
            "text", SparkFunctionTransformer(char_count), output="n_chars"
        )
    ]
    out = tmp_path / "out"
    (out / "snapshot=snap1" / "unit=0").mkdir(parents=True)
    with pytest.raises(ValueError, match="pre-feature_set"):
        materialize(
            spark, webtext_df, feats,
            str(out), str(tmp_path / "lineage"), "snap1", n_units=2,
        )


def test_decode_jpeg_trailing_fill_bytes_value_error():
    """ADVICE r5: a stream ending in 0xFF fill bytes raised IndexError
    from the marker peek instead of the decoder's contractual
    ValueError."""
    from ballet_spark.functions.jpeg import decode_jpeg

    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg(b"\xff\xd8\xff\xff\xff")


def test_incremental_dedup_seeded_from_exact_dedup_null_text(spark):
    """ADVICE r5: exact_dedup's oracle-pinned output keys NULL text as
    content_md5 NULL while the incremental path keys it '' — seeding
    seen_hashes from exact_dedup output must NOT re-admit a NULL-text
    row."""
    from ballet_spark.operators.dedup import exact_dedup, exact_dedup_incremental

    s1 = spark.createDataFrame(
        [(1, "alpha"), (2, None), (3, "alpha")], "doc_id long, text string"
    )
    s2 = spark.createDataFrame(
        [(10, None), (11, "beta"), (12, "alpha")], "doc_id long, text string"
    )
    seed = exact_dedup(s1).select("content_md5")
    kept, new_hashes = exact_dedup_incremental(s2, seed)
    kept_ids = sorted(r["doc_id"] for r in kept.collect())
    # 10 (NULL text) and 12 ("alpha") were both seen in snapshot 1
    assert kept_ids == [11]
    assert new_hashes.count() == 1  # only beta's digest is new


# --------------------------------------------------------------------
# r6 review-batch hardenings (post-ADVICE code review of the round)
# --------------------------------------------------------------------


def test_lsh_index_band_hash_format_stamp(spark):
    """A persisted index carries the band-hash format stamp; loading
    one stamped under another recipe (or unstamped, i.e. pre-r6) must
    refuse instead of silently probing nothing."""
    from ballet_spark.operators.dedup import (
        minhash_lsh_index,
        load_lsh_index,
        save_lsh_index,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "seven eight nine ten")],
        "doc_id long, text string",
    )
    idx = minhash_lsh_index(docs, num_hashes=8, bands=4)
    save_lsh_index(idx, "fmt_stamp_test", n_buckets=4)
    assert load_lsh_index(spark, "fmt_stamp_test").buckets.count() >= 0
    spark.sql(
        "ALTER TABLE fmt_stamp_test_buckets SET TBLPROPERTIES "
        "('ballet_spark.band_hash' = 'legacy-concat-v1')"
    )
    with pytest.raises(ValueError, match="band-hash format"):
        load_lsh_index(spark, "fmt_stamp_test")
    for t in ("fmt_stamp_test_buckets", "fmt_stamp_test_grams"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_load_lsh_index_missing_table_names_the_index(spark):
    """A missing index raises a ValueError naming it, not Spark's raw
    TABLE_OR_VIEW_NOT_FOUND from SHOW TBLPROPERTIES."""
    from ballet_spark.operators.dedup import load_lsh_index

    with pytest.raises(ValueError, match="'no_such_lsh_index' not found"):
        load_lsh_index(spark, "no_such_lsh_index")


def test_load_lsh_index_unstamped_is_an_interrupted_save(spark):
    """An index without the format stamp (the save stopped before the
    stamp) gets its own message, not the different-recipe one."""
    from ballet_spark.operators.dedup import (
        load_lsh_index,
        minhash_lsh_index,
        save_lsh_index,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "seven eight nine ten")],
        "doc_id long, text string",
    )
    save_lsh_index(
        minhash_lsh_index(docs, num_hashes=8, bands=4), "unstamped_test",
        n_buckets=4,
    )
    spark.sql(
        "ALTER TABLE unstamped_test_buckets UNSET TBLPROPERTIES "
        "('ballet_spark.band_hash')"
    )
    try:
        with pytest.raises(ValueError, match="interrupted") as e:
            load_lsh_index(spark, "unstamped_test")
        assert "written under" not in str(e.value)
    finally:
        for t in ("unstamped_test_buckets", "unstamped_test_grams"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_decode_jpeg_truncated_segment_header_value_error():
    from ballet_spark.functions.jpeg import decode_jpeg

    # marker 0xDB then a 1-byte remainder: length header truncated
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg(b"\xff\xd8\xff\xdb\x00")
    # full header but body runs past EOF
    with pytest.raises(ValueError, match="truncated JPEG"):
        decode_jpeg(b"\xff\xd8\xff\xdb\x00\x43\x00")


def test_materialize_fully_done_old_layout_stays_noop(
    spark, webtext_df, tmp_path
):
    """The old-layout guard must not break the idempotent
    fully-materialized retry: if nothing would be written, a stray
    old-layout directory at the root is not an error."""
    from ballet_spark.core import Feature
    from ballet_spark.functions.text import char_count
    from ballet_spark.operators.base import SparkFunctionTransformer
    from ballet_spark.plans.materialize import materialize

    feats = [
        Feature("text", SparkFunctionTransformer(char_count), output="n_chars")
    ]
    out = tmp_path / "out"
    materialize(
        spark, webtext_df, feats,
        str(out), str(tmp_path / "lin"), "snap1", n_units=2,
    )
    # simulate a leftover pre-feature_set tree at the same root
    (out / "snapshot=legacy" / "unit=0").mkdir(parents=True)
    res = materialize(
        spark, webtext_df, feats,
        str(out), str(tmp_path / "lin"), "snap1", n_units=2,
    )
    assert res["units_computed"] == 0 and res["units_skipped"] == 2


def test_release_caches_rejects_non_string_scope(spark):
    from ballet_spark.cache import release_caches

    with pytest.raises(TypeError, match="scope string"):
        release_caches(spark)


def test_asof_mixed_type_non_castable_string_ts_raises_clearly(spark):
    """Cross-type ordering cast: a WARC-style stamp on one side of a
    mixed-type ts pair must raise the operator's clear error, not an
    opaque ANSI cast failure (or a silent no-match in legacy mode)."""
    from ballet_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [("a", "20240102000000")], "url string, ts string"
    )
    right = spark.createDataFrame(
        [("a", 1.0, 7.0)], "url string, sec double, val double"
    ).select("url", F.timestamp_seconds("sec").alias("warc_ts"), "val")
    with pytest.raises(Exception, match="timestamp-castable"):
        asof_join(left, right).collect()
