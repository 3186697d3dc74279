"""Connected components, URL kernels, hash splits, TF-IDF (round 2b)."""

import math

import pytest
from pyspark.sql import functions as F

from ballet_spark.functions.text import tf_idf_top_terms
from ballet_spark.functions.url import (
    is_https,
    path_depth,
    registrable_domain,
    url_host,
    url_path,
    url_protocol,
    url_query_param,
)
from ballet_spark.operators.components import canonical_docs, connected_components
from ballet_spark.plans.splits import hash_bucket, hash_split


# ---------------------------------------------------------------------------
# connected components
# ---------------------------------------------------------------------------


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_components_chain_collapses_to_min(spark):
    # 1-2, 2-3, 3-4 : one component rooted at 1, needs >1 propagation round
    comp = connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_components_two_clusters_and_orientation(spark):
    # second cluster given in descending orientation; min id still wins
    comp = connected_components(_pairs(spark, [(1, 2), (9, 7), (8, 7)]))
    got = {r["id"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 7: 7, 8: 7, 9: 7}


def test_components_long_path_converges(spark):
    # path graph 0-1-...-12: diameter 12, exercises the iteration loop
    edges = [(i, i + 1) for i in range(12)]
    comp = connected_components(_pairs(spark, edges))
    assert {r["component"] for r in comp.collect()} == {0}


def test_components_fast_path_matches_distributed_loop(spark):
    """r6: edge lists at or under small_graph_threshold take a bounded
    driver union-find; the result must equal the distributed min-label
    loop row for row (same min-reachable-id semantics)."""
    import random

    rnd = random.Random(7)
    edges = [
        (rnd.randrange(0, 120), rnd.randrange(0, 120)) for _ in range(200)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    fast = connected_components(_pairs(spark, edges))
    dist = connected_components(_pairs(spark, edges), small_graph_threshold=0)
    assert {(r["id"], r["component"]) for r in fast.collect()} == {
        (r["id"], r["component"]) for r in dist.collect()
    }


def test_components_fast_path_cap_boundary_and_empty_graph(spark):
    """The fast path is decided by one collect capped at
    small_graph_threshold + 1 edges: exactly `threshold` edges stay on
    the driver, one more takes the distributed loop, with the same
    result. The driver result is a LocalRelation (no RDD of pickled
    rows for a later join to scan through a Python worker), and an
    empty edge set still yields a typed (id, component) frame."""
    edges = [(1, 2), (2, 3), (9, 7), (8, 7)]
    at_cap = connected_components(_pairs(spark, edges), small_graph_threshold=4)
    over = connected_components(_pairs(spark, edges), small_graph_threshold=3)
    assert sorted(map(tuple, at_cap.collect())) == sorted(map(tuple, over.collect()))
    plan = at_cap._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan

    empty = connected_components(
        spark.createDataFrame([], "id_a string, id_b string")
    )
    assert empty.collect() == []
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema] == [
        ("id", "string"),
        ("component", "string"),
    ]


def test_canonical_docs_keeps_min_and_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    kept = canonical_docs(docs, _pairs(spark, [(1, 3), (3, 5)]))
    assert sorted(r["doc_id"] for r in kept.collect()) == [0, 1, 2, 4]


# ---------------------------------------------------------------------------
# url kernels
# ---------------------------------------------------------------------------


def test_url_kernels(spark):
    df = spark.createDataFrame(
        [
            ("https://www.example.org/a/b/c?q=1&x=2",),
            ("http://sub.example.org/",),
            ("https://example.org",),
        ],
        "url string",
    )
    out = df.select(
        url_protocol(F.col("url")).alias("proto"),
        url_host(F.col("url")).alias("host"),
        registrable_domain(F.col("url")).alias("dom"),
        url_path(F.col("url")).alias("path"),
        path_depth(F.col("url")).alias("depth"),
        url_query_param(F.col("url"), "q").alias("q"),
        is_https(F.col("url")).alias("https"),
    ).collect()
    r0, r1, r2 = out
    assert (r0["proto"], r0["host"], r0["dom"]) == ("https", "www.example.org", "example.org")
    assert (r0["path"], r0["depth"], r0["q"], r0["https"]) == ("/a/b/c", 3, "1", 1)
    assert (r1["dom"], r1["depth"], r1["q"], r1["https"]) == ("sub.example.org", 0, None, 0)
    assert (r2["path"], r2["depth"]) == ("", 0)


# ---------------------------------------------------------------------------
# hash split
# ---------------------------------------------------------------------------


def test_hash_split_deterministic_and_complete(spark):
    docs = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7), "doc_id").collect()
    }
    assert a == b  # stable under repartitioning
    frac_train = sum(v == "train" for v in a.values()) / len(a)
    assert 0.75 < frac_train < 0.85  # ~80% within md5-uniformity noise
    assert set(a.values()) == {"train", "val", "test"}


def test_hash_split_salt_changes_assignment(spark):
    docs = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
    a = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    c = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs, "doc_id", salt="v2").collect()
    }
    assert a != c


def test_hash_bucket_matches_manual_md5(spark):
    import hashlib

    df = spark.createDataFrame([(123,)], "doc_id long")
    got = df.select(hash_bucket("doc_id").alias("b")).collect()[0]["b"]
    exp = int(hashlib.md5(b"123").hexdigest()[:8], 16) % 100
    assert got == exp


def test_hash_split_weights_validated(spark):
    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", weights={"train": 50, "test": 40})


# ---------------------------------------------------------------------------
# tf-idf
# ---------------------------------------------------------------------------


def test_tfidf_hand_case(spark):
    # 3 docs; "rare" appears only in doc 0 and twice there
    docs = spark.createDataFrame(
        [
            (0, "rare rare common"),
            (1, "common other"),
            (2, "common other other"),
        ],
        "doc_id long, text string",
    )
    out = tf_idf_top_terms(docs, k=1).collect()
    top = {r["id"]: (r["term"], r["tf_idf"]) for r in out}
    # doc 0: tf(rare)=2/3, idf=ln(4/2)
    assert top[0][0] == "rare"
    assert top[0][1] == pytest.approx((2 / 3) * math.log(4 / 2))
    # doc 2: "other" (tf 2/3) beats "common" (tf 1/3, df 3)
    assert top[2][0] == "other"
    assert top[2][1] == pytest.approx((2 / 3) * math.log(4 / 3))


def test_tfidf_tie_broken_by_term_asc(spark):
    docs = spark.createDataFrame(
        [(0, "b a"), (1, "x y")], "doc_id long, text string"
    )
    out = tf_idf_top_terms(docs, k=2).filter(F.col("id") == 0).collect()
    assert [r["term"] for r in sorted(out, key=lambda r: r["rank"])] == ["a", "b"]


def test_components_random_graphs_match_union_find(spark):
    """Randomized (seeded) graphs vs a pure-Python union-find oracle."""
    import random

    def union_find_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        edges = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(25)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        nodes = sorted({x for e in edges for x in e})
        exp = union_find_components(edges, nodes)
        got = {
            r["id"]: r["component"]
            for r in connected_components(_pairs(spark, edges)).collect()
        }
        assert got == exp, f"seed {seed}"


def test_hash_split_null_keys_get_a_split(spark):
    docs = spark.createDataFrame([(1,), (None,)], "doc_id long")
    rows = {r["doc_id"]: r["split"] for r in hash_split(docs, "doc_id").collect()}
    assert rows[None] in {"train", "val", "test"}  # never NULL


def test_url_query_param_escapes_regex_keys(spark):
    from ballet_spark.functions.url import url_query_param

    df = spark.createDataFrame(
        [("http://x.com/p?abc=2&a.c=1&id%5B%5D=3",)], "u string"
    )
    got = df.select(
        url_query_param(F.col("u"), "a.c").alias("dotted"),
        url_query_param(F.col("u"), "id[]").alias("arr"),  # must not throw
    ).first()
    assert got["dotted"] == "1"  # '.' must not match 'b' in abc


def test_train_val_split_covers_null_ts(spark):
    from ballet_spark.plans.splits import train_val_split

    df = spark.createDataFrame(
        [(1, 1.0), (2, 5.0), (3, None)], "id long, ts double"
    )
    tr, va = train_val_split(df, 2.0, time_col="ts")
    assert tr.count() + va.count() == 3  # nothing vanishes
    assert va.filter("id = 3").count() == 1  # default: undated -> val
    tr2, va2 = train_val_split(df, 2.0, time_col="ts", on_null="drop")
    assert tr2.count() + va2.count() == 2
