"""Recall guarantees for the approximate (LSH) similarity paths — the
100 TB defaults must not silently lose near-duplicates or neighbors.

- band-OR SRP near-dup dedup: ≥0.95 recall on PLANTED near-duplicates
  (cosine ≈ 0.99) with the default b=8, L=16 (analytic miss ≈ 8e-5);
- multi-probe cosine_topk_lsh: recall@5 ≥ 0.95 vs the exact
  cosine_topk at the entry query's b=3, L=20 parameters.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from ballet_spark.operators.dedup import embedding_neardup_pairs
from ballet_spark.operators.similarity import cosine_topk, cosine_topk_lsh

SF_DIR = "/root/testdata/sf0.001"


def test_planted_neardup_recall_lsh_default(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    pdf = emb.toPandas()
    rng = np.random.default_rng(0)
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    noisy = mat[:50] + rng.standard_normal((50, 64)) * 0.02 * np.abs(mat[:50]).mean()
    base = pd.DataFrame(
        {
            "vec_id": pdf["vec_id"].astype("int64"),
            "embedding": pdf["embedding"].map(lambda a: [float(x) for x in a]),
        }
    )
    planted = pd.DataFrame(
        {
            "vec_id": (pdf["vec_id"][:50] + 100000).astype("int64"),
            "embedding": [[float(x) for x in r] for r in noisy],
        }
    )
    both = spark.createDataFrame(
        pd.concat([base, planted], ignore_index=True),
        "vec_id long, embedding array<double>",
    )
    found = embedding_neardup_pairs(both, threshold=0.9).toPandas()
    hits = set(zip(found["id_a"], found["id_b"]))
    want = {(int(i), int(i) + 100000) for i in pdf["vec_id"][:50]}
    recall = len(hits & want) / len(want)
    assert recall >= 0.95
    # every reported pair must genuinely clear the cosine threshold
    # (LSH only prunes candidates; the filter is exact)
    assert (found["cosine"] >= 0.9).all()


def _planted_vectors(spark, vec_type):
    """40 random 16-d vectors, 20 near-copies (cosine ≈ 0.999) and one
    NULL vector, as (vec_id long, embedding <vec_type>)."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((40, 16))
    near = base[:20] + rng.standard_normal((20, 16)) * 0.02
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    rows += [(100 + i, [float(x) for x in v]) for i, v in enumerate(near)]
    rows.append((999, None))
    return spark.createDataFrame(rows, f"vec_id long, embedding {vec_type}")


def _pair_bits(df):
    return sorted(
        (r["id_a"], r["id_b"], float(r["cosine"]).hex()) for r in df.collect()
    )


def test_verify_kernel_groups_spanning_arrow_batches(spark):
    """The mapInArrow verify sees each partition sorted by (tbl,
    bucket, id) and carries a batch's trailing group into the next
    batch. With 3-row Arrow batches nearly every group spans batches;
    rows and cosine bits must equal the default batch size's, and the
    pair set must equal the all-pairs exact=True set (planted copies
    sit far above the threshold, so LSH misses none). A NULL vector
    yields no pair and no failure; shuffle settings that leave most
    partitions empty change nothing."""
    kw = dict(threshold=0.9, dim=16, n_planes=3, n_tables=8)
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    conf = {
        k: spark.conf.get(k)
        for k in (batch_key, "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    }
    try:
        for vec_type in ("array<float>", "array<double>"):
            vecs = _planted_vectors(spark, vec_type)
            default = _pair_bits(embedding_neardup_pairs(vecs, **kw))
            spark.conf.set(batch_key, "3")
            small = _pair_bits(embedding_neardup_pairs(vecs, **kw))
            spark.conf.set(batch_key, conf[batch_key])
            assert small == default
            exact = embedding_neardup_pairs(vecs, exact=True, threshold=0.9)
            assert {(a, b) for a, b, _ in default} == {
                (r["id_a"], r["id_b"]) for r in exact.collect()
            }
            assert {(i, 100 + i) for i in range(20)} <= {(a, b) for a, b, _ in default}
            assert all(999 not in (a, b) for a, b, _ in default)
        # at most two (tbl, bucket) groups: two or more of the four
        # verify partitions and most of the 64 aggregate partitions
        # are empty
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        tiny = spark.createDataFrame(
            [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, None), (4, [-1.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        out = embedding_neardup_pairs(tiny, threshold=0.9, dim=2, n_planes=1, n_tables=1)
        assert [(r["id_a"], r["id_b"]) for r in out.collect()] == [(1, 2)]
    finally:
        for k, v in conf.items():
            spark.conf.set(k, v)


def test_lsh_topk_recall_vs_exact(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id").toPandas()
    approx = (
        cosine_topk_lsh(emb, q, k=5, dim=64, n_planes=3, n_tables=20, seed=42)
        .select("query_id", "neighbor_id")
        .toPandas()
    )
    ex = set(map(tuple, exact.to_numpy()))
    ap = set(map(tuple, approx.to_numpy()))
    assert len(ex) == 100
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.95


def test_no_allpairs_default_plan(spark):
    """The default near-dup plan must join on the LSH (tbl, bucket)
    equi-key — a cartesian/broadcast-nested-loop all-pairs join may
    only appear under exact=True."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = embedding_neardup_pairs(emb, threshold=0.9)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_topk_recall_and_determinism(spark):
    """IVF on the fixture: deterministic fit, recall@5 ≥ 0.7 at
    n_probe=8/16 (the fixture's clusters are loose, so half the lists
    must be probed — the documented IVF recall knob)."""
    from ballet_spark.operators.similarity import ivf_fit, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    cents = ivf_fit(emb, n_centroids=16, n_iter=3)
    cents2 = ivf_fit(emb.repartition(13), n_centroids=16, n_iter=3)
    assert np.allclose(cents, cents2)  # md5-seeded fit, partition-stable

    exact = cosine_topk(emb, q, k=5).toPandas()
    approx = ivf_topk(emb, q, cents, k=5, n_probe=8).toPandas()
    es = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    got = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    assert len(es & got) / len(es) >= 0.7
    # reported cosines are exact (re-rank is exact; IVF only prunes)
    merged = approx.merge(exact, on=["query_id", "neighbor_id"], suffixes=("_a", "_e"))
    assert np.allclose(merged["cosine_a"], merged["cosine_e"])


def test_ivf_topk_tight_clusters_high_recall(spark):
    """Planted tight clusters (IVF's design regime): 10 centers, small
    noise → recall@5 ≈ 1 with 2 probes of 10 lists."""
    from ballet_spark.operators.similarity import ivf_fit, ivf_topk

    rng = np.random.default_rng(7)
    centers = rng.standard_normal((10, 64)) * 5.0
    rows = []
    for i in range(500):
        c = i % 10
        v = centers[c] + rng.standard_normal(64) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") < 15)
    cents = ivf_fit(df, n_centroids=10, n_iter=4)
    exact = cosine_topk(df, q, k=5).toPandas()
    approx = ivf_topk(df, q, cents, k=5, n_probe=2).toPandas()
    es = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
    got = set(map(tuple, approx[["query_id", "neighbor_id"]].values))
    assert len(es & got) / len(es) >= 0.95


def test_similarity_accepts_string_ids(spark):
    """url-keyed vectors (the repo's primary entity key) must work in
    every ANN path — the output id columns keep the input dtype."""
    import numpy as np

    from ballet_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_lsh,
        ivf_fit,
        ivf_topk,
    )

    rng = np.random.default_rng(7)
    rows = [(f"https://d{i:03d}.org", rng.standard_normal(8).tolist())
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    queries = df.limit(3)
    exact = cosine_topk(df, queries, k=3)
    assert exact.schema["query_id"].dataType.simpleString() == "string"
    assert exact.count() == 9
    lsh = cosine_topk_lsh(df, queries, k=3, dim=8, n_planes=4, n_tables=4)
    assert lsh.schema["neighbor_id"].dataType.simpleString() == "string"
    assert lsh.count() > 0
    cents = ivf_fit(df, n_centroids=4, n_iter=1, vec_col="embedding")
    ivf = ivf_topk(df, queries, cents, k=3, n_probe=4)
    assert ivf.schema["query_id"].dataType.simpleString() == "string"
    assert ivf.count() == 9


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


def test_ragged_vectors_are_rejected(spark):
    """A vector whose length is not the operator's dim fails with the
    column, the dim and the length seen: reshaping the flat value
    buffer would silently splice a 3-vector and a 5-vector into two
    4-vectors and score them."""
    from ballet_spark.operators.similarity import lsh_bucket_tables

    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    msg = r"embedding: expected vectors of dim 4, got a vector of length [35]"
    with pytest.raises(PythonException, match=msg):
        embedding_neardup_pairs(
            df, dim=4, threshold=-1.0, n_planes=1, n_tables=1
        ).collect()
    with pytest.raises(PythonException, match=msg):
        lsh_bucket_tables(df, dim=4, n_planes=1, n_tables=1).collect()


def test_ivf_fit_releases_its_sample_on_error(spark):
    """The persisted fit sample is released when the fit fails, not
    only when it succeeds."""
    from ballet_spark.operators.similarity import ivf_fit

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    df = spark.createDataFrame(
        [(1, None), (2, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="no non-NULL embeddings"):
        ivf_fit(df, n_centroids=2)
    assert jsc.getPersistentRDDs().size() == before


def test_cosine_float_recipe_is_exact_across_split_batches(spark):
    """Every reported cosine is the float64 dot of the two vectors
    divided ONCE by the product of their norms, a zero norm counting
    as 1, bit for bit, while 7-row Arrow batches split every kernel's
    input. Small-integer components keep each dot exact whatever the
    summation order, so any other recipe (float32 math, normalising
    each vector first, another zero guard) changes a bit."""
    from ballet_spark.operators.dedup import semantic_dedup
    from ballet_spark.operators.similarity import ivf_topk

    rng = np.random.default_rng(11)
    V = rng.integers(-3, 4, size=(40, 8)).astype(np.float32).astype(np.float64)
    V[5] = 0.0  # zero vector; vec_id 9 is NULL
    rows = [(i, None if i == 9 else V[i].tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 12)
    nrm = np.linalg.norm(V, axis=1)
    nrm[nrm == 0.0] = 1.0

    def ref(i, j):
        return float((V[i] @ V[j]) / (nrm[i] * nrm[j]))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for name, out in {
            "cosine_topk": cosine_topk(df, q, k=5),
            "cosine_topk_lsh": cosine_topk_lsh(
                df, q, k=5, dim=8, n_planes=2, n_tables=4
            ),
            "ivf_topk": ivf_topk(df, q, V[[0, 1, 2]], k=5, n_probe=2),
        }.items():
            got = out.collect()
            assert got, name
            for r in got:
                assert r["cosine"] == ref(r["query_id"], r["neighbor_id"]), (name, r)
        sd = semantic_dedup(df, V[[0, 1]], threshold=0.5).collect()
        assert len(sd) == 39
        members = {}
        for r in sd:
            members.setdefault(r["centroid_id"], []).append(r["id"])
        for r in sd:
            prev = [j for j in members[r["centroid_id"]] if j < r["id"]]
            want = max(ref(r["id"], j) for j in prev) if prev else None
            assert r["max_prev_cos"] == want, r
    finally:
        spark.conf.set(key, old)
