"""Driver-contract harness: every queries() entry vs its oracle_sql()
DuckDB result — row count, column set, and order-insensitive values.
Mirrors the driver's CORRECTNESS gate so mismatches surface in pytest
first."""

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def _compare(got: pd.DataFrame, exp: pd.DataFrame, name: str):
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
            ok = np.allclose(
                gv.astype(float).to_numpy(),
                ev.astype(float).to_numpy(),
                equal_nan=True,
                atol=1e-6,
            )
        else:
            ok = (gv.fillna("∅").to_numpy() == ev.fillna("∅").to_numpy()).all()
        assert ok, f"{name}.{c}: value mismatch\n{g.head()}\n{e.head()}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_vs_oracle(spark, ddb, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only check, like the driver's weak path
        assert got is not None
        return
    exp = ddb.sql(ORACLES[name]).df()
    _compare(got, exp, name)


def test_minhash_recall_against_exact(spark):
    """minhash_lsh_dups (no SQL oracle) must reproduce the exact
    ngram-jaccard pair set at its threshold (recall ≈ 1 by band math)."""
    from ballet_spark.operators.dedup import ngram_jaccard_pairs

    got = (
        QUERIES["minhash_lsh_dups"](spark, SF_DIR)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = (
        ngram_jaccard_pairs(docs, threshold=0.8, n=3)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exact)
    assert (got["id_a"].to_numpy() == exact["id_a"].to_numpy()).all()
    assert (got["id_b"].to_numpy() == exact["id_b"].to_numpy()).all()


def test_minhash_finds_planted_neardups(spark):
    """Plant mutated copies of real documents; MinHash+LSH must find
    exactly the exact-Jaccard pair set ≥ 0.8 — a non-vacuous recall
    check (the driver corpus has no natural near-dups)."""
    from pyspark.sql import functions as F

    from ballet_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    pdf = docs.select("doc_id", "text").toPandas()
    planted = pdf.copy()
    planted["doc_id"] = planted["doc_id"] + 100000
    # mutate lightly: drop the last two words (high Jaccard survives)
    planted["text"] = planted["text"].map(lambda t: " ".join(t.split()[:-2]))
    both = spark.createDataFrame(pd.concat([pdf, planted], ignore_index=True))

    got = (
        minhash_lsh_pairs(both, num_hashes=64, bands=16, threshold=0.8, shingle_n=3)
        .select("id_a", "id_b")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    exact = (
        ngram_jaccard_pairs(both, threshold=0.8, n=3)
        .select("id_a", "id_b")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(exact) >= 30  # the plant worked
    pd.testing.assert_frame_equal(got, exact)


def test_embedding_neardups_oracle_on_planted_copies(spark, tmp_path):
    """The sf0.001 embeddings hold no pair at cosine >= 0.5, so the
    plain oracle run compares empty results. Plant perturbed copies
    with graded noise: 32 sit far above the threshold (LSH recall ~1 at
    8 planes x 16 tables) and 8 sit below it, so the exact verify is
    checked on both sides against the all-pairs DuckDB oracle."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    vecs = np.asarray(base.column("embedding").to_pylist(), dtype=np.float64)
    rng = np.random.default_rng(7)
    src = rng.choice(len(vecs), size=40, replace=False)
    # target cosines: noise scale s gives cos ~ 1/sqrt(1 + s^2)
    cos_target = np.array([0.99, 0.98, 0.97, 0.95] * 8 + [0.45, 0.4, 0.3, 0.2] * 2)
    scale = np.sqrt(1.0 / cos_target**2 - 1.0)
    v = vecs[src]
    noise = rng.standard_normal(v.shape)
    noise *= (np.linalg.norm(v, axis=1) / np.sqrt(v.shape[1]) * scale)[:, None]
    copies = pa.table(
        {
            "vec_id": pa.array(100_000 + np.arange(40), pa.int64()),
            "embedding": pa.array(
                list((v + noise).astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(base.column("label").to_numpy()[src], pa.int32()),
        }
    )
    pq.write_table(
        pa.concat_tables([base.select(copies.column_names).cast(copies.schema), copies]),
        tmp_path / "embeddings.parquet",
    )

    got = QUERIES["embedding_neardups"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path / 'embeddings.parquet'}')"
    )
    exp = con.sql(ORACLES["embedding_neardups"]).df()
    _compare(got, exp, "embedding_neardups")
    assert len(got) >= 30


def test_hand_written_and_generated_oracles_are_disjoint(monkeypatch):
    """oracle_sql() overlays the generated texts on the hand-written
    ones; a key in both would leave a hand-written text that never
    takes effect."""
    generated = entrymod._generated_oracles()
    monkeypatch.setattr(entrymod, "_generated_oracles", lambda: {})
    hand_written = entrymod.oracle_sql()
    assert not set(hand_written) & set(generated)


def test_curation_pipeline_v2_persists_are_released(spark):
    """Every persist the query makes is registered, so
    release_caches(None) frees it once the result is consumed."""
    from ballet_spark.cache import release_caches

    live = spark.sparkContext._jsc.getPersistentRDDs
    before = live().size()
    QUERIES["curation_pipeline_v2"](spark, SF_DIR).collect()
    release_caches(None)
    assert live().size() <= before
