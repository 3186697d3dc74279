"""Hashed-token Naive-Bayes document classifier — the fasttext-style
learned quality/domain gate (DCLM, CCNet, LLaMA data pipelines score
documents with a linear bag-of-ngrams classifier; multinomial NB over
hashed unigrams is the closed-form member of that family, fittable in
one distributed counting pass with no gradient loop).

Semantics chosen to be exactly SQL-replayable, mirroring the
char-bigram LM (functions/lm.py):

- **tokens** are ``trim(text)`` split on single spaces (both engines
  keep empty tokens — identical to ``string_split(trim(text), ' ')``).
- **feature hashing**: bucket = first 8 hex digits of md5(token) mod
  ``n_buckets`` — the same engine-portable formula as
  plans/splits.py::hash_bucket.
- **fit** (:func:`fit_nb_tokens`): one ``mapInArrow`` pass emits
  bounded per-batch partial (class, bucket) count matrices, one tiny
  ``groupBy`` merges them — a single small shuffle regardless of
  corpus size. Add-k-smoothed log-probs are quantized ONCE PER TABLE
  ENTRY to the 1e-6 microunit grid (shared floor(x·10^6+0.5) formula);
  class priors ride along at bucket = -1.
- **score** (:func:`score_nb_tokens`): the bounded table ships inside
  an ``arrow_udf`` over the text column; each doc scores with an exact
  int64 microunit sum — identical under any partitioning, equal to the
  SQL oracle's per-token sum, and the predicted class falls out of an
  INTEGER comparison (no float boundary can flip it). Map-only: the
  corpus is never shuffled to be scored.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q = 1_000_000  # microunit grid for log-probs (shared with functions/lm.py)


def _bucket(token: str, n_buckets: int) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


# md5 is the exact-oracle contract (SQL md5(token)) so it cannot be
# replaced by a numpy hash — but natural text is Zipfian, so a
# distinct-token memo turns the per-token md5 into a dict hit for all
# but the first occurrence. Worker-lifetime cache, hard-capped.
_BUCKET_CACHE: dict = {}
_BUCKET_CACHE_MAX = 2_000_000


def _bucket_array(tokens: "np.ndarray", n_buckets: int) -> "np.ndarray":
    """Vectorized bucket lookup for a batch: md5 once per DISTINCT
    token (memoized across batches in the long-lived Python worker),
    then a numpy gather back to token positions."""
    uniq, inv = np.unique(tokens, return_inverse=True)
    ub = np.empty(len(uniq), dtype=np.int64)
    for i, tok in enumerate(uniq):
        key = (n_buckets, tok)
        b = _BUCKET_CACHE.get(key)
        if b is None:
            b = _bucket(tok, n_buckets)
            if len(_BUCKET_CACHE) < _BUCKET_CACHE_MAX:
                _BUCKET_CACHE[key] = b
        ub[i] = b
    return ub[inv]


def _tokens(text: str) -> list[str]:
    # identical to string_split(trim(text), ' '): trim spaces only,
    # split on single spaces, KEEP empty tokens from runs of spaces
    return text.strip(" ").split(" ")


def fit_nb_tokens(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 1024,
    add_k: float = 1.0,
) -> DataFrame:
    """Fit a binary multinomial NB over hashed word unigrams. The label
    column must be 0/1 (cast from boolean upstream). Returns the model
    as a DataFrame ``(cls int, bucket int, n long, logp_q long)`` with
    one row per (class, bucket) — EVERY bucket present (smoothing gives
    unseen buckets mass) — plus, at ``bucket = -1``, the class prior
    ``ln(docs_cls / docs_total)`` in microunits. NULL-text rows are
    excluded from the fit entirely (they score NULL downstream)."""

    def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            m = np.zeros((2, n_buckets), dtype=np.int64)
            docs = np.zeros(2, dtype=np.int64)
            cls_parts, tok_parts = [], []
            texts, labels = (c.to_pylist() for c in batch.columns)
            for t, y in zip(texts, labels):
                if t is None or y is None:
                    continue
                docs[y] += 1
                toks = _tokens(t)
                cls_parts.append(np.full(len(toks), y, dtype=np.int64))
                tok_parts.append(np.array(toks, dtype=object))
            if tok_parts:
                cls_arr = np.concatenate(cls_parts)
                buckets = _bucket_array(np.concatenate(tok_parts), n_buckets)
                np.add.at(m, (cls_arr, buckets), 1)
            nz = np.nonzero(m.ravel())[0]
            # doc counts ride along at idx = 2*n_buckets + cls
            dz = np.nonzero(docs)[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate([nz, 2 * n_buckets + dz]), type=pa.int64()),
                    pa.array(np.concatenate([m.ravel()[nz], docs[dz]])),
                ],
                ["idx", "n"],
            )

    # guide §2/§4: spread a single-small-file corpus before the Arrow
    # count pass (no-op on real multi-split tables)
    from ballet_spark.cache import spread_small_input

    counts = (
        spread_small_input(
            df.select(
                F.col(text_col).alias(text_col),
                F.col(label_col).cast("int").alias(label_col),
            )
        )
        .mapInArrow(partials, "idx long, n long")
        .groupBy("idx")
        .agg(F.sum("n").alias("n"))
        .toArrow()  # ≤ 2·n_buckets + 2 rows by construction
    )
    m = np.zeros(2 * n_buckets + 2, dtype=np.int64)
    m[counts["idx"].to_numpy()] = counts["n"].to_numpy()
    tok = m[: 2 * n_buckets].reshape(2, n_buckets)
    docs = m[2 * n_buckets :]
    row_n = tok.sum(axis=1, keepdims=True)
    p = (tok + add_k) / (row_n + add_k * n_buckets)
    logp_q = np.floor(np.log(p) * Q + 0.5).astype(np.int64)
    if docs.min() == 0:
        raise ValueError(
            "fit_nb_tokens needs at least one document of each class; "
            f"got per-class doc counts {docs.tolist()}"
        )
    n_total = int(docs.sum())
    prior_q = np.floor(np.log(docs / n_total) * Q + 0.5).astype(np.int64)

    cls_idx, b_idx = np.meshgrid(np.arange(2), np.arange(n_buckets), indexing="ij")
    table = pa.table(
        {
            "cls": np.concatenate([cls_idx.ravel(), [0, 1]]).astype(np.int32),
            "bucket": np.concatenate([b_idx.ravel(), [-1, -1]]).astype(np.int32),
            "n": np.concatenate([tok.ravel(), docs]),
            "logp_q": np.concatenate([logp_q.ravel(), prior_q]),
        }
    )
    return df.sparkSession.createDataFrame(
        table, "cls int, bucket int, n long, logp_q long"
    )


def score_nb_tokens(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    out_col: str = "nb",
) -> DataFrame:
    """Score every document under a fitted NB table. Adds
    ``{out_col}_logodds_q`` (int64 microunits: class-1 joint log-prob
    minus class-0, priors included — exact, partitioning-invariant),
    ``{out_col}_logodds`` (the same as a double: one IEEE division by
    10^6) and ``{out_col}_pred`` (integer sign test). NULL text scores
    NULL/NULL/NULL."""
    table = model.select("cls", "bucket", "logp_q").toArrow()
    cls, bucket, logp_q = (table[c].to_numpy() for c in table.column_names)
    n_buckets = int(bucket.max()) + 1
    lp = np.zeros((2, n_buckets), dtype=np.int64)
    prior = np.zeros(2, dtype=np.int64)
    tok = bucket >= 0
    lp[cls[tok], bucket[tok]] = logp_q[tok]
    prior[cls[~tok]] = logp_q[~tok]
    diff = lp[1] - lp[0]
    pdiff = int(prior[1] - prior[0])

    @F.arrow_udf("long")
    def kernel(text: pa.Array) -> pa.Array:
        col = text.to_pylist()
        lq: list = [None] * len(col)
        pos, tok_parts, n_toks = [], [], []
        for i, t in enumerate(col):
            if t is None:
                continue
            toks = _tokens(t)
            pos.append(i)
            tok_parts.append(np.array(toks, dtype=object))
            n_toks.append(len(toks))
        if pos:
            # one md5-memoized bucket gather for the whole batch,
            # per-doc exact int64 sums via add.reduceat — the
            # same whole-batch shape as the LM scorer
            buckets = _bucket_array(np.concatenate(tok_parts), n_buckets)
            lens = np.asarray(n_toks, dtype=np.int64)
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            sums = pdiff + np.add.reduceat(diff[buckets], starts)
            for i, s in zip(pos, sums):
                lq[i] = int(s)
        return pa.array(lq, type=pa.int64())

    from ballet_spark.cache import spread_small_input

    scored = spread_small_input(df).withColumn(
        f"{out_col}_logodds_q", kernel(F.col(text_col))
    )
    return scored.withColumn(
        f"{out_col}_logodds", F.col(f"{out_col}_logodds_q") / F.lit(float(Q))
    ).withColumn(f"{out_col}_pred", F.col(f"{out_col}_logodds_q") > 0)


def nb_quality_filter(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    min_logodds: float = 0.0,
) -> DataFrame:
    """Gate documents by classifier log-odds — the learned quality
    filter: keep docs the model scores above ``min_logodds`` toward
    class 1. NULL-text rows score NULL and PASS THROUGH (emptiness is
    a different defect with its own gate)."""
    scored = score_nb_tokens(df, model, text_col)
    return scored.filter(
        (F.col("nb_logodds") >= min_logodds) | F.col("nb_logodds").isNull()
    )
