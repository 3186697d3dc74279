"""Character-bigram language-model perplexity scoring — the canonical
LLM-training-data quality gate (perplexity filtering à la CCNet/Gopher)
re-expressed Spark-first, with semantics chosen to be exactly
SQL-replayable.

Model: symbols are Unicode CODEPOINTS capped to an ASCII+OOV alphabet
(cp < 128 → cp, else the single OOV symbol 128; 129 symbols), plus a
BOS symbol 129 so the first character is conditioned too. Probabilities
are add-k smoothed bigram MLEs. Scale shape:

- **fit** (:func:`fit_char_bigram_lm`): one ``mapInArrow`` pass emits
  per-batch partial 130×129 count matrices as (idx, n) rows (bounded:
  ≤16,770 rows per batch regardless of batch size), one tiny
  ``groupBy(idx)`` merges them — a single small shuffle over the whole
  corpus, no explode of character rows.
- **score** (:func:`score_char_bigram_lm`): the fitted log-prob table
  (≤16,770 entries, microunit-quantized int64) ships inside an
  ``arrow_udf`` over the text column; each doc scores with one numpy
  gather + int64 sum — exact integer arithmetic, so the result is
  independent of batching/partitioning and equal to the SQL oracle's
  per-bigram sum.

Engine portability (the microunit discipline from BENCH/BASELINE.md):
``ln`` is the only non-IEEE-exact step, and it runs once per TABLE
ENTRY (not per character), quantized to the 1e-6 grid with the shared
``floor(x·10^6 + 0.5)`` formula before any scoring arithmetic.
Codepoint extraction uses utf-32 reinterpretation in numpy and
``unicode(substr(...))`` in SQL — one symbol per character in both."""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_SYM = 129  # 0..127 ASCII, 128 OOV
BOS = 129  # extra row in the "previous" dimension only
Q = 1_000_000  # microunit grid for log-probs


def _codepoints(text: str) -> np.ndarray:
    """Vectorized codepoint array via utf-32 reinterpretation."""
    if not text:
        return np.empty(0, dtype=np.int64)
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )


def _symbols(text: str) -> np.ndarray:
    cps = _codepoints(text)
    return np.where(cps < 128, cps, N_SYM - 1)


def _batch_bigrams(docs):
    """Whole-batch bigram arrays for a list of non-empty docs: one
    concatenated codepoint array ``s``, the shifted ``prev`` array with
    BOS reset at each doc start (bigrams never cross a doc boundary —
    bit-identical to a per-doc loop), per-doc ``lens`` and ``starts``.
    Shared by the fit and score kernels so the boundary-reset logic
    can never desynchronize between them."""
    s = _symbols("".join(docs))
    prev = np.empty_like(s)
    prev[1:] = s[:-1]
    lens = np.fromiter((len(t) for t in docs), dtype=np.int64)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    prev[starts] = BOS
    return s, prev, starts, lens


def fit_char_bigram_lm(
    df: DataFrame, text_col: str = "text", add_k: float = 1.0
) -> DataFrame:
    """Distributed bigram-count fit. Returns the log-prob table as a
    DataFrame ``(prev int, cur int, n long, logp_q long)`` with
    ``logp_q = floor(ln((n + k) / (row_n + k·129))·10^6 + 0.5)`` —
    every (prev, cur) pair in [0, 129]×[0, 128] is present (smoothing
    gives unseen pairs mass), so scoring never misses a key."""

    def partial_counts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            m = np.zeros((N_SYM + 1) * N_SYM, dtype=np.int64)
            docs = [t for t in batch.column(0).to_pylist() if t]
            if docs:
                # One utf-32 decode + ONE scatter-add for the whole
                # batch (VERDICT r4 noted the per-doc loop as the
                # remaining constant factor)
                s_, prev, _, _ = _batch_bigrams(docs)
                np.add.at(m, prev * N_SYM + s_, 1)
            nz = np.nonzero(m)[0]
            yield pa.RecordBatch.from_arrays(
                [pa.array(nz, type=pa.int64()), pa.array(m[nz])], ["idx", "n"]
            )

    # guide §2/§4: a single-small-file corpus (often one unsplittable
    # row group) would run the whole Arrow count pass on 1-2 tasks;
    # spread is a no-op on any real multi-split table
    from ballet_spark.cache import spread_small_input

    counts = (
        spread_small_input(df.select(text_col))
        .mapInArrow(partial_counts, "idx long, n long")
        .groupBy("idx")
        .agg(F.sum("n").alias("n"))
        .toArrow()  # ≤16,770 rows by construction
    )
    m = np.zeros((N_SYM + 1) * N_SYM, dtype=np.int64)
    m[counts["idx"].to_numpy()] = counts["n"].to_numpy()
    m = m.reshape(N_SYM + 1, N_SYM)
    row_n = m.sum(axis=1, keepdims=True)
    p = (m + add_k) / (row_n + add_k * N_SYM)
    logp_q = np.floor(np.log(p) * Q + 0.5).astype(np.int64)
    prev_idx, cur_idx = np.meshgrid(
        np.arange(N_SYM + 1), np.arange(N_SYM), indexing="ij"
    )
    table = pa.table(
        {
            "prev": prev_idx.ravel().astype(np.int32),
            "cur": cur_idx.ravel().astype(np.int32),
            "n": m.ravel(),
            "logp_q": logp_q.ravel(),
        }
    )
    return df.sparkSession.createDataFrame(
        table, "prev int, cur int, n long, logp_q long"
    )


def score_char_bigram_lm(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    out_col: str = "lm_logp",
) -> DataFrame:
    """Per-doc mean bigram log-probability (natural log) and perplexity
    under a fitted table. The table collects once on the driver
    (bounded) and ships inside the Arrow kernel closure; per doc the
    score is an exact int64 sum of microunit log-probs, so any
    partitioning yields identical results. Adds ``out_col`` (double,
    NULL for NULL/empty text) and ``{out_col}_ppl`` = exp(−mean)."""
    table = lm.select("prev", "cur", "logp_q").toArrow()
    mat = np.zeros((N_SYM + 1, N_SYM), dtype=np.int64)
    mat[table["prev"].to_numpy(), table["cur"].to_numpy()] = table["logp_q"].to_numpy()
    flat = mat.ravel()

    @F.arrow_udf("double")
    def kernel(text: pa.Array) -> pa.Array:
        col = text.to_pylist()
        scores: list = [None] * len(col)
        pos_docs = [(i, t) for i, t in enumerate(col) if t]
        if pos_docs:
            # Whole-batch gather: one concatenated codepoint
            # array, BOS reset at doc starts, one table gather,
            # per-doc exact int64 sums via add.reduceat. The
            # division order ((sum/Q)/len, two IEEE doubles)
            # matches the per-doc loop exactly.
            docs = [t for _, t in pos_docs]
            s_, prev, starts, lens = _batch_bigrams(docs)
            sums = np.add.reduceat(flat[prev * N_SYM + s_], starts)
            vals = (sums / Q) / lens
            for (i, _), v in zip(pos_docs, vals):
                scores[i] = float(v)
        return pa.array(scores, type=pa.float64())

    from ballet_spark.cache import spread_small_input

    scored = spread_small_input(df).withColumn(out_col, kernel(F.col(text_col)))
    return scored.withColumn(f"{out_col}_ppl", F.exp(-F.col(out_col)))


def perplexity_filter(
    df: DataFrame,
    lm: DataFrame,
    text_col: str = "text",
    max_ppl: float = 1e4,
) -> DataFrame:
    """Gate documents by LM perplexity — the CCNet-style quality
    filter: drop docs whose char-bigram perplexity exceeds
    ``max_ppl`` (gibberish, binary-ish spew, boilerplate soup).
    NULL/empty-text rows score NULL and PASS THROUGH — this gate only
    rejects on measured perplexity; emptiness is a different defect
    with its own gate (a bare ``<=`` would silently three-value them
    away)."""
    scored = score_char_bigram_lm(df, lm, text_col)
    return scored.filter(
        (F.col("lm_logp_ppl") <= max_ppl) | F.col("lm_logp_ppl").isNull()
    )
