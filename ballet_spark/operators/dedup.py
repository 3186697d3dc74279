"""Deduplication operators for web-scale training-data pipelines.

Exact (hash-groupBy), n-gram Jaccard (exact, with doc-frequency
pruning), MinHash+LSH (band-bucket candidate generation + exact
verify), SimHash (vectorized pandas UDF), and embedding-cosine
near-dup. No reference analog (ballet has no dedup); required by the
task brief as first-class engine components.

Scale design notes:
- exact dedup: one hash aggregation on md5(text) — partial+final agg,
  no row explosion.
- ngram_jaccard_pairs: candidate pairs = docs sharing ≥1 n-gram after
  **doc-frequency pruning** (grams occurring in > ``max_df`` docs are
  dropped — at 10^12 docs the stopword-gram join would otherwise
  quadratically explode). Exact Jaccard from shared-gram counts.
- minhash_lsh_pairs: ONE tokenize+shingle+hash pass (Arrow-batched
  kernel) persisted as per-doc gram-hash arrays; signatures via k
  seeded affine permutations minimized in one numpy matmul per batch;
  banded into LSH buckets (JVM exprs); candidates = pairs sharing a
  band bucket, then exact-verified from the SAME persisted hash arrays.
  Shuffles scale linearly in corpus size, never quadratically.

Cache contract: the pair generators persist their shared intermediates
(gram-hash arrays, banded signatures, SRP buckets) because BOTH
self-join sides and the verify stage reference them; the returned
DataFrames stay lazy, so those blocks back the result until the caller
is done with it. Unpersisting inside the function would silently
recompute the whole signature DAG per reference. Every persist goes
through :func:`ballet_spark.cache.persist_tracked` (re-exported here),
so callers running many dedup jobs in one session release exactly
these blocks with :func:`release_caches` once they've consumed (or
persisted) the pair set — no global ``spark.catalog.clearCache()``
needed.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballet_spark.cache import persist_tracked, release_caches  # noqa: F401 (re-export)

# 2^31-1: affine permutations a*h+b stay < 2^62, no int64 overflow
# under ANSI arithmetic while keeping a proper Mersenne-prime field.
MERSENNE_P = (1 << 31) - 1

# Worker-lifetime distinct-gram digest memo for gram_hashes' kernel (the
# long-lived reused Python worker keeps it across batches AND tasks —
# Zipfian corpora make most gram digests repeats). Hard-capped like
# classifier._BUCKET_CACHE so a pathological vocabulary cannot grow it
# unboundedly.
_GRAM_HASH_CACHE: dict = {}
_GRAM_HASH_CACHE_MAX = 4_000_000


def _gram_hash_bytes(g: bytes) -> int:
    """63-bit blake2b digest of one gram's bytes, memoized in the
    worker-lifetime module cache. Module-level ON PURPOSE: a nested
    closure would be pickled by value with a SNAPSHOT of the (empty)
    cache dict per task; a module function resolves against the
    executor's own imported module, so the memo survives across
    batches and tasks (same mechanism as classifier._BUCKET_CACHE)."""
    import hashlib

    h = _GRAM_HASH_CACHE.get(g)
    if h is None:
        h = (
            int.from_bytes(hashlib.blake2b(g, digest_size=8).digest(), "big")
            & ((1 << 63) - 1)
        )
        if len(_GRAM_HASH_CACHE) < _GRAM_HASH_CACHE_MAX:
            _GRAM_HASH_CACHE[g] = h
    return h


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the lowest-id row per distinct text (hash-groupBy dedup).
    Returns (kept id, content hash, group size)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "content_md5", "n_copies")
    )


def _spread(df: DataFrame) -> DataFrame:
    """Single-file small inputs arrive as one partition; spread them
    across cores before CPU-heavy shingle/signature stages (no-op when
    the source is already parallel, e.g. a many-file 100 TB table).
    Canonical implementation: :func:`ballet_spark.cache.spread_small_input`."""
    from ballet_spark.cache import spread_small_input

    return spread_small_input(df)


def tokens_col(text_col):
    """Whitespace tokens of a text column, empties dropped. The filter
    matters: ``F.trim`` strips only SPACES, so text with leading or
    trailing newlines/tabs would otherwise yield phantom '' tokens
    (``split(trim('\\nw1 w2\\n'), '\\s+') = ['', 'w1', 'w2', '']``) —
    polluting n-gram sets and letting sub-n-word docs clear ``>= n``
    size guards."""
    return F.filter(F.split(F.trim(text_col), r"\s+"), lambda x: x != "")


def ngrams_from_tokens(toks, n: int = 3):
    """Distinct word n-grams from an ALREADY-MATERIALIZED token array
    column. Higher-order-function lambdas are interpreted (no codegen)
    and re-evaluate their argument expressions per element — so ``toks``
    must be a bound column, not a ``split()`` expression, or the regex
    split re-runs once per gram index (measured 10-15× slowdown on the
    tokenize stage). Callers: project ``tokens_col`` first, then apply
    this (CollapseProject keeps multi-referenced non-cheap aliases
    materialized).

    Docs with fewer than ``n`` tokens (including empty text) yield an
    empty array — without the guard, ``sequence`` would descend and
    ``slice`` would be called with start <= 0 (INVALID_PARAMETER_VALUE),
    killing the whole job on the first short document.
    """
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - F.lit(n) + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def word_ngrams(text_col, n: int = 3):
    """Distinct word n-grams of a text column (array<string>).
    Convenience single-expression form; hot paths should project
    :func:`tokens_col` first and use :func:`ngrams_from_tokens`."""
    return ngrams_from_tokens(tokens_col(text_col), n)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 gram.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    ``max_df`` drops grams present in more than that many documents
    before the self-join — MANDATORY doc-frequency pruning at scale
    (default 1000): a single stopword gram shared by d documents makes
    the self-join emit d² rows, so without the cap the hot-gram join is
    quadratic in the hottest gram's frequency. Pass ``max_df=None``
    only for exact small-corpus audits. Shared-gram counts use pruned
    grams; denominators (|A|, |B|) stay full, so the score is a lower
    bound of true Jaccard for pairs whose shared hot grams were pruned.
    """
    # gram HASHES, not gram strings: set arithmetic (sizes, shared
    # counts) is identical up to 2^-63 collisions, and the self-join
    # shuffles 8-byte ints instead of ~30-byte strings. Persist: the
    # hash arrays feed sizes + BOTH self-join sides (4 plan references)
    # — without it the tokenize+hash kernel runs once per reference.
    docs = persist_tracked(gram_hashes(df, id_col, text_col, n))
    sizes = docs.select("id", F.size("hs").alias("n_grams"))

    exploded = docs.select("id", F.explode("hs").alias("gram"))
    if max_df is not None:
        # hot grams are ≤ |exploded|/max_df by pigeonhole — usually a
        # small table, but NOT bounded at the 10^12-doc design point
        # (10^14 exploded rows / 1000 can exceed any broadcast limit),
        # so no F.broadcast hint: AQE converts the anti-join to a
        # broadcast at runtime whenever the hot side measures small,
        # and falls back to a shuffle join when it doesn't — instead
        # of a forced broadcast failing the job at scale
        hot = (
            exploded.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("gram")
        )
        exploded = exploded.join(hot, "gram", "left_anti")

    # eager persist: BOTH self-join sides reference the pruned explode,
    # and a lazy cache inside one job lets the two sides race past it
    # cold — without this the df-count aggregation + anti-join run twice
    exploded = persist_tracked(exploded)
    exploded.count()
    a = exploded.alias("a")
    b = exploded.alias("b")
    shared = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    out = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n_grams", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n_grams", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def _minhash_coefs(num_hashes: int, seed: int):
    import random

    rnd = random.Random(seed)
    return [
        (rnd.randrange(1, MERSENNE_P), rnd.randrange(0, MERSENNE_P))
        for _ in range(num_hashes)
    ]


def _sig_udf(num_hashes: int, seed: int):
    """Arrow-batched numpy MinHash kernel over per-doc gram-hash arrays:
    one (g × k) modular affine + min per doc — no explode, no k-way
    aggregation shuffle; each doc's signature is computed where the doc
    lives. The 63-bit identity hashes are folded into the Mersenne
    field HERE (x = h mod p), keeping the wide hash space for set
    identity while the permutation math stays in the field:
    a,x < 2^31 ⇒ a*x+b < 2^62, exact in int64."""
    import numpy as np

    coefs = _minhash_coefs(num_hashes, seed)
    A = np.array([a for a, _ in coefs], dtype=np.int64)
    B = np.array([b for _, b in coefs], dtype=np.int64)

    def _kernel(hs: pd.Series) -> pd.Series:
        def _one(a):
            h = np.asarray(a, dtype=np.int64) % MERSENNE_P
            return ((h[:, None] * A[None, :] + B[None, :]) % MERSENNE_P).min(axis=0)

        return hs.map(_one)

    return F.pandas_udf(_kernel, "array<long>")


def gram_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
) -> DataFrame:
    """(id, hs) with ``hs`` = one deterministic 63-bit hash per distinct
    word shingle (the Mersenne-field fold happens only inside the
    MinHash signature kernel). ONE tokenization pass — reused by
    signature generation AND candidate verification (Jaccard on the
    distinct-hash arrays equals gram Jaccard up to 2^-63 collisions).

    mapInArrow, not a pandas UDF (guide §4.2): the output is ~100
    int64s per doc, and the pandas path boxes every element through a
    Python list inside a Series before Arrow conversion — at 50k docs
    / 4.9M gram hashes that boxing dominated the stage. Here the flat
    value buffer + offsets array are built in numpy and handed to
    ``pa.ListArray.from_arrays`` zero-copy. Digest values are
    unchanged (same _gram_hash_bytes memo kernel)."""
    import numpy as np
    import pyarrow as pa

    n = int(shingle_n)
    id_t = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        gh = _gram_hash_bytes
        for batch in batches:
            texts = batch.column(1).to_pylist()
            per_doc = []
            offs = np.zeros(len(texts) + 1, dtype=np.int64)
            total = 0
            for i, t in enumerate(texts):
                if t is None:
                    hs = ()
                else:
                    toks = t.split()
                    if len(toks) < n:
                        hs = ()
                    else:
                        bs = [w.encode("utf-8") for w in toks]
                        hs = [
                            gh(g)
                            for g in {
                                b" ".join(bs[j : j + n])
                                for j in range(len(bs) - n + 1)
                            }
                        ]
                per_doc.append(hs)
                total += len(hs)
                offs[i + 1] = total
            flat = np.empty(total, dtype=np.int64)
            pos = 0
            for hs in per_doc:
                ln = len(hs)
                if ln:
                    flat[pos : pos + ln] = hs
                    pos += ln
            arr = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()), pa.array(flat, type=pa.int64())
            )
            yield pa.RecordBatch.from_arrays([batch.column(0), arr], ["id", "hs"])

    out = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    ).mapInArrow(kernel, f"id {id_t}, hs array<bigint>")
    return out.filter(F.size("hs") > 0)


def _gram_hash_sig(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    num_hashes: int,
    seed: int,
) -> DataFrame:
    """(id, hs, signature) in ONE mapInArrow pass — the gram_hashes
    kernel with the MinHash affine-min fused in, so the LSH pair paths
    pay one Python stage instead of two (the separate signature pass
    re-shipped every persisted gram array through Arrow). Gram digests
    and signature values are identical to gram_hashes + _sig_udf: the
    same _gram_hash_bytes memo and the same int64 field arithmetic on
    the same per-doc hash lists."""
    import numpy as np
    import pyarrow as pa

    n = int(shingle_n)
    id_t = df.schema[id_col].dataType.simpleString()
    coefs = _minhash_coefs(num_hashes, seed)
    A = np.array([a for a, _ in coefs], dtype=np.int64)
    B = np.array([b for _, b in coefs], dtype=np.int64)

    def kernel(batches):
        gh = _gram_hash_bytes
        for batch in batches:
            texts = batch.column(1).to_pylist()
            per_doc = []
            offs = np.zeros(len(texts) + 1, dtype=np.int64)
            sig_flat = np.empty(len(texts) * num_hashes, dtype=np.int64)
            total = 0
            for i, t in enumerate(texts):
                if t is None:
                    hs = ()
                else:
                    toks = t.split()
                    if len(toks) < n:
                        hs = ()
                    else:
                        bs = [w.encode("utf-8") for w in toks]
                        hs = [
                            gh(g)
                            for g in {
                                b" ".join(bs[j : j + n])
                                for j in range(len(bs) - n + 1)
                            }
                        ]
                per_doc.append(hs)
                total += len(hs)
                offs[i + 1] = total
                if hs:
                    h = np.asarray(hs, dtype=np.int64) % MERSENNE_P
                    sig_flat[i * num_hashes : (i + 1) * num_hashes] = (
                        (h[:, None] * A[None, :] + B[None, :]) % MERSENNE_P
                    ).min(axis=0)
                else:
                    sig_flat[i * num_hashes : (i + 1) * num_hashes] = 0
            flat = np.empty(total, dtype=np.int64)
            pos = 0
            for hs in per_doc:
                ln = len(hs)
                if ln:
                    flat[pos : pos + ln] = hs
                    pos += ln
            hs_arr = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()), pa.array(flat, type=pa.int64())
            )
            sig_arr = pa.ListArray.from_arrays(
                pa.array(
                    np.arange(len(texts) + 1, dtype=np.int64) * num_hashes,
                    type=pa.int32(),
                ),
                pa.array(sig_flat, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), hs_arr, sig_arr], ["id", "hs", "signature"]
            )

    out = _spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    ).mapInArrow(
        kernel, f"id {id_t}, hs array<bigint>, signature array<bigint>"
    )
    # gram-less docs are excluded exactly as gram_hashes excludes them
    # (their placeholder signature rows never existed in the old path)
    return out.filter(F.size("hs") > 0)


def _gram_hash_rows(df: DataFrame, id_col: str, n: int) -> DataFrame:
    """Exploded (id, gh) rows — one per DISTINCT word ``n``-gram of the
    pre-tokenized ``__toks`` array column — in one mapInArrow pass.
    Tokens come from the caller's JVM ``tokens_col`` projection (NOT
    re-tokenized in Python), so gram CONTENT is exactly the HOF
    formulation's; only the 63-bit blake2b identity replaces per-gram
    interpreted ``slice``+``concat_ws`` (measured ~15µs/element of HOF
    interpretation) + ``xxhash64``. Set membership is equivalent up to
    ~2^-63 collisions — the same argument the docstring of
    :func:`decontaminate` already makes for hashing grams at all.
    Docs with fewer than ``n`` tokens emit no rows (plain-explode
    semantics)."""
    import numpy as np
    import pyarrow as pa

    id_t = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        gh = _gram_hash_bytes
        for batch in batches:
            ids = batch.column(0)
            tok_lists = batch.column(1).to_pylist()
            counts = np.zeros(len(tok_lists), dtype=np.int64)
            flat_parts = []
            for i, tk in enumerate(tok_lists):
                if tk is None or len(tk) < n:
                    continue
                bs = [w.encode("utf-8") for w in tk]
                hs = [
                    gh(g)
                    for g in {
                        b" ".join(bs[j : j + n]) for j in range(len(bs) - n + 1)
                    }
                ]
                counts[i] = len(hs)
                flat_parts.append(hs)
            flat = np.empty(int(counts.sum()), dtype=np.int64)
            pos = 0
            for hs in flat_parts:
                flat[pos : pos + len(hs)] = hs
                pos += len(hs)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(np.repeat(np.arange(len(counts)), counts))),
                    pa.array(flat, type=pa.int64()),
                ],
                ["id", "gh"],
            )

    return df.select(F.col(id_col).alias("id"), F.col("__toks")).mapInArrow(
        kernel, f"id {id_t}, gh bigint"
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """MinHash signature per document (same affine-permutation math as
    the round-1 explode+agg formulation — identical signatures — but
    computed by the vectorized numpy kernel with zero shuffle)."""
    hs = gram_hashes(df, id_col, text_col, shingle_n)
    return hs.select("id", _sig_udf(num_hashes, seed)(F.col("hs")).alias("signature"))


# Identity of the band-bucket hash recipe. Stamped onto persisted LSH
# indexes by save_lsh_index and checked by load_lsh_index: bucket
# VALUES are a pure function of this recipe, so probing across formats
# silently finds nothing. Bump whenever _banded_buckets' hashing
# changes.
BAND_HASH_FORMAT = "xxh64-multiarg-v2"


def _banded_buckets(sig: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bucket) rows from a (id, signature) frame — THE band
    hashing, shared by the one-shot and incremental paths so an index
    built by one is always probe-compatible with the other.

    Bucket = multi-argument ``xxhash64`` over the band's r signature
    values DIRECTLY (r6): the original ``xxhash64(concat_ws(','`` …
    ``cast(string)))`` form allocated 5 strings per band per doc — ~30%
    of the banding pass (measured 0.98s→0.65s on a 50k-doc corpus).
    Grouping semantics are unchanged (a 64-bit hash of the same r
    values; join keys stay (band, bucket); collisions only ever add
    candidates that exact verification removes), but bucket VALUES
    differ from pre-r6 builds — a persistent index written by an older
    build must be rebuilt, not probed (same in-session build+probe
    paths are always consistent)."""
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at("signature", bi * r + j + 1)
                                for j in range(r)
                            ]
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def _jaccard_expr():
    """Exact Jaccard from two gram-hash array columns ``ha``/``hb``."""
    inter = F.size(F.array_intersect("ha", "hb"))
    return (
        inter.cast("double")
        / (F.size("ha") + F.size("hb") - inter).cast("double")
    ).alias("jaccard")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    verify_exact: bool = True,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs.

    Bands of r = num_hashes/bands signature rows are hashed to buckets;
    pairs sharing any bucket are candidates; candidates are verified
    with exact n-gram Jaccard when ``verify_exact`` (recommended — LSH
    alone has false positives; verification also bounds false negatives
    to genuinely-unbucketed pairs)."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    # ONE tokenization+signature pass (fused kernel): the persisted
    # (id, hs, signature) frame feeds banding AND candidate
    # verification, so the shingle build runs once and the gram arrays
    # never make a second Arrow round-trip for the signature stage
    hs = persist_tracked(
        _gram_hash_sig(df, id_col, text_col, shingle_n, num_hashes, seed)
    )
    hs.count()
    banded = _banded_buckets(hs.select("id", "signature"), bands, r)

    # persist EAGERLY: the self-join would otherwise recompute the whole
    # signature DAG (explode + 64 min-aggs) once per side — lazy persist
    # inside one job lets both sides race past the cold cache
    banded = persist_tracked(banded)
    banded.count()
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    if not verify_exact:
        return cand

    # Verify ONLY the candidate pairs, from the PERSISTED gram-hash
    # arrays (int64 intersection — no re-tokenization, and hash arrays
    # ship ~6× fewer bytes than the gram strings):
    # O(|candidates|·|grams|), never the all-pairs gram self-join.
    ha = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("ha"))
    hb = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hb"))
    verified = (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", _jaccard_expr())
        .filter(F.col("jaccard") >= threshold)
    )
    return verified


def simhash_pdf(text: pd.Series, bits: int = 64) -> pd.Series:
    """64-bit SimHash over whitespace tokens (pandas kernel, shared with
    the pytest oracle). Token hash = first 8 bytes of md5 (big-endian) —
    reproducible in DuckDB as ``('0x' || substr(md5(tok),1,16))::UBIGINT``
    so the driver's SQL oracle can check this end-to-end. The bit-vote
    loop is one numpy matrix op per doc (bit j set ⇔ more than half the
    tokens have bit j set), with an md5 memo per Arrow batch so repeated
    tokens hash once."""
    import hashlib

    import numpy as np

    shifts = np.arange(bits, dtype=np.uint64)
    cache: dict[str, int] = {}

    def _hash(tok: str) -> int:
        h = cache.get(tok)
        if h is None:
            h = int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "big")
            cache[tok] = h
        return h

    def _one(t):
        if t is None:
            return None
        toks = t.split()
        if not toks:
            return 0
        h = np.array([_hash(tok) for tok in toks], dtype=np.uint64)
        ones = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
        # votes[j] = 2*ones[j] - n > 0  ⇔  2*ones[j] > n (ties ⇒ bit 0)
        set_bits = (2 * ones > len(toks)).astype(np.uint64)
        v = int((set_bits << shifts).sum())
        # to signed int64
        return v - (1 << 64) if v >= (1 << 63) else v

    return text.map(_one)


def simhash_col(text_col):
    def _udf(text: pd.Series) -> pd.Series:
        return simhash_pdf(text)

    return F.pandas_udf(_udf, "long")(text_col)


def simhash_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``.
    Candidate generation by banding the 64-bit hash into
    ``max_hamming+1`` chunks (pigeonhole: any pair within distance d
    shares at least one of d+1 exact chunks)."""
    chunks = max_hamming + 1
    width = 64 // chunks
    # token-less docs (NULL/empty/whitespace-only) carry no simhash
    # signal — every pair of them would trivially collide at hamming 0.
    # Excluding them also keeps the SQL oracle (which unnests tokens and
    # so never sees these docs) aligned with the engine. The check must
    # strip ALL whitespace, not F.trim (spaces only): a '\n'-only doc
    # passed the old trim guard, simhashed to 0, and every pair of such
    # docs came back as a hamming-0 duplicate.
    sh = df.filter(
        F.regexp_replace(F.col(text_col), r"\s", "") != ""
    ).select(
        F.col(id_col).alias("id"), simhash_col(F.col(text_col)).alias("sh")
    )
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        # width == 64 (max_hamming=0): the full hash IS
                        # the chunk — (1<<64)-1 overflows a Java long,
                        # and no mask is needed after a 0-bit shift
                        (
                            F.col("sh")
                            if width == 64
                            else F.shiftrightunsigned(F.col("sh"), i * width)
                            .bitwiseAND(F.lit((1 << width) - 1))
                        ).alias("chunk"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", ham.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 16,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    DEFAULT PATH (the 100 TB shape): band-OR SRP LSH — each vector is
    bucketed in ``n_tables`` independent 2^n_planes-bucket tables;
    candidate pairs share a bucket in ANY table (equi-key self-join,
    linear shuffles), then candidates are exact-cosine verified. Miss
    probability for a pair at angle θ is (1-(1-θ/π)^b)^L — ≈8e-5 per
    pair at cosine 0.95 with b=8, L=16; tests assert recall ≥ 0.95 on
    planted near-duplicates. ``exact=True`` is the all-pairs escape
    hatch for small-corpus audits ONLY (quadratic join — never the
    default)."""
    import numpy as np

    from ballet_spark.operators.similarity import (
        cosine_expr,
        lsh_bucket_tables,
    )

    if exact:
        a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        return (
            a.join(b, F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b", cosine_expr(F.col("va"), F.col("vb")).alias("cosine")
            )
            .filter(F.col("cosine") >= threshold)
        )

    # Blockwise per-bucket verify (one shuffle, no pair materialization).
    # The old shape — bucket self-join → distinct → two vector-attach
    # joins → pair-wise Arrow cosine — materialized EVERY candidate
    # pair: measured at 20k vectors / sf1.0, 320k bucket rows exploded
    # into 14.9M candidate pairs (the distinct alone was 18.6s because
    # AQE had already coalesced the small pre-join shuffle down to 2
    # tasks, and coalescing cannot see a join's output exploding), then
    # the verify joins shipped ~14M pairs × two 64-double vectors
    # (~12 GB) through the Arrow boundary. Verify-before-distinct
    # inverts it: vectors shuffle ONCE to their (tbl, bucket) groups
    # (n_tables × corpus rows — linear), each bucket scores its own
    # pairs with one numpy matmul block, and only pairs PASSING the
    # threshold (1,115 of 14.9M at sf1.0) ever become rows. The pair
    # qualifies iff it shares ≥1 bucket AND cosine ≥ threshold — the
    # same set as candidates-then-verify, deduped across tables by the
    # final groupBy over bit-identical per-table cosine copies. Float
    # recipe: dot-first matmul, one division, zero-norm→1 — exactly
    # semantic_dedup's kernel, proven hash-identical to the SQL
    # oracles' sequential-sum cosine at 4- and 6-decimal grids.
    base = _spread(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    id_t = df.schema[id_col].dataType.simpleString()
    bucketed = lsh_bucket_tables(
        base, "v", dim, n_planes, n_tables, seed
    ).select("id", "v", "tbl", "bucket")

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        m = len(pdf)
        if m < 2:
            return empty
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        ids = pdf["id"].to_numpy()
        M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0.0] = 1.0
        frames = []
        # block height bounds the B×m score matrix (same discipline as
        # semantic_dedup; n_planes is sized so buckets stay small, this
        # bounds memory even on a pathological hot bucket)
        B = max(64, min(2048, 8_000_000 // m))
        for s in range(0, m, B):
            e = min(s + B, m)
            # matmul is the PRE-SCREEN only: BLAS accumulation order
            # differs from the per-pair (A*B).sum in the last ulps, so
            # survivors are re-scored below with exactly cosine_udf's
            # float recipe — emitted doubles are bit-identical to the
            # old join+Arrow verify path. The 1e-6 margin dwarfs the
            # ~1e-15 relative matmul/pairwise-sum disagreement, so no
            # qualifying pair can be screened out.
            S = (M[s:e] @ M.T) / np.outer(nrm[s:e], nrm)
            rows, cols = np.nonzero(S >= threshold - 1e-6)
            keep = cols > rows + s  # strict upper triangle: id_a < id_b
            if keep.any():
                rows, cols = rows[keep] + s, cols[keep]
                exact = (M[rows] * M[cols]).sum(axis=1) / (nrm[rows] * nrm[cols])
                final = exact >= threshold
                if final.any():
                    frames.append(
                        pd.DataFrame(
                            {
                                "id_a": ids[rows[final]],
                                "id_b": ids[cols[final]],
                                "cosine": exact[final],
                            }
                        )
                    )
        if not frames:
            return empty
        return pd.concat(frames, ignore_index=True)

    # explicit repartition on the group key: the groupBy reuses this
    # exact hashpartitioning (no second exchange), and the USER-pinned
    # partition count is exempt from AQE coalescing — on a small corpus
    # AQE would otherwise coalesce the tiny shuffle to 1-2 tasks and
    # serialize the per-group kernel invocations (measured 2.4s at
    # sf0.1 vs 1.5s at sf1.0 for the SAME 4096 groups)
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = bucketed.repartition(par, "tbl", "bucket").groupBy(
        "tbl", "bucket"
    ).applyInPandas(_verify, f"id_a {id_t}, id_b {id_t}, cosine double")
    # a pair sharing buckets in several tables emits bit-identical
    # copies; min() collapses them to the single value
    return pairs.groupBy("id_a", "id_b").agg(F.min("cosine").alias("cosine"))


def minhash_lsh_pairs_incremental(
    new_df: DataFrame,
    index: "LshIndex",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
) -> "tuple[DataFrame, LshIndex]":
    """Incremental MinHash+LSH: dedup a NEW batch against an existing
    signature index WITHOUT re-shingling the corpus.

    ``index`` is the persisted :class:`LshIndex` from
    :func:`minhash_lsh_index` for everything already ingested — at
    10^12 docs the index is the only thing that survives between
    snapshots; re-tokenizing the full corpus per batch would dominate
    every ingest. Candidates are (a) new×new pairs within the batch
    and (b) new×old pairs sharing a band bucket with the index; both
    verify with exact Jaccard on the batch's gram arrays vs the
    index's stored gram hashes.

    Returns ``(pairs, new_index_rows)``: ``pairs`` has
    (id_a, id_b, jaccard, vs) with ``vs`` ∈ {'new', 'index'};
    ``new_index_rows`` is the batch's :class:`LshIndex` delta —
    successive ingests compose with :meth:`LshIndex.union`.

    Scale shape: the batch is shingled ONCE; the index's bucket table
    carries only (id, band, bucket) — gram arrays live once per doc in
    the separate grams table and ship only for verified candidates;
    every join is a bucket equi-join (linear), never all-pairs. The
    banding math is the SAME helper the one-shot path uses
    (:func:`_banded_buckets`), so a pair split across a snapshot
    boundary is found iff the one-shot batch job would have found it
    (pytest proves the equivalence)."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    hs = persist_tracked(
        _gram_hash_sig(new_df, id_col, text_col, shingle_n, num_hashes, seed)
    )
    hs.count()
    banded = persist_tracked(
        _banded_buckets(hs.select("id", "signature"), bands, r)
    )
    banded.count()

    # new×new within the batch
    a, b = banded.alias("a"), banded.alias("b")
    nn = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ha = hs.select(F.col("id").alias("id_a"), F.col("hs").alias("ha"))
    hb = hs.select(F.col("id").alias("id_b"), F.col("hs").alias("hb"))
    nn_pairs = (
        nn.join(ha, "id_a").join(hb, "id_b")
        .select("id_a", "id_b", _jaccard_expr(), F.lit("new").alias("vs"))
        .filter(F.col("jaccard") >= threshold)
    )

    # new×index across the snapshot boundary: only the compact bucket
    # table joins; gram arrays are fetched per verified candidate
    ib = index.buckets.select(
        F.col("id").alias("id_b"), F.col("band"), F.col("bucket")
    )
    ni = (
        banded.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(ib, ["band", "bucket"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ihs = index.grams.select(F.col("id").alias("id_b"), F.col("hs").alias("hb"))
    ni_pairs = (
        ni.join(ha, "id_a").join(ihs, "id_b")
        .select("id_a", "id_b", _jaccard_expr(), F.lit("index").alias("vs"))
        .filter(F.col("jaccard") >= threshold)
    )

    delta = LshIndex(buckets=banded, grams=hs.select("id", "hs"))
    return nn_pairs.unionByName(ni_pairs), delta


class LshIndex:
    """The durable MinHash-LSH index: a compact bucket table
    ``(id, band, bucket)`` plus a one-row-per-doc gram table
    ``(id, hs)``. Kept as TWO tables on purpose — denormalizing the
    gram arrays into every band row would store each doc's array
    ``bands`` times (16× with defaults) and force a heavy distinct()
    per ingest to undo it. Write ``buckets`` partitioned/bucketed by
    ``bucket`` at scale so incremental probes prune to touched
    buckets."""

    def __init__(self, buckets: DataFrame, grams: DataFrame):
        self.buckets = buckets
        self.grams = grams

    def union(self, other: "LshIndex") -> "LshIndex":
        return LshIndex(
            self.buckets.unionByName(other.buckets),
            self.grams.unionByName(other.grams),
        )

    def count(self) -> int:
        return self.buckets.count()


def minhash_lsh_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
) -> LshIndex:
    """Build the persistent :class:`LshIndex` for a corpus — the seed
    input for :func:`minhash_lsh_pairs_incremental`."""
    id_type = df.schema[id_col].dataType.simpleString()
    spark = df.sparkSession
    empty = LshIndex(
        buckets=spark.createDataFrame([], f"id {id_type}, band int, bucket long"),
        grams=spark.createDataFrame([], f"id {id_type}, hs array<long>"),
    )
    _, idx = minhash_lsh_pairs_incremental(
        df,
        index=empty,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        seed=seed,
    )
    return idx


def exact_dedup_incremental(
    new_df: DataFrame,
    seen_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame]:
    """Incremental exact dedup: keep only new-batch rows whose content
    was never seen — in earlier snapshots (one broadcast-or-shuffle
    anti-join against the persisted ``seen_hashes`` table of
    ``content_md5`` values) or earlier in this batch (the one-shot
    hash-groupBy keeps the min-id row per distinct text).

    Returns ``(kept_rows, new_hashes)``; successive ingests compose
    with ``seen_hashes.unionByName(new_hashes)`` (or an append to the
    hash table — one 32-char row per distinct document ever seen, the
    only state exact dedup needs at 10^12 docs).

    INVARIANT: ``id_col`` must be unique within ``new_df``. The
    ``keep_ids`` semi-join is keyed on the id alone — correct because
    the min-id per content hash is one specific row — so a duplicated
    id would silently keep its extra rows. Ingest paths that cannot
    guarantee uniqueness should pre-aggregate; the check is not done
    here because it would cost a full extra aggregation per batch on
    what is a registry-enforced property upstream."""
    # NULL text: md5(NULL) is NULL, and NULL keys never match an
    # equality anti-join — every batch would re-admit one NULL-text
    # row forever, diverging from the one-shot path (whose groupBy
    # treats NULLs as one group). Coalesce to '' — impossible as a
    # real digest (md5 hex is always 32 chars) — so NULL-text content
    # is one content class across snapshots too.
    hashed = new_df.withColumn(
        "content_md5", F.coalesce(F.md5(F.col(text_col)), F.lit(""))
    )
    # normalize the SEED side with the same convention: a seen_hashes
    # table seeded from exact_dedup's OUTPUT carries content_md5 NULL
    # for its NULL-text group (that column is oracle-pinned to
    # md5(text)), which would never equality-match the batch's ''
    # key and re-admit one NULL-text row per ingest
    fresh = hashed.join(
        seen_hashes.select(
            F.coalesce(F.col("content_md5"), F.lit("")).alias("content_md5")
        ),
        "content_md5",
        "left_anti",
    )
    keep_ids = (
        fresh.groupBy("content_md5")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    kept = fresh.join(keep_ids, id_col, "semi").drop("content_md5")
    new_hashes = fresh.select("content_md5").distinct()
    return kept, new_hashes


def decontaminate(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination — the LLM-training-data hygiene step:
    flag every training document sharing at least one word ``n``-gram
    with the evaluation/benchmark set (the standard n=8..13 overlap
    rule used to scrub eval leakage from pretraining corpora).

    Scale shape: the benchmark side is small by definition (eval sets
    are thousands of docs, the corpus is 10^12), so its DISTINCT gram
    set broadcasts and the training side joins map-side — the corpus
    shuffles nothing. The join and the per-doc hit counting run on
    63-bit blake2b GRAM HASHES (the shared :func:`_gram_hash_rows`
    kernel), not gram strings: an exploded corpus carries 10^13
    multi-word strings, and hashing cuts the broadcast table and every
    exchanged row to 8 bytes (same trick as
    :func:`ngram_jaccard_pairs`; a ~2^-63 collision flags one doc
    spuriously, it never misses real contamination). Per-doc distinct
    grams keep counts identical to the string join.

    Returns ``train_df`` + ``n_contaminated_grams`` (long) +
    ``contaminated`` (boolean). Docs shorter than ``n`` words have 0 /
    false."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    for c in ("n_contaminated_grams", "contaminated", "__toks"):
        if c in train_df.columns:
            # re-flagging an already-flagged corpus against a new
            # benchmark: the left join would otherwise produce an
            # ambiguous duplicate column / silent overwrite
            raise ValueError(f"decontaminate reserves column name {c!r}")
    # Gram identity = 63-bit blake2b of the gram bytes via
    # _gram_hash_rows (r6): the HOF ngrams_from_tokens formulation
    # interpreted slice+concat_ws once per gram index (~15µs/element,
    # the whole query's cost at corpus scale); the kernel emits the
    # exploded hash rows directly from the SAME JVM-tokenized arrays.
    # Tokens still come from tokens_col so gram content is unchanged.
    # Docs shorter than n words emit no probe row (plain-explode
    # semantics as before); the final left join + coalesce(0) restores
    # them with count 0.
    # synthetic id: the bench side never needed an id column (only its
    # gram SET matters) and callers may pass a text-only frame.
    # _spread: "small by definition" still means thousands of docs —
    # on a single-file eval slice the gram kernel otherwise runs its
    # whole tokenize+hash pass on 1-2 tasks while the cluster idles
    # (no-op on multi-split or already-spread inputs; the distinct()
    # shuffles the 8-byte hashes regardless, so the exchange placement
    # of the OUTPUT is unchanged)
    bench_grams = _gram_hash_rows(
        _spread(bench_df.select(F.col(text_col))).select(
            F.lit(0).cast("long").alias("__bid"),
            tokens_col(F.col(text_col)).alias("__toks"),
        ),
        "__bid",
        n,
    ).select("gh").distinct()
    # _spread: the tokenize + gram kernel of the CORPUS side is the
    # query's dominant per-row work — on a single-small-file input it
    # would run on 1-2 tasks (no-op on real multi-split tables)
    train_grams = _gram_hash_rows(
        _spread(train_df.select(F.col(id_col), F.col(text_col))).select(
            F.col(id_col), tokens_col(F.col(text_col)).alias("__toks")
        ),
        id_col,
        n,
    ).withColumnRenamed("id", id_col)
    hits = (
        train_grams.join(F.broadcast(bench_grams), "gh", "inner")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    out = train_df.join(hits, id_col, "left")
    return out.withColumn(
        "n_contaminated_grams",
        F.coalesce(F.col("n_contaminated_grams"), F.lit(0)),
    ).withColumn("contaminated", F.col("n_contaminated_grams") > 0)


FREQUENT_LINES_HARD_CAP = 100_000


def frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 10,
) -> list[str]:
    """Corpus-frequent line/segment set — C4-style boilerplate
    detection: segments (split on ``sep``) whose DOCUMENT frequency
    exceeds ``min_df`` (nav bars, cookie banners, footers appear in
    thousands of docs; content lines in one). One explode + one
    partial+final count agg; the result is small by construction
    (boilerplate = few distinct lines at high df) and hard-capped at
    ``FREQUENT_LINES_HARD_CAP`` with a warning, keeping the collect
    bounded like :func:`~ballet_spark.plans.skew.head_keys`."""
    import re as _re

    lines = df.select(
        F.explode(
            F.array_distinct(F.split(F.trim(F.col(text_col)), _re.escape(sep)))
        ).alias("l")
    ).filter(F.col("l") != "")
    counts = lines.groupBy("l").agg(F.count(F.lit(1)).alias("n"))
    rows = (
        counts.filter(F.col("n") > min_df)
        .orderBy(F.desc("n"), F.asc("l"))
        .limit(FREQUENT_LINES_HARD_CAP + 1)
        .collect()
    )
    if len(rows) > FREQUENT_LINES_HARD_CAP:
        import warnings

        warnings.warn(
            f"frequent_lines(min_df={min_df}) matched more than "
            f"{FREQUENT_LINES_HARD_CAP} lines; keeping the most "
            "frequent — raise min_df (a removal set this large says "
            "the threshold is below the corpus's content frequency)",
            stacklevel=2,
        )
        rows = rows[:FREQUENT_LINES_HARD_CAP]
    return [r["l"] for r in rows]


def remove_frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_df: int = 10,
    freq: list | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Strip corpus-frequent segments from every document — the
    C4-style boilerplate-removal pass. Two phases: (1)
    :func:`frequent_lines` finds the removal set (one shuffle, bounded
    collect); (2) a PURE MAP-SIDE rewrite filters each doc's segment
    array against the set (Catalyst compiles the membership test to an
    InSet hash probe) and rejoins with ``sep`` — the corpus is never
    shuffled for the rewrite, so the pass costs one count-agg plus one
    map over 100 TB. Preserves segment order and repetition of kept
    segments; empty segments collapse (split+rejoin is trim-like by
    construction)."""
    import re as _re

    # spread before BOTH phases: the count-agg's explode and the
    # map-side rewrite otherwise run on a single small file's 1-2
    # tasks (no-op on real multi-split tables)
    df = _spread(df)
    if freq is None:
        freq = frequent_lines(df, text_col, sep, min_df)
    out_col = out_col or text_col
    parts = F.split(F.trim(F.col(text_col)), _re.escape(sep))
    if freq:
        kept = F.filter(parts, lambda l: (l != "") & ~l.isin(*freq))
    else:
        kept = F.filter(parts, lambda l: l != "")
    return df.withColumn(out_col, F.concat_ws(sep, kept))


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-wide exact line/paragraph dedup keeping the FIRST
    occurrence — the sub-document exact-dedup pass (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" applies
    it at the sequence level; C4 applies it to three-sentence spans).
    Complementary to :func:`remove_frequent_lines`: that strips
    segments whose document frequency exceeds a threshold from EVERY
    doc, this keeps exactly ONE occurrence of every repeated segment
    (including within-document repeats).

    "First" is the minimum of the total order (id, position) — a
    property of the data, not of scan or partition order, so any
    engine and any partitioning reproduces the same survivor set.
    ``id_col`` MUST be unique per row: duplicate ids make (id, pos)
    ambiguous, so the per-id reassembly merges all same-id rows'
    surviving segments into one blob and attaches it to EVERY such
    row (verified by driving webtext ``url`` with multiple warc_ts
    snapshots: 4 snapshots per url → each cleaned blob emitted 4×).
    For snapshotted entities pass a composite key, e.g.
    ``concat(url, '#', warc_ts)``.
    Returns one row per input row: the input columns with ``out_col``
    (default: ``text_col`` replaced) rebuilt from kept segments in
    original order, plus ``n_removed``. Empty segments collapse
    (split+rejoin is trim-like, same as remove_frequent_lines).

    Scale shape (the 100 TB question): posexplode is map-side; the
    winner per segment is ``min(struct(id, pos))`` — a HASH AGGREGATE
    with map-side partial combine, so a boilerplate line occurring in
    10^8 documents costs one partial row per task, NOT one hot reduce
    key (the reason this is agg+join rather than a row_number window
    over the segment — a window cannot partial-aggregate). Winners
    join back on the segment key (AQE skew-join splits any residual
    hot segment; the winner side is distinct-segment-sized), then one
    groupBy(id) reassembles documents. Three shuffles, each linear in
    token volume; no quadratic term, no driver collect."""
    import re as _re

    out_col = out_col or text_col
    for c in ("__id", "__pos", "__seg", "__w", "__keep", "__hk",
              "__cleaned", "__removed", "n_removed"):
        if c in df.columns:
            raise ValueError(f"dedup_lines reserves column name {c!r}")
    if out_col == "n_removed":
        raise ValueError("dedup_lines: out_col may not be 'n_removed'")
    # spread once, shared by the posexplode pass AND the join-back
    # (no-op on real multi-split tables)
    df = _spread(df)
    segs = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            F.split(F.trim(F.col(text_col)), _re.escape(sep))
        ).alias("__pos", "__seg"),
    ).filter(F.col("__seg") != "")
    # winner agg + probe join keyed on xxhash64(__seg), not the segment
    # STRING (r6): the two shuffles then carry 8-byte keys instead of
    # segment text — the same hash-instead-of-payload discipline as
    # decontaminate / ngram_jaccard_pairs. A 2^-64 collision would
    # merge two segment classes (one extra removal corpus-wide);
    # membership semantics are otherwise identical.
    hk = F.xxhash64("__seg")
    winners = segs.groupBy(hk.alias("__hk")).agg(
        F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__w")
    )
    marked = segs.withColumn("__hk", hk).join(winners, "__hk").select(
        "__id",
        "__pos",
        "__seg",
        (
            (F.col("__w.__id") == F.col("__id"))
            & (F.col("__w.__pos") == F.col("__pos"))
        ).alias("__keep"),
    )
    # collect_list drops the NULLs the when() leaves for removed
    # segments; array_sort orders structs by leading field = position
    agg = marked.groupBy("__id").agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("__keep"),
                            F.struct(F.col("__pos"), F.col("__seg")),
                        )
                    )
                ),
                lambda s: s["__seg"],
            ),
        ).alias("__cleaned"),
        F.sum(F.when(~F.col("__keep"), 1).otherwise(0))
        .cast("long")
        .alias("__removed"),
    )
    out = df.join(agg, F.col(id_col) == F.col("__id"), "left")
    sel = []
    for c in df.columns:
        if c == out_col:
            sel.append(F.coalesce(F.col("__cleaned"), F.lit("")).alias(out_col))
        else:
            sel.append(F.col(c))
    if out_col not in df.columns:
        sel.append(F.coalesce(F.col("__cleaned"), F.lit("")).alias(out_col))
    sel.append(
        F.coalesce(F.col("__removed"), F.lit(0)).cast("long").alias("n_removed")
    )
    return out.select(*sel)


def semantic_dedup(
    df: DataFrame,
    cents,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every embedding to its nearest coarse
    centroid, then WITHIN each cluster mark a row as a semantic
    duplicate iff some cluster member with a SMALLER id has cosine
    similarity >= ``threshold``. The smallest id of each similar set
    survives — deterministic, order-free, engine-replayable semantics
    (a greedy keep-chain would depend on visit order).

    Scale shape (the 100 TB question): clustering bounds the candidate
    set — the corpus is scanned once to tag centroid ids (map-only,
    same kernel as the IVF quantizer, similarity.py::ivf_assign), then
    ONE shuffle on ``centroid_id`` groups each cluster onto one task
    where a single numpy matmul scores all pairs. Cost is
    sum(m_i^2·dim) over cluster sizes m_i, not corpus^2: with k
    centroids ~ corpus/expected_cluster the quadratic term is bounded
    by design, and a pathological hot cluster is visible in the output
    (``cluster_size``) and split by raising k. Centroids are passed in
    (fit via ivf_fit on a sample, or fixed/read for replayability) —
    fit never scans the full corpus.

    Returns one row per input row: (id, centroid_id, cluster_size,
    max_prev_cos, is_dup); ``max_prev_cos`` is NULL for each cluster's
    smallest id. ``is_dup`` compares on the 1e-6-grid-rounded cosine
    (the shared sign·floor(|x|·10^6+0.5) formula) so the gate decision
    is identical on any engine that reproduces the cosine double.

    Zero-norm embeddings are defined to have cosine 0.0 with every
    vector (the denominator norm is forced to 1; the numerator dot is
    0) — never NaN, never a dup. An oracle replaying this must guard
    its cosine the same way (DuckDB's ``list_cosine_similarity``
    yields NaN/NULL for zero vectors; see the ``semantic_dedup_docs``
    oracle's CASE guard in ``__spark_entry__.py``).

    ``max_cluster`` is the hot-cluster guard: when set, a cluster
    exceeding that many members fails FAST with a clear error instead
    of silently burning hours in an m²·dim matmul — the fix is always
    more centroids (size k with :func:`semdedup_auto_k` so expected
    cluster size stays constant as the corpus grows)."""
    import numpy as np

    from ballet_spark.operators.similarity import ivf_assign

    id_t = df.schema[id_col].dataType.simpleString()
    # NULL embeddings can't be clustered or scored: drop them here
    # (ivf_assign gives them centroid NULL; letting that group reach
    # the kernel would crash its np.stack). A NULL-embedding row is
    # absent from the output — it is never a duplicate of anything.
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).where(
        F.col("v").isNotNull()
    )
    tagged = ivf_assign(base, cents, vec_col="v", out_col="centroid_id")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        if max_cluster is not None and len(pdf) > max_cluster:
            raise ValueError(
                f"semantic_dedup: cluster "
                f"{int(pdf['centroid_id'].iloc[0])} has {len(pdf)} members"
                f" > max_cluster={max_cluster}; raise k (use "
                "semdedup_auto_k) so the per-cluster quadratic term "
                "stays bounded"
            )
        pdf = pdf.sort_values("id", kind="mergesort").reset_index(drop=True)
        M = np.stack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0.0] = 1.0
        # max cosine to any SMALLER-id member, computed BLOCKWISE:
        # row block [s,e) only ever multiplies against columns [0,e)
        # (later ids can't be a row's predecessor), so peak memory is
        # O(B·m) instead of the full m×m matrix and the flop count is
        # the lower triangle's m²/2·dim, not m²·dim — at the hot-cluster
        # tail (Voronoi cells of random centroids skew ~6× over the
        # mean) the full-matrix form allocated S plus triu_indices(m)
        # (~3 GB each at m≈19k) and was the stage straggler. Each
        # S[i,j] is still the identical dot-first/one-division double —
        # the exact float recipe of similarity.py::cosine_topk, proven
        # hash-identical to DuckDB's list_cosine_similarity in the
        # embedding_topk oracle — so grid-rounded values are unchanged.
        m = len(M)
        mx = np.full(m, -np.inf)
        # block height adapts so the B×m block matrix stays ≤ ~64 MB
        # even on a pathological hot cluster (max_cluster/auto-k bound
        # m by policy; this bounds memory by construction)
        B = max(64, min(2048, 8_000_000 // max(m, 1)))
        for s in range(0, m, B):
            e = min(s + B, m)
            S = (M[s:e] @ M[:e].T) / np.outer(nrm[s:e], nrm[:e])
            # mask j >= i inside the trailing (e-s)² diagonal block
            # (a view into S, so the row max below sees the mask)
            S[:, s:e][np.triu_indices(e - s)] = -np.inf
            mx[s:e] = S.max(axis=1)
        mx[0] = np.nan  # smallest id: no predecessor
        q = np.sign(mx) * np.floor(np.abs(mx) * 1e6 + 0.5) / 1e6
        return pd.DataFrame(
            {
                "id": pdf["id"],
                "centroid_id": pdf["centroid_id"].astype("int32"),
                "cluster_size": np.int64(len(pdf)),
                # nullable Float64: NaN must surface as SQL NULL, not NaN
                "max_prev_cos": pd.array(
                    [None if np.isnan(x) else float(x) for x in mx],
                    dtype="Float64",
                ),
                "is_dup": np.where(np.isnan(q), False, q >= threshold),
            }
        )

    return tagged.groupBy("centroid_id").applyInPandas(
        kernel,
        f"id {id_t}, centroid_id int, cluster_size long, "
        "max_prev_cos double, is_dup boolean",
    )


def dedup_substrings(
    df: DataFrame,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """ExactSubstr deduplication (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): remove every token
    span that also occurs EARLIER in the corpus as part of a repeated
    window of ``k`` whitespace tokens, keeping exactly the first
    occurrence. Unlike :func:`dedup_lines` (separator-delimited
    segments) this catches re-wrapped boilerplate — any ≥k-token
    repeat is found regardless of line structure, which is the paper's
    actual technique (their suffix-array ExactSubstr with a 50-token
    threshold; single-node suffix arrays don't distribute, so the
    distributed equivalent is k-token window fingerprints).

    Semantics: tokenize on WHITESPACE runs (``split(text, '\\s+')``
    dropping empties): a repeat re-wrapped with newlines/tabs instead
    of spaces — precisely the re-wrapped boilerplate this operator
    exists to catch — must fingerprint identically to its space-joined
    first occurrence, which single-space tokenization would miss
    (tokens like ``'w10\\nw11'`` hash differently). Every k-token
    window gets an md5 fingerprint;
    the window's FIRST occurrence is ``min(struct(id, pos))`` — a
    property of the data, not of scan order, so any partitioning
    replays the same survivor set (``id_col`` must be unique, same
    contract as dedup_lines). Every OTHER occurrence marks its k
    tokens for removal; a doc's removed set is the UNION of its
    non-first windows (a repeated span of length L ≥ k yields L-k+1
    repeated windows whose union is the whole span). Output = input
    columns with ``out_col`` (default: text_col replaced) rebuilt from
    kept tokens joined by single spaces, plus ``n_removed_tokens``.
    Docs with < k tokens lose no tokens (the paper ignores
    sub-threshold docs too), but like every output here their text is
    whitespace-NORMALIZED (tokens re-joined with single spaces; NULL
    text becomes '') — byte-identical pass-through is not promised.

    Scale shape (the 100 TB question): fingerprinting is one
    map-side Arrow-batched kernel — tokens are UTF-8-encoded once per
    doc and each window is a bytes-join + md5 digest, so the CPU cost
    is O(k·n) per doc with no per-window expression interpretation (a
    JVM ``transform`` HOF was measured at ~15µs per ELEMENT of pure
    higher-order-function interpretation overhead, ~100× the Python
    digest loop — the one case where the "built-ins beat UDFs" rule
    inverts). The hash table is 16-byte binary keys, so the winner
    aggregation shuffles ~(16B hash + id + pos) per window ≈ a small
    constant × corpus bytes, with map-side partial combine so a
    boilerplate window occurring in 10^8 docs costs one partial row
    per task, NOT a hot reduce key. Winners are filtered to
    ``count > 1`` BEFORE the join back, so the probe join touches
    only occurrences of actually-repeated windows (AQE skew-join
    splits residual hot fingerprints). Removal positions funnel into
    one groupBy(id) — linear — and the text rebuild is a single
    Arrow-batched kernel doing an O(n) numpy difference-array per doc.
    Three linear shuffles total; no quadratic term, no driver collect.
    When the input arrives in fewer partitions than the cluster has
    cores (a single small file — the CI shape; a 100 TB table arrives
    in thousands of splits and is untouched), the corpus is
    repartitioned once up front so the fingerprint stage actually
    parallelizes.

    Exactness: md5 (128-bit) windows collide with probability ~n²/2¹²⁹
    — at 10^14 windows that is < 10⁻¹⁰ corpus-wide; an exact oracle
    can group on the window STRING itself and agree (the driver query
    ``exactsubstr_dedup_docs`` does precisely that in DuckDB)."""
    import numpy as np

    if int(k) < 2:
        raise ValueError("dedup_substrings: k must be >= 2")
    k = int(k)
    out_col = out_col or text_col
    for c in (
        "__toks", "__h", "__pos", "__w", "__rem", "__id",
        "__cleaned", "__nrem", "n_removed_tokens",
    ):
        if c in df.columns:
            raise ValueError(f"dedup_substrings reserves column name {c!r}")
    if out_col == "n_removed_tokens":
        raise ValueError("dedup_substrings: out_col may not be 'n_removed_tokens'")

    # small-input parallelization guard (no-op on real multi-split
    # tables): without it the whole fingerprint scan runs on however
    # few tasks a single small file yields
    df = _spread(df)

    toks = F.filter(
        F.split(F.col(text_col), r"\s+", -1), lambda x: x != ""
    )
    base = df.withColumn("__toks", toks)

    # One Arrow map stage emitting EXPLODED (__id, __pos, __h) window
    # rows directly (r6): the previous pandas UDF returned
    # array<binary> per doc — millions of 16-byte digests boxed
    # through Python lists inside a Series, then a separate JVM
    # posexplode. mapInArrow builds the flat buffers once; digests are
    # byte-identical (same b' '.join + md5 over the SAME JVM-tokenized
    # __toks — tokenization is NOT moved into Python on purpose, so
    # window strings keep matching the oracle's regex split exactly).
    id_t = df.schema[id_col].dataType.simpleString()

    def _win_rows(batches):
        import hashlib

        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            tok_lists = batch.column(1).to_pylist()
            counts = np.zeros(len(tok_lists), dtype=np.int64)
            digests: list = []
            for i, tk in enumerate(tok_lists):
                if tk is None or len(tk) < k:
                    continue
                bs = [t.encode("utf-8") for t in tk]
                w = [
                    hashlib.md5(b" ".join(bs[j : j + k])).digest()
                    for j in range(len(bs) - k + 1)
                ]
                counts[i] = len(w)
                digests.extend(w)
            pos = (
                np.concatenate([np.arange(c, dtype=np.int32) for c in counts if c])
                if digests
                else np.empty(0, dtype=np.int32)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(np.repeat(np.arange(len(counts)), counts))),
                    pa.array(pos, type=pa.int32()),
                    pa.array(digests, type=pa.binary()),
                ],
                ["__id", "__pos", "__h"],
            )

    # persist: the window table feeds BOTH the winner aggregation and
    # the probe join back — without it the tokenize+digest kernel runs
    # once per reference (the winner side is count>1-filtered and
    # usually broadcast, so no exchange reuse saves us)
    wins = persist_tracked(
        base.select(F.col(id_col).alias("__id"), F.col("__toks")).mapInArrow(
            _win_rows, f"__id {id_t}, __pos int, __h binary"
        )
    )
    wins.count()  # eager, so the two references below race past a cold cache
    winners = (
        wins.groupBy("__h")
        .agg(
            F.min(F.struct(F.col("__id"), F.col("__pos"))).alias("__w"),
            F.count(F.lit(1)).alias("__cnt"),
        )
        .where(F.col("__cnt") > 1)
        .select("__h", "__w")
    )
    # inner join: unique windows never match, so only occurrences of
    # repeated fingerprints flow onward
    rems = (
        wins.join(winners, "__h")
        .where(
            (F.col("__w.__id") != F.col("__id"))
            | (F.col("__w.__pos") != F.col("__pos"))
        )
        .groupBy("__id")
        .agg(F.collect_list("__pos").alias("__rem"))
    )
    joined = base.join(rems, F.col(id_col) == rems["__id"], "left").drop("__id")

    def rebuild(it):
        for pdf in it:
            cleaned, removed = [], []
            for tk, rem in zip(pdf["__toks"], pdf["__rem"]):
                if tk is None or len(tk) == 0:
                    cleaned.append("")
                    removed.append(0)
                    continue
                n = len(tk)
                if rem is None or len(rem) == 0:
                    cleaned.append(" ".join(tk))
                    removed.append(0)
                    continue
                pos = np.asarray(rem, dtype=np.int64)
                diff = np.zeros(n + 1, dtype=np.int64)
                np.add.at(diff, pos, 1)
                np.add.at(diff, np.minimum(pos + k, n), -1)
                cov = np.cumsum(diff)[:n] > 0
                arr = np.asarray(tk, dtype=object)
                cleaned.append(" ".join(arr[~cov]))
                removed.append(int(cov.sum()))
            out = pdf.drop(columns=["__toks", "__rem"])
            out["__cleaned"] = cleaned
            out["__nrem"] = np.asarray(removed, dtype=np.int64)
            yield out

    schema_parts = [
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema
    ]
    schema = ", ".join(schema_parts + ["__cleaned string", "__nrem long"])
    rebuilt = joined.select(*df.columns, "__toks", "__rem").mapInPandas(
        rebuild, schema
    )
    sel = []
    for c in df.columns:
        if c == out_col:
            sel.append(F.col("__cleaned").alias(out_col))
        else:
            sel.append(F.col(c))
    if out_col not in df.columns:
        sel.append(F.col("__cleaned").alias(out_col))
    sel.append(F.col("__nrem").alias("n_removed_tokens"))
    return rebuilt.select(*sel)


def semdedup_auto_k(n_docs: int, expected_cluster: int = 4096) -> int:
    """Centroid count for :func:`semantic_dedup` that keeps the
    per-cluster quadratic term bounded as the corpus grows: k =
    ceil(n / expected_cluster), floored at 16. SemDeDup's cost is
    Σ mᵢ²·dim over cluster sizes mᵢ; with k ∝ n the expected cluster
    size stays constant, so total work is ~n·expected_cluster·dim —
    LINEAR in the corpus. Holding k fixed while the corpus grows puts
    every new doc into the same k clusters and the m² term dominates
    (the round-4 stress measured exactly that anti-pattern at fixed
    k=16: 227s at 809k docs vs linear when k scales)."""
    if n_docs < 0:
        raise ValueError("n_docs must be >= 0")
    if expected_cluster < 1:
        raise ValueError("expected_cluster must be >= 1")
    return max(16, -(-int(n_docs) // int(expected_cluster)))


def save_lsh_index(index: "LshIndex", name: str, n_buckets: int = 64) -> None:
    """Persist an :class:`LshIndex` as BUCKETED tables — the durable
    form the class docstring promises for incremental dedup at scale:
    ``{name}_buckets`` bucketed AND sorted by (band, bucket) — the
    probe join's exact key — and ``{name}_grams`` bucketed by id (the
    verified-candidate fetch key). A probe against the loaded table
    needs NO exchange and NO sort on the index side (the 100 TB side):
    the per-ingest cost that grows with the index drops from
    shuffle+sort of every bucket row to one streaming scan, which is
    what the round-4 growth stress isolated as the ~0.5s/100k-doc
    linear term (plan-asserted in tests/test_plan_shapes.py; measured
    flat-slope in scripts/incremental_index_stress.py --bucketed)."""
    from ballet_spark.sources.io import save_bucketed

    save_bucketed(
        index.buckets,
        f"{name}_buckets",
        ["band", "bucket"],
        n_buckets=n_buckets,
        sort_cols=["band", "bucket"],
    )
    save_bucketed(index.grams, f"{name}_grams", ["id"], n_buckets=n_buckets)
    # stamp the band-hash format: bucket VALUES are a function of
    # _banded_buckets' hash recipe, so probing an index written under a
    # different recipe would silently find nothing — load_lsh_index
    # refuses instead
    index.buckets.sparkSession.sql(
        f"ALTER TABLE {name}_buckets SET TBLPROPERTIES "
        f"('ballet_spark.band_hash' = '{BAND_HASH_FORMAT}')"
    )


def load_lsh_index(spark, name: str) -> "LshIndex":
    """Load a :func:`save_lsh_index` pair back WITH bucket metadata
    (``spark.table``, not ``read.parquet`` — a raw file read loses the
    distribution info and reintroduces the index-side shuffle).
    Refuses a missing index, and an index whose band-hash format stamp
    is missing or different: its bucket values were produced by
    another hash recipe (or its save never finished), so a probe would
    silently find nothing."""
    if not spark.catalog.tableExists(f"{name}_buckets"):
        raise ValueError(
            f"LSH index {name!r} not found: table {name}_buckets does "
            "not exist — build it with save_lsh_index first"
        )
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {name}_buckets").collect()
    }
    fmt = props.get("ballet_spark.band_hash")
    if fmt is None:
        # save_lsh_index stamps last, so an unstamped table is a save
        # that stopped between the bucket write and the stamp (or one
        # written before the stamp existed)
        raise ValueError(
            f"LSH index {name!r} has no band-hash format stamp: its "
            "save was interrupted (or it predates the stamp), so its "
            "bucket values cannot be trusted; rebuild the index with "
            "save_lsh_index"
        )
    if fmt != BAND_HASH_FORMAT:
        raise ValueError(
            f"LSH index {name!r} was written under band-hash format "
            f"{fmt!r} but this build probes with {BAND_HASH_FORMAT!r} — "
            "bucket values are incompatible and every probe would "
            "silently miss; rebuild the index with save_lsh_index"
        )
    return LshIndex(
        buckets=spark.table(f"{name}_buckets"),
        grams=spark.table(f"{name}_grams"),
    )
