"""Property-based tests (hypothesis) for the pure-Python/numpy kernels
shared between the engine and its oracles: simhash, rolling
fingerprints, gram hashing, and the contrast matrices. These kernels
are the correctness boundary between the Spark plans and the SQL
oracles, so they get fuzzed harder than example-based tests go."""

import hashlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ballet_spark.operators.dedup import simhash
from ballet_spark.operators.encoders import contrast_matrix
from ballet_spark.functions.text import rolling_fingerprint

texts = st.text(
    alphabet=st.sampled_from("abcdefg XYZ.!?\t\n"), min_size=0, max_size=200
)


def _simhash_reference(t: str, bits: int = 64) -> int:
    """Slow, obviously-correct simhash: per-token bit-vote loop."""
    votes = [0] * bits
    for tok in t.split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        for j in range(bits):
            votes[j] += 1 if (h >> j) & 1 else -1
    v = 0
    for j in range(bits):
        if votes[j] > 0:
            v |= 1 << j
    return v - (1 << 64) if v >= (1 << 63) else v


@settings(max_examples=150, deadline=None)
@given(texts)
def test_simhash_matches_slow_reference(t):
    got = simhash([t])[0]
    assert got == _simhash_reference(t)


@settings(max_examples=100, deadline=None)
@given(texts)
def test_simhash_invariant_under_token_spacing(t):
    """SimHash is a bag-of-tokens function: whitespace runs don't
    matter."""
    respaced = "  ".join(t.split())
    a, b = simhash([t, respaced])
    assert a == b


def _fingerprint_reference(t: str, k: int = 8, mod: int = 2**61 - 1) -> int:
    """Direct polynomial over every window — no rolling update."""
    B = 1_000_003
    data = t.encode("utf-8")

    def poly(bs):
        h = 0
        for ch in bs:
            h = (h * B + ch) % mod
        return h

    if len(data) < k:
        return poly(data)
    return min(poly(data[i : i + k]) for i in range(len(data) - k + 1))


@settings(max_examples=150, deadline=None)
@given(texts)
def test_rolling_fingerprint_matches_direct_polynomial(t):
    got = rolling_fingerprint(t)
    assert got == _fingerprint_reference(t)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=2, max_value=12))
def test_contrast_matrices_code_properties(k):
    # every scheme: k rows, k-1 columns, columns sum to zero over levels
    # (contrasts are orthogonal to the intercept) except sum-coding's
    # indicator structure which still sums to zero by construction
    for scheme in ("helmert", "sum", "backward_difference", "polynomial"):
        m = np.array(contrast_matrix(scheme, k))
        assert m.shape == (k, k - 1)
        assert np.allclose(m.sum(axis=0), 0.0, atol=1e-9)
    # polynomial contrasts are orthonormal
    p = np.array(contrast_matrix("polynomial", k))
    assert np.allclose(p.T @ p, np.eye(k - 1), atol=1e-9)


def test_pii_redaction_kernels(spark):
    """redact_pii / pii_counts: every pattern kind, overlap ordering
    (email local parts and IPs must not be re-matched as ids), and a
    clean doc."""
    from pyspark.sql import functions as F

    from ballet_spark.functions.text import pii_counts, redact_pii

    rows = [
        (1, "reach me at jane.doe+spam@mail.example.org today"),
        (2, "server 192.168.1.254 then 8.8.8.8"),
        (3, "call 555-123-4567 or 555 987 6543"),
        (4, "account 123456789 and order 98765432109876"),
        (5, "mixed: bob@x.io on 10.0.0.1 dial 111-222-3333 ref 999999999"),
        (6, "no pii here, just words and the number 42"),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "i int, t string")
    counts = pii_counts(F.col("t"))
    out = {
        r["i"]: r
        for r in df.select(
            "i",
            *[counts[k].alias(k) for k in ("email", "ipv4", "phone", "long_id")],
            redact_pii(F.col("t")).alias("red"),
        ).collect()
    }
    assert out[1]["email"] == 1 and "[EMAIL]" in out[1]["red"]
    assert "@" not in out[1]["red"]
    assert out[2]["ipv4"] == 2 and out[2]["red"].count("[IP]") == 2
    assert out[3]["phone"] == 2 and out[3]["red"].count("[PHONE]") == 2
    assert out[4]["long_id"] == 2 and out[4]["red"].count("[ID]") == 2
    r5 = out[5]
    assert (r5["email"], r5["ipv4"], r5["phone"], r5["long_id"]) == (1, 1, 1, 1)
    for tok in ("[EMAIL]", "[IP]", "[PHONE]", "[ID]"):
        assert tok in r5["red"]
    assert out[6]["red"] == rows[5][1]  # untouched
    assert out[7]["red"] is None  # NULL propagates


def _blake63(g: str) -> int:
    d = hashlib.blake2b(g.encode("utf-8"), digest_size=8).digest()
    return int.from_bytes(d, "big") & ((1 << 63) - 1)


def _gram_hash_reference(t, n: int):
    """Sorted distinct 63-bit blake2b hashes of the word n-grams of
    ``str.split()`` tokens; None for docs with fewer than n tokens."""
    toks = [] if t is None else t.split()
    if len(toks) < n:
        return None
    return sorted({_blake63(" ".join(toks[j : j + n])) for j in range(len(toks) - n + 1)})


def test_gram_hashes_and_signatures_match_python_reference(spark):
    """Pins gram-hash and MinHash signature VALUES (persisted LSH
    indexes depend on them) against a per-doc Python loop, with
    3-record Arrow batches so every partition spans several batches."""
    from ballet_spark.operators.dedup import (
        MERSENNE_P,
        _minhash_coefs,
        gram_hashes,
        minhash_signatures,
    )

    base = [
        None, "", "solo", "one two", "one two three",
        "a b c a b c a b c",  # repeated grams
        "café naïve résumé café naïve résumé",
        "日本 語 の テキスト です",
        "emoji 🙂 and 🙂 again",
        "tab\tand\nnewline  runs\xa0nbsp　ideographic space",
        "the quick brown fox jumps over the lazy dog",
    ]
    docs = [f"{t} v{i // len(base)}" if i >= len(base) and t else t
            for i, t in enumerate(base * 3)]
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        for n in (2, 3):
            got = {r.id: sorted(r.hs) for r in gram_hashes(df, shingle_n=n).collect()}
            want = {
                i: hs for i, t in enumerate(docs)
                if (hs := _gram_hash_reference(t, n)) is not None
            }
            assert got == want
        for k, seed in ((8, 42), (64, 7)):
            coefs = _minhash_coefs(k, seed)
            sigs = minhash_signatures(df, num_hashes=k, seed=seed).collect()
            want = {
                i: [min(((h % MERSENNE_P) * a + b) % MERSENNE_P for h in hs)
                    for a, b in coefs]
                for i, t in enumerate(docs)
                if (hs := _gram_hash_reference(t, 3)) is not None
            }
            assert {r.id: list(r.signature) for r in sigs} == want
    finally:
        spark.conf.set(conf, old)


# Java regex \s is [ \t\n\x0B\f\r]; the rest are whitespace to Python's
# str.split() but part of a token to Spark's split
exotic_texts = st.text(
    alphabet=st.sampled_from(["a", "b", " ", "\t", "\n", "\x0b", "\f", "\r",
                              "\xa0", "\x1c", "\x85", "　"]),
    max_size=24,
)


@settings(max_examples=8, deadline=None)
@given(st.lists(exotic_texts, min_size=1, max_size=40))
def test_decontaminate_tokens_are_jvm_split_tokens(spark, docs):
    """decontaminate tokenizes like
    ``filter(split(trim(t), '\\s+'), x -> x != '')``. Every JVM token
    becomes a one-token bench doc, so at n=1 each doc's hit count is
    its distinct JVM token count only if the gram kernel splits both
    sides exactly as the JVM does (a token split apart, or two tokens
    kept together, changes the count)."""
    from pyspark.sql import functions as F

    from ballet_spark.operators.dedup import decontaminate

    train = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    toks = F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "")
    bench = train.select(F.explode(toks).alias("text"))
    rows = decontaminate(train, bench, n=1).select(
        "doc_id", "n_contaminated_grams", F.size(F.array_distinct(toks)).alias("want")
    ).collect()
    assert len(rows) == len(docs)
    assert [(r.doc_id, r.n_contaminated_grams) for r in sorted(rows)] == [
        (r.doc_id, r.want) for r in sorted(rows)
    ]


def test_decontaminate_exotic_whitespace_counts(spark):
    """n=2 hit counts on docs mixing Java-whitespace ([ \\t\\n\\x0B\\f\\r])
    and characters only Python treats as whitespace (NBSP, \\x1c,
    \\x85, U+3000), which stay inside tokens."""
    from ballet_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame(
        [(100, "a\xa0b c d"), (101, "x\x1cy z"), (102, "p　q r")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "a\xa0b c d"),  # "a\xa0b c", "c d"
            (2, "a b c d"),  # "c d"
            (3, "x\x1cy\tz"),  # "x\x1cy z"
            (4, "x y z"),  # none: "x\x1cy" is one token
            (5, "p　q\x0br"),  # "p　q r"
            (6, "\x85c d\x85"),  # none: tokens "\x85c", "d\x85"
            (7, "\x0bc\fd\r"),  # "c d"
            (8, None), (9, ""), (10, "c"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.n_contaminated_grams
        for r in decontaminate(train, bench, n=2).collect()
    }
    assert got == {1: 2, 2: 1, 3: 1, 4: 0, 5: 1, 6: 0, 7: 1, 8: 0, 9: 0, 10: 0}
