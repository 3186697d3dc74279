"""Text/HTML kernels — JVM expressions and Arrow-batched Python UDFs.

Per BASELINE.json input_hint: all text/HTML-derived features are
computed batch-wise (no per-row Python UDF calls), and simple ones stay
JVM-side as Column expressions (whole-stage codegen). The reference's
free-form per-feature callables (e.g. ``X.str.len()`` in
docs/fragments/feature-engineering-guide-custom-transformer.py) map to
this module.

A kernel that needs Python is a plain function of one value, mapped
over a column by :func:`_arrow_map`'s ``F.arrow_udf``: only that column
crosses into Python, as Arrow, and tests call the same function
directly.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column
from pyspark.sql import functions as F

from ballet_spark.sources.webtext import extract_text, extract_title


def _arrow_map(fn, ddl: str):
    """Scalar ``F.arrow_udf`` applying ``fn`` to every non-NULL value of
    one column (NULL stays NULL); the boundary casts the results to the
    Spark type ``ddl``."""

    @F.arrow_udf(ddl)
    def _udf(col: pa.Array) -> pa.Array:
        return pa.array([None if v is None else fn(v) for v in col.to_pylist()])

    return _udf


# --------------------------------------------------------------------
# HTML → text (byte-identical contract)
# --------------------------------------------------------------------


def extract_text_col(html: Column) -> Column:
    return _arrow_map(extract_text, "string")(html)


def extract_title_col(html: Column) -> Column:
    return _arrow_map(extract_title, "string")(html)


# --------------------------------------------------------------------
# JVM-side scalar text features (no Python in the hot path)
# --------------------------------------------------------------------


def char_count(text: Column) -> Column:
    return F.length(text).cast("bigint")


def token_count(text: Column) -> Column:
    """Whitespace tokens; empty/blank ⇒ 0, NULL ⇒ NULL. Phantom ''
    tokens from leading/trailing newlines/tabs ('hello\\n' → 2, because
    ``F.trim`` strips only spaces) are prevented by stripping
    ALL edge whitespace with a regexp first: a fully-trimmed string
    split on ``\\s+`` cannot produce empty tokens (runs collapse), so
    no post-split filter is needed. Kept as plain codegen-capable
    expressions on purpose — ``F.filter``/``ArrayFilter`` is
    CodegenFallback and would drop every text-stat scan out of
    whole-stage codegen."""
    cleaned = F.regexp_replace(text, r"^\s+|\s+$", "")
    return F.when(F.length(cleaned) == 0, F.lit(0)).otherwise(
        F.size(F.split(cleaned, r"\s+"))
    ).cast("bigint")


def word_tokens(text: Column) -> Column:
    """BPE-ish regex tokenization: words, numbers, or single
    punctuation marks (array<string>)."""
    return F.regexp_extract_all(text, F.lit(r"([A-Za-z]+|[0-9]+|[^A-Za-z0-9\s])"), 1)


def bpe_ish_token_count(text: Column) -> Column:
    return F.size(word_tokens(text)).cast("bigint")


def _safe_ratio(num: Column, n: Column) -> Column:
    """num/n for n>0, 0.0 for n==0, NULL for NULL text — a NULL doc
    must NOT score as 'perfectly clean prose' (ratio 0.0) while the
    count kernels return NULL for the same row."""
    return F.when(n > 0, num.cast("double") / n.cast("double")).when(
        n == 0, F.lit(0.0)
    )


def digit_ratio(text: Column) -> Column:
    n = F.length(text)
    digits = n - F.length(F.regexp_replace(text, r"[0-9]", ""))
    return _safe_ratio(digits, n)


def punct_ratio(text: Column) -> Column:
    # ASCII \w on purpose: this is the Java∩RE2 portable regex subset
    # (the PII kernels' rule) so DuckDB oracles replay the identical
    # count. Unicode-aware \w ((?U), unsupported by RE2) would change
    # non-ASCII prose scores engine-side only.
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return _safe_ratio(punct, n)


def upper_ratio(text: Column) -> Column:
    n = F.length(text)
    upper = n - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    return _safe_ratio(upper, n)


def mean_word_len(text: Column) -> Column:
    toks = token_count(text)
    no_space = F.length(F.regexp_replace(text, r"\s", ""))
    return F.when(toks > 0, no_space.cast("double") / toks.cast("double")).otherwise(
        F.lit(0.0)
    )


_STOPWORDS = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "was", "at", "by", "that", "this", "be",
]


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of whitespace tokens that are (lowercased) stopwords."""
    # None means "use the default list"; an explicit [] means "no
    # stopwords" and must not silently fall back (`or` would)
    sw = _STOPWORDS if stopwords is None else stopwords
    if not sw:
        return F.lit(0.0)
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n = token_count(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return _safe_ratio(hits, n)


def quality_score(text: Column) -> Column:
    """Composite document-quality heuristic in [0, 1]:
    rewards mid-length docs and prose-like character statistics,
    penalizes digit/punct-heavy boilerplate. Pure JVM expression."""
    n_chars = F.length(text).cast("double")
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    penalty = digit_ratio(text) + punct_ratio(text)
    score = len_score * (F.lit(1.0) - F.least(penalty, F.lit(1.0)))
    return F.round(score, 6)


# --------------------------------------------------------------------
# Language identification (n-gram/stopword heuristic, Arrow kernel)
# --------------------------------------------------------------------

_LANG_MARKERS: dict[str, set[str]] = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "for", "with", "it"},
    "de": {"der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"},
    "fr": {"le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"},
    "es": {"el", "la", "los", "que", "de", "y", "en", "un", "una", "por"},
}


def lang_id(t: str) -> str:
    """Stopword-voting language ID. Deterministic tie-break: highest
    count wins, then alphabetical language code; no markers ⇒ 'und'."""
    toks = set(t.lower().split())
    best_lang, best_n = "und", 0
    for lang in sorted(_LANG_MARKERS):
        n = len(toks & _LANG_MARKERS[lang])
        if n > best_n:
            best_lang, best_n = lang, n
    return best_lang


def lang_id_col(text: Column) -> Column:
    return _arrow_map(lang_id, "string")(text)


# --------------------------------------------------------------------
# Document fingerprinting
# --------------------------------------------------------------------


def content_hash(text: Column) -> Column:
    """Exact-dedup key; md5 is available in both Spark and DuckDB so
    oracle checks can reproduce it."""
    return F.md5(text)


def rolling_fingerprint(t: str, k: int = 8, mod: int = 2**61 - 1) -> int:
    """Polynomial rolling-hash fingerprint: min of all k-gram hashes
    (a winnowing-style document signature)."""
    B = 1_000_003
    data = t.encode("utf-8")
    if len(data) < k:
        h = 0
        for ch in data:
            h = (h * B + ch) % mod
        return h
    # rolling window of width k
    pw = pow(B, k - 1, mod)
    h = 0
    best = None
    for i, ch in enumerate(data):
        if i >= k:
            h = (h - data[i - k] * pw) % mod
        h = (h * B + ch) % mod
        if i >= k - 1:
            best = h if best is None or h < best else best
    return best


def rolling_fingerprint_col(text: Column, k: int = 8) -> Column:
    return _arrow_map(lambda t: rolling_fingerprint(t, k=k), "long")(text)


def tf_idf_top_terms(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    min_token_len: int = 1,
):
    """Top-k TF-IDF terms per document over whitespace tokens.

    The corpus-statistics kernel of quality filtering / topic slicing:
    tf = term count / document token count, idf = ln((N+1)/(df+1)) with
    N = corpus size, df = number of documents containing the term.
    Returns (id, term, rank, tf_idf) with deterministic ties (score
    desc, term asc).

    Scale shape: the document token count (tf's denominator) is
    computed AT THE SCAN as `size()` of the kept-token array — zero
    shuffle — and rides the explode as a constant-per-doc grouping
    column, so the whole query is one explode + two hash aggregations
    (per-(doc,term) counts, per-term doc frequencies), one join on the
    term key, and one top-k window per document — every shuffle linear
    in token volume. The df table is corpus-wide but ≤ vocabulary
    size; Spark broadcasts it when small, shuffles on term otherwise
    (AQE decides). Everything is JVM-side (split/explode/agg) — no
    Python in the path.
    """
    from pyspark.sql import Window

    from ballet_spark.cache import spread_small_input

    # guide §2: the tokenize+explode scan is the dominant per-row work;
    # a single-small-file corpus would run it on 1-2 tasks (no-op on
    # real multi-split tables)
    spread = spread_small_input(df.select(F.col(id_col), F.col(text_col)))
    if min_token_len <= 1:
        # codegen-capable token count: a fully regexp-trimmed string
        # split on \s+ yields no empty tokens, so size(split) equals
        # size(filter(len >= 1)) exactly — and avoids ArrayFilter,
        # which is CodegenFallback and drops the whole scan Project
        # out of whole-stage codegen (the token_count lesson)
        cleaned = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
        tk = spread.select(
            F.col(id_col).alias("id"),
            F.when(F.length(cleaned) == 0, F.lit(0))
            .otherwise(F.size(F.split(cleaned, r"\s+")))
            .alias("len"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("tk"),
        )
    else:
        tk = spread.select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("tk"),
        ).select(
            "id",
            F.size(
                F.filter(F.col("tk"), lambda t: F.length(t) >= min_token_len)
            ).alias("len"),
            F.col("tk"),
        )
    toks = tk.select("id", "len", F.explode("tk").alias("term")).filter(
        F.length("term") >= min_token_len
    )
    # corpus size joins the DAG as a broadcast 1-row aggregate instead
    # of an eager driver-side count() — the function stays lazy and the
    # corpus is scanned only when the result is acted on
    n_docs = F.broadcast(df.agg(F.count(F.lit(1)).cast("double").alias("__n")))
    doc_term = toks.groupBy("id", "len", "term").agg(F.count(F.lit(1)).alias("cnt"))
    # document frequency as a COUNT WINDOW over the term partition, not
    # a second aggregation joined back: the join form evaluates the
    # whole tokenize+explode+agg subtree once per branch (measured 2x
    # at sf1.0), while the window form costs the same exchange on term
    # the dfreq agg needed anyway and reads doc_term exactly once.
    # Counts are integers — values are identical to the join form.
    scored = doc_term.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    ).crossJoin(n_docs).select(
        "id",
        "term",
        (
            (F.col("cnt").cast("double") / F.col("len"))
            * F.log((F.col("__n") + 1.0) / (F.col("df") + F.lit(1.0)))
        ).alias("tf_idf"),
    )
    w = Window.partitionBy("id").orderBy(F.desc("tf_idf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("id", "term", "rank", "tf_idf")
    )


# --------------------------------------------------------------------
# Gopher/C4-style heuristic curation rules (pure JVM expressions)
# --------------------------------------------------------------------

# Rule thresholds follow the published Gopher (Rae et al. 2021, table
# A1) and C4 heuristics, scaled where noted to the synthetic corpus's
# short fixtures. No reference analog (ballet has no curation rules);
# task-brief training-data-pipeline surface.
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_dup_line_frac": 0.30,
    "max_bullet_line_frac": 0.90,
    "max_ellipsis_line_frac": 0.30,
    "min_alpha_word_frac": 0.80,
    "max_symbol_word_ratio": 0.10,
}


def gopher_metrics(df, text_col: str = "text", id_cols=("doc_id",)):
    """Per-document curation metrics: word/line counts, duplicate-line
    fraction, bullet/ellipsis line fractions, alphabetic-word fraction,
    symbol-to-word ratio, mean word length.

    Everything is whole-stage-codegen'd JVM expressions over two
    materialized token arrays (lines, words) — no Python, no shuffle;
    the operator is a pure map and inherits the scan's partitioning,
    so it runs at input-scan speed on any corpus size. Lambdas see
    BOUND array columns (projected first) so the splits run once,
    not once per element: a higher-order-function lambda re-evaluates
    its argument expressions per element.
    """
    lines = F.split(F.col(text_col), "\n")
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    base = df.select(
        *[F.col(c) for c in id_cols],
        F.col(text_col).alias("__text"),
        lines.alias("__lines"),
        words.alias("__words"),
    )
    n_lines = F.size("__lines")
    n_words = F.size("__words")
    dup_lines = n_lines - F.size(F.array_distinct("__lines"))
    bullet = F.size(
        F.filter(
            F.col("__lines"),
            lambda l: l.startswith("- ") | l.startswith("* ") | l.startswith("•"),
        )
    )
    ellipsis = F.size(F.filter(F.col("__lines"), lambda l: l.endswith("...")))
    alpha = F.size(F.filter(F.col("__words"), lambda w: w.rlike("[A-Za-z]")))
    hashes = F.size(F.filter(F.col("__words"), lambda w: w.contains("#")))
    frac = lambda num, den: F.when(
        den > 0, num.cast("double") / den.cast("double")
    ).otherwise(F.lit(0.0))
    return base.select(
        *[F.col(c) for c in id_cols],
        n_words.cast("bigint").alias("n_words"),
        n_lines.cast("bigint").alias("n_lines"),
        F.round(frac(dup_lines, n_lines), 6).alias("dup_line_frac"),
        F.round(frac(bullet, n_lines), 6).alias("bullet_line_frac"),
        F.round(frac(ellipsis, n_lines), 6).alias("ellipsis_line_frac"),
        F.round(frac(alpha, n_words), 6).alias("alpha_word_frac"),
        F.round(frac(hashes, n_words), 6).alias("symbol_word_ratio"),
        # denominator = the SAME filtered word array as n_words (the
        # convenience mean_word_len() divides by token_count, whose
        # trim only strips spaces — a trailing newline/tab would add an
        # empty token and deflate the mean vs the oracle)
        F.round(
            frac(
                F.length(F.regexp_replace(F.col("__text"), r"\s", "")), n_words
            ),
            6,
        ).alias("mean_word_len"),
    )


def gopher_filter(df, text_col: str = "text", id_cols=("doc_id",), **overrides):
    """Metrics + a ``keep`` flag applying the Gopher-style gate. Pass
    threshold overrides by keyword (e.g. ``min_words=5`` for short
    fixtures)."""
    unknown = set(overrides) - set(GOPHER_DEFAULTS)
    if unknown:
        raise TypeError(
            f"unknown gopher threshold(s) {sorted(unknown)}; "
            f"valid: {sorted(GOPHER_DEFAULTS)}"
        )
    t = {**GOPHER_DEFAULTS, **overrides}
    m = gopher_metrics(df, text_col, id_cols)
    keep = (
        F.col("n_words").between(t["min_words"], t["max_words"])
        & F.col("mean_word_len").between(t["min_mean_word_len"], t["max_mean_word_len"])
        & (F.col("dup_line_frac") <= t["max_dup_line_frac"])
        & (F.col("bullet_line_frac") <= t["max_bullet_line_frac"])
        & (F.col("ellipsis_line_frac") <= t["max_ellipsis_line_frac"])
        & (F.col("alpha_word_frac") >= t["min_alpha_word_frac"])
        & (F.col("symbol_word_ratio") <= t["max_symbol_word_ratio"])
    )
    return m.select("*", keep.cast("boolean").alias("keep"))


def repetition_metrics(
    df,
    text_col: str = "text",
    id_cols=("doc_id",),
    top_n: int = 2,
    dup_n: int = 5,
):
    """Gopher repetition rules (Rae et al. 2021 table A1, occurrence
    form): per document,

    - ``top_{top_n}gram_frac`` — occurrences of the MOST FREQUENT word
      ``top_n``-gram / total ``top_n``-grams (boilerplate detector);
    - ``dup_{dup_n}gram_frac`` — fraction of ``dup_n``-gram occurrences
      whose gram appears more than once (templated-text detector).

    One Arrow-batched kernel, no shuffle: each doc's counters live
    entirely in its batch (Counter over the token ngrams), so the
    operator is a pure map like :func:`gopher_metrics` — the explode +
    per-doc groupBy formulation would shuffle every gram occurrence of
    a 100 TB corpus twice for a per-doc statistic. The same counting is
    replayed exactly by the DuckDB oracle's unnest + GROUP BY."""
    from collections import Counter

    import re

    # ASCII \s+, matching the Spark-side splits (Java regex) and the
    # DuckDB oracle (RE2): Python str.split() also breaks on unicode
    # whitespace (NBSP etc.), which would tokenize scraped web text
    # differently from every other path
    ws = re.compile(r"\s+", re.ASCII)

    def _one(t):
        if t is None:
            return {"top": 0.0, "dup": 0.0}
        toks = [w for w in ws.split(t) if w]

        def frac(n, mode):
            if len(toks) < n:
                return 0.0
            grams = Counter(
                tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
            )
            total = sum(grams.values())
            if mode == "top":
                return max(grams.values()) / total
            dup = sum(c for c in grams.values() if c > 1)
            return dup / total

        # RAW fractions — rounding happens in the caller's Spark
        # expression so both engines round identically (Python
        # round() is banker's, Spark/DuckDB round half-up)
        return {"top": frac(top_n, "top"), "dup": frac(dup_n, "dup")}

    out_type = pa.struct([("top", pa.float64()), ("dup", pa.float64())])

    @F.arrow_udf("struct<top:double, dup:double>")
    def udf(text: pa.Array) -> pa.Array:
        return pa.array([_one(t) for t in text.to_pylist()], type=out_type)

    base = df.select(*[F.col(c) for c in id_cols], udf(F.col(text_col)).alias("__r"))
    return base.select(
        *[F.col(c) for c in id_cols],
        F.col("__r.top").alias(f"top_{top_n}gram_frac"),
        F.col("__r.dup").alias(f"dup_{dup_n}gram_frac"),
    )


# ---------------------------------------------------------------------------
# PII redaction — pure-JVM regex kernels (shuffle-free, fuse into the scan)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 subset (no lookaround, no
# backrefs) so the engine and any SQL oracle agree byte-for-byte.
# Order matters for redaction: emails first (their local part can look
# like an id), then IPv4 (dots disambiguate from digit runs), then
# phone shapes, then bare long digit runs.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    ("phone", r"\b\d{3}[- ]\d{3}[- ]\d{4}\b", "[PHONE]"),
    ("long_id", r"\b\d{9,}\b", "[ID]"),
)


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-kind PII match counts (JVM ``regexp_count`` — vectorized,
    no Python). Counts are on the ORIGINAL text, before any
    redaction."""
    return {
        name: F.regexp_count(text, F.lit(pat))
        for name, pat, _ in PII_PATTERNS
    }


def redact_pii(text: Column) -> Column:
    """Replace every PII match with its bracketed token, in the fixed
    :data:`PII_PATTERNS` order — the curation scrub a training corpus
    gets before anything else reads it. Chained JVM
    ``regexp_replace``; whole-stage codegen keeps it in the scan
    stage."""
    out = text
    for _, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out
