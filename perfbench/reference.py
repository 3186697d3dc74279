"""Independent references for the benchmark's outputs.

Each check runs once per run, untimed, after the timed ops, and
returns a list of mismatches (empty when the outputs are right):

- backfill: DuckDB SQL recomputes the 12 window and text features
  for a sample of urls from the source parquet and compares them with
  the materialized matrix (floats allclose, everything else equal);
  a DuckDB ``ASOF JOIN`` of the label probes is compared with the
  engine's as-of join, and DuckDB window sums over that join with the
  per-domain running stats of the training set;
- curation: exact word-3-gram Jaccard and numpy cosine of the planted
  pairs; every planted pair that clears the threshold must be found
  (its copy dropped from the canonical docs, or the embedding pair
  reported), no other doc may be dropped, and every embedding pair
  reported must clear the threshold.
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

SAMPLE_URLS = 300

_FEATURES_SQL = r"""
WITH p AS (
    SELECT url, warc_ts, text, lang, length(text)::DOUBLE AS text_len,
           epoch(warc_ts) AS t
    FROM read_parquet('{pages}/*.parquet')
    WHERE url IN (SELECT url FROM sample)
), g AS (
    SELECT *, t - lag(t) OVER w AS gap_s,
           regexp_replace(text, '^\s+|\s+$', '', 'g') AS cleaned,
           length(text) AS n,
           length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
           length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
    FROM p WINDOW w AS (PARTITION BY url ORDER BY warc_ts)
)
SELECT url, epoch_us(warc_ts) AS ts,
       n AS n_chars,
       CASE WHEN length(cleaned) = 0 THEN 0
            ELSE len(regexp_split_to_array(cleaned, '\s+')) END AS n_tokens,
       CASE WHEN n > 0 THEN n_punct / n ELSE 0.0 END AS punct_r,
       round(least(n / 500.0, 1.0)
             * (1.0 - least(CASE WHEN n > 0 THEN (n_digit + n_punct) / n ELSE 0.0 END, 1.0)),
             6) AS quality,
       lag(text_len) OVER w AS len_lag1,
       text_len - lag(text_len) OVER w AS len_delta,
       avg(text_len) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS len_roll5,
       sum(text_len) OVER (w ROWS UNBOUNDED PRECEDING) AS len_cum,
       last_value(lang IGNORE NULLS) OVER (w ROWS UNBOUNDED PRECEDING) AS lang_ffill,
       row_number() OVER w - 1 AS snap_idx,
       gap_s,
       sum(CASE WHEN gap_s > 86400 THEN 1 ELSE 0 END)
           OVER (w ROWS UNBOUNDED PRECEDING) AS session_id
FROM g WINDOW w AS (PARTITION BY url ORDER BY warc_ts)
"""

_ASOF_SQL = """
SELECT p.url, epoch_us(p.ts) AS ts, epoch_us(m.warc_ts) AS matched, m.n_chars
FROM read_parquet('{probes}/*.parquet') p
ASOF LEFT JOIN (
    SELECT url, warc_ts, n_chars
    FROM read_parquet('{matrix}/**/*.parquet', hive_partitioning = true)
) m ON p.url = m.url AND p.ts >= m.warc_ts
"""


_RUNNING_SQL = """
SELECT url, ts,
       count(n_chars) OVER w, sum(n_chars) OVER w, max(n_chars) OVER w
FROM (SELECT *, split_part(url, '/', 3) AS domain FROM probes_joined)
WINDOW w AS (PARTITION BY domain ORDER BY ts
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _compare(name: str, expected: dict, actual: dict, columns: list[str]) -> list[str]:
    problems = []
    if expected.keys() != actual.keys():
        missing = len(expected.keys() - actual.keys())
        extra = len(actual.keys() - expected.keys())
        problems.append(f"{name}: {missing} rows missing, {extra} unexpected")
    for key in sorted(expected.keys() & actual.keys()):
        for col, a, b in zip(columns, expected[key], actual[key]):
            if not _same(a, b):
                problems.append(f"{name}: {key} {col} expected {a!r}, got {b!r}")
                if len(problems) > 10:
                    return problems
    return problems


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
    con.execute("SET threads = 2")
    return con


def check_backfill(wl) -> list[str]:
    from workloads import FEATURES

    con = _duck()
    matrix = os.path.join(wl.root, "m")
    con.execute(
        f"CREATE TABLE sample AS SELECT DISTINCT url FROM read_parquet('{wl.cur.pages}/*.parquet') "
        f"ORDER BY md5(url) LIMIT {SAMPLE_URLS}"
    )
    cols = ", ".join(FEATURES)
    expected = {
        (r[0], r[1]): r[2:]
        for r in con.execute(_FEATURES_SQL.format(pages=wl.cur.pages)).fetchall()
    }
    actual = {
        (r[0], r[1]): r[2:]
        for r in con.execute(
            f"SELECT url, epoch_us(warc_ts), {cols} "
            f"FROM read_parquet('{matrix}/**/*.parquet', hive_partitioning = true) "
            "WHERE url IN (SELECT url FROM sample)"
        ).fetchall()
    }
    problems = _compare("features", expected, actual, FEATURES)
    con.execute(
        "CREATE TABLE probes_joined AS " + _ASOF_SQL.format(probes=wl.cur.probes, matrix=matrix)
    )
    ref = {(r[0], r[1]): r[2:] for r in con.execute("SELECT * FROM probes_joined").fetchall()}
    running = {(r[0], r[1]): r[2:] for r in con.execute(_RUNNING_SQL).fetchall()}
    con.close()
    rows = wl.training_rows()
    got = {(r[0], r[1]): r[2:4] for r in rows}
    problems += _compare("asof", ref, got, ["matched", "n_chars"])
    got = {(r[0], r[1]): r[4:] for r in rows}
    return problems + _compare("running stats", running, got, ["count", "sum", "max"])


def _grams(text: str, n: int = 3) -> set:
    toks = text.split()
    return {tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def check_curation(wl) -> list[str]:
    from workloads import COSINE_THRESHOLD, MINHASH_THRESHOLD

    problems = []
    docs = pq.read_table(wl.cur.docs)
    text = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    # each planted copy shares a component with its source only, so the
    # canonical docs are every doc minus the copies that clear the threshold
    dups = {
        b for a, b in wl.cur.planted_docs
        if _jaccard(_grams(text[a]), _grams(text[b])) >= MINHASH_THRESHOLD
    }
    for b in sorted(dups & wl.kept)[:5]:
        problems.append(f"minhash: planted near-duplicate {b} was kept")
    for b in sorted(set(text) - dups - wl.kept)[:5]:
        problems.append(f"minhash: doc {b} was dropped without a planted near-duplicate")
    if wl.kept - set(text):
        problems.append("canonical_docs: kept ids that are not in the corpus")

    emb = pq.read_table(wl.cur.emb)
    order = np.argsort(emb.column("vec_id").to_numpy())
    vec = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))[order]
    unit = vec / np.linalg.norm(vec, axis=1, keepdims=True)
    for a, b in wl.cur.planted_emb:
        if float(unit[a] @ unit[b]) >= COSINE_THRESHOLD and (a, b) not in wl.emb_pairs:
            problems.append(f"embedding: planted pair ({a}, {b}) not found")
    for a, b in wl.emb_pairs:
        if float(unit[a] @ unit[b]) < COSINE_THRESHOLD - 1e-9:
            problems.append(f"embedding: pair ({a}, {b}) below threshold")
    return problems[:20]
