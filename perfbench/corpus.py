"""Seeded synthetic inputs for the benchmark.

Every table is a pure function of ``(seed, size)`` and is cached on
disk under that key, so repeated runs with one seed pay generation
once. Generation is vectorised numpy/pyarrow and runs outside Spark,
in a child process (``python3 corpus.py <cache dir> <workload> <seed>``):
it is input preparation, not program work, and it must neither warm
the JVM nor raise the peak RSS of the process the benchmark measures.

The webtext table has the shape of ``ballet_spark.sources.webtext``:
Zipf-skewed domains, several snapshots per url with irregular gaps
(some longer than a day), a nullable ``lang`` and paragraph text.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = [
    "data", "web", "page", "crawl", "feature", "engine", "spark", "join",
    "window", "session", "text", "token", "model", "train", "value",
    "time", "stamp", "stream", "batch", "scale", "shard", "index", "query",
    "plan", "merge", "sort", "hash", "group", "count", "mean", "world",
    "open", "source", "archive", "domain", "host", "path", "link", "node",
    "graph", "table", "row", "column", "type", "null", "byte", "char",
    "word", "line", "block",
]
LANGS = ["en", "de", "fr", "es"]
LANG_P = [0.6, 0.17, 0.13, 0.1]
TLDS = ["com", "org", "net", "io", "dev"]
EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
N_DOMAINS = 500
N_FILES = 8
EMBED_DIM = 64


def _offsets(lengths: np.ndarray) -> pa.Array:
    off = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=off[1:])
    return pa.array(off, type=pa.int32())


def _texts(rng: np.random.Generator, n: int) -> pa.Array:
    """``n`` documents of 1-4 paragraphs of 5-44 vocabulary words;
    words joined by spaces, paragraphs by newlines."""
    n_paras = 1 + rng.integers(0, 4, n)
    para_words = 5 + rng.integers(0, 40, int(n_paras.sum()))
    words = pa.array(VOCAB).take(pa.array(rng.integers(0, len(VOCAB), int(para_words.sum()))))
    paras = pc.binary_join(pa.ListArray.from_arrays(_offsets(para_words), words), " ")
    return pc.binary_join(pa.ListArray.from_arrays(_offsets(n_paras), paras), "\n")


def webtext_table(seed: int, n_pages: int) -> pa.Table:
    """(url, warc_ts, text, lang) rows, one per page snapshot."""
    rng = np.random.default_rng([seed, n_pages, 1])
    rank = np.minimum(rng.zipf(1.4, n_pages), N_DOMAINS)
    names = pa.array([f"d{r:05d}.{TLDS[r % len(TLDS)]}" for r in range(N_DOMAINS + 1)])
    url = pc.binary_join_element_wise(
        "https://", names.take(pa.array(rank)), "/p/",
        pc.cast(pa.array(np.arange(n_pages)), pa.string()), "",
    )
    # hot domains are re-crawled more often
    n_snaps = 1 + rng.integers(0, 4, n_pages) + np.where(rank <= 3, 3, 0)
    page = np.repeat(np.arange(n_pages), n_snaps)
    first = np.zeros(n_pages, dtype=np.int64)
    first[1:] = np.cumsum(n_snaps)[:-1]
    n_rows = len(page)
    # gaps: mostly minutes to hours, a quarter longer than a day
    long_gap = rng.random(n_rows) < 0.25
    gap = np.where(
        long_gap,
        (26 + rng.integers(0, 96, n_rows)) * 3600,
        (5 + rng.integers(0, 600, n_rows)) * 60,
    )
    gap[first] = 0
    run = np.cumsum(gap)
    start = EPOCH_S + rng.integers(0, 24 * 90, n_pages) * 3600
    ts = start[page] + run - run[first][page]
    base_lang = rng.choice(len(LANGS), size=n_pages, p=LANG_P)[page]
    lang = pa.array(np.array(LANGS, dtype=object)[base_lang], mask=rng.random(n_rows) < 0.3)
    return pa.table(
        {
            "url": url.take(pa.array(page)),
            "warc_ts": pa.array(ts * 1_000_000, type=pa.timestamp("us", tz="UTC")),
            "text": _texts(rng, n_rows),
            "lang": lang,
        }
    )


def _write(table: pa.Table, path: str) -> None:
    """Write ``table`` as ``N_FILES`` parquet files, so a scan has at
    least as many splits as the benchmark has cores."""
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:02d}.parquet"))


class Cache:
    """Directory of generated tables keyed by ``(name, seed, size)``."""

    def __init__(self, root: str):
        self.root = root

    def get(self, name: str, seed: int, size: int) -> tuple[str, dict]:
        """Path of the cached table ``name`` and its side data, built
        first by ``BUILDERS[name]`` if it is not cached yet."""
        path = os.path.join(self.root, f"{name}-s{seed}-n{size}")
        side = os.path.join(path, "_side.json")
        if not os.path.exists(side):
            # build beside the target and rename: a reader never sees a
            # half-written table, and when two processes race the first copy wins
            tmp = f"{path}.tmp{os.getpid()}"
            table, extra = BUILDERS[name](seed, size)
            _write(table, tmp)
            with open(os.path.join(tmp, "_side.json"), "w") as f:
                json.dump(extra, f)
            try:
                os.rename(tmp, path)
            except OSError:
                shutil.rmtree(tmp)
        with open(side) as f:
            return path, json.load(f)


def pages(seed: int, n_pages: int):
    t = webtext_table(seed, n_pages)
    return t, {"rows": t.num_rows}


def probes(seed: int, n_pages: int):
    """(url, ts, label) probes: one per sampled page snapshot, taken
    0-72h after it, and 5% taken 400 days earlier, before any snapshot
    in the corpus, so they match nothing. The label leans on ``lang``."""
    t = webtext_table(seed, n_pages)
    rng = np.random.default_rng([seed, n_pages, 2])
    n = t.num_rows // 2
    pick = np.sort(rng.choice(t.num_rows, size=n, replace=False))
    ts = t.column("warc_ts").cast(pa.int64()).to_numpy()[pick]
    offset = rng.integers(0, 72 * 3600, n) * 1_000_000
    before = rng.random(n) < 0.05
    ts = np.where(before, ts - 86_400 * 1_000_000 * 400, ts + offset)
    lang = t.column("lang").take(pa.array(pick)).to_pylist()
    p = np.array([0.7 if v == "en" else 0.3 for v in lang])
    return pa.table(
        {
            "url": t.column("url").take(pa.array(pick)),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "label": pa.array((rng.random(n) < p).astype(np.int32)),
        }
    ), {"rows": n}


def _last_word_swapped(text: str, rng: np.random.Generator) -> str:
    head, last = text.rsplit(" ", 1)
    word = VOCAB[int(rng.integers(0, len(VOCAB)))]
    while word == last:
        word = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return f"{head} {word}"


def docs(seed: int, n_docs: int, dup_share: float = 0.05, min_tokens: int = 40):
    """(doc_id, text) with ``dup_share`` of the docs that have at least
    ``min_tokens`` words copied once with the last word swapped: a
    planted near-duplicate whose word-3-gram Jaccard with its source
    is at least (n-1)/(n+1) for n grams."""
    rng = np.random.default_rng([seed, n_docs, 3])
    text = _texts(rng, n_docs).to_pylist()
    n_tok = np.array([len(t.split()) for t in text])
    eligible = np.flatnonzero(n_tok >= min_tokens)
    src = np.sort(rng.choice(eligible, size=int(dup_share * n_docs), replace=False))
    copies = [_last_word_swapped(text[i], rng) for i in src]
    ids = np.arange(n_docs + len(src), dtype=np.int64)
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(text + copies)})
    planted = [[int(a), int(n_docs + k)] for k, a in enumerate(src)]
    return table, {"rows": table.num_rows, "planted": planted}


def embeddings(seed: int, n_vecs: int, cluster_share: float = 0.05, members: int = 3):
    """(vec_id, embedding) standard-normal vectors; ``cluster_share``
    of the ids become planted clusters of ``members`` vectors drawn
    tightly around one centre (pairwise cosine about 0.99)."""
    rng = np.random.default_rng([seed, n_vecs, 4])
    v = rng.standard_normal((n_vecs, EMBED_DIM))
    n_clusters = int(cluster_share * n_vecs) // members
    ids = rng.permutation(n_vecs)[: n_clusters * members].reshape(n_clusters, members)
    centre = rng.standard_normal((n_clusters, EMBED_DIM))
    for j in range(members):
        v[ids[:, j]] = centre + 0.07 * rng.standard_normal((n_clusters, EMBED_DIM))
    flat = pa.array(v.ravel())
    emb = pa.ListArray.from_arrays(_offsets(np.full(n_vecs, EMBED_DIM)), flat)
    table = pa.table({"vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)), "embedding": emb})
    planted = [
        [int(min(a, b)), int(max(a, b))]
        for row in ids.tolist()
        for i, a in enumerate(row)
        for b in row[i + 1:]
    ]
    return table, {"rows": n_vecs, "planted": planted}


BUILDERS = {"pages": pages, "probes": probes, "docs": docs, "embeddings": embeddings}

# the tables each workload reads, with their sizes (pages, docs, vectors)
INPUTS = {
    "backfill": {"pages": 4_000, "probes": 4_000},
    "curation": {"docs": 5_000, "embeddings": 5_000},
}


def prepare(cache_root: str, workload: str, seed: int) -> None:
    cache = Cache(cache_root)
    for name, size in INPUTS[workload].items():
        cache.get(name, seed, size)


if __name__ == "__main__":
    # python3 corpus.py <cache dir> <workload> <seed>: fill the cache.
    # The benchmark runs this as a child process, so that generation
    # neither counts in its set-up time nor raises its peak RSS.
    import sys

    prepare(sys.argv[1], sys.argv[2], int(sys.argv[3]))
