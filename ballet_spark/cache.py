"""Deterministic release of operator-persisted intermediates.

The pair generators (dedup) and ANN builders (similarity) persist
shared intermediates because BOTH self-join sides and the verify stage
reference them — unpersisting inside the operator would silently
recompute the whole signature DAG per reference. That leaves the blocks
alive until the session ends, which accumulates executor storage
across repeated dedup calls.

This registry is the middle path: every operator-persist goes through
:func:`persist_tracked` under a SCOPE, and callers release exactly one
scope's blocks with :func:`release_caches(scope)` — no global
``spark.catalog.clearCache()`` that would also evict caches the caller
created for other reasons.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_PERSISTED: dict[str, list[DataFrame]] = {}


def persist_tracked(df: DataFrame, scope: str = "dedup") -> DataFrame:
    """``df.persist()`` + register the handle under ``scope`` for
    deterministic release. The persist is still lazy; callers that
    need eager materialization (self-join race protection) count()
    afterwards as before."""
    handle = df.persist()
    _PERSISTED.setdefault(scope, []).append(handle)
    return handle


def release_caches(scope: str | None = "dedup") -> int:
    """Unpersist (best-effort) every intermediate registered under
    ``scope`` (``None`` = every scope) and drop it from the registry.
    Returns how many handles were released. Safe after a session stop
    — dead handles are skipped. The default releases only the
    batch-dedup scope; every other scope is released only when named
    explicitly or with ``None``."""
    if scope is not None and not isinstance(scope, str):
        # a SparkSession/DataFrame passed by mistake would silently
        # release nothing (no registry key ever equals it) — the
        # stress harness did exactly this for two rounds
        raise TypeError(
            f"release_caches expects a scope string or None, got "
            f"{type(scope).__name__}"
        )
    scopes = list(_PERSISTED) if scope is None else [scope]
    n = 0
    for sc in scopes:
        for handle in _PERSISTED.pop(sc, []):
            try:
                handle.unpersist()
                n += 1
            except Exception:
                pass  # session stopped; blocks already gone
    return n


def live_caches() -> dict[str, int]:
    """``{scope: n}``: how many handles registered under each scope are
    still cached (storage level not ``NONE``). Read-only, and it starts
    no Spark job: each handle is only looked up in the cache manager.
    A handle that ``spark.catalog.clearCache()`` evicted, or whose
    session has stopped, is not counted; scopes with none live are
    left out."""
    out = {}
    for scope, handles in _PERSISTED.items():
        n = 0
        for handle in handles:
            try:
                n += handle.storageLevel != StorageLevel.NONE
            except Exception:
                pass  # session stopped
        if n:
            out[scope] = n
    return out


# analyzed-plan nodes that shuffle (or sort) their input: anything
# downstream of one already has >= shuffle-partitions parallelism
_SHUFFLE_NODES = frozenset({
    "Repartition", "RepartitionByExpression", "RebalancePartitions",
    "Aggregate", "Distinct", "Deduplicate", "Join", "Window", "Sort",
})


def spread_small_input(df: DataFrame, share: bool = False) -> DataFrame:
    """Round-robin a narrow input across the cluster's cores when it
    arrives in fewer partitions — the single-small-file (often
    single-ROW-GROUP, hence unsplittable) CI/ingest shape, where every
    fused map stage (regex kernels, Arrow UDF passes, explodes) would
    otherwise run on one or two tasks while the rest of the cluster
    idles. A real many-split 100 TB table already has >= cores
    partitions and passes through untouched, so the extra exchange
    exists exactly when it is trivially cheap (input smaller than one
    production split) and vanishes at scale. The one spread rule:
    every per-row-heavy operator calls this directly.

    Cost control: the partition-count probe (``df.rdd``) physically
    plans the whole query — measured ~0.27s of pure driver time on a
    deep mid-pipeline plan, and chained operators each re-probe. A
    plan that already contains a shuffle-introducing node (explicit
    repartition, aggregate, join, window, distinct, global sort)
    inherits >= spark.sql.shuffle.partitions parallelism downstream,
    so the probe is skipped for those by one walk over the analyzed
    plan's node names (never its text: a column named ``Join`` must
    not count as a join); the probe (and possible spread) only runs for
    narrow map lineages over a source — the one shape that can
    actually be a single small file.

    ``share=True`` additionally persists the spread output — ONLY when
    a spread actually fired, so the persist is bounded by the same
    guard that justifies the exchange (the input fits in fewer splits
    than the cluster has cores, i.e. at most a few production splits).
    For multi-pass consumers (fit+score gates, two-phase removals, a
    corpus referenced by several joins) this turns N scan+spread
    evaluations into one; on a real many-split table nothing is
    persisted and each pass re-scans columnar source — the cheaper
    choice at scale. Registered under scope ``"spread"`` for
    :func:`release_caches`; the persist is lazy (the first consuming
    job materializes it)."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            node = stack.pop()
            if node.nodeName() in _SHUFFLE_NODES:
                return df
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    except Exception:
        pass  # fall through to the exact probe
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        out = df.repartition(target)
        if share:
            out = persist_tracked(out, scope="spread")
        return out
    return df
