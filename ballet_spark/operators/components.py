"""Connected components over near-duplicate pair graphs.

The canonical follow-up to every pair-producing dedup operator
(exact/ngram/MinHash/SimHash/embedding): pairs are edges, and the
training-data pipeline needs each document mapped to ONE canonical
representative (the minimum id of its duplicate cluster) so the corpus
can be filtered to one row per cluster.

No reference analog (ballet has no dedup); required by the task brief's
dedup family as the "resolve pairs to clusters" step.

Scale design: iterative min-label propagation expressed as DataFrame
joins — each round is one equi-join plus one groupBy (both linear,
shuffle on node id), and the number of rounds is the graph diameter.
Near-dup graphs are unions of small dense cliques (diameter 1-3 in
practice), so the loop converges in a handful of rounds; ``max_iter``
bounds adversarial chains. Each round persists its label table and
truncates lineage so the plan does not grow superlinearly — the loop
is driver-coordinated but every data operation is distributed (the
only collect is a 1-row convergence count, which Spark cannot express
declaratively).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    small_graph_threshold: int = 200_000,
) -> DataFrame:
    """Map every node of the pair graph to its component's minimum id.

    Returns (id, component): one row per distinct node appearing in
    ``pairs``; ``component`` is the smallest node id reachable through
    any chain of pairs (including the node itself).

    Min-label propagation: labels start as each node's own id; every
    round replaces a node's label with the minimum label among itself
    and its neighbors. A label decreases monotonically and the minimum
    of a component spreads one hop per round, so the loop converges in
    at most ``diameter`` rounds and the fixpoint is exact (not
    approximate) — convergence is detected by counting changed labels.

    Small-graph fast path: near-dup PAIR graphs are tiny relative to
    the corpus (edges exist only between actual duplicates), and each
    distributed round costs a fixed multi-job overhead that dwarfs the
    work when the edge list is thousands of rows. One collect capped at
    ``small_graph_threshold + 1`` edges decides the path: at most
    ``small_graph_threshold`` edges are solved by union-find on the
    driver — the same capped-collect discipline as
    ``frequent_lines`` / ``head_keys`` (200k edges ≈ a few MB), with
    identical output (min reachable id per node). Larger graphs take
    the distributed loop unchanged."""
    # materialize the pair set ONCE before symmetrizing: the union
    # references it twice, and pair producers (LSH verify joins) are
    # far too expensive to recompute per reference
    pairs = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b")).localCheckpoint(
        eager=True
    )
    # one capped collect decides the path AND feeds the fast path (no
    # separate count job); over the cap the distributed loop runs
    rows = pairs.limit(small_graph_threshold + 1).collect()
    if len(rows) <= small_graph_threshold:
        import pyarrow as pa

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for a, b in rows:
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so every root is its component's
                # smallest id at all times
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        # a pyarrow Table cast to the DDL plans as a LocalRelation (no
        # RDD of pickled rows, so downstream joins start no Python
        # worker); an empty graph still gets the typed schema
        schema = pairs.schema["a"].dataType.simpleString()
        ids = list(parent)
        result = pairs.sparkSession.createDataFrame(
            pa.table({"id": ids, "component": [find(x) for x in ids]}),
            f"id {schema}, component {schema}",
        )
        pairs.unpersist()
        return result
    # symmetric closure: propagate along both directions of each pair
    edges = pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b")))
    # localCheckpoint (not just persist): each round's labels feed the
    # next round's plan, so without truncation Catalyst re-optimizes a
    # join tree that deepens every iteration — analysis time grows
    # superlinearly and dominates past ~8 rounds. Checkpointing cuts
    # the lineage to the materialized blocks (same contract GraphX and
    # every iterative-on-Spark algorithm uses).
    edges = edges.distinct().localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )

    for _ in range(max_iter):
        # candidate label for node a: min over neighbors' current labels
        nbr = (
            edges.join(labels, edges["b"] == labels["id"])
            .select(F.col("a").alias("id"), "component")
        )
        hop = (
            nbr.union(labels.select("id", "component"))
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
        # pointer jumping (path halving): follow the label's own label,
        # so the effective propagation distance doubles per round and
        # convergence is O(log diameter) instead of O(diameter)
        tgt = hop.select(
            F.col("id").alias("t_id"), F.col("component").alias("t_comp")
        )
        new_labels = (
            hop.join(tgt, hop["component"] == tgt["t_id"], "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("t_comp", "component")
                ).alias("component"),
            )
            # lazy checkpoint: the convergence count below materializes
            # it, so each round costs ONE Spark job, not two
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        # the convergence count above consumed the OLD labels for the
        # last time. unpersist() frees persist()-style caches; the
        # localCheckpoint BLOCKS are released by the ContextCleaner once
        # the last reference drops — which the rebinding below does —
        # so at most two label tables are ever reachable, not R of them
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break

    # the returned frame is backed by its own checkpoint blocks only;
    # drop the edge/pair references so their blocks become collectable
    pairs.unpersist()
    edges.unpersist()
    return labels.select("id", "component")


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Filter a corpus to one representative row per duplicate cluster.

    Documents appearing in ``pairs`` keep only the minimum-id member of
    their connected component; documents in no pair pass through
    untouched (left-anti join against the non-canonical set — the big
    side is never shuffled beyond that one equi-join)."""
    comp = connected_components(pairs, src, dst)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
