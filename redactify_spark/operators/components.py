"""Connected components over the match graph (canonicalization core).

GraphFrames is not a dependency.  Components are found by whole-array
passes inside `mapInPandas`, with Spark only routing edges between them
(the vectorized vertex-program shape of "Automating Vectorized
Distributed Graph Computation", SIGMOD 2024):

- local pass: each edge partition runs union-find with path halving
  over `np.unique` indices of its endpoints.  The union always hangs the
  larger root under the smaller, and the smallest index is the smallest
  node, so every local root is the min node of its local piece;
- contraction: a node seen in several partitions has one local root per
  partition.  One groupBy(node) keeps the smallest of them and emits a
  cross edge (smallest root, other root) for each of the rest;
- recursion: with no cross edges the local roots are the answer.
  Otherwise the cross edges -- a graph over roots only -- are solved the
  same way on half as many partitions, and each node maps through its
  root.  One partition can have no cross edges, so the recursion ends
  within ceil(log2 P) + 1 levels for P input partitions, with no round
  cap and no per-round convergence count.

Partitions that already hold whole components (the common case for
entity-linking match graphs, which are unions of small near-duplicate
clusters) give no cross edges, and the operator is a single pass.  Each
partition's edges sit in one Python worker at a time.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def local_roots(u: np.ndarray, v: np.ndarray
                ) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, roots): every endpoint of the undirected edges
    (u[i], v[i]) with the min node of its component, by union-find with
    path halving over sorted-unique indices."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = list(range(len(nodes)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    m = len(u)
    for a, b in zip(idx[:m].tolist(), idx[m:].tolist()):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    # every pointer goes to a smaller index, so pointer jumping reaches
    # the roots in O(log depth) whole-array steps
    p = np.asarray(parent, dtype=np.int64)
    while True:
        pp = p[p]
        if np.array_equal(pp, p):
            break
        p = pp
    return nodes, nodes[p]


def _local_pass(batches):
    """mapInPandas body: one partition's (u, v) edges -> (node, root)."""
    frames = list(batches)
    if not frames:
        return
    uv = pd.concat(frames, ignore_index=True)
    nodes, roots = local_roots(uv["u"].to_numpy(), uv["v"].to_numpy())
    yield pd.DataFrame({"node": nodes, "root": roots})


def connected_components(edges: DataFrame,
                         src: str = "key_a", dst: str = "key_b",
                         reliable_checkpoint: bool = False) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    `edges` is undirected input (one row per pair, either order); rows
    with a null endpoint are ignored.  An empty edge frame gives an
    empty result.

    Each level's frames are cut with a lazy localCheckpoint (executor
    block storage; lost on executor death, Spark then recomputes the
    cut plan).  Set reliable_checkpoint=True on a real cluster with a
    configured `spark.sparkContext.setCheckpointDir` to cut to
    fault-tolerant storage instead."""
    def cut(df: DataFrame) -> DataFrame:
        # lazy: the cut's upstream shuffle stages run now, its own
        # partitions inside the next consuming job
        return (df.checkpoint(eager=False) if reliable_checkpoint
                else df.localCheckpoint(eager=False))

    uv = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
          .dropna())
    return _components(uv, cut)


def _components(uv: DataFrame, cut) -> DataFrame:
    key_type = dict(uv.dtypes)["u"]
    roots = cut(uv.mapInPandas(_local_pass,
                               f"node {key_type}, root {key_type}"))
    n_parts = roots.rdd.getNumPartitions()
    if n_parts <= 1:
        # one partition saw every edge: each node has its final root
        return roots.withColumnRenamed("root", "component")
    labels = cut(roots.groupBy("node")
                 .agg(F.min("root").alias("component"),
                      F.collect_set("root").alias("_roots")))
    cross = (labels.where(F.size("_roots") > 1)
             .select(F.col("component").alias("u"),
                     F.explode("_roots").alias("v"))
             .where(F.col("u") != F.col("v")))
    labels = labels.drop("_roots")
    if cross.isEmpty():
        return labels
    merged = _components(cross.coalesce(max(1, n_parts // 2)), cut)
    return (labels.join(merged.select(F.col("node").alias("component"),
                                      F.col("component").alias("_final")),
                        "component", "left")
            .select("node", F.coalesce("_final", "component")
                    .alias("component")))


def merged_keys(edges: DataFrame) -> DataFrame:
    """(pseudo_key, canon_id) for the keys a match edge merges into a
    smaller key's component: the rows of `connected_components` with
    node != component.  Every other key is its own canon id, so this is
    all a canonical map needs to store."""
    comp = connected_components(edges)
    return (comp.where(F.col("node") != F.col("component"))
            .select(F.col("node").alias("pseudo_key"),
                    F.col("component").alias("canon_id")))


def canonicalize(df: DataFrame, merged: DataFrame) -> DataFrame:
    """`df` with a `canon_id` column: its `pseudo_key`'s entry in
    `merged`, else the key itself.  A left join plus coalesce, so it is
    exact for any (pseudo_key, canon_id) map that covers the merged
    keys, a full map with identity rows included."""
    return (df.join(merged, "pseudo_key", "left")
            .withColumn("canon_id", F.coalesce("canon_id", "pseudo_key")))


def canonical_map(mentions: DataFrame, edges: DataFrame) -> DataFrame:
    """(pseudo_key, canon_id): every mention key mapped to its component
    representative; singletons map to themselves."""
    return canonicalize(mentions.select("pseudo_key").distinct(),
                        merged_keys(edges))
