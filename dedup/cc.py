"""Connected components of the verified-edge graph (N7).

Replaces the reference's transitive grouping-by-hashmap-key
(reference: /root/reference/src/server.rs:18 — a DashMap keyed by exact hash
IS the connected components of an equality graph). Near-dup similarity is not
transitive, so the verified-edge graph needs real CC.

Algorithm, one path with two exits:

- While the graph has more than ``_LOCAL_EDGES`` edges, contract it in
  Spark with alternating large-star / small-star rounds (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC 2014). Each round
  rewires edges toward smaller ids and never adds edges; O(log n) rounds
  turn every component into a star around its minimum (a 10⁴-node path
  takes 14). ``cc_max_iters`` bounds these rounds; running out raises,
  it never truncates. If a round leaves stars, labels are read off the
  star centres.
- Once the edges fit under ``_LOCAL_EDGES`` they are collected in one
  ``toArrow()`` job and labeled on the driver by a numpy union-find
  (hook each root to its smallest neighbouring root, then pointer-jump to
  full compression; repeat until no edge spans two trees).

The bound exists because the driver holds the edges, their distinct ids and
the label table at once. At 2²⁰ random edges over 1.2M ids (4-core host,
1 GiB driver heap) the driver exit took 8-10 s with a 380 MB Python peak
RSS, where six Spark rounds took 53-61 s. Duplicate graphs are small, so
almost every run takes the driver exit with zero Spark rounds: one collect
instead of a job-latency-bound loop.

Returns (conv_id, cluster_id) where cluster_id = min conv_id in the
component, in Spark's binary UTF-8 (= code point) order — deterministic,
unlike the reference's random-seeded hash keys and nondeterministic DashMap
iteration order (src/formatter.rs:45).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: edge count at or below which the graph is collected and finished on the
#: driver; above it, Spark contraction rounds run until it fits.
_LOCAL_EDGES = 1 << 20


def cc_loop_width(n_edges: int, parallelism: int) -> int:
    """Shuffle width for the contraction rounds, EDGE-PROPORTIONAL (not a
    fixed fraction of cluster parallelism): width scales with the
    SYMMETRIC adjacency row count (2·edges) at ~250k rows/task, clamped to
    [2, 8×parallelism] (more partitions than cores is fine — it bounds
    per-task memory; fewer than 2 never makes sense). Rounds never add
    edges, so the width sized from the input edge count holds for all."""
    return max(2, min((2 * n_edges + 250_000 - 1) // 250_000, 8 * parallelism))


def connected_components(
    edges: DataFrame,
    max_iters: int = 25,
    log=None,
    n_edges: int | None = None,
    input_deduped: bool = False,
    metrics_out: dict | None = None,
) -> DataFrame:
    """edges(conv_a, conv_b) → labels(conv_id, cluster_id).

    ``max_iters``: Spark contraction rounds allowed before raising.
    ``n_edges``: optional pre-known (deduplicated) edge count — callers that
    already counted the edge table (the pipeline's stage checkpoint) pass it
    so the bound is checked without an extra job.
    ``input_deduped``: the caller guarantees one row per undirected pair
    (the pipeline's edge stage is unique by construction), skipping the
    defensive dropDuplicates shuffle and the pre-count checkpoint.
    ``metrics_out``: optional dict filled with ``cc_edges``,
    ``cc_loop_width``, ``cc_rounds`` (Spark rounds, +1 for the driver
    finish) and ``cc_local_edges`` (edges finished on the driver) — the
    caps-audit contract: every bound in force is reported, so a run is
    auditable from its metrics JSON alone.
    """
    from dedup.util import persistent_rdd_ids, unpersist_ids

    spark = edges.sparkSession
    # every frame this function pins (localCheckpoint) is freed before
    # returning — at the RDD-id level: DataFrame.unpersist() is a no-op for
    # localCheckpoint-ed frames (the cache manager never saw their RDDs)
    pre_ids = persistent_rdd_ids(spark)

    edges = edges.select("conv_a", "conv_b")
    if not input_deduped:
        edges = edges.dropDuplicates()
    if n_edges is None:
        if not input_deduped:
            edges = edges.localCheckpoint()
        n_edges = edges.count()
    width = cc_loop_width(n_edges, spark.sparkContext.defaultParallelism)
    metrics = {"cc_edges": n_edges, "cc_loop_width": width, "cc_local_edges": 0}

    rounds, stars = 0, False
    while not stars and n_edges > _LOCAL_EDGES:
        if rounds == max_iters:
            raise RuntimeError(
                f"connected components did not converge in {max_iters} rounds"
            )
        edges = _small_star(_large_star(edges, width), width).distinct().localCheckpoint()
        rounds += 1
        n_edges, unsettled = _star_stats(edges)
        stars = unsettled == 0
        if log:
            log(f"cc round {rounds}: {n_edges} edges, {unsettled} nodes off a star")

    # the result is cut loose from every frame pinned above, then they go
    pinned = persistent_rdd_ids(spark) - pre_ids
    if stars:
        # every edge is (leaf, centre) and the centre is the minimum
        out = (
            edges.select(F.col("conv_a").alias("conv_id"), F.col("conv_b").alias("cluster_id"))
            .unionByName(
                edges.select(F.col("conv_b").alias("conv_id"), F.col("conv_b").alias("cluster_id"))
                .distinct()
            )
            .localCheckpoint()
        )
    else:
        out = _driver_labels(edges)
        rounds += 1
        metrics["cc_local_edges"] = n_edges
    unpersist_ids(spark, pinned)
    if metrics_out is not None:
        metrics_out.update(metrics, cc_rounds=rounds)
    return out


def _large_star(edges: DataFrame, width: int) -> DataFrame:
    """Link every neighbour v > u of every node u to min(N(u) ∪ {u})."""
    g = (
        edges.unionByName(
            edges.select(F.col("conv_b").alias("conv_a"), F.col("conv_a").alias("conv_b"))
        )
        .repartition(width, "conv_a")
        .groupBy("conv_a")
        .agg(F.min("conv_b").alias("m"), F.collect_list("conv_b").alias("nbrs"))
    )
    return (
        g.select(
            F.col("conv_a").alias("u"),
            F.explode("nbrs").alias("conv_a"),
            F.least("conv_a", "m").alias("conv_b"),
        )
        .where(F.col("conv_a") > F.col("u"))
        .drop("u")
    )


def _small_star(edges: DataFrame, width: int) -> DataFrame:
    """Link every node u and each neighbour v < u to min(v < u)."""
    g = (
        edges.select(
            F.greatest("conv_a", "conv_b").alias("u"), F.least("conv_a", "conv_b").alias("v")
        )
        .repartition(width, "u")
        .groupBy("u")
        .agg(F.min("v").alias("m"), F.collect_list("v").alias("nbrs"))
    )
    return (
        g.select(
            F.explode(F.array_union("nbrs", F.array("u"))).alias("conv_a"),
            F.col("m").alias("conv_b"),
        )
        .where(F.col("conv_a") != F.col("conv_b"))
    )


def _star_stats(edges: DataFrame) -> tuple[int, int]:
    """(edge count, nodes that keep the (leaf → centre) edges from being a
    star forest): a node with two out-edges, or one that both points at a
    centre and is pointed at. Small-star edges all point to smaller ids."""
    per_node = (
        edges.select(F.col("conv_a").alias("n"), F.lit(1).alias("o"), F.lit(0).alias("i"))
        .unionByName(edges.select(F.col("conv_b").alias("n"), F.lit(0).alias("o"), F.lit(1).alias("i")))
        .groupBy("n")
        .agg(F.sum("o").alias("o"), F.max("i").alias("i"))
    )
    row = per_node.agg(
        F.sum("o").alias("edges"),
        F.count(F.when((F.col("o") > 1) | ((F.col("o") > 0) & (F.col("i") > 0)), 1)).alias("bad"),
    ).first()
    return int(row["edges"] or 0), int(row["bad"])


def _driver_labels(edges: DataFrame) -> DataFrame:
    """Collect the edges and label them on the driver (see module doc)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = edges.toArrow()
    ends = pa.chunked_array(t["conv_a"].chunks + t["conv_b"].chunks, type=t.schema.field("conv_a").type)
    # sorted distinct ids: code order is binary UTF-8 order, Spark's string
    # order, so the smallest code in a component is its min conv_id
    names = pc.unique(ends)
    names = names.take(pc.sort_indices(names))
    a = pc.index_in(t["conv_a"], value_set=names).to_numpy()
    b = pc.index_in(t["conv_b"], value_set=names).to_numpy()
    roots = _min_roots(len(names), a, b)
    labels = pa.table({"conv_id": names, "cluster_id": names.take(pa.array(roots))})
    # createDataFrame ships one partition per Arrow batch
    # (arrow.maxRecordsPerBatch rows); merging them is narrow
    spark = edges.sparkSession
    return spark.createDataFrame(labels, "conv_id string, cluster_id string").coalesce(
        spark.sparkContext.defaultParallelism
    )


def _min_roots(n: int, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """roots[i] = smallest node of i's component, for edges (a[k], b[k])
    over nodes 0..n-1."""
    parent = np.arange(n, dtype=np.int64)
    while a.size:
        # hook: each root adjacent to a smaller root points at the smallest
        # one; pointers only decrease, so the forest stays acyclic
        np.minimum.at(parent, np.maximum(a, b), np.minimum(a, b))
        while True:  # pointer jumping until every node points at its root
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
        a, b = parent[a], parent[b]
        spans = a != b  # edges still joining two trees
        a, b = a[spans], b[spans]
    return parent
