"""Stage 4 — connected components, on the driver or distributed.

Two implementations with one contract, ``edges(src, dst) → assignments(node,
component)`` with component = min node id in the component:

- ``components_on_driver``: one Arrow collect of the edge list, a numpy
  hook-to-min + pointer-jumping labeler (``min_labels``), and the
  assignment table handed back as a local relation. One Spark job (the
  collect), whatever the graph's diameter.
- ``connected_components``: the two-phase large-star / small-star
  DataFrame-join formulation of Kiveris et al., "Connected Components in
  MapReduce and Beyond" (SOCC'14). Every iteration is a bounded number of
  shuffles on node ids, it converges in O(log^2 n) rounds (2-4 for
  near-dup clusters, whose diameter is tiny), and no component is ever
  held in one task or on the driver — so it serves graphs of any size.

``DedupPipeline.run`` picks the driver path when the verified-pair count
(an upper bound on the edge count) fits the driver's row budget,
``PipelineConfig.broadcast_key_limit``; the measured numbers are next to
that branch.

Node ids are 32-byte binary content_shas: globally unique at any corpus
scale (no 64-bit-collision risk at 10^12 files) and the component minimum
under byte-wise binary ordering equals the minimum of the hex rendering —
exactly FIXTURES.md F4's cluster_id = min content_sha. numpy's fixed-width
``S32`` ordering is the same unsigned byte-wise order, so the smallest
index after ``np.unique`` is the smallest sha.

In the star loop, each iteration ends with a lineage cut (localCheckpoint,
or parquet round-trip when a checkpoint dir is provided) — iterative plans
otherwise grow Catalyst lineage exponentially. Convergence is detected by
an order-insensitive fingerprint (count + sum of pair hashes) that rides
the materialization action itself via ``DataFrame.observe`` — no separate
fingerprint job per iteration (the loop is scheduling-overhead-bound at
high core counts, so jobs per iteration matter more than bytes).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, functions as F

from .signatures import sha_array, sha_values


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect strictly-larger neighbors of u to min(N(u) ∪ {u})."""
    nbrs = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("mn", "u").alias("m")).hint("shuffle_hash")
    # no distinct here: duplicate edges don't change small_star's mins and
    # its own distinct cleans the final set — saves one exchange/iteration
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect all smaller-or-equal neighbors of u (and u) to the minimum."""
    canon = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = canon.groupBy("u").agg(F.min("v").alias("m")).hint("shuffle_hash")
    via_nbrs = (
        canon.join(mins, "u")
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return via_nbrs.unionByName(self_edge).distinct()


def _cut_lineage(df: DataFrame, checkpoint_dir: str | None, tag: str) -> DataFrame:
    """Materialize + truncate lineage. The action taken here (eager
    localCheckpoint or parquet write) is the ONLY job of an iteration —
    the convergence fingerprint rides it as an observed metric."""
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=True)
    path = f"{checkpoint_dir}/cc_{tag}"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def connected_components(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """edges(src, dst) → assignments(node, component) with component = min id.

    Deterministic: output depends only on the input edge *set*.
    """
    # the edge set is tiny relative to the corpus (dedup graphs: a few % of
    # rows), but each iteration is ~6 shuffle stages — with parallelism-
    # first AQE coalescing each schedules defaultParallelism tasks of a few
    # ms, and scheduling dominates. Scope size-first coalescing to the loop
    # (iterations materialize eagerly inside it), restoring after.
    spark = edges.sparkSession
    _PF = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    pf_old = spark.conf.get(_PF, "true")
    spark.conf.set(_PF, "false")
    try:
        e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
        e = _cut_lineage(e, checkpoint_dir, "init")
        prev = None
        for it in range(max_iter):
            e = _small_star(_large_star(e))
            # the order-insensitive fingerprint is an observed metric on
            # the iteration's own materialization action (eager checkpoint
            # or parquet write) — obs.get returns instantly afterwards, so
            # convergence detection adds zero jobs
            obs = Observation(f"cc_fp_{it}")
            e = e.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
            )
            e = _cut_lineage(e, checkpoint_dir, f"iter{it % 2}")
            row = obs.get
            fp = (row["n"], row["h"])
            if fp == prev:
                break
            prev = fp
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} iterations"
            )
    finally:
        spark.conf.set(_PF, pf_old)

    # converged state: every edge points a node at its component root
    assign = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = assign.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    return assign.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )


def min_labels(src: np.ndarray, dst: np.ndarray, n: int) -> np.ndarray:
    """Component labels of the graph on nodes 0..n-1 with edges
    (src[i], dst[i]): label[v] = the smallest node connected to v.

    Each round hooks every root to the smallest root its cross edges reach
    (``np.minimum.at``), then jumps pointers (``label = label[label]``)
    until every node points at a root. A root only ever points at a
    smaller node of its component, so once no edge joins two labels, each
    component's label is its smallest node.
    """
    label = np.arange(n)
    while True:
        a, b = label[src], label[dst]
        live = a != b
        if not live.any():
            return label
        src, dst, a, b = src[live], dst[live], a[live], b[live]
        np.minimum.at(label, np.maximum(a, b), np.minimum(a, b))
        while True:
            up = label[label]
            if np.array_equal(up, label):
                break
            label = up


def components_on_driver(edges: DataFrame) -> DataFrame:
    """``connected_components`` for an edge list that fits on the driver:
    one ``toArrow`` collect, ``min_labels`` over the np.unique numbering
    (index order = byte order, so the smallest index is the min id), and
    the (node, component) table back as a Spark relation. Same output."""
    t = edges.select("src", "dst").where(F.col("src") != F.col("dst")).toArrow()
    src, dst = sha_values(t.column("src")), sha_values(t.column("dst"))
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    label = min_labels(idx[: len(src)], idx[len(src) :], len(nodes))
    table = pa.table({"node": sha_array(nodes), "component": sha_array(nodes[label])})
    return edges.sparkSession.createDataFrame(table)
