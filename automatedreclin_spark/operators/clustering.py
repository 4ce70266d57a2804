"""Transitive clustering: connected components on a pair/edge DataFrame.

The north rule's final stage: accepted match pairs → entity clusters by
transitive closure. The pipeline labels a candidate graph that fits the
driver directly with ``_components_local`` and ``cluster_matches_local``:
no Spark job, and the pipeline writes their frames as pandas-written
snapshots (pyarrow). Within Spark, a graph
whose canonical edge set fits the driver
(fewer than ``_FINISH_LOCAL`` = 2M edges, ~32 MB of int64 pairs) is
collected once and labeled exactly in vectorized numpy: 3 Spark jobs per
call on a 10k-edge graph, whatever its diameter. Labeling a graph at the
bound peaks at ~0.21 GB of numpy arrays on the driver. A larger
graph runs the alternating large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) as a
pure-DataFrame iteration with the lineage cut every round, until the edge
set fits or stops changing.

Algorithm (on undirected edges (u, v), node ids are longs):
- large-star: for each node u, connect every strictly-larger neighbor v > u
  to u's minimum neighbor (including u itself);
- small-star: for each node u, connect every neighbor ≤ u (and u) to the
  minimum such neighbor.
Rounds preserve components. Iterate until the edge set is stable; final
edges (u → root) give ``component = min node id`` per cluster.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from automatedreclin_spark.operators.util import cut_lineage, release_checkpoint

#: canonical edge count below which connected_components collects the edge
#: set and finishes on the driver: 2M int64 pairs are ~32 MB there (the size
#: of selection's _MUTUAL_BEST_FINISH_LOCAL). From it up, distributed rounds
#: run until the edge set fits; 0 keeps every graph distributed.
_FINISH_LOCAL = 2_000_000


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge set, self-loops dropped, canonical (min, max) order."""
    return (
        edges.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    # Neighborhoods over both directions; emit (v, m) for v > u where
    # m = min(neighbors(u) ∪ {u}).
    nbrs = edges.select("u", "v").unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn")).withColumn(
        "m", F.least("mn", F.col("u"))
    ).select("u", "m")
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    # Orient edges so u >= v; for each u connect all small neighbors and u to
    # the minimum small neighbor.
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    to_min = oriented.join(mins, "u").select(
        F.col("v").alias("u"), F.col("m").alias("v")
    )
    self_to_min = mins.select(F.col("u"), F.col("m").alias("v"))
    return to_min.unionAll(self_to_min)


def _materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``cut_lineage(df)`` and its row count, observed while the checkpoint
    is written: a separate ``count()`` would be one more job (two under
    adaptive execution) every round."""
    obs = Observation("edges")
    df = cut_lineage(df.observe(obs, F.count(F.lit(1)).alias("n")))
    return df, obs.get["n"]


def _components_local(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact (node, min node id of its component) for the undirected edges
    (u, v), computed on the driver with no Python loop per edge.

    Nodes are renumbered to their rank, so the minimum rank is the minimum
    id. Every round hooks the larger root of each edge whose ends still
    have different roots onto the smaller one (``np.minimum.at``), then
    pointer-jumps until every node points at a root. A label only ever
    decreases and stays inside its component, so at the fixed point (every
    edge's ends share a root) each component's root is its minimum node.
    Each round removes at least one root."""
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = idx[: len(u)], idx[len(u):]
    label = np.arange(len(nodes))
    while True:
        lu, lv = label[ui], label[vi]
        split = lu != lv
        if not split.any():
            return nodes, nodes[label]
        lu, lv = lu[split], lv[split]
        np.minimum.at(label, np.maximum(lu, lv), np.minimum(lu, lv))
        while True:
            jumped = label[label]
            if np.array_equal(jumped, label):
                break
            label = jumped


def connected_components(
    edges: DataFrame,
    u_col: str = "u",
    v_col: str = "v",
    max_iter: int = 50,
) -> DataFrame:
    """Returns (id, component) for every node appearing in ``edges``;
    component = minimum node id in the cluster.

    The canonical edge set is materialized and counted once. While it holds
    ``_FINISH_LOCAL`` edges or more, large-star/small-star rounds shrink
    it (two shuffles per star step, lineage cut each round by
    ``cut_lineage``; O(log n) rounds). As soon as it fits, it is collected
    and finished exactly on the driver, which then holds fewer than
    ``_FINISH_LOCAL`` edges (~32 MB of int64; ~0.21 GB peak while
    labeling).
    """
    spark = edges.sparkSession

    # Materialize the canonical input ONCE before the loop (r6): the caller's
    # edge plan can be expensive (a pair join), and round 0's star steps
    # reference the edge set many times — plus the node universe and the
    # first convergence probe each re-derived it again. Measured on a 6M-edge
    # input over 5k nodes: 115.9 s → 37 s end-to-end from this + the cheaper
    # convergence check below (guide §2.4: remove recompute, §5: cache only
    # what is reused).
    e, n_e = _materialize(
        _canonical(edges.select(F.col(u_col).alias("u"),
                                F.col(v_col).alias("v"))))
    spill: list[DataFrame] = [e]
    all_nodes = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .distinct()
    )

    for _ in range(max_iter):
        if n_e < _FINISH_LOCAL:
            break
        e2, n_e2 = _materialize(_canonical(_small_star(_large_star(e))))
        # Convergence: identical edge sets. Both sides are canonical and
        # duplicate-free, so set equality ⟺ equal counts AND e2 \ e empty —
        # one anti-join probe instead of two exceptAll passes (exceptAll is
        # a full hash-repartition of BOTH sides; the counts here are observed
        # while each round is materialized).
        converged = (n_e2 == n_e) and (
            e2.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        spill.append(e2)
        e, n_e = e2, n_e2
        if converged:
            break

    if n_e < _FINISH_LOCAL:
        # A Spark job's fixed cost dominates a graph this size, so the rest
        # runs on the driver; rounds preserve components, so e's labels are
        # exact.
        pdf = e.toPandas()
        ids, comp = _components_local(pdf["u"].to_numpy(np.int64),
                                      pdf["v"].to_numpy(np.int64))
        roots = spark.createDataFrame(pd.DataFrame({"id": ids, "component": comp}),
                                      "id long, component long")
        if len(spill) == 1:
            release_checkpoint(e)
            return roots
    else:
        # Converged canonical edges are (root=u, member=v) with root = min id.
        roots = (
            e.select(F.col("v").alias("id"), F.col("u").alias("component"))
            .groupBy("id")
            .agg(F.min("component").alias("component"))
        )
    out = (
        all_nodes.join(roots, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    # Materialize the (node, component) table eagerly, THEN release every
    # per-round checkpoint: the old code unpersisted the node universe
    # before `out` was ever evaluated, silently re-running the caller's
    # whole edge pipeline inside the final join.
    out = cut_lineage(out)
    for df in spill:
        release_checkpoint(df)
    return out


def cluster_matches(
    matched_pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    a_namespace: int = 0,
    b_namespace: int = 1,
) -> DataFrame:
    """Entity clusters from accepted match pairs of TWO record sets: A ids and
    B ids live in different namespaces, so encode node = id * 2 + namespace
    before the closure. Returns (side, id, entity_id)."""
    edges = matched_pairs.select(
        (F.col(a_col) * 2 + a_namespace).alias("u"),
        (F.col(b_col) * 2 + b_namespace).alias("v"),
    )
    comp = connected_components(edges)
    return comp.select(
        (F.col("id") % 2).cast("int").alias("side"),
        ((F.col("id") - F.col("id") % 2) / 2).cast("long").alias("id"),
        F.col("component").alias("entity_id"),
    )


def cluster_matches_local(a: np.ndarray, b: np.ndarray) -> pd.DataFrame:
    """``cluster_matches`` on the driver for int64 match pairs that fit
    there: the same node encoding and the same (side, id, entity_id) values,
    with Spark's remainder (the sign of the dividend), labeled by
    ``_components_local``."""
    nodes, comp = _components_local(a * 2, b * 2 + 1)
    side = np.fmod(nodes, 2)
    return pd.DataFrame({"side": side.astype(np.int32), "id": (nodes - side) // 2,
                         "entity_id": comp})
