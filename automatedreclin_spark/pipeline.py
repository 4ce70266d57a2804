"""End-to-end repo-file linkage pipeline — the north-star job.

Input: two record sets of the ``files`` table (repo, path, commit, lang,
content) with stable ids. Stages, each checkpointed (see checkpoint.py):

  10_records     record prep: the record columns plus content_sha =
                 sha256(content) (the per-row invariant) — no shuffle. No
                 tokens are stored: blocking splits path and content per
                 record, and the fit splits each record's content once (the
                 comparator's prepared form) when it builds Ω
  20_candidates  multi-probe minhash blocking (path + content probes) →
                 candidate pairs, deduped on (a, b), bounded by bucket
                 counts + per-block caps (dropped blocks are reported in the
                 manifest) — the ONLY quadratic-risk stage
  30_components  connected components over the candidate-pair graph →
                 disjoint "selection blocks" (records that could ever match
                 transitively share a block; everything else never meets) —
                 this is what makes the per-block greedy EXACT at any scale
  40_linkage     blocked inverted MEC fit on the component blocks
                 (binary sha-equality + continuous path/content distances);
                 the manifest's meta names the fit's route and Ω build
  50_clusters    transitive closure of accepted matches → entity_id
  55_entities    the clustered ids with their repo, path and content_sha,
                 for the invariant check

Stages 20-55 run on the driver while what they hold is under the 2M bound
connected components finish locally at, each bound checked on manifest
counts (no job). Stage 20 needs both records snapshots under it: it streams
them with pyarrow one batch at a time, computes the (id, block) assignments
in numpy bit-identically to Spark's (operators/blocking.py), and caps and
expands the blocks with pandas; kept blocks holding the bound in pairs fall
back to its Spark plan. Stages 30-55 need the committed candidate set under
it: the 20_candidates and 30_components snapshots are read once with
pyarrow, components are labeled in numpy, the labeled (block, a, b) keys go
to the fit as a pandas frame (no keys collect), matches are clustered in
numpy, and the entities are a pandas merge over the clustered ids' columns
of the record snapshots. Each snapshot is written with pyarrow, with the
schema the Spark plan gives it; the fit's collect of prepared record values
is then the only Spark work after the records. Above the bound each stage
runs its Spark plan. The manifests of stages 20, 30, 50 and 55 name the
route taken (``meta.route``, "driver" or "spark"); 40's names the fit's.

Kill the job at any stage boundary and rerun: committed stages are skipped
(resume-from-snapshot), and the final output is byte-identical — tested in
tests/test_pipeline.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType
from pyspark.storagelevel import StorageLevel

from automatedreclin_spark.checkpoint import CheckpointManager
from automatedreclin_spark.functions.comparators import (
    cmp_identical,
    jarowinkler_complement,
    token_jaccard,
)
from automatedreclin_spark.models.blocked_mec import BlockedMecResult, blocked_mec
from automatedreclin_spark.operators.blocking import (
    cap_blocks,
    files_candidate_blocks,
    files_candidate_blocks_local,
    files_candidate_pairs_local,
)
from automatedreclin_spark.operators import clustering
from automatedreclin_spark.operators.clustering import (
    _components_local,
    cluster_matches,
    cluster_matches_local,
    connected_components,
)
from automatedreclin_spark.operators.pairs import block_pairs
from automatedreclin_spark.operators.util import release_checkpoint
from automatedreclin_spark.evaluation import evaluation, pairwise_f1


@dataclass
class LinkageRun:
    matches: DataFrame          # (a, b, block, ratio)
    clusters: DataFrame         # (side, id, entity_id)
    entities: DataFrame         # (entity_id, side, id, repo, path, content_sha)
    fit: BlockedMecResult | None
    candidate_pairs: int
    n_components: int
    dropped_blocks: int         # probe blocks cap_blocks dropped ...
    dropped_pairs: int          # ... and the candidate pairs they held
    eval_metrics: dict | None = None


#: The snapshot schemas of stages 30, 50 and 55 written from the driver:
#: those the Spark plans give (``55_entities.side`` is a non-null literal).
_COMPONENTS = StructType([StructField("id", LongType()),
                          StructField("component", LongType())])
_CLUSTERS = StructType([StructField("side", IntegerType()),
                        StructField("id", LongType()),
                        StructField("entity_id", LongType())])
_ENTITIES = StructType([StructField("entity_id", LongType()),
                        StructField("side", IntegerType(), False),
                        StructField("id", LongType()),
                        *(StructField(c, StringType())
                          for c in ("repo", "path", "content_sha"))])


def _edges(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    """The (a, b) id pairs of a committed pair snapshot as int64 arrays,
    pairs with a NULL id dropped (Spark's least/greatest turn them into
    self-loops, which connected components drop)."""
    table = table.filter(pc.and_(pc.is_valid(table["a"]), pc.is_valid(table["b"])))
    return table["a"].to_numpy(), table["b"].to_numpy()


def _label_pairs(pairs: pa.Table, components: pa.Table) -> pd.DataFrame:
    """The candidate pairs labeled with the component of their A record,
    as (block, a, b): the driver form of the Spark route's join, which also
    keeps a pair whose B id is NULL (the fit drops it, after counting it in
    its block summary)."""
    ids = components["id"].to_numpy()
    is_a = np.fmod(ids, 2) == 0
    pos = pc.index_in(pairs["a"], value_set=pa.array(ids[is_a] // 2))
    keep = pc.is_valid(pos)
    return pa.table({
        "block": pa.array(components["component"].to_numpy()[is_a]).take(
            pos.filter(keep)),
        "a": pairs["a"].filter(keep),
        "b": pairs["b"].filter(keep),
    }).to_pandas(types_mapper=pd.ArrowDtype)


def prepare_records(df: DataFrame, id_col: str) -> DataFrame:
    """Stage 10: stable ids + content sha (invariant column). Narrow."""
    return df.select(
        F.col(id_col),
        "repo", "path", "lang", "commit", "content",
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


def link_repo_files(
    spark: SparkSession,
    files_A: DataFrame,
    files_B: DataFrame,
    checkpoint_dir: str,
    labels: DataFrame | None = None,
    n_buckets: int = 4096,
    path_probes: int = 2,
    content_probes: int = 2,
    max_pairs_per_block: int = 2_000_000,
    resume: bool = True,
    seed: int = 1,
) -> LinkageRun:
    """Run the full linkage job with per-stage snapshots under
    ``checkpoint_dir``. ``files_A``/``files_B`` carry id columns ``a``/``b``.
    """
    ck = CheckpointManager(spark, checkpoint_dir, resume=resume)

    A = ck.stage("10_records_A", lambda: prepare_records(files_A, "a"))
    B = ck.stage("10_records_B", lambda: prepare_records(files_B, "b"))

    # Frames a stage builder cached; released once the stage commits.
    held: list[DataFrame] = []

    def hold(df: DataFrame) -> DataFrame:
        held.append(df)
        return df

    def release_held() -> None:
        for df in held:
            df.unpersist()
            release_checkpoint(df)
        held.clear()

    # Stage 20 runs on the driver while both records snapshots (their
    # manifest counts, no job) are under the bound stages 30-55 run there
    # at; only the (id, block) arrays are kept from each record batch.
    # Kept blocks holding the bound in pairs or more (before the (a, b)
    # dedup), or a NULL id, fall back to the Spark plan.
    records_local = max(ck.manifest(f"10_records_{s}")["rows"]
                        for s in "AB") < clustering._FINISH_LOCAL
    probes = {"n_buckets": n_buckets, "path_probes": path_probes,
              "content_probes": content_probes}
    cand_meta = {**probes, "max_pairs_per_block": max_pairs_per_block}
    # Only the Spark plan attaches the drop report: an Observation no plan
    # ran never gets a value.
    cand_obs: list[Observation] = []

    def build_candidates():
        if records_local:
            sides = [files_candidate_blocks_local(
                ck.batches(name, [id_col, "path", "lang", "content"]), id_col, **probes)
                for name, id_col in (("10_records_A", "a"), ("10_records_B", "b"))]
            built = None if None in sides else files_candidate_pairs_local(
                *sides, max_pairs_per_block, clustering._FINISH_LOCAL)
            if built is not None:
                pdf, cand_meta["dropped_blocks"], cand_meta["dropped_pairs"] = built
                cand_meta["route"] = "driver"
                return pdf, StructType([A.schema["a"], B.schema["b"]])
        cand_meta["route"] = "spark"
        dropped_obs = Observation("dropped_blocks")
        cand_obs.append(dropped_obs)
        # The minhash block assignments feed both the block sizes and the
        # pair join; persisted, each side's token hashing runs once.
        blocks_a, blocks_b = (
            hold(files_candidate_blocks(R, id_col, **probes)
                 .persist(StorageLevel.MEMORY_AND_DISK))
            for R, id_col in ((A, "a"), (B, "b"))
        )
        # Probe-block sizes are capped BEFORE the join: a probe bucket whose
        # pair count explodes (e.g. a boilerplate content shingle) is dropped
        # and reported, like the reference's excluded records.
        a_counts = blocks_a.groupBy("block").agg(F.count(F.lit(1)).alias("n_a"))
        b_counts = blocks_b.groupBy("block").agg(F.count(F.lit(1)).alias("n_b"))
        sizes = a_counts.join(b_counts, "block").withColumn(
            "pair_count", F.col("n_a") * F.col("n_b")
        )
        kept, _ = cap_blocks(sizes, max_pairs_per_block, report=dropped_obs)
        keep_keys = kept.select("block")
        blocks_a = blocks_a.join(keep_keys, "block", "left_semi")
        blocks_b = blocks_b.join(keep_keys, "block", "left_semi")
        return block_pairs(blocks_a, blocks_b, dedup=True).select("a", "b")

    pairs = ck.stage("20_candidates", build_candidates, meta=cand_meta,
                     inputs=["10_records_A", "10_records_B"],
                     observations=cand_obs)
    release_held()
    cand = ck.manifest("20_candidates")
    n_pairs = cand["rows"]
    # The driver route: stages 30-55 run on the driver when the committed
    # candidate set (its manifest count, no job) is under the 2M-pair bound
    # connected components finish locally at. The driver then holds only
    # frames sized by that bound: the candidate pairs and the labeled keys
    # (fewer than 2M int64 rows each), the component and cluster labels (at
    # most two nodes per pair), the fit's Ω (under its own _FIT_LOCAL, also
    # 2M), the matches (a subset of the pairs), and the entities, built
    # there only while each records snapshot is under the bound too. Above
    # the bound, every stage keeps its Spark plan.
    local = n_pairs < clustering._FINISH_LOCAL
    route = "driver" if local else "spark"
    cand_table = ck.table("20_candidates") if local and not (
        resume and ck.is_committed("30_components")
        and ck.is_committed("40_linkage")) else None

    comp_obs = Observation("components")
    comp_meta = {"route": route}

    def build_components():
        if local:
            a, b = _edges(cand_table)
            ids, component = _components_local(a * 2, b * 2 + 1)
            comp_meta["n_components"] = int((ids == component).sum())
            return pd.DataFrame({"id": ids, "component": component}), _COMPONENTS
        # A-node = a*2, B-node = b*2+1 (namespaced); component id becomes the
        # disjoint selection-block id. A component's id is its smallest node
        # id, so each component has exactly one row with id == component.
        edges = pairs.select((F.col("a") * 2).alias("u"), (F.col("b") * 2 + 1).alias("v"))
        return hold(connected_components(edges)).observe(
            comp_obs,
            F.count(F.when(F.col("id") == F.col("component"), 1)).alias("n_components"),
        )

    comp = ck.stage("30_components", build_components, meta=comp_meta,
                    inputs=["20_candidates"],
                    observations=[] if local else [comp_obs])
    release_held()
    n_components = ck.manifest("30_components")["meta"]["n_components"]

    # Stage 40: blocked inverted MEC. The fit keeps its state in memory and
    # is checkpointed as a whole: a committed stage skips it on resume.
    fit = None
    if not (resume and ck.is_committed("40_linkage")):
        if local:
            fit_pairs = _label_pairs(cand_table, ck.table("30_components"))
        else:
            a_blocks = comp.filter(F.col("id") % 2 == 0).select(
                (F.col("id") / 2).cast("long").alias("a"),
                F.col("component").alias("block"))
            # Label every candidate pair with its component: the component
            # is the DISJOINT selection block, but Ω stays the candidate
            # pairs themselves — a giant component (e.g. one per lang when
            # probe buckets chain) must NOT expand into its full cross
            # product.
            fit_pairs = pairs.join(a_blocks, "a").select("block", "a", "b")
        fit = blocked_mec(
            A, B,
            variables=["content_sha", "path", "content"],
            comparators={
                "content_sha": cmp_identical(),
                "path": jarowinkler_complement(),
                "content": token_jaccard(),
            },
            methods={
                "content_sha": "binary",
                "path": "continuous_parametric",
                "content": "continuous_parametric",
            },
            pairs=fit_pairs,
            seed=seed,
        )

    def build_linkage():
        if local and fit.M_est_local is not None:
            return fit.M_est_local, fit.M_est.schema
        return fit.M_est

    matches = ck.stage(
        "40_linkage", build_linkage,
        meta={"route": fit.route, "omega_build": fit.omega_build} if fit else None,
        inputs=["10_records_A", "10_records_B", "20_candidates", "30_components"],
    )
    if fit is not None:
        # Only now: M_est is a lazy plan over the fit's cache, and releasing
        # it before the write would rerun the comparators.
        fit.unpersist()

    def build_clusters():
        if local:
            return cluster_matches_local(*_edges(ck.table("40_linkage"))), _CLUSTERS
        return hold(cluster_matches(matches))

    clusters = ck.stage("50_clusters", build_clusters, meta={"route": route},
                        inputs=["40_linkage"])
    release_held()

    # The records are read only for the clustered ids, and only while each
    # side's snapshot is under the bound.
    local_entities = local and records_local

    def build_entities():
        if local_entities:
            cl = ck.table("50_clusters").to_pandas()
            sides = []
            for side, (name, id_col) in enumerate((("10_records_A", "a"),
                                                   ("10_records_B", "b"))):
                members = cl.loc[cl["side"] == side, ["id", "entity_id"]]
                recs = ck.table(name, columns=[id_col, "repo", "path", "content_sha"],
                                filters=[(id_col, "in", members["id"].unique())])
                sides.append(members.merge(
                    recs.to_pandas().rename(columns={id_col: "id"}), on="id"
                ).assign(side=side))
            return pd.concat(sides, ignore_index=True), _ENTITIES
        a_side = clusters.filter(F.col("side") == 0).select(
            F.col("id").alias("a"), "entity_id"
        ).join(A, "a").select(
            "entity_id", F.lit(0).alias("side"), F.col("a").alias("id"),
            "repo", "path", "content_sha",
        )
        b_side = clusters.filter(F.col("side") == 1).select(
            F.col("id").alias("b"), "entity_id"
        ).join(B, "b").select(
            "entity_id", F.lit(1).alias("side"), F.col("b").alias("id"),
            "repo", "path", "content_sha",
        )
        return a_side.unionByName(b_side)

    entities = ck.stage("55_entities", build_entities,
                        meta={"route": "driver" if local_entities else "spark"},
                        inputs=["50_clusters", "10_records_A", "10_records_B"])

    eval_metrics = None
    if labels is not None:
        cand_truth = labels.join(pairs, ["a", "b"], "left_semi")
        c = evaluation(matches.select("a", "b"), cand_truth, n_pairs)
        eval_metrics = {
            "TP": c.TP, "FP": c.FP, "FN": c.FN,
            "pairwise_f1_candidates": pairwise_f1(c.TP, c.FP, c.FN),
        }
        c_all = evaluation(matches.select("a", "b"), labels, n_pairs)
        eval_metrics["pairwise_f1_all"] = pairwise_f1(c_all.TP, c_all.FP, c_all.FN)

    return LinkageRun(
        matches=matches,
        clusters=clusters,
        entities=entities,
        fit=fit,
        candidate_pairs=n_pairs,
        n_components=n_components,
        dropped_blocks=cand["meta"]["dropped_blocks"],
        dropped_pairs=cand["meta"]["dropped_pairs"],
        eval_metrics=eval_metrics,
    )


def verify_content_invariant(entities: DataFrame, source: DataFrame,
                             id_col: str, side: int) -> int:
    """Per-row invariant (BASELINE.json input_hint): every linked record's
    content_sha must equal sha256 of the source row's content. Returns the
    number of VIOLATIONS (0 = pass)."""
    src = source.select(
        F.col(id_col).alias("id"),
        F.sha2(F.col("content"), 256).alias("src_sha"),
    )
    return (
        entities.filter(F.col("side") == side)
        .join(src, "id")
        .filter(F.col("content_sha") != F.col("src_sha"))
        .count()
    )
