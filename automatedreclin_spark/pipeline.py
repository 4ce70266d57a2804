"""End-to-end repo-file linkage pipeline — the north-star job.

Input: two record sets of the ``files`` table (repo, path, commit, lang,
content) with stable ids. Stages, each checkpointed (see checkpoint.py):

  10_records     record prep: content_sha = sha256(content) (the per-row
                 invariant), token arrays — narrow, no shuffle
  20_candidates  multi-probe minhash blocking (path + content probes) →
                 candidate pairs, deduped on (a, b) — the ONLY quadratic-risk
                 shuffle, bounded by bucket counts + per-block caps
  30_components  connected components over the candidate-pair graph →
                 disjoint "selection blocks" (records that could ever match
                 transitively share a block; everything else never meets) —
                 this is what makes the per-block greedy EXACT at any scale
  40_linkage     blocked inverted MEC fit on the component blocks
                 (binary sha-equality + continuous path/content distances)
  50_clusters    transitive closure of accepted matches → entity_id,
                 carrying content_sha for the invariant check

Kill the job at any stage boundary and rerun: committed stages are skipped
(resume-from-snapshot), and the final output is byte-identical — tested in
tests/test_pipeline.py.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from automatedreclin_spark.checkpoint import CheckpointManager
from automatedreclin_spark.functions.comparators import (
    cmp_identical,
    jarowinkler_complement,
    levenshtein_norm,
    token_jaccard,
)
from automatedreclin_spark.models.blocked_mec import BlockedMecResult, blocked_mec
from automatedreclin_spark.operators.blocking import cap_blocks, files_candidate_blocks
from automatedreclin_spark.operators.clustering import cluster_matches, connected_components
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

    dropped_obs = Observation("dropped_blocks")

    def build_candidates() -> DataFrame:
        # The minhash block assignments feed both the block sizes and the
        # pair join; persisted, each side's token hashing runs once.
        blocks_a, blocks_b = (
            hold(files_candidate_blocks(
                R, id_col, n_buckets=n_buckets,
                path_probes=path_probes, content_probes=content_probes,
            ).persist(StorageLevel.MEMORY_AND_DISK))
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

    pairs = ck.stage("20_candidates", build_candidates,
                     meta={"n_buckets": n_buckets, "path_probes": path_probes,
                           "content_probes": content_probes,
                           "max_pairs_per_block": max_pairs_per_block},
                     inputs=["10_records_A", "10_records_B"],
                     observations=[dropped_obs])
    release_held()
    cand = ck.manifest("20_candidates")
    n_pairs = cand["rows"]

    comp_obs = Observation("components")

    def build_components() -> DataFrame:
        # A-node = a*2, B-node = b*2+1 (namespaced); component id becomes the
        # disjoint selection-block id. A component's id is its smallest node
        # id, so each component has exactly one row with id == component.
        edges = pairs.select((F.col("a") * 2).alias("u"), (F.col("b") * 2 + 1).alias("v"))
        return hold(connected_components(edges)).observe(
            comp_obs,
            F.count(F.when(F.col("id") == F.col("component"), 1)).alias("n_components"),
        )

    comp = ck.stage("30_components", build_components,
                    inputs=["20_candidates"], observations=[comp_obs])
    release_held()
    n_components = ck.manifest("30_components")["meta"]["n_components"]

    a_blocks = comp.filter(F.col("id") % 2 == 0).select(
        (F.col("id") / 2).cast("long").alias("a"), F.col("component").alias("block")
    )
    # Label every candidate pair with its component: the component is the
    # DISJOINT selection block, but Ω stays the candidate pairs themselves —
    # a giant component (e.g. one per lang when probe buckets chain) must NOT
    # expand into its full cross product.
    labeled_pairs = pairs.join(a_blocks, "a").select("block", "a", "b")

    # Stage 40: blocked inverted MEC. The fit keeps its state in memory and
    # is checkpointed as a whole: a committed stage skips it on resume.
    fit = None
    if not (resume and ck.is_committed("40_linkage")):
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
            pairs=labeled_pairs,
            seed=seed,
        )
    matches = ck.stage(
        "40_linkage", lambda: fit.M_est,
        inputs=["10_records_A", "10_records_B", "20_candidates", "30_components"],
    )
    if fit is not None:
        # Only now: M_est is a lazy plan over the fit's cache, and releasing
        # it before the write would rerun the comparators.
        fit.unpersist()

    clusters = ck.stage("50_clusters", lambda: hold(cluster_matches(matches)),
                        inputs=["40_linkage"])
    release_held()

    def build_entities() -> DataFrame:
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
