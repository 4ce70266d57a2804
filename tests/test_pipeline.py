"""End-to-end repo-file linkage pipeline: quality, per-row invariant,
determinism, and kill/resume behavior (FIXTURES.md F7)."""

import shutil

import pytest
from pyspark.sql import functions as F

from automatedreclin_spark.fixtures import synth_files
from automatedreclin_spark.pipeline import link_repo_files, verify_content_invariant


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_files(spark, n_a=250, n_b=500, seed=5)


@pytest.fixture(scope="module")
def first_run(spark, corpus, tmp_path_factory):
    A, B, labels = corpus
    ckdir = str(tmp_path_factory.mktemp("linkage_ck"))
    run = link_repo_files(spark, A, B, checkpoint_dir=ckdir, labels=labels)
    return run, ckdir


def test_linkage_quality(first_run, corpus):
    run, _ = first_run
    assert run.eval_metrics["pairwise_f1_candidates"] >= 0.95, run.eval_metrics
    # one-to-one contract
    m = run.matches.toPandas()
    assert m["a"].is_unique and m["b"].is_unique


def test_content_sha_invariant(first_run, corpus):
    run, _ = first_run
    A, B, _ = corpus
    assert verify_content_invariant(run.entities, A, "a", side=0) == 0
    assert verify_content_invariant(run.entities, B, "b", side=1) == 0


def test_entities_are_transitive(first_run):
    run, _ = first_run
    # every matched pair lands in the same entity
    m = run.matches.select("a", "b")
    ent_a = run.entities.filter(F.col("side") == 0).select(
        F.col("id").alias("a"), F.col("entity_id").alias("ea")
    )
    ent_b = run.entities.filter(F.col("side") == 1).select(
        F.col("id").alias("b"), F.col("entity_id").alias("eb")
    )
    joined = m.join(ent_a, "a").join(ent_b, "b")
    assert joined.filter(F.col("ea") != F.col("eb")).count() == 0


def test_resume_skips_fit_and_is_identical(spark, corpus, first_run):
    run1, ckdir = first_run
    A, B, labels = corpus
    run2 = link_repo_files(spark, A, B, checkpoint_dir=ckdir, labels=labels)
    assert run2.fit is None, "committed 40_linkage must skip the MEC fit"
    e1 = run1.entities.orderBy("entity_id", "side", "id").toPandas()
    e2 = run2.entities.orderBy("entity_id", "side", "id").toPandas()
    assert e1.equals(e2)


def test_partial_resume_after_kill(spark, corpus, first_run):
    """Simulate a crash after stage 40: wipe the cluster stages' commit
    markers; rerun must rebuild ONLY those stages and produce identical
    output from the committed upstream snapshots."""
    run1, ckdir = first_run
    A, B, labels = corpus
    e1 = run1.entities.orderBy("entity_id", "side", "id").toPandas()
    shutil.rmtree(f"{ckdir}/50_clusters")
    shutil.rmtree(f"{ckdir}/55_entities")
    run3 = link_repo_files(spark, A, B, checkpoint_dir=ckdir, labels=labels)
    assert run3.fit is None
    e3 = run3.entities.orderBy("entity_id", "side", "id").toPandas()
    assert e1.equals(e3)


def test_manifests_carry_lineage(first_run):
    import json
    from pathlib import Path
    _, ckdir = first_run
    man = json.loads((Path(ckdir) / "20_candidates" / "manifest.json").read_text())
    assert man["rows"] > 0
    assert sum(man["partitions"].values()) == man["rows"]
    assert man["meta"]["n_buckets"] == 4096


def test_counters_table_exists_and_survives_resume(spark, corpus, first_run):
    """SURVEY §7.0: per-stage lineage counters (df.observe rows_out measured
    during the snapshot write) live in a queryable table under the checkpoint
    dir, agree with the commit manifests, and survive a resume run (committed
    stages append nothing)."""
    from automatedreclin_spark.checkpoint import CheckpointManager
    from automatedreclin_spark.pipeline import link_repo_files

    run1, ckdir = first_run
    ck = CheckpointManager(spark, ckdir)
    c = ck.counters().toPandas()
    stages = set(c["stage"])
    assert {"10_records_A", "10_records_B", "20_candidates",
            "30_components", "50_clusters"} <= stages
    for st in stages:
        m = ck.manifest(st)
        assert m is not None
        assert m["rows"] == int(c[c.stage == st]["rows_out"].iloc[-1])

    n_before = len(c)
    A, B, labels = corpus
    link_repo_files(spark, A, B, checkpoint_dir=ckdir, labels=labels)
    c2 = CheckpointManager(spark, ckdir).counters().toPandas()
    assert len(c2) == n_before


def test_counters_record_explicit_rows_in_lineage(spark, first_run):
    """SURVEY §7.0: the lineage row is (stage, iter, rows_in, rows_out) —
    rows_in must be recorded explicitly as the upstream committed stages'
    rows_out, not just implied by the stage graph. Full check on stage 40."""
    from automatedreclin_spark.checkpoint import CheckpointManager

    _, ckdir = first_run
    ck = CheckpointManager(spark, ckdir)
    c = ck.counters().toPandas().set_index("stage")

    row40 = c.loc["40_linkage"]
    expected_inputs = {
        up: ck.manifest(up)["rows"]
        for up in ["10_records_A", "10_records_B", "20_candidates", "30_components"]
    }
    assert dict(row40["inputs"]) == expected_inputs
    assert int(row40["rows_in"]) == sum(expected_inputs.values())
    assert int(row40["rows_out"]) == ck.manifest("40_linkage")["rows"]

    # root stages read external tables: rows_in is null, inputs empty
    assert row40.notna()["rows_in"]
    import pandas as pd
    assert pd.isna(c.loc["10_records_A", "rows_in"])
    assert dict(c.loc["10_records_A", "inputs"]) == {}
    # every non-root stage's manifest carries the same lineage
    man40 = ck.manifest("40_linkage")
    assert man40["inputs"] == expected_inputs
    assert man40["rows_in"] == sum(expected_inputs.values())


def test_stage_with_missing_declared_input_raises(spark, tmp_path):
    """Declared inputs must have committed manifests — a typo'd or
    uncommitted upstream must fail loudly, not record partial lineage."""
    import pytest as _pytest

    from automatedreclin_spark.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, str(tmp_path / "ck"))
    ck.stage("up", lambda: spark.range(3))
    with _pytest.raises(ValueError, match="no committed manifest"):
        ck.stage("down", lambda: spark.range(2), inputs=["up", "uppity_typo"])
    # the valid upstream alone works
    ck.stage("down_ok", lambda: spark.range(2), inputs=["up"])
    assert ck.manifest("down_ok")["rows_in"] == 3


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet()}


@pytest.fixture(scope="module")
def capped_run(spark, corpus, tmp_path_factory):
    """A fresh run with a per-block pair cap small enough to drop blocks,
    with the JVM's persisted RDDs recorded around it."""
    A, B, _ = corpus
    ckdir = str(tmp_path_factory.mktemp("capped_ck"))
    before = _persistent_rdd_ids(spark)
    run = link_repo_files(spark, A, B, checkpoint_dir=ckdir, max_pairs_per_block=20)
    after = _persistent_rdd_ids(spark)
    return run, ckdir, before, after


def test_dropped_blocks_are_reported(spark, corpus, capped_run):
    """cap_blocks' drops reach the 20_candidates manifest and LinkageRun,
    and agree with the block summary computed independently."""
    import json
    from pathlib import Path

    from automatedreclin_spark.operators.blocking import files_candidate_blocks

    run, ckdir, _, _ = capped_run
    A, B, _ = corpus
    a_counts, b_counts = (
        files_candidate_blocks(R, id_col, n_buckets=4096).groupBy("block")
        .agg(F.count(F.lit(1)).alias(f"n_{id_col}"))
        for R, id_col in ((A, "a"), (B, "b"))
    )
    over = (a_counts.join(b_counts, "block")
            .withColumn("pair_count", F.col("n_a") * F.col("n_b"))
            .filter(F.col("pair_count") > 20))
    expected = over.agg(F.count(F.lit(1)).alias("blocks"),
                        F.sum("pair_count").alias("pairs")).collect()[0]
    assert expected["blocks"] > 0
    assert run.dropped_blocks == expected["blocks"]
    assert run.dropped_pairs == expected["pairs"]
    meta = json.loads((Path(ckdir) / "20_candidates" / "manifest.json").read_text())["meta"]
    assert meta["dropped_blocks"] == run.dropped_blocks
    assert meta["dropped_pairs"] == run.dropped_pairs


def test_run_leaves_no_cache_behind(spark, capped_run):
    """Every RDD persisted while link_repo_files runs (block assignments,
    Ω, the block summary, match sets, lineage cuts) is released by the
    time it returns."""
    _, _, before, after = capped_run
    assert after - before == set()


def test_component_count_is_committed_and_reused(spark, corpus, first_run):
    """n_components is observed while 30_components is written, kept in its
    manifest, and read back unchanged on resume."""
    from automatedreclin_spark.checkpoint import CheckpointManager

    run1, ckdir = first_run
    comp = spark.read.parquet(f"{ckdir}/30_components/data")
    assert run1.n_components == comp.select("component").distinct().count()
    man = CheckpointManager(spark, ckdir).manifest("30_components")
    assert man["meta"]["n_components"] == run1.n_components
    A, B, labels = corpus
    run2 = link_repo_files(spark, A, B, checkpoint_dir=ckdir, labels=labels)
    assert run2.n_components == run1.n_components
