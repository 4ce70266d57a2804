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
    """Fresh runs with a per-block pair cap small enough to drop blocks, one
    per route ("driver", and "spark" forced by a zero bound), with the
    JVM's persisted RDDs recorded around each."""
    from automatedreclin_spark.operators import clustering as cl

    A, B, _ = corpus
    runs = {}
    for route, bound in (("driver", cl._FINISH_LOCAL), ("spark", 0)):
        ckdir = str(tmp_path_factory.mktemp(f"capped_ck_{route}"))
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(cl, "_FINISH_LOCAL", bound)
            before = _persistent_rdd_ids(spark)
            run = link_repo_files(spark, A, B, checkpoint_dir=ckdir,
                                  max_pairs_per_block=20)
            runs[route] = run, ckdir, before, _persistent_rdd_ids(spark)
    return runs


def test_dropped_blocks_are_reported(spark, corpus, capped_run):
    """cap_blocks' drops reach the 20_candidates manifest and LinkageRun on
    both routes, agree with the block summary computed independently, and
    leave the same candidate pairs."""
    import json
    from pathlib import Path

    from automatedreclin_spark.operators.blocking import files_candidate_blocks

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
    for route, (run, ckdir, _, _) in capped_run.items():
        assert run.dropped_blocks == expected["blocks"], route
        assert run.dropped_pairs == expected["pairs"], route
        meta = json.loads((Path(ckdir) / "20_candidates" / "manifest.json")
                          .read_text())["meta"]
        assert meta["dropped_blocks"] == run.dropped_blocks
        assert meta["dropped_pairs"] == run.dropped_pairs
        assert meta["route"] == route
    driver, spark_route = (_snapshot(ckdir, "20_candidates")
                           for _, ckdir, _, _ in capped_run.values())
    assert driver == spark_route


def test_run_leaves_no_cache_behind(spark, capped_run):
    """Every RDD persisted while link_repo_files runs (block assignments,
    Ω, the block summary, match sets, lineage cuts) is released by the
    time it returns, on either route."""
    for route, (_, _, before, after) in capped_run.items():
        assert after - before == set(), route


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


_LOCAL_STAGES = ("20_candidates", "30_components", "40_linkage", "50_clusters",
                 "55_entities")


def _snapshot(ckdir, stage):
    """A committed stage as (sorted rows with ratios at 17 significant
    digits, the parquet schema of every part file, the manifest schema)."""
    import json
    from pathlib import Path

    import pyarrow.parquet as pq

    data = Path(ckdir) / stage / "data"
    pdf = pq.read_table(data).to_pandas()
    rows = pdf.sort_values(list(pdf.columns), ignore_index=True).to_csv(
        index=False, float_format="%.17g")
    schemas = {str(pq.read_schema(f).remove_metadata())
               for f in data.glob("part-*.parquet")}
    manifest = json.loads((Path(ckdir) / stage / "manifest.json").read_text())
    return rows, schemas, manifest["schema"]


def test_stage_routes_write_identical_snapshots(spark, corpus, first_run,
                                                monkeypatch, tmp_path):
    """Stages 20-55 on the driver (pyarrow writes) and on Spark (forced by a
    zero bound, which also runs the distributed component rounds) commit
    the same rows, the same parquet schema (names, types, nullability) and
    the same manifest schema, and each manifest names its route."""
    from automatedreclin_spark.checkpoint import CheckpointManager
    from automatedreclin_spark.operators import clustering as cl

    _, ck_driver = first_run
    A, B, _ = corpus
    monkeypatch.setattr(cl, "_FINISH_LOCAL", 0)
    link_repo_files(spark, A, B, checkpoint_dir=str(tmp_path))
    for stage in _LOCAL_STAGES:
        assert _snapshot(ck_driver, stage) == _snapshot(tmp_path, stage), stage
    assert "side: int32 not null" in next(iter(_snapshot(tmp_path, "55_entities")[1]))
    routes = {ck: {s: CheckpointManager(spark, str(ck)).manifest(s)["meta"]["route"]
                   for s in ("20_candidates", "30_components", "50_clusters",
                             "55_entities")}
              for ck in (ck_driver, tmp_path)}
    assert set(routes[ck_driver].values()) == {"driver"}
    assert set(routes[tmp_path].values()) == {"spark"}


@pytest.mark.parametrize("torn", _LOCAL_STAGES)
def test_torn_driver_written_stage_is_rebuilt(spark, corpus, first_run,
                                              tmp_path, torn):
    """A crash while a driver-written stage commits leaves its data (and
    possibly its manifest) but no _COMMITTED marker, and nothing after it.
    The rerun rebuilds that stage: a part file left in its data directory
    by an earlier write is never read, and the matches and entities are
    bit-identical to the fresh run's."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from automatedreclin_spark.checkpoint import CheckpointManager

    _, ckdir = first_run
    A, B, _ = corpus
    ck = tmp_path / "ck"
    shutil.copytree(ckdir, ck)
    before = {s: _snapshot(ck, s) for s in _LOCAL_STAGES}
    later = _LOCAL_STAGES[_LOCAL_STAGES.index(torn) + 1:]
    for stage in later:
        shutil.rmtree(ck / stage)
    (ck / torn / "_COMMITTED").unlink()
    # A stale file of the same schema whose ids would change every output.
    data = ck / torn / "data"
    stale = pq.read_table(next(data.glob("part-*.parquet")))
    id_col = "id" if "id" in stale.column_names else "a"
    stale = stale.set_column(stale.column_names.index(id_col), id_col,
                             pc.add(stale[id_col], 10_000))
    pq.write_table(stale, data / "part-00007-stale-c000.snappy.parquet")
    assert stale.schema.field(id_col).type == pa.int64()

    run = link_repo_files(spark, A, B, checkpoint_dir=str(ck))
    assert (run.fit is None) == (torn in ("50_clusters", "55_entities"))
    rebuilt = CheckpointManager(spark, str(ck)).counters().toPandas()["stage"]
    assert list(rebuilt[-1 - len(later):]) == [torn, *later]
    assert not (data / "part-00007-stale-c000.snappy.parquet").exists()
    for stage in _LOCAL_STAGES:
        assert _snapshot(ck, stage) == before[stage], stage


def test_candidates_fall_back_to_spark_at_the_pair_bound(spark, corpus, first_run,
                                                         monkeypatch, tmp_path):
    """The driver's candidate stage falls back to the Spark plan when its
    kept blocks hold the bound in pairs before the (a, b) dedup, even when
    the deduplicated pairs are under it: the Spark plan commits the same
    rows, and stages 30-55 still run on the driver."""
    import numpy as np

    from automatedreclin_spark.checkpoint import CheckpointManager
    from automatedreclin_spark.operators import clustering as cl
    from automatedreclin_spark.operators.blocking import files_candidate_blocks_local

    _, ck_driver = first_run
    A, B, _ = corpus
    ck = CheckpointManager(spark, ck_driver)
    counts = []
    for name, id_col in (("10_records_A", "a"), ("10_records_B", "b")):
        _, blocks = files_candidate_blocks_local(
            ck.batches(name, [id_col, "path", "lang", "content"]), id_col, n_buckets=4096)
        counts.append(dict(zip(*np.unique(blocks, return_counts=True))))
    before_dedup = sum(n * counts[1].get(k, 0) for k, n in counts[0].items())
    deduped = ck.manifest("20_candidates")["rows"]
    assert 500 < deduped + 1 < before_dedup
    monkeypatch.setattr(cl, "_FINISH_LOCAL", deduped + 1)
    link_repo_files(spark, A, B, checkpoint_dir=str(tmp_path))
    assert _snapshot(ck_driver, "20_candidates") == _snapshot(tmp_path, "20_candidates")
    routes = {s: CheckpointManager(spark, str(tmp_path)).manifest(s)["meta"]["route"]
              for s in ("20_candidates", "30_components", "55_entities")}
    assert routes == {"20_candidates": "spark", "30_components": "driver",
                      "55_entities": "driver"}
