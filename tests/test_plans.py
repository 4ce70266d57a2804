"""Physical-plan quality gates: column pruning, filter pushdown, join
strategy, codegen. These guard the 100TB properties the small-data tests
can't see (a scan reading all columns "works" — and reads 50× the bytes)."""

import pytest
from pyspark.sql import functions as F

from automatedreclin_spark.entry_queries import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_cv_binary_scan_pruning(spark):
    df = QUERIES["cv_binary"](spark, SF)
    plan = _plan(df)
    # column pruning: the customer scan must NOT read c_acctbal (unused)
    assert "c_acctbal" not in plan
    # predicate pushdown reaches the parquet scan
    assert "PushedFilters" in plan
    # the block join must be a broadcast or shuffled hash join — never a
    # Cartesian product
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_cv_binary_whole_stage_codegen(spark):
    import contextlib
    import io

    df = QUERIES["cv_binary"](spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="codegen")
    assert "WholeStageCodegen" in buf.getvalue()


def test_cv_jaro_uses_arrow_not_row_python(spark):
    """The Jaro comparator must be Arrow-batched (ArrowEvalPython), never a
    row-at-a-time BatchEvalPython."""
    df = QUERIES["cv_jaro"](spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_no_cartesian_anywhere_in_registry(spark):
    """No registry query may plan a cross-product node."""
    for name, fn in QUERIES.items():
        if name in (
            # iterative fits build many plans; checked via their operators
            "mec_binary_customer", "blocked_mec_customer", "supervised_predict",
            # these return spark.createDataFrame(pandas): their plan is a
            # local scan, so checking it would only pay for their fits
            # (tests/test_oracles.py checks their results)
            "evaluation_metrics", "supervised_predict_ratio2",
            "blocked_mec_alpha", "mec_flr_customer", "blocked_mec_dups",
        ):
            continue
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_score_ratio_fixed_params_stays_jvm_side(spark):
    """Fixed-param density-ratio scoring (A5/A6/A9) is pure Catalyst: no
    Python evaluation nodes in the plan, and the customer scan is pruned to
    the columns the record sets actually use."""
    df = QUERIES["score_ratio_fixed_params"](spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "c_acctbal" not in plan      # column pruning reaches the scan
    assert "CartesianProduct" not in plan


def test_multiple_pandas_udf_gammas_fuse_into_one_arrow_pass(spark):
    """SURVEY §4.2: K pandas-UDF comparators must not cost K Arrow round
    trips. Spark batches adjacent pandas UDFs into a single ArrowEvalPython
    node (one Arrow transfer per batch for ALL gamma UDFs) — gate it so a
    refactor that breaks adjacency (e.g. interleaving a JVM projection
    between UDF withColumns) shows up here."""
    import pandas as pd

    from automatedreclin_spark.functions.comparators import jarowinkler_complement
    from automatedreclin_spark.operators.comparison import comparison_vectors

    A = spark.createDataFrame(pd.DataFrame(
        {"a": [1, 2], "name": ["ab", "cd"], "surname": ["x", "y"]}))
    B = spark.createDataFrame(pd.DataFrame(
        {"b": [1, 2], "name": ["ab", "ce"], "surname": ["x", "z"]}))
    cv = comparison_vectors(
        A, B, ["name", "surname"],
        comparators={"name": jarowinkler_complement(),
                     "surname": jarowinkler_complement()},
        check_finite=False,
    )
    plan = _plan(cv.omega)
    assert plan.count("ArrowEvalPython") == 1


def test_mec_iterations_scan_narrow_cached_gamma_base(spark):
    """The fit's scale contract after the single-comparator-execution fusion:
    iteration scans must read a CACHED gamma base (InMemoryRelation) whose
    schema is the NARROW (a, b, gamma_*) set — the invariant denominator
    columns stay a lazy codegen projection over it, not a second cached
    copy, and no uncached re-expansion of Ω appears in the final plan."""
    import re

    import pandas as pd

    from automatedreclin_spark.models.mec import mec

    rows_a = [(i, f"n{i % 9}", f"s{i % 5}") for i in range(40)]
    rows_b = [(i, f"n{i % 9}", f"s{(i + (i % 3 == 0)) % 5}") for i in range(40)]
    A = spark.createDataFrame(pd.DataFrame(rows_a, columns=["a", "name", "surname"]))
    B = spark.createDataFrame(pd.DataFrame(rows_b, columns=["b", "name", "surname"]))
    res = mec(A, B, variables=["name", "surname"], max_iter=3,
              delta=0.0, eps=0.0)
    plan = _plan(res.scored)
    rels = re.findall(r"InMemoryRelation \[([^\]]*)\]", plan)
    assert rels, plan
    narrow = [r for r in rels if "denominator" not in r and "gamma_name" in r]
    assert narrow, f"no narrow cached gamma base in plan: {rels}"
    # the denominator is computed by a projection, not stored in that cache
    assert any("denominator" in ln and "Project" in ln
               for ln in plan.splitlines()), plan


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_building_pair_plans_launches_no_job(spark):
    """Deciding whether to spread an input reads the planned physical plan:
    building block_pairs, comparison_vectors and ensure_parallelism over a
    shuffled input runs no Spark job (a partition-count probe through
    df.rdd would execute the upstream shuffles and discard them)."""
    import pandas as pd

    from automatedreclin_spark.operators.comparison import comparison_vectors
    from automatedreclin_spark.operators.pairs import block_pairs
    from automatedreclin_spark.operators.util import ensure_parallelism

    recs = pd.DataFrame({"id": range(1, 201), "name": [f"n{i % 17}" for i in range(200)]})
    A = spark.createDataFrame(recs.rename(columns={"id": "a"}))
    B = spark.createDataFrame(recs.rename(columns={"id": "b"}))
    # groupBy: a shuffle whose partition count is only known once it runs
    blocks_a = A.groupBy("a").agg(F.max(F.length("name")).alias("block"))
    blocks_b = B.select("b", F.length("name").alias("block"))
    pairs = blocks_a.join(blocks_b.distinct(), "block").select("a", "b")

    before = _job_ids(spark)
    block_pairs(blocks_a, blocks_b)
    comparison_vectors(A, B, ["name"], pairs=pairs, check_finite=False)
    ensure_parallelism(pairs, factor=3)
    assert _job_ids(spark) == before


def test_cached_grouped_map_runs_data_sized(spark):
    """The session lets adaptive execution coalesce shuffles inside persisted
    plans: a cached grouped-map over 10k rows runs in fewer tasks than the
    shuffle-partition count, not one Python task per shuffle partition."""
    tracker = spark.sparkContext.statusTracker()
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    df = spark.range(10_000).select((F.col("id") % 97).alias("g"),
                                    F.col("id").cast("double").alias("x"))
    out = df.groupBy("g").applyInPandas(lambda pdf: pdf, schema=df.schema)
    try:
        out.persist()
        before = _job_ids(spark)
        assert out.count() == 10_000
        stages = [tracker.getStageInfo(s) for j in _job_ids(spark) - before
                  for s in tracker.getJobInfo(j).stageIds]
        tasks = [s.numTasks for s in stages if s is not None]
        assert tasks and max(tasks) < 64, tasks
    finally:
        out.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_connected_components_launches_few_jobs(spark):
    """A 10k-edge graph that fits the driver is materialized once and
    finished there: at most 4 Spark jobs, collecting the output included
    (distributed large-star/small-star rounds cost ~9 jobs each)."""
    import numpy as np
    import pandas as pd

    from automatedreclin_spark.operators.clustering import connected_components

    rng = np.random.default_rng(3)
    edges = spark.createDataFrame(pd.DataFrame({
        "u": rng.integers(0, 8_000, 10_000), "v": rng.integers(0, 8_000, 10_000)}))
    before = _job_ids(spark)
    rows = connected_components(edges).collect()
    assert rows
    launched = _job_ids(spark) - before
    assert len(launched) <= 4, len(launched)


@pytest.mark.parametrize("name", ["blocked_mec_customer", "blocked_mec_alpha",
                                  "blocked_mec_dups"])
def test_registry_fit_queries_leave_no_cache_behind(spark, name):
    """The registry's blocked_mec queries release the fit's cached Ω and
    match set once their invariants are computed."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    assert QUERIES[name](spark, SF).count() > 0
    assert persistent().size() == before


def test_blocked_mec_launches_few_jobs(spark):
    """A fit over 10k candidate pairs runs on the driver: one bounded
    collect of the (block, a, b) keys, then one collect of both sides'
    prepared record values (two broadcast id relations and the collect):
    4 jobs, where the block-summary aggregation and the Spark Ω collect
    took 8. The comparators run in numpy, and collecting M_est, a local
    frame, runs no further job. The distributed route runs ~8 jobs per
    iteration."""
    import numpy as np
    import pandas as pd

    from automatedreclin_spark.functions.comparators import jarowinkler_complement
    from automatedreclin_spark.models.blocked_mec import blocked_mec

    n = 2_000
    names = [f"name{i:05d}" for i in range(n)]
    A = spark.createDataFrame(pd.DataFrame({"a": range(n), "name": names}))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(n), "name": [s if i % 3 else s[:-1] + "x" for i, s in enumerate(names)]}))
    # blocks of 10 records on each side, 5 candidates per A record
    rng = np.random.default_rng(3)
    a = np.repeat(np.arange(n), 5)
    b = (a // 10) * 10 + np.concatenate(
        [rng.choice(10, 5, replace=False) for _ in range(n)])
    pairs = spark.createDataFrame(
        pd.DataFrame({"block": a // 10, "a": a, "b": b}).drop_duplicates(["a", "b"]))
    before = _job_ids(spark)
    res = blocked_mec(A, B, ["name"], comparators={"name": jarowinkler_complement()},
                      methods={"name": "continuous_parametric"}, pairs=pairs)
    assert res.M_est.collect()
    launched = _job_ids(spark) - before
    res.unpersist()
    assert (res.route, res.omega_build) == ("driver", "records") and res.iter >= 2
    assert len(launched) <= 4, len(launched)


def test_committed_stage_read_launches_no_job(spark, tmp_path):
    """A committed stage is read back with the schema its manifest stores,
    and a stage just written with the written frame's schema: neither runs
    a parquet schema-inference job. A manifest without a stored schema
    (an older snapshot) is still read, by inference."""
    import json

    from automatedreclin_spark.checkpoint import CheckpointManager

    ck = CheckpointManager(spark, str(tmp_path))
    df = spark.range(100).select(F.col("id").alias("a"),
                                 F.array(F.col("id").cast("string")).alias("t"))
    before = _job_ids(spark)
    written = ck.stage("s", lambda: df)
    assert len(_job_ids(spark) - before) == 1       # the write itself
    inferred = spark.read.parquet(str(tmp_path / "s" / "data"))
    assert written.schema == inferred.schema
    before = _job_ids(spark)
    resumed = CheckpointManager(spark, str(tmp_path)).stage("s", lambda: df)
    assert _job_ids(spark) == before
    assert resumed.schema == inferred.schema
    manifest = tmp_path / "s" / "manifest.json"
    m = json.loads(manifest.read_text())
    m["schema"] = inferred.schema.simpleString()
    manifest.write_text(json.dumps(m))
    old = CheckpointManager(spark, str(tmp_path)).stage("s", lambda: df)
    assert old.schema == inferred.schema and old.count() == 100


@pytest.fixture(scope="module")
def linkage_jobs(spark, tmp_path_factory):
    """Jobs launched by a fresh link_repo_files run on the driver route, and
    by a recovery that lost the fit and everything after it, with the
    persisted RDD count before and after the recovery."""
    import shutil

    from automatedreclin_spark.fixtures import synth_files
    from automatedreclin_spark.pipeline import link_repo_files

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    A, B, _ = synth_files(spark, n_a=120, n_b=240, seed=3)
    ck = str(tmp_path_factory.mktemp("jobs_ck"))
    before = _job_ids(spark)
    link_repo_files(spark, A, B, ck)
    fresh = _job_ids(spark) - before
    for stage in ("40_linkage", "50_clusters", "55_entities"):
        shutil.rmtree(f"{ck}/{stage}")
    cached = persistent().size()
    before = _job_ids(spark)
    run = link_repo_files(spark, A, B, ck)
    recovery = _job_ids(spark) - before
    return run, len(fresh), len(recovery), cached, persistent().size()


def test_link_repo_files_recovery_launches_few_jobs(linkage_jobs):
    """A recovery that lost the fit and everything after it reads the four
    committed stages back without a job and runs stages 40-55 on the
    driver: the fit's keys come from the committed pair snapshots, so its
    only jobs are the collect of the prepared record values (two broadcast
    id relations and the collect), and every snapshot is written with
    pyarrow: 3 jobs, where the Spark-written stages, the keys collect and
    the entities join made 13. The run leaves no persisted RDD behind."""
    run, _, recovery, cached, after = linkage_jobs
    assert (run.fit.route, run.fit.omega_build) == ("driver", "records")
    assert recovery <= 3, recovery
    assert after == cached


def test_link_repo_files_fresh_run_launches_few_jobs(linkage_jobs):
    """A whole fresh run on the driver route: the two record snapshots'
    writes, then the fit's 3; stages 20-55 run no Spark job (blocking
    alone ran 17)."""
    _, fresh, _, _, _ = linkage_jobs
    assert fresh <= 5, fresh
