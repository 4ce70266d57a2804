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


def test_token_stats_stays_jvm_side(spark):
    """Pure-Catalyst queries must contain no Python evaluation node."""
    df = QUERIES["text_token_stats"](spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_cv_jaro_uses_arrow_not_row_python(spark):
    """The Jaro comparator must be Arrow-batched (ArrowEvalPython), never a
    row-at-a-time BatchEvalPython."""
    df = QUERIES["cv_jaro"](spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_dedup_exact_partial_aggregation(spark):
    """sha-groupBy aggregates must be partial (map-side combine) —
    HashAggregate appears on both sides of the exchange."""
    df = QUERIES["dedup_exact"](spark, SF)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def test_embeddings_scan_prunes_label(spark):
    df = QUERIES["ann_cosine_topk"](spark, SF)
    plan = _plan(df)
    assert "label" not in plan  # embeddings.label unused → pruned from scan


def test_no_cartesian_anywhere_in_registry(spark):
    """Only the deliberate broadcast cross join in brute-force ANN may use a
    cross-product node; every other registry query must avoid it."""
    allowed = {"ann_cosine_topk"}
    for name, fn in QUERIES.items():
        if name in allowed or name in (
            # iterative fits build many plans; checked via their operators
            "mec_binary_customer", "blocked_mec_customer", "supervised_predict",
            "dedup_clusters",
        ):
            continue
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, name


def test_ann_cosine_broadcasts_query_side(spark):
    """ann_cosine_topk: the tiny query side must be explicitly broadcast —
    the corpus then streams through a BroadcastNestedLoopJoin with no
    shuffle, the only brute-force plan that survives a large corpus."""
    df = QUERIES["ann_cosine_topk"](spark, SF)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_score_ratio_fixed_params_stays_jvm_side(spark):
    """Fixed-param density-ratio scoring (A5/A6/A9) is pure Catalyst: no
    Python evaluation nodes in the plan, and the customer scan is pruned to
    the columns the record sets actually use."""
    df = QUERIES["score_ratio_fixed_params"](spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "c_acctbal" not in plan      # column pruning reaches the scan
    assert "CartesianProduct" not in plan


def test_language_id_stays_jvm_side(spark):
    """language_id is pure Catalyst since round 2 — no Python eval nodes."""
    df = QUERIES["language_id"](spark, SF)
    plan = _plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


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
