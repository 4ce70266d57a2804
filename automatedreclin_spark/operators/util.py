"""Small physical-plan utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

#: storage level for localCheckpoint blocks: the PYTHON MEMORY_AND_DISK maps
#: to a SERIALIZED JVM level (deserialized=False), unlike the Scala default
#: localCheckpoint level which stores row OBJECTS. Serialized blocks matter
#: twice at scale: the footprint is several× smaller, and a block spilled to
#: disk under pressure is re-promoted to memory as bounded BYTES — the
#: deserialized re-promotion path (BlockManager.maybeCacheDiskValuesInMemory
#: → MemoryStore.putIteratorAsValues) is what OOM'd the 28 GB heap on the
#: 400M-pair heavy anchor's alpha fit.
_LOCAL_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _plan_partitions(node) -> int:
    if _kind(node) == "AdaptiveSparkPlanExec":
        # The not-yet-executed adaptive plan: its current physical plan
        # already carries the planned exchanges.
        return _plan_partitions(node.executedPlan())
    n = node.outputPartitioning().numPartitions()
    if n > 0:
        return n
    # Unknown partitioning: a narrow node keeps its input's partitions, a
    # broadcast join its streamed side's (broadcast inputs never count).
    children = []
    it = node.children().iterator()
    while it.hasNext():
        child = it.next()
        if not _kind(child).startswith(("BroadcastExchange", "BroadcastQueryStage")):
            children.append(child)
    if children:
        counts = [_plan_partitions(c) for c in children]
        return sum(counts) if _kind(node) == "UnionExec" else max(counts)
    if _kind(node) == "InMemoryTableScanExec":
        return _plan_partitions(node.relation().cachedPlan())
    # A scan leaf: building its RDD lists the input splits, it runs no job.
    return node.execute().getNumPartitions()


def planned_partitions(df: DataFrame) -> int:
    """Partition count of ``df`` read from its planned physical plan.

    ``df.rdd.getNumPartitions()`` is no substitute under adaptive execution:
    it executes every upstream shuffle stage to learn the final count and
    then throws the stages away (4 jobs just to plan block_pairs,
    comparison_vectors and ensure_parallelism over one shuffled input,
    tests/test_plans.py). This reads the plan instead and launches no Spark
    job. A shuffle's count is the planned one, before adaptive coalescing."""
    return _plan_partitions(df._jdf.queryExecution().executedPlan())


def ensure_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Round-robin repartition to cluster parallelism when the input is
    under-partitioned (e.g. a single small parquet file). CPU-heavy narrow
    work (per-row hashing, UDF kernels) otherwise runs in however many tasks
    the SCAN produced, which has nothing to do with how expensive the
    downstream expressions are. No-op when already parallel enough."""
    target = df.sparkSession.sparkContext.defaultParallelism * factor
    if planned_partitions(df) < target:
        return df.repartition(target)
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Immediately release the storage behind a ``cut_lineage``/
    ``localCheckpoint`` frame that is DEAD (every consumer has materialized).

    ``DataFrame.unpersist()`` is a silent no-op for checkpointed frames —
    the blocks belong to an RDD, not a CacheManager entry, and are otherwise
    only reclaimed when the ContextCleaner notices the RDD is unreachable
    (unbounded lag in a long session; measured: repeated distributed-greedy
    fits each pinned every per-round residual until then). This walks the
    analyzed plan's LogicalRDD leaves and unpersists their RDDs directly.

    DANGER: a checkpointed frame has no lineage to recompute from — only
    call this when nothing will scan the frame again."""
    try:
        it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
        while it.hasNext():
            leaf = it.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                leaf.rdd().unpersist(False)
    except Exception:  # best-effort: storage release must never fail a job
        pass


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and cut its lineage — the per-round step of every
    iterative loop (mutual-best selection, connected components).

    Strategy is controlled by the session conf
    ``spark.automatedreclin.lineageCut``:

    - ``auto`` (default): use a RELIABLE checkpoint when the SparkContext has
      a checkpoint dir set (``sc.setCheckpointDir`` — HDFS/object store on a
      real cluster), else ``localCheckpoint``.
    - ``local``: always ``localCheckpoint`` — fastest (executor-local
      storage), but a lost executor makes the checkpoint unrecoverable, so
      it is only safe single-JVM or for restartable jobs.
    - ``reliable``: always ``df.checkpoint`` (raises loudly if no checkpoint
      dir is set rather than silently degrading to executor storage).

    Cluster deployments therefore opt in with one line —
    ``spark.sparkContext.setCheckpointDir("hdfs://...")`` — and every
    iterative loop in the package becomes executor-loss-tolerant."""
    spark = df.sparkSession
    mode = spark.conf.get("spark.automatedreclin.lineageCut", "auto")
    if mode == "local":
        return df.localCheckpoint(eager=eager, storageLevel=_LOCAL_CKPT_LEVEL)
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    has_dir = spark.sparkContext._jsc.sc().getCheckpointDir().isDefined()
    if has_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager, storageLevel=_LOCAL_CKPT_LEVEL)

