"""SparkSession factory tuned for the linkage workload.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default all cores); the
same configuration block is what we'd pass to ``spark-submit`` on a real
cluster — AQE with skew-join splitting enabled, Arrow for pandas UDFs, and a
shuffle-partition count sized for the sandbox (32) that AQE coalesces/splits
at runtime.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "automatedreclin-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with linkage-appropriate defaults.

    Parameters
    ----------
    cpus: local parallelism (``local[cpus]``); defaults to $SPARK_GRAFT_CPUS
        or all cores. Pass explicitly to run scaling experiments
        (e.g. 8 vs 32).
    shuffle_partitions: initial shuffle parallelism; AQE coalesces at runtime.
    """
    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")

    # Make this package importable in executor Python workers regardless of
    # the driver script's cwd (applyInPandas / pandas-UDF closures reference
    # it). Local mode: workers inherit PYTHONPATH from the driver process.
    # Real cluster: ship the package with `spark-submit --py-files pkg.zip`.
    pkg_parent = str(Path(__file__).resolve().parents[1])
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + pypath if pypath else "")
        )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # `master` overrides the default local[cpus] — used by the
    # local-cluster[N,C,M] executor-boundary smoke (real executor JVMs, real
    # serialization/broadcast/shuffle service, scripts/bench_local_cluster.py)
    builder = (
        SparkSession.builder.master(master or f"local[{cpus}]")
        .appName(app_name)
        # Adaptive execution: runtime coalescing of shuffle partitions and
        # skew-join splitting — hot blocks in the candidate-pair join get
        # split without manual salting for moderate skew (we still salt
        # pathological blocks explicitly, see operators/blocking.py).
        # R-parity float semantics: x/0 must not hard-error (the inverted MEC
        # legitimately produces zero match-side densities → ratio +Inf).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let AQE coalesce shuffles inside persisted plans too. Spark 4.1
        # defaults this to false, which pins every cached plan (Ω, the
        # fit's match sets, the block summary) at the full shuffle-partition
        # count: on local[2], each blocked selection over a 300x600
        # link_repo_files' 9.7k candidate pairs ran its grouped-map sweep as
        # 32 Python tasks. Coalesced, the sweep runs as one task.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Arrow transfer for pandas UDFs (comparators) — mandatory for the
        # vectorized comparison-vector stage. Batch size 2048 (not the 10000
        # default): measured on the 50M-pair scoring workload, smaller
        # batches keep the Arrow buffers + numpy kernel intermediates cache-
        # resident, which matters most when all cores are busy — 32-core
        # scoring ran 26% faster at 2048 than at 10000 (11.0s vs 15.0s) and
        # 8->32 scaling efficiency rose from 0.60 to ~0.69.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Unix-domain sockets for the JVM<->Python-worker channel. Spark
        # 4.1's single-threaded PythonRunner over TCP loopback livelocks its
        # epoll write/read loop against large grouped-map transfers: the r5
        # heavy anchor spent ~50% of the MACHINE in system time (JVM task
        # threads with 300+ CPU-seconds inside ReaderInputStream selector
        # loops, Python sweep workers at 10s user / 490s system) while a
        # 400M-row applyInPandas sweep crawled. Measured on a 20M-row
        # grouped-map repro: TCP 73.0s -> UDS 16.6s (4.4x) at the same batch
        # size; larger Arrow batches recover only 73->59s on TCP and HURT
        # under UDS (30s at 65536), so the fix is the channel, not batching.
        .config("spark.python.unix.domain.socket.enabled",
                os.environ.get("SPARK_GRAFT_PY_UDS", "true"))
        # Spark 4.1's ChecksumCheckpointFileManager deadlocks committing many
        # state-store partitions concurrently on local FS (stateful streaming
        # ops hang); checksums are redundant for the local-FS sandbox anyway.
        .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
        # Defense-in-depth for user-authored ORDER BY ... LIMIT k: above this
        # k Spark abandons TakeOrderedAndProject (per-partition top-k merged
        # on the driver — k rows of driver memory) for a distributed sort.
        # The library's own truncations never rely on this: selection.py
        # routes any budget > TOPK_VIA_SORT_MAX (1M) through the sketch-
        # based retain_top_n, which needs neither a driver merge nor a
        # single-partition sort.
        .config("spark.sql.execution.topKSortFallbackThreshold", "10000000")
        # Heartbeat expiry headroom. The driver-side HeartbeatReceiver kills
        # any executor silent for spark.network.timeout (default 120s); under
        # a heavy cache rebuild (400M-row gamma base re-persisting to disk)
        # the single local JVM can stall its RPC dispatcher past that and the
        # "expired executor" IS the driver — the whole SparkContext tears
        # down mid-job (observed on the r5 heavy anchor: 121,865ms silence →
        # context shutdown from inside the alpha fit). Local mode gains
        # nothing from expiring its own JVM; on a real cluster this same
        # setting is the standard guard against GC-pause false positives.
        .config("spark.network.timeout",
                os.environ.get("SPARK_GRAFT_NETWORK_TIMEOUT", "600s"))
        # Keep the UI off in the sandbox.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
