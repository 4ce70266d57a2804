"""SparkSession settings tuned for the linkage workload.

:data:`ENGINE_CONF` is the engine configuration every session the library
runs on shares: AQE with skew-join splitting, Arrow for pandas UDFs and the
Unix-domain-socket Python channel. :func:`get_spark` builds the local session
(``local[$SPARK_GRAFT_CPUS]``, default all cores) from it, and the
``spark-submit`` job (``jobs/linkage_job.py``) applies the same mapping to
whatever master it is submitted to.
"""

from __future__ import annotations

import os
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

ENGINE_CONF: dict[str, str] = {
    # R-parity float semantics: x/0 must not hard-error (the inverted MEC
    # legitimately produces zero match-side densities → ratio +Inf).
    "spark.sql.ansi.enabled": "false",
    # Adaptive execution: runtime coalescing of shuffle partitions and
    # skew-join splitting — hot blocks in the candidate-pair join get split
    # without salting (blocks over the pair budget are dropped and reported
    # first, see operators/blocking.py cap_blocks).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce shuffles inside persisted plans too. Spark 4.1
    # defaults this to false, which pins every cached plan (Ω, the fit's
    # match sets, the block summary) at the full shuffle-partition count:
    # on local[2], each blocked selection over a 300x600 link_repo_files'
    # 9.7k candidate pairs ran its grouped-map sweep as 32 Python tasks.
    # Coalesced, the sweep runs as one task.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Arrow transfer for pandas UDFs (comparators) — mandatory for the
    # vectorized comparison-vector stage. Batch size 2048 (not the 10000
    # default): measured on the 50M-pair scoring workload, smaller batches
    # keep the Arrow buffers + numpy kernel intermediates cache-resident,
    # which matters most when all cores are busy — 32-core scoring ran 26%
    # faster at 2048 than at 10000 (11.0s vs 15.0s) and 8->32 scaling
    # efficiency rose from 0.60 to ~0.69.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # Unix-domain sockets for the JVM<->Python-worker channel. Spark 4.1's
    # single-threaded PythonRunner over TCP loopback livelocks its epoll
    # write/read loop against large grouped-map transfers: a 400M-pair fit
    # spent ~50% of the machine in system time (JVM task threads with 300+
    # CPU-seconds inside ReaderInputStream selector loops, Python sweep
    # workers at 10s user / 490s system) while a 400M-row applyInPandas
    # sweep crawled. Measured on a 20M-row grouped-map repro: TCP 73.0s ->
    # UDS 16.6s (4.4x) at the same batch size; larger Arrow batches recover
    # only 73->59s on TCP and HURT under UDS (30s at 65536), so the fix is
    # the channel, not batching.
    "spark.python.unix.domain.socket.enabled": "true",
    # Defense-in-depth for user-authored ORDER BY ... LIMIT k: above this k
    # Spark abandons TakeOrderedAndProject (per-partition top-k merged on
    # the driver — k rows of driver memory) for a distributed sort. The
    # library's own truncations never rely on this: selection.py routes any
    # budget > TOPK_VIA_SORT_MAX (1M) through the sketch-based retain_top_n,
    # which needs neither a driver merge nor a single-partition sort.
    "spark.sql.execution.topKSortFallbackThreshold": "10000000",
    # Heartbeat expiry headroom. The driver-side HeartbeatReceiver kills any
    # executor silent for spark.network.timeout (default 120s); under a
    # heavy cache rebuild (400M-row gamma base re-persisting to disk) the
    # single local JVM can stall its RPC dispatcher past that and the
    # "expired executor" IS the driver — the whole SparkContext tears down
    # mid-job (observed on a 400M-pair alpha fit: 121,865ms silence →
    # context shutdown). Local mode gains nothing from expiring its own JVM;
    # on a real cluster this same setting is the standard guard against
    # GC-pause false positives.
    "spark.network.timeout": "600s",
}


def get_spark(
    app_name: str = "automatedreclin-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int = 32,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a local SparkSession with :data:`ENGINE_CONF`.

    Parameters
    ----------
    cpus: local parallelism (``local[cpus]``); defaults to $SPARK_GRAFT_CPUS
        or all cores.
    shuffle_partitions: initial shuffle parallelism, sized for the sandbox;
        AQE coalesces at runtime.
    extra_conf: settings applied last, over the defaults.
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

    conf = {
        **ENGINE_CONF,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Keep the UI off in the sandbox.
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        **(extra_conf or {}),
    }
    spark = (SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
             .config(map=conf).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def package_zip(out: Path) -> Path:
    """Write this package's ``.py`` files to the zip ``out``, the
    ``--py-files`` / ``addPyFile`` form executors import it from."""
    package = Path(__file__).resolve().parent
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(package.rglob("*.py")):
            zf.write(py, py.relative_to(package.parent))
    return out
