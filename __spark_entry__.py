"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship blocked binary MEC linkage at sf0.001
queries()     — operator registry: the 14 linkage and scoring queries of
                SURVEY.md §2
oracle_sql()  — DuckDB equivalents; every query has one (the iterative fits
                via invariant-table oracles whose anchors DuckDB recomputes
                independently)

The registry callables run against WHATEVER SparkSession the driver passes;
`_ensure_shipped` ships this package to executor Python workers via
``addPyFile`` so pandas-UDF / applyInPandas closures resolve regardless of
the driver's cwd or PYTHONPATH.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = Path(__file__).resolve().parent
if str(_REPO) not in sys.path:
    sys.path.insert(0, str(_REPO))

from automatedreclin_spark.entry_queries import ORACLES, QUERIES  # noqa: E402
from automatedreclin_spark.session import package_zip  # noqa: E402

_SHIPPED: set[str] = set()


def _ensure_shipped(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    zip_path = Path("/tmp") / f"automatedreclin_spark_{app_id}.zip"
    if not zip_path.exists():
        package_zip(zip_path)
    spark.sparkContext.addPyFile(str(zip_path))
    _SHIPPED.add(app_id)


def _wrap(fn: Callable[[SparkSession, str], DataFrame]):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)

    run.__name__ = getattr(fn, "__name__", "query")
    run.__doc__ = fn.__doc__
    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: blocked unsupervised binary
    MEC over the customer-derived record sets; returns matched pairs
    (a, b, ratio). (The registry's `mec_binary_customer` runs the same fit
    but emits its oracle-checkable invariant table.)"""
    _ensure_shipped(spark)
    from automatedreclin_spark.entry_queries import _record_sets
    from automatedreclin_spark.models.mec import mec
    from automatedreclin_spark.operators.pairs import block_pairs

    A, B = _record_sets(spark, "/root/testdata/sf0.001")
    pairs = block_pairs(A, B, block_col="block", dedup=False)
    res = mec(A, B, variables=["name", "seg"],
              pairs=pairs.select("block", "a", "b"), block_col="block")
    return res.M_est.orderBy("a", "b")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _wrap(fn) for name, fn in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
