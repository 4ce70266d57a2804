"""Candidate-pair generation (SURVEY.md §2.2 J1–J7).

Pair tables are ``DataFrame[a: long, b: long]`` keyed by stable record ids —
NOT positional row indices like the reference (``comparison_vectors.R:95-130``)
— because positional indexing doesn't survive distribution. Fixtures/wrappers
assign 1-based ids when reference parity matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automatedreclin_spark.operators.util import planned_partitions


def cross_pairs(A: DataFrame, B: DataFrame, a_col: str = "a", b_col: str = "b") -> DataFrame:
    """J1 — full Cartesian pair space Ω = A × B (reference
    ``comparison_vectors.R:136-141``). Only for small inputs; the scale path
    is :func:`block_pairs`."""
    return A.select(F.col(a_col).alias("a")).crossJoin(B.select(F.col(b_col).alias("b")))


def block_pairs(
    A: DataFrame,
    B: DataFrame,
    block_col: str = "block",
    a_col: str = "a",
    b_col: str = "b",
    dedup: bool | None = None,
) -> DataFrame:
    """J4 — within-block pair expansion: equi-join on the blocking key,
    deduplicated on (a, b) when keys may overlap (reference
    ``internals.R:718-737`` + dedup/sort ``unsupervised_learning.R:1078-1081``).

    THE scalable candidate generator: the cross product becomes a shuffle on
    ``block``; AQE skew-join handles moderately hot blocks, and explicitly
    salted keys (operators/blocking.py) handle pathological ones.

    ``dedup=False`` skips the (a, b) dropDuplicates — a full extra shuffle of
    the pair table — and is CORRECT whenever each record carries at most one
    block (disjoint blocking keys). Multi-probe assignments need the default
    dedup=True. Returns columns (block, a, b).
    """
    a_side = A.select(F.col(block_col).alias("block"), F.col(a_col).alias("a"))
    b_side = B.select(F.col(block_col).alias("block"), F.col(b_col).alias("b"))
    # The join EXPANDS rows massively (pair explosion). If the probe side has
    # fewer partitions than cores (small dims, single parquet file), the
    # whole expansion runs in those few tasks regardless of cluster size —
    # spread the probe side first (hash on (block, a): co-location on block
    # is irrelevant under broadcast, and high-cardinality a evens the load).
    spark = A.sparkSession
    # 3x cores: finer tasks amortize stragglers in the CPU-bound scoring tail
    # (a single slow partition otherwise idles the rest of the cluster).
    target = spark.sparkContext.defaultParallelism * 3
    if planned_partitions(a_side) < target:
        a_side = a_side.repartition(target, F.col("block"), F.col("a"))
    joined = a_side.join(b_side, "block")
    if dedup is None:
        dedup = True  # safe default; hot paths pass False for disjoint keys
    return joined.dropDuplicates(["a", "b"]) if dedup else joined


def validate_pairs(pairs: DataFrame, n_A: int, n_B: int) -> None:
    """J2 validation — bounds / integrality / no NULLs / no duplicate pairs
    (error semantics of ``comparison_vectors.R:95-130``). One aggregation pass.
    """
    if not {"a", "b"}.issubset(set(pairs.columns)):
        raise ValueError("`pairs` should contain columns: a, b.")
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a").isNull() | F.col("b").isNull(), 1).otherwise(0)).alias("nulls"),
        F.min("a").alias("min_a"),
        F.max("a").alias("max_a"),
        F.min("b").alias("min_b"),
        F.max("b").alias("max_b"),
        F.count_distinct(F.col("a"), F.col("b")).alias("n_distinct"),
    ).collect()[0]
    if stats["nulls"] and stats["nulls"] > 0:
        raise ValueError("`pairs` cannot contain missing values.")
    if stats["n"] == 0:
        return
    if stats["min_a"] < 1 or stats["min_b"] < 1:
        raise ValueError("`pairs` should contain positive row indices in columns a and b.")
    if stats["max_a"] > n_A or stats["max_b"] > n_B:
        raise ValueError("`pairs` contains row indices outside the input datasets.")
    if stats["n_distinct"] < stats["n"]:
        raise ValueError("`pairs` should not contain duplicate record pairs.")


def validate_pairs_membership(
    pairs: DataFrame, A: DataFrame, B: DataFrame,
    a_col: str = "a", b_col: str = "b",
) -> None:
    """Stable-id generalization of the reference's positional pair validation
    (internals.R:122-159): no NULLs, no duplicate pairs, and every id must
    EXIST in its record set (bounds checks don't apply to non-positional
    ids). Two anti-joins + one aggregation."""
    if not {"a", "b"}.issubset(set(pairs.columns)):
        raise ValueError("`pairs` should contain columns: a, b.")
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a").isNull() | F.col("b").isNull(), 1).otherwise(0)).alias("nulls"),
        F.count_distinct(F.col("a"), F.col("b")).alias("n_distinct"),
    ).collect()[0]
    if stats["nulls"] and stats["nulls"] > 0:
        raise ValueError("`pairs` cannot contain missing values.")
    if stats["n_distinct"] < stats["n"]:
        raise ValueError("`pairs` should not contain duplicate record pairs.")
    a_ids = A.select(F.col(a_col).alias("a"))
    b_ids = B.select(F.col(b_col).alias("b"))
    missing = (
        pairs.select("a").join(a_ids, "a", "left_anti").limit(1).count()
        + pairs.select("b").join(b_ids, "b", "left_anti").limit(1).count()
    )
    if missing:
        raise ValueError("`pairs` contains record ids absent from the input datasets.")


def exact_match_pairs(
    A: DataFrame, B: DataFrame, variables: list[str], a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """J3 — exact-agreement seed join: inner equi-join of A and B on ALL key
    variables (reference ``exact_match_pairs`` internals.R:740-746). Seeds the
    unsupervised MEC match set. Returns DataFrame[a, b]."""
    left = A.select(F.col(a_col).alias("a"), *variables)
    right = B.select(F.col(b_col).alias("b"), *variables)
    return left.join(right, on=variables, how="inner").select("a", "b")


def has_perfect_agreement(A: DataFrame, B: DataFrame, variables: list[str]) -> bool:
    """Existence pre-check (reference ``has_perfect_agreement``
    internals.R:106-112): left-semi join + limit(1) — Catalyst early-outs."""
    return (
        A.select(*variables)
        .join(B.select(*variables), on=variables, how="left_semi")
        .limit(1)
        .count()
        > 0
    )


#: broadcast the match-label side of label_pairs up to this many pairs —
#: two longs per row ≈ tens of MB at the cap, far cheaper than the
#: SortMergeJoin alternative, which shuffles + sorts ALL of Ω.
LABEL_BROADCAST_MAX = 5_000_000


def label_pairs(omega: DataFrame, matches: DataFrame,
                n_matches: int | None = None) -> DataFrame:
    """J5 — mark Ω rows present in ``matches`` with match=1.0 via left join on
    (a, b) (reference ``comparison_vectors.R:176-185``).

    ``n_matches``: pass the known match count to force a broadcast join when
    small. ``matches`` is typically the output of a join, whose Catalyst size
    ESTIMATE is far above the broadcast threshold even for a few thousand
    rows — without the hint the label join plans as a SortMergeJoin that
    shuffles and sorts every Ω row (measured: the dominant cost of the whole
    supervised training pass at sf0.1; guide §3.1 "estimates are often badly
    wrong after filters, use an explicit broadcast hint")."""
    flagged = matches.select("a", "b").withColumn("match", F.lit(1.0))
    if n_matches is not None and n_matches <= LABEL_BROADCAST_MAX:
        flagged = F.broadcast(flagged)
    return omega.join(flagged, ["a", "b"], "left").fillna({"match": 0.0})
