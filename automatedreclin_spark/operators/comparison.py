"""Comparison-vector computation: the central Ω DataFrame (SURVEY.md §2.3).

Re-expresses the reference's ``comparison_vectors()``
(``comparison_vectors.R:56-195``): for each candidate pair (a, b) and each key
variable k, compute ``gamma_k = comparator_k(A.k, B.k)`` as one derived column.
The pair table carries both sides' key variables after two hash joins
(broadcast when small); each gamma is either a Catalyst expression or an
Arrow-batched pandas UDF — Catalyst prunes the raw variable columns away after
projection, so at scale only (a, b, block, gamma_*) flow downstream.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automatedreclin_spark.functions.comparators import Comparator, cmp_identical
from automatedreclin_spark.operators.pairs import cross_pairs, label_pairs
from automatedreclin_spark.operators.util import ensure_parallelism, planned_partitions


@dataclass
class ComparisonVectors:
    """Result bundle mirroring the reference's `comparison_vectors` S3 object
    (``comparison_vectors.R:187-195``)."""

    omega: DataFrame
    variables: list[str]
    comparators: dict[str, Comparator]
    match_prop: float | None = None
    gamma_cols: list[str] = field(default_factory=list)
    _A: DataFrame | None = None
    _B: DataFrame | None = None
    _n_A: int | None = None
    _n_B: int | None = None
    _n: int | None = None

    # Counts are LAZY: n_A/n_B/n each cost a Spark job; scoring-only callers
    # (the registry cv_* queries) never pay them, while the model fits that
    # need them (g_est denominators, caps) compute them once on first access.
    @property
    def n_A(self) -> int:
        if self._n_A is None:
            self._n_A = self._A.count()
        return self._n_A

    @property
    def n_B(self) -> int:
        if self._n_B is None:
            self._n_B = self._B.count()
        return self._n_B

    @property
    def n(self) -> int:
        if self._n is None:
            self._n = self.omega.count()
        return self._n


def gamma_name(variable: str) -> str:
    return f"gamma_{variable}"


def resolve_comparators(
    A: DataFrame,
    B: DataFrame,
    variables: list[str],
    comparators: dict[str, Comparator] | None = None,
) -> dict[str, Comparator]:
    """Each variable's comparator, ``cmp_identical`` where none is given,
    once both record sets are known to carry every variable."""
    if any(v not in A.columns for v in variables):
        raise ValueError("Not all variables are present in A.")
    if any(v not in B.columns for v in variables):
        raise ValueError("Not all variables are present in B.")
    if not variables:
        raise ValueError("`variables` should contain at least one variable.")
    comparators = comparators or {}
    return {v: comparators[v] if v in comparators else cmp_identical()
            for v in variables}


def comparison_vectors(
    A: DataFrame,
    B: DataFrame,
    variables: list[str],
    comparators: dict[str, Comparator] | None = None,
    pairs: DataFrame | None = None,
    matches: DataFrame | None = None,
    a_col: str = "a",
    b_col: str = "b",
    check_finite: bool = True,
    broadcast_records: bool = False,
    seed_flag_variables: list[str] | None = None,
) -> ComparisonVectors:
    """Build Ω with one ``gamma_<var>`` double per key variable.

    Parameters
    ----------
    A, B : record DataFrames carrying id columns ``a_col`` / ``b_col`` plus the
        key variables. Must be duplicate-free on the id.
    pairs : optional candidate pairs (a, b[, block]); defaults to the full
        cross product (small data only — reference J1).
    matches : optional known-match pairs (a, b) → adds a 0/1 ``match`` column.
    check_finite : run the non-finite gamma guard (one agg pass; reference
        hard-errors on NA/Inf comparisons, ``comparison_vectors.R:153-172``).
    broadcast_records : hint-broadcast A/B into the pair join (small dims).
    seed_flag_variables : when given, Ω gains a boolean ``_seed`` column —
        per-row raw-value equality on ALL the listed variables, with the
        exact NULL semantics of the ``exact_match_pairs`` equi-join (NULL
        never agrees). Lets mec() fuse the exact-agreement seed count
        (unsupervised_learning.R:313-317) into its init aggregation instead
        of semi-joining every (a, b) key of Ω against the seed join — exact
        for EVERY comparator because it never goes through the (lossy) gamma.
    """
    comparators = resolve_comparators(A, B, variables, comparators)

    if pairs is None:
        # Parallelize the cross product by its INPUT, not its output: the
        # BroadcastNestedLoopJoin's partitioning is the left side's, so
        # repartitioning the (tiny) A side up front gives the expansion full
        # parallelism — where the generic under-partition guard below would
        # instead shuffle the ALREADY-EXPANDED pair table (73.5M rows paying
        # an Exchange for a 15k-row problem at sf0.1; guide §2.4).
        pair_df = cross_pairs(ensure_parallelism(A, factor=3), B,
                              a_col=a_col, b_col=b_col)
    else:
        pair_df = pairs.withColumnsRenamed({a_col: "a", b_col: "b"}) if (
            a_col != "a" or b_col != "b"
        ) else pairs

    # Comparator work is CPU-bound per pair; an under-partitioned pair table
    # (e.g. produced inside one broadcast-join task) would serialize the whole
    # gamma stage. Round-robin the narrow id table across the cluster first.
    target = pair_df.sparkSession.sparkContext.defaultParallelism * 3
    if planned_partitions(pair_df) < target:
        pair_df = pair_df.repartition(target)

    join_vars = list(variables)
    for v in (seed_flag_variables or []):
        if v not in join_vars:
            join_vars.append(v)
    a_vars = A.select(F.col(a_col).alias("a"), *[F.col(v).alias(f"_a_{v}") for v in join_vars])
    b_vars = B.select(F.col(b_col).alias("b"), *[F.col(v).alias(f"_b_{v}") for v in join_vars])
    if broadcast_records:
        a_vars = F.broadcast(a_vars)
        b_vars = F.broadcast(b_vars)

    omega = pair_df.join(a_vars, "a").join(b_vars, "b")

    gamma_cols = []
    gamma_exprs = {}
    for v in variables:
        g = gamma_name(v)
        gamma_exprs[g] = comparators[v](F.col(f"_a_{v}"), F.col(f"_b_{v}")).cast("double")
        gamma_cols.append(g)
    if seed_flag_variables:
        seed_expr = F.lit(True)
        for v in seed_flag_variables:
            seed_expr = seed_expr & (F.col(f"_a_{v}") == F.col(f"_b_{v}"))
        # NULL on any variable → NULL conjunction → the consumer's
        # count(when(_seed, 1)) / coalesce(_seed, false) treat it as
        # non-seed, exactly like the equi-join.
        gamma_exprs["_seed"] = seed_expr
    omega = omega.withColumns(gamma_exprs)

    keep = [c for c in pair_df.columns if c in ("a", "b", "block")] + gamma_cols
    if seed_flag_variables:
        keep.append("_seed")
    omega = omega.select(*keep)

    if check_finite:
        _assert_finite_gammas(omega, variables, gamma_cols)

    result = ComparisonVectors(
        omega=omega,
        variables=list(variables),
        comparators=comparators,
        gamma_cols=gamma_cols,
        _A=A,
        _B=B,
    )

    if matches is not None:
        n_matches = matches.count()
        result.omega = label_pairs(omega, matches, n_matches=n_matches)
        result.match_prop = (
            n_matches / result.n * max(result.n_A, result.n_B) if result.n else None
        )

    return result


def finite_gamma_aggs(gamma_cols: list[str]) -> list:
    """Per-gamma non-finite counters (C5) as aggregate expressions, aliased
    ``_nf_<gamma>`` so callers can FUSE the guard into an existing
    aggregation job instead of paying a dedicated pass over Ω."""
    return [
        F.sum(
            F.when(F.col(g).isNull() | F.isnan(g) | (F.abs(F.col(g)) == float("inf")), 1).otherwise(0)
        ).alias(f"_nf_{g}")
        for g in gamma_cols
    ]


def raise_if_nonfinite(counts: dict, variables: list[str], gamma_cols: list[str]) -> None:
    """Raise the reference-shaped C5 error from fused ``_nf_<gamma>`` counts."""
    bad = [(v, counts[f"_nf_{g}"]) for v, g in zip(variables, gamma_cols)
           if counts[f"_nf_{g}"]]
    if bad:
        details = ", ".join(
            f"{v} ({c} invalid value{'s' if c != 1 else ''})" for v, c in bad
        )
        raise ValueError(
            "Comparison variables produced missing or non-finite values: "
            f"{details}. Please handle missing key values or adjust comparators "
            "before running record linkage."
        )


def _assert_finite_gammas(omega: DataFrame, variables: list[str], gamma_cols: list[str]) -> None:
    """Non-finite gamma guard (C5) — single aggregation pass over all gamma
    columns; raises with the reference's message shape."""
    counts = omega.agg(*finite_gamma_aggs(gamma_cols)).collect()[0].asDict()
    raise_if_nonfinite(counts, variables, gamma_cols)
