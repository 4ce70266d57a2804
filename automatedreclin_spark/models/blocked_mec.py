"""Blocked unsupervised MEC — the inverted fit on candidate pairs.

Re-expresses ``mec_blocking()`` (unsupervised_learning.R:972-1205) and
``fit_mec_blocking_inverted_omega`` (internals.R:1953-2222), the reference's
scale path: blocking bounds the pair space, the classifier is fit INVERTED
(score s = u/m, ascending greedy selection, q̂ = posterior NONmatch
probability), and the structural bounds come from the block summary
(ν = Σ min(n_Ah, n_Bh); n_U_min = N − ν).

One fit loop, two routes for the operations over Ω, chosen by |Ω|:
- **driver** (|Ω| < ``_FIT_LOCAL``): init, every iteration and the outputs
  run in numpy over Ω on the driver (``_LocalOmega``); ``M_est`` and
  ``scored`` are local frames. Ω is built there in four steps:
    1. one bounded collect of the (block, a, b) keys, at most
       ``_FIT_LOCAL`` rows, or none when the caller hands in the keys as a
       pandas frame: fewer rows decide the route, and block sizes, ν and
       |Ω| then come from pandas (pairs mode);
    2. the comparators' *prepared* values, once per record, for the
       records Ω references: computed on the driver
       (``Comparator.prep_local``) from batch readers of the records when
       the caller hands them in (the pipeline's record snapshots), with no
       Spark job and only the referenced records' prepared values kept
       from each batch; otherwise, or for a comparator with no driver
       prep, in one collect, both sides at once, of ``Comparator.prep``
       evaluated by Spark;
    3. the gammas from each comparator's numpy form
       (``Comparator.local``), in bounded chunks of pairs;
    4. the fit.
  A comparator with no local form, prepared values whose types differ
  between the sides, or prepared values over ``_PREP_BUDGET`` bytes keep
  the Spark build instead: Ω, comparators included, collected from the
  pair join. ``BlockedMecResult.omega_build`` names the build taken. The
  pair-join plan is built only for that build and for the distributed
  route; the records build needs only the comparators and Ω's schema (the
  keys' plus one double per gamma).
- **distributed** (``_SparkOmega``): Ω is persisted once, then per iteration
    1 fused agg over Ω → match- and nonmatch-side params (driver Newton
      with the fallback chain)
    score + q̂ column exprs → 1 agg (Σq̂)
    per-block ascending greedy (applyInPandas) + global top-k → new M,
      counted; an ``exceptAll`` probe when its size is unchanged.

The optional ``alpha`` nonmatch-drop (T6, spec in
papers/nonmatch_fraction_spec_updated.pdf) ranks current nonmatches by q̂ and
drops the top α fraction from the U-side fit; diagnostics mirror the
reference's reason codes (internals.R:1842-1950).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    AtomicType,
    BinaryType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.storagelevel import StorageLevel

from automatedreclin_spark.functions.numerics import gamma_shape_newton
from automatedreclin_spark.models import families as fam
from automatedreclin_spark.operators.blocking import block_summary
from automatedreclin_spark.operators.comparison import (
    comparison_vectors,
    finite_gamma_aggs,
    gamma_name,
    raise_if_nonfinite,
    resolve_comparators,
)
from automatedreclin_spark.operators.pairs import block_pairs
from automatedreclin_spark.operators.selection import (
    greedy_select_local,
    retain_top_n,
    select_mec_pairs,
)
from automatedreclin_spark.evaluation import evaluation, get_metrics, get_confusion

_INF = float("inf")

#: |Ω| below which the fit runs on the driver: 2M pairs of (block, a, b) and
#: three gammas are ~100 MB of numpy columns there (the size of
#: clustering._FINISH_LOCAL's edge bound). From it up, Ω stays distributed;
#: 0 keeps every fit distributed.
_FIT_LOCAL = 2_000_000

#: Driver bytes (Arrow payload and offsets) the prepared values of the
#: records Ω references may take; above it the driver route collects Ω from
#: the Spark pair join instead. Each record is first sent only if it is
#: within its even share of the budget, so the driver never holds more.
_PREP_BUDGET = 256 << 20

#: Bounds on one chunk of pairs handed to the comparators' numpy forms: the
#: rows, and the prepared bytes of their two records.
_CHUNK_ROWS = 1 << 16
_CHUNK_BYTES = 64 << 20

#: alpha U-drop path: materialize the narrow U projection (keys + score +
#: gammas, DISK_ONLY) once per iteration when |U| is at least this, so the
#: ~9 retention/fit passes scan a compact columnar cache instead of
#: re-running the anti join + hurdle-gamma ratio arithmetic over Ω each
#: time (BENCH.md round-5 heavy adjudication). The lazy per-pass cost
#: scales with |Ω| (full anti join + arithmetic) while the write scales
#: with the NARROW |U|, so materializing wins at any non-toy size —
#: measured 4,241→90 s at the 400M heavy anchor and 26→~2 s per alpha
#: iteration at sf0.1 (|U| ≈ 4M). The floor only spares toy/test fits the
#: fixed persist/unpersist latency. Plan-only: results are identical
#: either way (pinned by test).
_ALPHA_U_MATERIALIZE_MIN = 1_000_000


@dataclass
class BlockedMecResult:
    M_est: DataFrame                     # (a, b, block, ratio)
    n_M_est: int
    n_U_est: int
    candidate_pair_count: int
    nu: int
    n_U_min: int
    iter: int
    convergence_reason: str
    alpha: float
    n_U_fit: int
    b_params: pd.DataFrame | None
    cpar_params: pd.DataFrame | None
    block_estimates: DataFrame | None
    u_fit_diagnostics: pd.DataFrame
    #: where the Ω operations ran: "driver" (numpy over Ω on the driver) or
    #: "distributed" (Spark jobs over the persisted Ω)
    route: str
    #: how Ω's gammas were computed, on the driver route numpy over
    #: per-record prepared values from "snapshot" (the batch readers) or
    #: "records" (a Spark collect), or "spark" (the Spark pair join)
    omega_build: str
    blocking_eval: dict[str, float] | None = None
    eval_metrics: dict[str, float] | None = None
    confusion: list[list[int]] | None = None
    scored: DataFrame | None = None
    #: the driver route's M_est rows as a pandas frame (None when distributed)
    M_est_local: pd.DataFrame | None = None
    #: wall-clock attribution, mirroring MecResult: total seconds per
    #: iteration, their substage split (side_fits = M/U parameter estimation
    #: incl. the alpha retention passes; q_sum = scoring and Σq̂;
    #: select = greedy + truncation + new-M count/convergence),
    #: and the non-iterative stages (pair_setup = the pair plans and, where
    #: Spark computes it, the block summary; init_agg = building Ω: on the
    #: driver route the keys collect, the prepared values (read from the
    #: batch readers, or collected) and the numpy comparators (or the
    #: Spark Ω collect), on the distributed route
    #: the guard agg that materializes the Ω cache; init_select = the
    #: ascending init greedy of ν pairs; final_summary = the outputs).
    iter_seconds: list[float] = field(default_factory=list)
    iter_substage_seconds: list[dict[str, float]] = field(default_factory=list)
    stage_seconds: dict[str, float] = field(default_factory=dict)
    #: the persisted frames M_est, scored and block_estimates read lazily:
    #: Ω with its gammas, the block summary and the final match keys (the
    #: block summary alone on the driver route, whose outputs are local).
    cached: list[DataFrame] = field(default_factory=list, repr=False)

    def unpersist(self) -> None:
        """Release the fit's cached frames. M_est, scored and
        block_estimates stay valid but recompute Ω, comparators included,
        when read again, so release only once they are consumed (e.g.
        written to a checkpoint)."""
        for df in self.cached:
            df.unpersist()


def _estimate_side(
    df: DataFrame,
    b_gammas: list[str],
    cpar_gammas: list[str],
) -> dict[str, Any]:
    """One aggregation pass → the binary-rate and hurdle-Gamma sufficient
    statistics of ``df`` (see ``_side_params_from_row``)."""
    aggs: list = []
    if b_gammas:
        aggs += fam.binary_fit_aggs(b_gammas, "rate")
    if cpar_gammas:
        aggs += fam.cpar_fit_aggs(cpar_gammas, "s")
    return df.agg(*aggs).collect()[0].asDict()


def _side_params_from_row(
    row: dict,
    b_gammas: list[str],
    cpar_gammas: list[str],
    side: str,
    fallback: dict[str, list[float]] | None,
    context: str = "blocked_mec()",
    suffix: str = "",
) -> dict[str, Any]:
    """Binary rates + hurdle-Gamma params from an aggregate row, with the
    reference's fallback chain (``estimate_hurdle_gamma_params``
    internals.R:1443-1502): <2 positives or non-finite estimate → fallback
    (alpha, beta); no fallback → error. ``suffix`` addresses null-masked
    gamma projections (fused two-side agg)."""
    out: dict[str, Any] = {}
    if b_gammas:
        out["rate"] = [float(row[f"rate_{g}{suffix}"]) for g in b_gammas]
    if cpar_gammas:
        p_0, alpha, beta = [], [], []
        for i, gb in enumerate(cpar_gammas):
            g = f"{gb}{suffix}"
            p_0.append(float(row[f"s_p0_{g}"]))
            n_pos = int(row[f"s_npos_{g}"] or 0)
            est_a = est_b = float("nan")
            if n_pos >= 2:
                try:
                    est_a = gamma_shape_newton(
                        n_pos, float(row[f"s_sum_{g}"]), float(row[f"s_sumlog_{g}"])
                    )
                    est_b = est_a / (float(row[f"s_sum_{g}"]) / n_pos)
                except ValueError:
                    pass
            ok = (
                math.isfinite(est_a) and math.isfinite(est_b)
                and est_a > 0 and est_b > 0
            )
            if not ok:
                fb_a = fallback["alpha"][i] if fallback else float("nan")
                fb_b = fallback["beta"][i] if fallback else float("nan")
                if not (math.isfinite(fb_a) and math.isfinite(fb_b) and fb_a > 0 and fb_b > 0):
                    raise ValueError(
                        f"{context} cannot estimate "
                        f"{'match' if side == 'M' else 'nonmatch'}-side Gamma "
                        f"parameters for `{gb}`; at least two positive continuous "
                        "comparisons or finite fallback parameters are required."
                    )
                est_a, est_b = fb_a, fb_b
            alpha.append(est_a)
            beta.append(est_b)
        out["p_0"] = p_0
        out["alpha"] = alpha
        out["beta"] = beta
    return out


def _q_est_expr(n_U: float, N: float):
    """q̂ = posterior nonmatch prob with the reference's guards
    (``estimate_inverted_q`` internals.R:1744-1753)."""
    r = F.col("ratio")
    denom = n_U * (r - 1.0) + F.lit(float(N))
    q = n_U * r / denom
    q = F.least(F.lit(1.0), F.greatest(F.lit(0.0), q))
    q = F.when(r == _INF, F.lit(1.0)).when((r == 0) & (denom > 0), F.lit(0.0)).otherwise(q)
    return F.when(q.isNull() | F.isnan(q), F.lit(1.0)).otherwise(q)


class _SparkOmega:
    """The distributed route: Ω persisted once; every fit statistic is one
    aggregation job, every selection a ``select_mec_pairs`` call. A match
    set is a persisted (a, b) key frame."""

    route = "distributed"

    def __init__(self, omega: DataFrame, variables: list[str],
                 gamma_cols: list[str], b_gammas: list[str],
                 cpar_gammas: list[str], duplicates_in_A: bool):
        self.b_gammas, self.cpar_gammas = b_gammas, cpar_gammas
        self.duplicates_in_A = duplicates_in_A
        # Init score: disagreement norm (C6).
        terms = [(1.0 - F.col(g)) ** 2 for g in b_gammas] + [
            F.col(g) ** 2 for g in cpar_gammas
        ]
        init_norm = F.sqrt(sum(terms[1:], terms[0]))
        self.omega = omega.withColumn("init_disagreement", init_norm).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # The C5 guard and |Ω| fuse into one aggregation over the PERSISTED
        # Ω — it doubles as the cache-materializing pass, so the comparator
        # UDFs execute exactly once per pair for the whole fit.
        row = self.omega.agg(
            F.count(F.lit(1)).alias("_n"), *finite_gamma_aggs(gamma_cols)
        ).collect()[0].asDict()
        try:
            raise_if_nonfinite(row, variables, gamma_cols)
        except ValueError:
            self.omega.unpersist()
            raise
        self.n = int(row["_n"])
        self.scored = self.omega

    def select(self, n_M: float, ratio_col: str = "ratio") -> tuple[DataFrame, int]:
        """Ascending-score greedy pick of n_M pairs (T2). keys_only: the
        selection is consumed as (a, b) keys alone, so the full-row semi
        rejoin over Ω is skipped (r6; guide §2.3 "project early")."""
        M = select_mec_pairs(
            self.scored, float(n_M), block_col="block", ascending=True,
            invalid_to_never=True, ratio_col=ratio_col,
            duplicates_in_A=self.duplicates_in_A, n_pairs=self.n,
            keys_only=True,
        ).select("a", "b").persist(StorageLevel.MEMORY_AND_DISK)
        return M, M.count()

    def fused_row(self, M: DataFrame, n_M: int) -> dict:
        """M-side and full-U-side sufficient statistics in ONE pass over Ω
        (the default no-alpha-drop path), suffixed ``__m``/``__u``: a
        membership flag (broadcast when the match set is small) plus
        null-masked gamma projections feed conditional aggregations — every
        fit agg is null-ignoring, so masking ≡ filtering. Replaces one
        semi-join-agg plus one anti-join-agg (two full passes over Ω) per
        iteration. When M is empty the reference fits the match side on
        all of Ω and U = Ω too (internals.R:1516-1518)."""
        b_gammas, cpar_gammas = self.b_gammas, self.cpar_gammas
        gammas = list(dict.fromkeys(b_gammas + cpar_gammas))
        if n_M:
            keys = M.select("a", "b").withColumn("_in_m", F.lit(True))
            if n_M <= 5_000_000:
                keys = F.broadcast(keys)
            flagged = self.scored.join(keys, ["a", "b"], "left")
            m_mask = F.col("_in_m").isNotNull()
            u_mask = F.col("_in_m").isNull()
        else:
            flagged = self.scored
            m_mask = F.lit(True)
            u_mask = F.lit(True)
        flagged = flagged.withColumns({
            **{f"{g}__m": F.when(m_mask, F.col(g)) for g in gammas},
            **{f"{g}__u": F.when(u_mask, F.col(g)) for g in gammas},
        })
        aggs: list = []
        if b_gammas:
            aggs += fam.binary_fit_aggs([f"{g}__m" for g in b_gammas], "rate")
            aggs += fam.binary_fit_aggs([f"{g}__u" for g in b_gammas], "rate")
        if cpar_gammas:
            aggs += fam.cpar_fit_aggs([f"{g}__m" for g in cpar_gammas], "s")
            aggs += fam.cpar_fit_aggs([f"{g}__u" for g in cpar_gammas], "s")
        return flagged.agg(*aggs).collect()[0].asDict()

    def m_row(self, M: DataFrame, n_M: int) -> dict:
        """Match-side statistics for the alpha path (full Ω if M is empty).
        A SEMI-join aggregation: the aggregate's input is |M| rows after
        the broadcast-semi filter, where a flagged full-Ω pass with masked
        aggregates was measured 105.8 s at the 400M-pair heavy anchor (vs
        ~1 s of semi-agg benefit at sf0.1 — tried in r6 and reverted)."""
        m_df = self.scored.join(M, ["a", "b"], "left_semi") if n_M else self.scored
        return _estimate_side(m_df, self.b_gammas, self.cpar_gammas)

    def retained_u_rows(self, M: DataFrame, n_U: int, n_keep: int,
                        full_base_needed: Callable[[dict], bool]
                        ) -> tuple[dict, dict | None]:
        """The alpha path's ranked-retention U fit: statistics of the n_keep
        retained nonmatches plus their ``_pos_<gamma>`` positive counts,
        and — only when ``full_base_needed`` says so for that row — the
        statistics of all of U (reference semantics, internals.R:1808-1815).
        retain_top_n's own fused nonnull+distinct pass doubles as the
        U-cache materializer."""
        from automatedreclin_spark.operators.selection import _trace
        _tt = time.time()
        b_gammas, cpar_gammas = self.b_gammas, self.cpar_gammas
        gammas = list(dict.fromkeys(b_gammas + cpar_gammas))
        U = self.scored.join(M, ["a", "b"], "left_anti")
        # The retention + fit make ~9 passes over U (nonnull count,
        # rank-bracket min/max + 1-4 histogram levels, boundary counts,
        # boundary-slice sort, minimum-sample + U-side fit) and every
        # one references the score column, whose lazy definition is the
        # full hurdle-gamma ratio arithmetic over Ω — ~400 s/pass at the
        # 400M-pair heavy anchor (measured: 4,241 s side_fits, BENCH.md
        # round-5 adjudication). Materialize ONE narrow projection
        # (keys + score + gammas) instead, at DISK_ONLY: serialized
        # columnar batches on local disk, zero heap pressure — unlike a
        # full-width MEMORY_AND_DISK copy, which re-promoted
        # deserialized blocks and OOM'd a 28 GB heap in an earlier run.
        # Below the threshold the lazy recompute is cheaper than the
        # write; tests monkeypatch it to 0 to pin plan-independence.
        narrow_cols = list(dict.fromkeys(["a", "b", "block", "q_est"] + gammas))
        materialized = n_U >= _ALPHA_U_MATERIALIZE_MIN
        if materialized:
            U = U.select(*narrow_cols).persist(StorageLevel.DISK_ONLY)
        # retention order (internals.R:1831-1839): q_est desc nulls last,
        # then (a, b, block) asc — computed scale-safe (exact-histogram
        # filter cut when the score cardinality is bounded, sketch cut +
        # boundary-tie resolution otherwise), NOT a global row_number
        # window that would funnel every nonmatch through one task.
        U_fit = retain_top_n(U, n_keep, "q_est", tie_cols=("a", "b", "block"),
                             n_total=n_U)
        _tt = _trace("alpha retain_top_n build", _tt)
        # ONE pass over the retained set: minimum-sample positive counts
        # (≥2 positives per cpar var or valid fallback) fused with the
        # U-side fit aggregates — the fit row is discarded in the rare
        # fallback-to-full-base case, where a second pass over full U is
        # unavoidable.
        aggs: list = [
            F.count(F.when(F.col(g) > 0, 1)).alias(f"_pos_{g}")
            for g in cpar_gammas
        ]
        if b_gammas:
            aggs += fam.binary_fit_aggs(b_gammas, "rate")
        if cpar_gammas:
            aggs += fam.cpar_fit_aggs(cpar_gammas, "s")
        fit_row = U_fit.agg(*aggs).collect()[0].asDict()
        _tt = _trace("alpha retained-set fused agg", _tt)
        full_row = (_estimate_side(U, b_gammas, cpar_gammas)
                    if full_base_needed(fit_row) else None)
        if materialized:
            U.unpersist()
        _trace("alpha u-side estimate", _tt)
        return fit_row, full_row

    def score(self, match_params: dict, nonmatch_params: dict,
              n_U: int, N: int) -> float:
        """(d) score s = u/m with NA/neg → +Inf guard
        (score_inverted_mec_ratio internals.R:1653-1686), (e) q̂ with full
        |U|; returns Σq̂. try_divide: a zero match-side density is a
        legitimate "certain nonmatch" → NULL → guarded to +Inf (R
        semantics: x/0 = Inf, then score_inverted_mec_ratio maps NA/neg to
        Inf, internals.R:1683-1685)."""
        b_gammas, cpar_gammas = self.b_gammas, self.cpar_gammas
        expr = F.lit(1.0)
        if b_gammas:
            expr = expr * F.try_divide(
                fam.bernoulli_product_expr(b_gammas, nonmatch_params["rate"]),
                fam.bernoulli_product_expr(b_gammas, match_params["rate"]),
            )
        if cpar_gammas:
            expr = expr * F.try_divide(
                fam.hurdle_gamma_product_expr(
                    cpar_gammas, nonmatch_params["p_0"],
                    nonmatch_params["alpha"], nonmatch_params["beta"],
                ),
                fam.hurdle_gamma_product_expr(
                    cpar_gammas, match_params["p_0"],
                    match_params["alpha"], match_params["beta"],
                ),
            )
        guarded = F.when(expr.isNull() | F.isnan(expr) | (expr < 0), F.lit(_INF)).otherwise(expr)
        self.scored = self.omega.withColumn("ratio", guarded).withColumn(
            "q_est", _q_est_expr(float(n_U), float(N)))
        return float(self.scored.agg(F.sum("q_est")).collect()[0][0])

    def zero_scores(self) -> None:
        self.scored = self.omega.withColumns({"ratio": F.lit(0.0), "q_est": F.lit(0.0)})

    def same_set(self, M_new: DataFrame, M: DataFrame) -> bool:
        """Equal-sized key sets: equal iff M_new \\ M is empty."""
        return M_new.exceptAll(M).limit(1).count() == 0

    def release(self, M: DataFrame) -> None:
        M.unpersist()

    def outputs(self, M: DataFrame) -> tuple[DataFrame, DataFrame, None]:
        M_est = (
            self.scored.join(M, ["a", "b"], "left_semi")
            .select("a", "b", "block", "ratio")
            .orderBy("block", "a", "b")
        )
        return M_est, self.scored, None

    def cached(self, M: DataFrame) -> list[DataFrame]:
        return [self.omega, M]


def _fit_row_local(G: dict[str, np.ndarray], rows, b_gammas: list[str],
                   cpar_gammas: list[str], suffix: str = "") -> dict:
    """The aggregate row of ``binary_fit_aggs``/``cpar_fit_aggs`` (same
    keys) over the Ω rows ``rows`` (a mask or index array; None = all)."""
    def pick(g):
        return G[g] if rows is None else G[g][rows]

    row: dict = {}
    for g in b_gammas:
        row[f"rate_{g}{suffix}"] = float(np.mean(pick(g)))
    for g in cpar_gammas:
        x = pick(g)
        pos = x[x > 0]
        row[f"s_p0_{g}{suffix}"] = float(np.mean(x == 0))
        row[f"s_npos_{g}{suffix}"] = len(pos)
        row[f"s_sum_{g}{suffix}"] = float(pos.sum())
        row[f"s_sumlog_{g}{suffix}"] = float(np.log(pos).sum())
    return row


def _hurdle_gamma_product_local(G: dict[str, np.ndarray], gammas: list[str],
                                p_0, alpha, beta) -> np.ndarray:
    """``families.hurdle_gamma_product_expr`` in numpy, operation for
    operation (a log of a non-positive gamma gives NaN where Spark gives
    NULL; both end as a +Inf ratio)."""
    out = None
    for g, p0, a, b in zip(gammas, p_0, alpha, beta):
        x = G[g]
        log_c = a * math.log(b) - math.lgamma(a)
        dens_pos = (1.0 - p0) * np.exp(log_c + (a - 1.0) * np.log(x) - b * x)
        term = np.where(x == 0, float(p0), dens_pos)
        out = term if out is None else out * term
    return out


def _bernoulli_product_local(G: dict[str, np.ndarray], gammas: list[str],
                             probs) -> np.ndarray:
    """``families.bernoulli_product_expr`` in numpy."""
    out = None
    for g, p in zip(gammas, probs):
        term = G[g] * float(p) + (1.0 - G[g]) * float(1.0 - p)
        out = term if out is None else out * term
    return out


def _collect_keys(pair_df: DataFrame) -> pa.Table | None:
    """Ω's (block, a, b) keys when it has fewer than ``_FIT_LOCAL`` rows, in
    one bounded collect; None when Ω stays distributed."""
    if _FIT_LOCAL <= 0:
        return None
    keys = pair_df.limit(_FIT_LOCAL).toArrow()
    return keys if keys.num_rows < _FIT_LOCAL else None


def _summary_local(keys: pd.DataFrame, duplicates_in_A: bool
                   ) -> tuple[pd.DataFrame, int]:
    """The pairs-mode block summary and ν from the collected keys: the
    distinct ids per block (NULL ignored, as ``count_distinct`` does)."""
    by_block = keys.groupby("block", dropna=False, sort=False)
    summary = pd.DataFrame({
        "n_a": by_block["a"].nunique(), "n_b": by_block["b"].nunique(),
        "pair_count": by_block.size(),
    }).reset_index()
    cap = summary["n_a"] if duplicates_in_A else summary[["n_a", "n_b"]].min(axis=1)
    summary["nonmatches_min"] = summary["pair_count"] - cap
    return summary, int(cap.sum())


def _local_type_ok(t: DataType) -> bool:
    """Prepared types the numpy forms see exactly through Arrow: atomic
    values and string lists, strings only in the default collation (Spark
    compares a collated string by its collation)."""
    if isinstance(t, ArrayType):
        return t.elementType == StringType()
    if isinstance(t, StringType):
        return t == StringType()
    return isinstance(t, AtomicType)


def _prepared_bytes(col: Column, t: DataType) -> Column:
    """Arrow bytes of one prepared value: payload plus a 4-byte offset per
    string and per list; 16 for any fixed-width value."""
    if isinstance(t, (StringType, BinaryType)):
        size = F.octet_length(col) + 4
    elif isinstance(t, ArrayType):
        size = F.octet_length(F.array_join(col, "")) + 4 * F.size(col) + 4
    else:
        size = F.lit(16)
    return F.coalesce(size.cast("long"), F.lit(0).cast("long"))


def _chunks(weights: np.ndarray):
    """Consecutive row ranges of at most ``_CHUNK_ROWS`` rows and
    ``_CHUNK_BYTES`` summed weight (one row at least)."""
    ends = np.cumsum(weights)
    start, n = 0, len(weights)
    while start < n:
        base = ends[start - 1] if start else 0
        stop = int(np.searchsorted(ends, base + _CHUNK_BYTES, side="right"))
        stop = min(max(stop, start + 1), start + _CHUNK_ROWS, n)
        yield start, stop
        start = stop


def _value_bytes(arr: pa.Array) -> np.ndarray:
    """:func:`_prepared_bytes` of each value of a prepared pyarrow array."""
    if pa.types.is_list(arr.type):
        lengths = pc.binary_length(pc.list_flatten(arr)).fill_null(0).to_numpy()
        size = np.bincount(pc.list_parent_indices(arr).to_numpy(),
                           weights=lengths + 4, minlength=len(arr)) + 4
    elif pa.types.is_string(arr.type) or pa.types.is_binary(arr.type):
        size = pc.binary_length(arr).fill_null(0).to_numpy() + 4
    else:
        size = np.full(len(arr), 16)
    size = size.astype(np.int64)
    size[arr.is_null().to_numpy(zero_copy_only=False)] = 0
    return size


def _prepared_from_snapshots(keys: pd.DataFrame, readers, id_cols: list[str],
                             variables: list[str], comps: list) -> list | None:
    """Per side, the ids, prepared values (``Comparator.prep_local``) and
    prepared bytes of the records the keys reference, streamed from the
    side's batches: only the prepared values of a batch's referenced
    records outlive it. None once they exceed ``_PREP_BUDGET``, or when a
    side yields no batch."""
    sides, total = [], 0
    for reader, id_col, k in zip(readers, id_cols, ("a", "b")):
        wanted = pa.array(keys[k].drop_duplicates())
        parts = []
        for batch in reader([id_col, *variables]):
            batch = batch.filter(pc.is_in(batch.column(id_col), value_set=wanted))
            prepared = [c.prep_local(batch.column(v)) for v, c in zip(variables, comps)]
            weight = sum(map(_value_bytes, prepared))
            total += int(weight.sum())
            if total > _PREP_BUDGET:
                return None
            parts.append((batch.column(id_col), prepared, weight))
        if not parts:
            return None
        ids, prepared, weights = zip(*parts)
        sides.append((pa.concat_arrays(ids).to_numpy(zero_copy_only=False),
                      [pa.concat_arrays(list(p)) for p in zip(*prepared)],
                      np.concatenate(weights)))
    return sides


def _prepared_from_spark(keys: pd.DataFrame, A: DataFrame, B: DataFrame,
                         variables: list[str], comps: list,
                         a_col: str, b_col: str) -> list | None:
    """:func:`_prepared_from_snapshots`' sides from one Spark collect of
    both sides' ``Comparator.prep`` values. None when a prepared type
    differs between the sides or has no exact Arrow form, or the prepared
    values exceed ``_PREP_BUDGET``."""
    cols = [f"_p{i}" for i in range(len(comps))]
    id_types = [A.schema[a_col].dataType, B.schema[b_col].dataType]
    # Both sides in one frame, so that each collect is one job: a row's
    # id sits in its side's column, "_a" or "_b", and the other is NULL.
    sides = []
    for side, (R, id_col) in enumerate(((A, a_col), (B, b_col))):
        id_cols = [F.lit(None).cast(t) for t in id_types]
        id_cols[side] = F.col(id_col)
        sides.append(R.select(
            *[c.alias(k) for c, k in zip(id_cols, ("_a", "_b"))],
            *[c.prep(F.col(v)).alias(p) for v, c, p in zip(variables, comps, cols)]))
    types = [[df.schema[p].dataType for p in cols] for df in sides]
    if types[0] != types[1] or not all(map(_local_type_ok, types[0])):
        return None
    sides = [df.withColumn("_bytes", sum(_prepared_bytes(F.col(p), t)
                                         for p, t in zip(cols, types[0])))
             for df in sides]

    def collect(ids: list, limit: int | None) -> pa.Table:
        """The records with these ids per side, each with its prepared
        bytes; with ``limit``, values only for records within it."""
        parts = []
        for df, k, side_ids in zip(sides, ("_a", "_b"), ids):
            id_df = A.sparkSession.createDataFrame(
                pd.DataFrame({k: side_ids}), StructType([df.schema[k]]))
            parts.append(df.join(F.broadcast(id_df), k, "left_semi"))
        shown = cols if limit is None else [
            F.when(F.col("_bytes") <= limit, F.col(p)).alias(p) for p in cols]
        return parts[0].unionByName(parts[1]).select(
            "_a", "_b", *shown, "_bytes").toArrow()

    # Plain numpy ids: a multi-chunk Arrow-backed Series would send
    # createDataFrame down its row-by-row fallback.
    ids = [keys[k].drop_duplicates().to_numpy() for k in ("a", "b")]
    # A record over its even share of the budget sends only its size, and
    # its values once the total is known to fit.
    share = _PREP_BUDGET // max(1, len(ids[0]) + len(ids[1]))
    table = collect(ids, share)
    nbytes = table["_bytes"].to_numpy()
    if nbytes.sum() > _PREP_BUDGET:
        return None
    over = nbytes > share
    if over.any():
        held = table.filter(pa.array(over))
        extra = collect([held[k].drop_null().to_numpy() for k in ("_a", "_b")], None)
        table = pa.concat_tables([table.filter(pa.array(~over)),
                                  extra.cast(table.schema)])
    out = []
    for k in ("_a", "_b"):
        side = table.filter(pc.is_valid(table[k]))
        out.append((side[k].to_numpy(), [side[p].combine_chunks() for p in cols],
                    side["_bytes"].to_numpy()))
    return out


def _omega_from_records(keys: pd.DataFrame, A: DataFrame, B: DataFrame,
                        comparators: dict, gamma_cols: list[str],
                        a_col: str, b_col: str, readers=None
                        ) -> tuple[pd.DataFrame, str] | None:
    """Ω (the keys plus one gamma column per variable) from the prepared
    values of the records the keys reference, with the build taken:
    "snapshot" when ``readers`` are given, every raw type is the same on
    both sides with an exact Arrow form, and every comparator has a
    ``prep_local``; "records" (one Spark collect) otherwise. None when this
    build does not apply: a comparator has no local form, a type check
    fails, an id repeats or is not found, or the prepared values exceed
    ``_PREP_BUDGET``."""
    variables, comps = list(comparators), list(comparators.values())
    if any(c.local is None for c in comps):
        return None
    build = "records"
    if readers is not None:
        # prep_local has a driver form or not by its input's type alone, so
        # an empty array of each column's type tells.
        types = [[R.schema[v].dataType for v in variables] for R in (A, B)]
        if types[0] == types[1] and all(map(_local_type_ok, types[0])) and all(
                c.prep_local(pa.array([], to_arrow_type(t))) is not None
                for c, t in zip(comps, types[0])):
            build = "snapshot"
    sides = (_prepared_from_snapshots(keys, readers, [a_col, b_col], variables, comps)
             if build == "snapshot" else
             _prepared_from_spark(keys, A, B, variables, comps, a_col, b_col))
    if sides is None:
        return None

    rows, values, weights = [], [], []
    for (ids, prepared, weight), k in zip(sides, ("a", "b")):
        index = pd.Index(ids)
        if not index.is_unique:
            return None
        rows.append(index.get_indexer(keys[k]))
        values.append(prepared)
        weights.append(weight)
    ia, ib = rows
    if (ia < 0).any() or (ib < 0).any():
        return None

    gammas = {g: np.empty(len(keys)) for g in gamma_cols}
    for start, stop in _chunks(weights[0][ia] + weights[1][ib]):
        take_a, take_b = pa.array(ia[start:stop]), pa.array(ib[start:stop])
        for c, g, xa, xb in zip(comps, gamma_cols, *values):
            gammas[g][start:stop] = c.local(xa.take(take_a), xb.take(take_b))
    return keys.assign(**gammas), build


class _LocalOmega:
    """The driver route: Ω on the driver, sorted by (a, b, block) so that
    every sum and tie order is independent of the order partitions arrive
    in; every statistic, score and selection is numpy over its columns. A
    match set is a boolean row mask. ``pdf`` holds the columns of
    ``schema``, the Spark Ω's."""

    route = "driver"

    def __init__(self, pdf: pd.DataFrame, schema: StructType, spark,
                 variables: list[str], gamma_cols: list[str],
                 b_gammas: list[str], cpar_gammas: list[str],
                 duplicates_in_A: bool):
        self.b_gammas, self.cpar_gammas = b_gammas, cpar_gammas
        self.duplicates_in_A = duplicates_in_A
        self.spark, self.schema = spark, schema
        self.pdf = pdf[schema.names].sort_values(["a", "b", "block"],
                                                 ignore_index=True)
        G = {g: self.pdf[g].to_numpy(np.float64) for g in gamma_cols}
        raise_if_nonfinite(
            {f"_nf_{g}": int((~np.isfinite(G[g])).sum()) for g in gamma_cols},
            variables, gamma_cols)
        self.n = len(self.pdf)
        self.a = self.pdf["a"].to_numpy()
        self.b = self.pdf["b"].to_numpy()
        terms = [(1.0 - G[g]) ** 2 for g in b_gammas] + [G[g] ** 2 for g in cpar_gammas]
        G["init_disagreement"] = np.sqrt(sum(terms[1:], terms[0]))
        self.G = G

    def select(self, n_M: float, ratio_col: str = "ratio") -> tuple[np.ndarray, int]:
        # Blocks are record-disjoint, so the one global budgeted sweep picks
        # exactly the per-block sweeps' survivors truncated by (key, a, b).
        idx = greedy_select_local(
            self.a, self.b, self.G[ratio_col], float(n_M),
            duplicates_in_A=self.duplicates_in_A, ascending=True,
            invalid_to_never=True,
        )
        M = np.zeros(self.n, dtype=bool)
        M[idx] = True
        return M, len(idx)

    def fused_row(self, M: np.ndarray, n_M: int) -> dict:
        m_rows, u_rows = (M, ~M) if n_M else (None, None)
        return {
            **_fit_row_local(self.G, m_rows, self.b_gammas, self.cpar_gammas, "__m"),
            **_fit_row_local(self.G, u_rows, self.b_gammas, self.cpar_gammas, "__u"),
        }

    def m_row(self, M: np.ndarray, n_M: int) -> dict:
        return _fit_row_local(self.G, M if n_M else None,
                              self.b_gammas, self.cpar_gammas)

    def retained_u_rows(self, M: np.ndarray, n_U: int, n_keep: int,
                        full_base_needed: Callable[[dict], bool]
                        ) -> tuple[dict, dict | None]:
        u_idx = np.flatnonzero(~M)
        # q̂ desc (numpy sorts NaN last), then (a, b, block) asc: the row
        # order, which the stable sort keeps among equal q̂.
        kept = u_idx[np.argsort(-self.G["q_est"][u_idx], kind="stable")[:n_keep]]
        fit_row = _fit_row_local(self.G, kept, self.b_gammas, self.cpar_gammas)
        for g in self.cpar_gammas:
            fit_row[f"_pos_{g}"] = int((self.G[g][kept] > 0).sum())
        full_row = (_fit_row_local(self.G, u_idx, self.b_gammas, self.cpar_gammas)
                    if full_base_needed(fit_row) else None)
        return fit_row, full_row

    def score(self, match_params: dict, nonmatch_params: dict,
              n_U: int, N: int) -> float:
        """``_SparkOmega.score`` in numpy. Spark's try_divide turns a zero
        denominator into NULL, and a NULL ratio becomes +Inf; here the
        quotient is ±Inf or NaN, and a NaN or negative ratio becomes +Inf,
        which matches."""
        G, b_gammas, cpar_gammas = self.G, self.b_gammas, self.cpar_gammas
        with np.errstate(all="ignore"):
            r = np.ones(self.n)
            if b_gammas:
                r = r * (_bernoulli_product_local(G, b_gammas, nonmatch_params["rate"])
                         / _bernoulli_product_local(G, b_gammas, match_params["rate"]))
            if cpar_gammas:
                r = r * (
                    _hurdle_gamma_product_local(
                        G, cpar_gammas, nonmatch_params["p_0"],
                        nonmatch_params["alpha"], nonmatch_params["beta"])
                    / _hurdle_gamma_product_local(
                        G, cpar_gammas, match_params["p_0"],
                        match_params["alpha"], match_params["beta"]))
            r = np.where(np.isnan(r) | (r < 0), _INF, r)
            # _q_est_expr: Spark's least(1, NaN) is 1 (NaN sorts greatest)
            # and a division by zero is NULL, which greatest(0, ·) skips.
            denom = n_U * (r - 1.0) + float(N)
            q = n_U * r / denom
            q = np.where(np.isnan(q), 1.0, np.clip(q, 0.0, 1.0))
            q[denom == 0] = 0.0
            q[r == _INF] = 1.0
            q[(r == 0) & (denom > 0)] = 0.0
        G["ratio"], G["q_est"] = r, q
        return float(q.sum())

    def zero_scores(self) -> None:
        self.G["ratio"] = self.G["q_est"] = np.zeros(self.n)

    def same_set(self, M_new: np.ndarray, M: np.ndarray) -> bool:
        return bool(np.array_equal(M_new, M))

    def release(self, M: np.ndarray) -> None:
        pass

    def outputs(self, M: np.ndarray) -> tuple[DataFrame, DataFrame, pd.DataFrame]:
        """Local frames with the distributed route's schemas, and M_est's
        rows as pandas."""
        extra = ["init_disagreement", "ratio", "q_est"]
        scored_pdf = self.pdf.assign(**{c: self.G[c] for c in extra})
        scored = self.spark.createDataFrame(scored_pdf, StructType(
            self.schema.fields + [StructField(c, DoubleType()) for c in extra]))
        keys = ["a", "b", "block"]
        m_pdf = scored_pdf.loc[M, keys + ["ratio"]].sort_values(
            ["block", "a", "b"], ignore_index=True)
        M_est = self.spark.createDataFrame(m_pdf, StructType(
            [self.schema[c] for c in keys] + [StructField("ratio", DoubleType())]))
        return M_est, scored, m_pdf

    def cached(self, M: np.ndarray) -> list[DataFrame]:
        return []


def blocked_mec(
    A: DataFrame,
    B: DataFrame,
    variables: list[str],
    comparators: dict | None = None,
    methods: dict[str, str] | None = None,
    block_col: str = "block",
    duplicates_in_A: bool = False,
    start_params: dict | None = None,
    delta: float = 0.5,
    eps: float = 0.05,
    alpha: float = 0.0,
    max_iter: int = 1000,
    true_matches: DataFrame | None = None,
    a_col: str = "a",
    b_col: str = "b",
    seed: int = 1,
    pairs: DataFrame | pd.DataFrame | None = None,
    readers: tuple[Callable, Callable] | None = None,
    verbose: bool = False,
) -> BlockedMecResult:
    """Inverted blocked MEC.

    Two candidate-space modes:
    - default (reference semantics, internals.R:718-737): ``A``/``B`` carry a
      disjoint ``block_col``; Ω = full within-block cross products.
    - ``pairs`` given (block, a, b): Ω = EXACTLY those candidate pairs — the
      scale path when blocks are connected components of a candidate graph,
      where full products inside a giant component would be quadratic.
      Records must still belong to at most one block. Block sizes (n_a, n_b)
      and ν = Σ min(n_a, n_b) come from the pairs' distinct ids per block.
      A pandas frame of keys already on the driver is taken as the keys
      collect's result: no job runs for it, and its Spark frame is built
      only if a Spark Ω is.

    ``readers``, one per side, stream the same records as ``A`` and ``B``
    (for instance their committed snapshots): ``reader(columns)`` yields
    pyarrow record batches of those columns. The driver route then takes
    the records' values from them, with no Spark job, wherever every
    comparator has a ``prep_local``. They change where the values come
    from, not the fit.

    Allowed methods: binary / continuous_parametric only (reference restricts
    the blocked path, unsupervised_learning.R:1002-1006).

    ``duplicates_in_A`` relaxes the one-to-one constraint on the A side
    (reference-arg parity with ``mec()``, unsupervised_learning.R:215 /
    internals.R:513-533: each A record is used at most once but B records may
    repeat). The structural match bound per block becomes n_a instead of
    min(n_a, n_b). The reference's own blocked path hardcodes FALSE
    (internals.R:1122), so the default reproduces reference behavior exactly.
    """
    if not (isinstance(alpha, (int, float)) and math.isfinite(alpha) and 0 <= alpha < 1):
        raise ValueError("`alpha` should be a single numeric value in [0, 1).")
    methods = {v: (methods or {}).get(v, "binary") for v in variables}
    bad = [v for v, m in methods.items() if m not in ("binary", "continuous_parametric")]
    if bad:
        raise ValueError(
            "mec_blocking supports only binary and continuous_parametric methods "
            f"(offending: {bad})."
        )

    # Structural per-block match cap: min(n_a, n_b) one-to-one, n_a when B
    # records may repeat (duplicates_in_A).
    stage_seconds: dict[str, float] = {}
    _stage_t0 = time.time()
    _cap = (F.col("n_a") if duplicates_in_A else F.least("n_a", "n_b"))
    spark = A.sparkSession
    pairs_pdf = None
    if pairs is None:
        # Candidate pairs: within-block products (disjoint keys → no dedup),
        # deterministic (block, a, b) ordering happens only at output.
        summary = block_summary(
            A.select(F.col(block_col).alias("block"), F.col(a_col).alias("a")),
            B.select(F.col(block_col).alias("block"), F.col(b_col).alias("b")),
        )
        pair_df = block_pairs(A, B, block_col=block_col, a_col=a_col, b_col=b_col,
                              dedup=False)
        summary_df = summary.summary
        fits_driver = summary.candidate_pair_count < _FIT_LOCAL
        if duplicates_in_A:
            # Blocks present only in A have n_b = 0 (block_summary full outer
            # join) → pair_count = 0 while _cap = n_a > 0; clamp so the
            # user-facing block_estimates never shows a negative bound.
            summary_df = summary_df.withColumn(
                "nonmatches_min",
                F.greatest(F.lit(0), F.col("pair_count") - _cap),
            )
            nu = int(summary_df.agg(F.sum(
                F.when((F.col("n_a") > 0) & (F.col("n_b") > 0), _cap).otherwise(0)
            )).collect()[0][0] or 0)
        else:
            nu = summary.nu
    elif isinstance(pairs, pd.DataFrame):
        # Keys already on the driver: their Spark frame is built only if a
        # Spark Ω needs it.
        pairs_pdf = pairs.rename(columns={block_col: "block"})[["block", "a", "b"]]
        pair_df = None
        fits_driver = len(pairs_pdf) < _FIT_LOCAL
    else:
        pair_df = pairs.select(F.col(block_col).alias("block"), "a", "b")
        fits_driver = True   # unless the bounded keys collect fills up
    keys_s = time.time()
    if pairs_pdf is None:
        keys = _collect_keys(pair_df) if fits_driver else None
        keys_schema = pair_df.schema
    else:
        keys = pa.Table.from_pandas(pairs_pdf, preserve_index=False)
        keys_schema = from_arrow_schema(keys.schema)
        if not fits_driver:
            keys, pair_df = None, spark.createDataFrame(pairs_pdf, keys_schema)
    keys_s = time.time() - keys_s
    if pairs is not None:
        # On the driver route the block summary comes from the keys.
        if keys is not None:
            summary_pdf, nu = _summary_local(keys.to_pandas(), duplicates_in_A)
            counts = [StructField(c, LongType(), False)
                      for c in ("n_a", "n_b", "pair_count", "nonmatches_min")]
            summary_df = spark.createDataFrame(
                summary_pdf, StructType([keys_schema["block"], *counts]))
        else:
            summary_df = pair_df.groupBy("block").agg(
                F.count_distinct("a").alias("n_a"),
                F.count_distinct("b").alias("n_b"),
                F.count(F.lit(1)).alias("pair_count"),
            ).withColumn(
                "nonmatches_min", F.col("pair_count") - _cap
            ).persist(StorageLevel.MEMORY_AND_DISK)
            nu = int(summary_df.agg(F.sum(_cap)).collect()[0][0] or 0)
    comparators = resolve_comparators(A, B, variables, comparators)
    gamma_cols = [gamma_name(v) for v in variables]

    def pair_frame() -> DataFrame:
        nonlocal pair_df
        if pair_df is None:
            pair_df = spark.createDataFrame(pairs_pdf, keys_schema)
        return pair_df

    def spark_omega() -> DataFrame:
        """Ω from the Spark pair join. check_finite=False: each route runs
        the C5 guard over the Ω it materializes, so the comparators execute
        exactly once per pair."""
        return comparison_vectors(
            A, B, variables, comparators=comparators, pairs=pair_frame(),
            a_col=a_col, b_col=b_col, check_finite=False,
        ).omega

    b_vars = [v for v in variables if methods[v] == "binary"]
    cpar_vars = [v for v in variables if methods[v] == "continuous_parametric"]
    b_gammas = [gamma_name(v) for v in b_vars]
    cpar_gammas = [gamma_name(v) for v in cpar_vars]

    rng = np.random.default_rng(seed)
    start_params = dict(start_params or {})
    if cpar_gammas and "continuous_parametric" not in start_params:
        start_params["continuous_parametric"] = {
            "p_0_M": rng.uniform(0.8, 0.9, len(cpar_gammas)).tolist(),
            "alpha_M": rng.uniform(0.1, 1.0, len(cpar_gammas)).tolist(),
            "beta_M": rng.uniform(10.0, 20.0, len(cpar_gammas)).tolist(),
        }
    start_cpar = start_params.get("continuous_parametric")
    start_fallback = (
        {"alpha": list(start_cpar["alpha_M"]), "beta": list(start_cpar["beta_M"])}
        if start_cpar else None
    )
    stage_seconds["pair_setup"] = round(time.time() - _stage_t0 - keys_s, 2)

    _stage_t0 = time.time()
    fit_args = (variables, gamma_cols, b_gammas, cpar_gammas, duplicates_in_A)
    try:
        if keys is None:
            om, omega_build = _SparkOmega(spark_omega(), *fit_args), "spark"
        else:
            # The pair join drops pairs with a NULL id; so does this build.
            keys = keys.filter(pc.and_(pc.is_valid(keys["a"]),
                                       pc.is_valid(keys["b"]))).to_pandas()
            built = _omega_from_records(keys, A, B, comparators, gamma_cols,
                                        a_col, b_col, readers)
            pdf, omega_build = built or (spark_omega().toPandas(), "spark")
            # Ω's schema, the Spark build's: the keys plus one double per gamma.
            schema = StructType(
                [f for f in keys_schema.fields if f.name in ("a", "b", "block")]
                + [StructField(g, DoubleType()) for g in gamma_cols])
            om = _LocalOmega(pdf, schema, spark, *fit_args)
    except ValueError:  # the C5 guard: leave no cache behind
        summary_df.unpersist()
        raise
    N = om.n
    n_U_min = N - nu
    stage_seconds["init_agg"] = round(time.time() - _stage_t0 + keys_s, 2)

    _stage_t0 = time.time()
    # Init: disagreement norm (C6) → ascending greedy pick of ν pairs (T2).
    M, n_M_count = om.select(max(0, nu), ratio_col="init_disagreement")
    n_U_count = N - n_M_count
    stage_seconds["init_select"] = round(time.time() - _stage_t0, 2)

    diagnostics: list[dict] = []
    iter_seconds: list[float] = []
    iter_substage_seconds: list[dict[str, float]] = []

    if n_U_count == 0:
        if N != nu:
            raise ValueError(
                "blocked_mec() initialized an empty nonmatch complement before "
                "reaching the structural one-to-one bound."
            )
        om.zero_scores()
        M_est, scored, M_est_local = om.outputs(M)
        return BlockedMecResult(
            M_est=M_est, M_est_local=M_est_local, n_M_est=n_M_count, n_U_est=0,
            candidate_pair_count=N, nu=nu, n_U_min=n_U_min, iter=0,
            convergence_reason="structural_no_nonmatch_complement",
            alpha=alpha, n_U_fit=0, b_params=None, cpar_params=None,
            block_estimates=None,
            u_fit_diagnostics=pd.DataFrame(), route=om.route,
            omega_build=omega_build, scored=scored,
            stage_seconds=stage_seconds, cached=[summary_df, *om.cached(M)],
        )

    prev_match: dict | None = None
    prev_nonmatch: dict | None = None
    prev_vec: np.ndarray | None = None
    n_U_old = n_U_count
    convergence_reason = "max_iter"
    it = 1
    match_params = nonmatch_params = None

    def full_base_needed(fit_row: dict) -> bool:
        """The retained set fails the minimum sample: a cpar variable with
        < 2 positives and no valid previous nonmatch fallback."""
        prev_ok = prev_nonmatch is not None and "alpha" in prev_nonmatch
        for i, g in enumerate(cpar_gammas):
            fb_valid = prev_ok and math.isfinite(prev_nonmatch["alpha"][i]) \
                and prev_nonmatch["alpha"][i] > 0
            if fit_row[f"_pos_{g}"] < 2 and not fb_valid:
                return True
        return False

    while True:
        _iter_t0 = _sub_t0 = time.time()
        # (a)+(c) side parameters. Fallbacks per the reference chain.
        m_fallback = (
            {"alpha": prev_match["alpha"], "beta": prev_match["beta"]}
            if prev_match and "alpha" in prev_match else start_fallback
        )
        u_fallback = (
            {"alpha": prev_nonmatch["alpha"], "beta": prev_nonmatch["beta"]}
            if prev_nonmatch and "alpha" in prev_nonmatch else None
        )
        requested_drop = math.floor(alpha * n_U_count)
        reason = None
        if it == 1:
            reason = "first_u_fit_full"
        elif alpha == 0:
            reason = "alpha_zero"
        elif requested_drop == 0:
            reason = "requested_drop_zero"
        if reason is not None:
            # No alpha drop → U_fit = full U: both sides in ONE pass over Ω.
            row = om.fused_row(M, n_M_count)
            match_params = _side_params_from_row(
                row, b_gammas, cpar_gammas, "M", m_fallback, suffix="__m")
            nonmatch_params = _side_params_from_row(
                row, b_gammas, cpar_gammas, "U", u_fallback, suffix="__u")
            n_U_fit = n_U_count
        else:
            # alpha U-drop path (T6): match side from M (full Ω if M empty —
            # internals.R:1516-1518), then the ranked-retention U fit.
            match_params = _side_params_from_row(
                om.m_row(M, n_M_count), b_gammas, cpar_gammas, "M", m_fallback)
            n_keep = n_U_count - requested_drop
            fit_row, full_row = om.retained_u_rows(
                M, n_U_count, n_keep, full_base_needed)
            if full_row is None:
                n_U_fit = n_keep
                reason = "alpha_reliability_drop"
            else:
                n_U_fit = n_U_count
                reason = "minimum_sample_full_base"
            # nonmatch-side params from S_U (or full U on fallback).
            nonmatch_params = _side_params_from_row(
                fit_row if full_row is None else full_row,
                b_gammas, cpar_gammas, "U", u_fallback)
        diagnostics.append({
            "iter": it, "n_U_current": n_U_count, "alpha": alpha,
            "requested_n_drop": requested_drop, "n_U_fit": n_U_fit,
            "alpha_applied": reason == "alpha_reliability_drop", "reason": reason,
        })

        _side_fits_sec = time.time() - _sub_t0
        _sub_t0 = time.time()
        # (d)+(e) score s = u/m and q̂; n_U = max(n_U_min, min(N, round Σq̂));
        # n_M = N − n_U.
        q_sum = om.score(match_params, nonmatch_params, n_U_count, N)
        n_U_est = max(n_U_min, min(N, round(q_sum)))
        n_M_est = N - n_U_est
        _q_sum_sec = time.time() - _sub_t0
        _sub_t0 = time.time()

        # (f) new M by ascending-s greedy (T2).
        M_new, n_M_new = om.select(n_M_est)
        n_U_new = N - n_M_new
        iter_substage_seconds.append({
            "side_fits": round(_side_fits_sec, 2),
            "q_sum": round(_q_sum_sec, 2),
            "select": round(time.time() - _sub_t0, 2),
        })

        vec_parts: list[float] = []
        vec_parts += match_params.get("rate", [])
        vec_parts += match_params.get("p_0", []) + match_params.get("alpha", []) + match_params.get("beta", [])
        vec_parts += nonmatch_params.get("rate", [])
        vec_parts += nonmatch_params.get("p_0", []) + nonmatch_params.get("alpha", []) + nonmatch_params.get("beta", [])
        vec = np.array(vec_parts)

        can_check = it >= 2
        same_set = can_check and n_M_new == n_M_count and om.same_set(M_new, M)
        if can_check and abs(n_U_est - n_U_old) < delta:
            convergence_reason = "n_U_delta"
        elif same_set:
            convergence_reason = "match_set_unchanged"
        elif can_check and prev_vec is not None and len(prev_vec) == len(vec) \
                and float(np.linalg.norm(prev_vec - vec)) < eps:
            convergence_reason = "nonmatch_parameter_eps"
        elif it >= max_iter:
            convergence_reason = "max_iter"
        elif n_U_new == 0:
            convergence_reason = "structural_no_nonmatch_complement"
        elif n_M_new == 0:
            convergence_reason = "empty_match_set"
        else:
            prev_match, prev_nonmatch, prev_vec = match_params, nonmatch_params, vec
            n_U_old = n_U_est
            iter_seconds.append(round(time.time() - _iter_t0, 2))
            om.release(M)
            M = M_new
            n_M_count = n_M_new
            n_U_count = n_U_new
            it += 1
            if verbose:
                print(f"[blocked_mec] iter={it} n_M={n_M_new} n_U_est={n_U_est}")
            continue

        iter_seconds.append(round(time.time() - _iter_t0, 2))
        om.release(M)
        M = M_new
        n_M_count = n_M_new
        break

    _stage_t0 = time.time()
    M_est, scored, M_est_local = om.outputs(M)
    n_U_selected = N - n_M_count

    block_estimates = (
        summary_df.join(
            M_est.groupBy("block").agg(F.count(F.lit(1)).alias("n_M_est")),
            "block", "left",
        )
        .fillna({"n_M_est": 0})
        .withColumn("selected_pairs", F.col("n_M_est"))
    )

    def _param_table(cols, mp, np_, kind):
        if not cols:
            return None
        if kind == "binary":
            return pd.DataFrame({"variable": cols, "theta": mp["rate"], "eta": np_["rate"]})
        return pd.DataFrame({
            "variable": cols,
            "p_0_M": mp["p_0"], "alpha_M": mp["alpha"], "beta_M": mp["beta"],
            "p_0_U": np_["p_0"], "alpha_U": np_["alpha"], "beta_U": np_["beta"],
        })

    blocking_eval = eval_metrics = confusion = None
    if true_matches is not None:
        preserved = true_matches.join(pair_frame().select("a", "b"), ["a", "b"],
                                      "left_semi").count()
        n_true = true_matches.count()
        blocking_eval = {
            "true_matches_preserved": preserved,
            "true_matches_total": n_true,
            "blocking_recall": preserved / n_true if n_true else float("nan"),
            "candidate_pairs": N,
        }
        # Evaluation uses the FULL pair space n_A×n_B (the blocked candidate
        # set only restricts prediction, not the universe; reference
        # unsupervised_learning.R:1151-1175 → TN counts unblocked pairs).
        counts = evaluation(M_est, true_matches, A.count() * B.count())
        eval_metrics = get_metrics(counts.TP, counts.FP, counts.FN, counts.TN)
        confusion = get_confusion(counts.TP, counts.FP, counts.FN, counts.TN)
    stage_seconds["final_summary"] = round(time.time() - _stage_t0, 2)

    return BlockedMecResult(
        M_est=M_est,
        M_est_local=M_est_local,
        n_M_est=n_M_count,
        n_U_est=n_U_selected,
        candidate_pair_count=N,
        nu=nu,
        n_U_min=n_U_min,
        iter=it,
        convergence_reason=convergence_reason,
        alpha=alpha,
        n_U_fit=n_U_fit,
        b_params=_param_table(b_gammas, match_params, nonmatch_params, "binary") if b_gammas else None,
        cpar_params=_param_table(cpar_gammas, match_params, nonmatch_params, "cpar") if cpar_gammas else None,
        block_estimates=block_estimates,
        u_fit_diagnostics=pd.DataFrame(diagnostics),
        route=om.route,
        omega_build=omega_build,
        blocking_eval=blocking_eval,
        eval_metrics=eval_metrics,
        confusion=confusion,
        scored=scored,
        iter_seconds=iter_seconds,
        iter_substage_seconds=iter_substage_seconds,
        stage_seconds=stage_seconds,
        cached=[summary_df, *om.cached(M)],
    )
