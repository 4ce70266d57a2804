"""Blocked unsupervised MEC — the inverted fit on candidate pairs.

Re-expresses ``mec_blocking()`` (unsupervised_learning.R:972-1205) and
``fit_mec_blocking_inverted_omega`` (internals.R:1953-2222), the reference's
scale path: blocking bounds the pair space, the classifier is fit INVERTED
(score s = u/m, ascending greedy selection, q̂ = posterior NONmatch
probability), and the structural bounds come from the block summary
(ν = Σ min(n_Ah, n_Bh); n_U_min = N − ν).

Spark execution per iteration (all over one persisted gamma base):
  1 agg over M (match-side params) → driver Newton with fallback chain
  1 agg over U_fit (nonmatch-side params)
  score + q̂ column exprs → 1 agg (Σq̂)
  per-block ascending greedy (applyInPandas) + global top-k → new M
  convergence on driver scalars / match-set hash

The optional ``alpha`` nonmatch-drop (T6, spec in
papers/nonmatch_fraction_spec_updated.pdf) ranks current nonmatches by q̂ and
drops the top α fraction from the U-side fit; diagnostics mirror the
reference's reason codes (internals.R:1842-1950).
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark.storagelevel import StorageLevel

from automatedreclin_spark.functions.numerics import gamma_shape_newton
from automatedreclin_spark.models import families as fam
from automatedreclin_spark.operators.blocking import BlockSummary, block_summary
from automatedreclin_spark.operators.comparison import (
    comparison_vectors,
    finite_gamma_aggs,
    gamma_name,
    raise_if_nonfinite,
)
from automatedreclin_spark.operators.pairs import block_pairs
from automatedreclin_spark.operators.selection import retain_top_n, select_mec_pairs
from automatedreclin_spark.evaluation import evaluation, get_metrics, get_confusion

_INF = float("inf")

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
    blocking_eval: dict[str, float] | None = None
    eval_metrics: dict[str, float] | None = None
    confusion: list[list[int]] | None = None
    scored: DataFrame | None = None
    #: wall-clock attribution, mirroring MecResult: total seconds per
    #: iteration, their substage split (side_fits = M/U parameter estimation
    #: incl. the alpha retention passes; q_sum = the Σq̂ aggregation;
    #: select = per-block greedy + truncation + new-M count/convergence),
    #: and the non-iterative stages (init_agg = guard agg that materializes
    #: the Ω cache; init_select = the ascending init greedy of ν pairs).
    iter_seconds: list[float] = field(default_factory=list)
    iter_substage_seconds: list[dict[str, float]] = field(default_factory=list)
    stage_seconds: dict[str, float] = field(default_factory=dict)
    #: the persisted frames M_est, scored and block_estimates read lazily:
    #: Ω with its gammas, the block summary and the final match keys.
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
    side: str,
    fallback: dict[str, list[float]] | None,
    context: str = "blocked_mec()",
) -> dict[str, Any]:
    """One aggregation pass → binary rates + hurdle-Gamma params with the
    reference's fallback chain (``estimate_hurdle_gamma_params``
    internals.R:1443-1502): <2 positives or non-finite estimate → fallback
    (alpha, beta); no fallback → error."""
    aggs: list = []
    if b_gammas:
        aggs += fam.binary_fit_aggs(b_gammas, "rate")
    if cpar_gammas:
        aggs += fam.cpar_fit_aggs(cpar_gammas, "s")
    row = df.agg(*aggs).collect()[0].asDict()
    return _side_params_from_row(row, b_gammas, cpar_gammas, side, fallback,
                                 context)


def _side_params_from_row(
    row: dict,
    b_gammas: list[str],
    cpar_gammas: list[str],
    side: str,
    fallback: dict[str, list[float]] | None,
    context: str = "blocked_mec()",
    suffix: str = "",
) -> dict[str, Any]:
    """Parameter extraction + reference fallback chain from an aggregate row;
    ``suffix`` addresses null-masked gamma projections (fused two-side agg)."""
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


def _estimate_sides_fused(
    scored: DataFrame,
    M: DataFrame,
    n_M_count: int,
    b_gammas: list[str],
    cpar_gammas: list[str],
    m_fallback: dict[str, list[float]] | None,
    u_fallback: dict[str, list[float]] | None,
    context: str = "blocked_mec()",
) -> tuple[dict[str, Any], dict[str, Any]]:
    """M-side and full-U-side sufficient statistics in ONE pass over Ω
    (the default no-alpha-drop path): a membership flag (broadcast when the
    match set is small) plus null-masked gamma projections feed conditional
    aggregations — every fit agg is null-ignoring, so masking ≡ filtering.
    Replaces one semi-join-agg plus one anti-join-agg (two full passes over
    Ω) per iteration. When M is empty the reference fits the match side on
    all of Ω and U = Ω too (internals.R:1516-1518)."""
    gammas = list(dict.fromkeys(b_gammas + cpar_gammas))
    if n_M_count:
        keys = M.select("a", "b").withColumn("_in_m", F.lit(True))
        if n_M_count <= 5_000_000:
            keys = F.broadcast(keys)
        flagged = scored.join(keys, ["a", "b"], "left")
        m_mask = F.col("_in_m").isNotNull()
        u_mask = F.col("_in_m").isNull()
    else:
        flagged = scored
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
    row = flagged.agg(*aggs).collect()[0].asDict()
    match_params = _side_params_from_row(
        row, b_gammas, cpar_gammas, "M", m_fallback, context, suffix="__m")
    nonmatch_params = _side_params_from_row(
        row, b_gammas, cpar_gammas, "U", u_fallback, context, suffix="__u")
    return match_params, nonmatch_params


def _q_est_expr(n_U: float, N: float):
    """q̂ = posterior nonmatch prob with the reference's guards
    (``estimate_inverted_q`` internals.R:1744-1753)."""
    r = F.col("ratio")
    denom = n_U * (r - 1.0) + F.lit(float(N))
    q = n_U * r / denom
    q = F.least(F.lit(1.0), F.greatest(F.lit(0.0), q))
    q = F.when(r == _INF, F.lit(1.0)).when((r == 0) & (denom > 0), F.lit(0.0)).otherwise(q)
    return F.when(q.isNull() | F.isnan(q), F.lit(1.0)).otherwise(q)


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
    pairs: DataFrame | None = None,
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
    else:
        pair_df = pairs.select(F.col(block_col).alias("block"), "a", "b")
        summary_df = pair_df.groupBy("block").agg(
            F.count_distinct("a").alias("n_a"),
            F.count_distinct("b").alias("n_b"),
            F.count(F.lit(1)).alias("pair_count"),
        ).withColumn(
            "nonmatches_min", F.col("pair_count") - _cap
        ).persist(StorageLevel.MEMORY_AND_DISK)
        nu = int(
            summary_df.agg(F.sum(_cap)).collect()[0][0] or 0
        )
    # check_finite=False: the C5 guard and |Ω| fuse into one aggregation over
    # the PERSISTED Ω below — it doubles as the cache-materializing pass, so
    # the comparator UDFs execute exactly once per pair for the whole fit
    # (previously the guard and the count each re-ran the uncached scan).
    cv = comparison_vectors(
        A, B, variables, comparators=comparators, pairs=pair_df,
        a_col=a_col, b_col=b_col, check_finite=False,
    )
    omega = cv.omega

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

    # Init: disagreement norm (C6) → ascending greedy pick of ν pairs (T2).
    disagreement_terms = [(1.0 - F.col(g)) ** 2 for g in b_gammas] + [
        F.col(g) ** 2 for g in cpar_gammas
    ]
    init_norm = F.sqrt(sum(disagreement_terms[1:], disagreement_terms[0]))
    stage_seconds["pair_setup"] = round(time.time() - _stage_t0, 2)
    _stage_t0 = time.time()
    omega = omega.withColumn("init_disagreement", init_norm).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _guard_row = omega.agg(
        F.count(F.lit(1)).alias("_n"), *finite_gamma_aggs(cv.gamma_cols)
    ).collect()[0].asDict()
    raise_if_nonfinite(_guard_row, variables, cv.gamma_cols)
    N = int(_guard_row["_n"])
    cv._n = N
    n_U_min = N - nu
    stage_seconds["init_agg"] = round(time.time() - _stage_t0, 2)

    _stage_t0 = time.time()
    # keys_only: the init selection is consumed as (a, b) keys alone, so the
    # full-row semi rejoin over Ω that select_mec_pairs would otherwise add
    # (gammas + init_disagreement, discarded by the .select below) is skipped
    # — one less pass over the persisted Ω (r6; guide §2.3 "project early").
    M = select_mec_pairs(
        omega, float(max(0, nu)), block_col="block", ascending=True,
        invalid_to_never=True, ratio_col="init_disagreement",
        duplicates_in_A=duplicates_in_A, n_pairs=N, keys_only=True,
    ).select("a", "b").persist(StorageLevel.MEMORY_AND_DISK)
    n_M_count = M.count()
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
        scored = omega.withColumns({"ratio": F.lit(0.0), "q_est": F.lit(0.0)})
        M_est = scored.join(M, ["a", "b"], "left_semi").select("a", "b", "block", "ratio")
        return BlockedMecResult(
            M_est=M_est, n_M_est=n_M_count, n_U_est=0,
            candidate_pair_count=N, nu=nu, n_U_min=n_U_min, iter=0,
            convergence_reason="structural_no_nonmatch_complement",
            alpha=alpha, n_U_fit=0, b_params=None, cpar_params=None,
            block_estimates=None,
            u_fit_diagnostics=pd.DataFrame(), scored=scored,
            stage_seconds=stage_seconds, cached=[omega, summary_df, M],
        )

    prev_match: dict | None = None
    prev_nonmatch: dict | None = None
    prev_vec: np.ndarray | None = None
    n_U_old = n_U_count
    convergence_reason = "max_iter"
    it = 1
    scored = omega
    match_params = nonmatch_params = None

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
            match_params, nonmatch_params = _estimate_sides_fused(
                scored, M, n_M_count, b_gammas, cpar_gammas,
                m_fallback, u_fallback,
            )
            n_U_fit = n_U_count
            diagnostics.append({
                "iter": it, "n_U_current": n_U_count, "alpha": alpha,
                "requested_n_drop": requested_drop, "n_U_fit": n_U_fit,
                "alpha_applied": False, "reason": reason,
            })
        else:
            # alpha U-drop path (T6): match side from M (full Ω if M empty —
            # internals.R:1516-1518), then the ranked-retention U fit. The
            # m-side stats stay a SEMI-join aggregation: the aggregate's
            # input is |M| rows after the broadcast-semi filter, where a
            # flagged full-Ω pass with masked aggregates was measured 105.8 s
            # at the 400M-pair heavy anchor (vs ~1 s of semi-agg benefit at
            # sf0.1 — tried in r6 and reverted). retain_top_n's own fused
            # nonnull+distinct pass doubles as the U-cache materializer.
            from automatedreclin_spark.operators.selection import _trace
            _tt = time.time()
            score_col = "q_est" if "q_est" in scored.columns else "ratio"
            gammas = list(dict.fromkeys(b_gammas + cpar_gammas))
            m_df = scored.join(M, ["a", "b"], "left_semi") if n_M_count else scored
            match_params = _estimate_side(m_df, b_gammas, cpar_gammas, "M", m_fallback)
            _tt = _trace("alpha m-side estimate", _tt)
            U = scored.join(M, ["a", "b"], "left_anti")
            n_keep = n_U_count - requested_drop
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
            narrow_cols = list(dict.fromkeys(
                ["a", "b", "block", score_col] + gammas))
            materialized = n_U_count >= _ALPHA_U_MATERIALIZE_MIN
            if materialized:
                U = U.select(*narrow_cols).persist(StorageLevel.DISK_ONLY)
            # retention order (internals.R:1831-1839): q_est desc nulls last,
            # then (a, b, block) asc — computed scale-safe (exact-histogram
            # filter cut when the score cardinality is bounded, sketch cut +
            # boundary-tie resolution otherwise), NOT a global row_number
            # window that would funnel every nonmatch through one task.
            U_fit = retain_top_n(U, n_keep, score_col,
                                 tie_cols=("a", "b", "block"),
                                 n_total=n_U_count)
            _tt = _trace("alpha retain_top_n build", _tt)
            # ONE pass over the retained set: minimum-sample positive counts
            # (≥2 positives per cpar var or valid fallback) fused with the
            # U-side fit aggregates — the fit row is discarded in the rare
            # fallback-to-full-base case, where a second pass over full U
            # (reference semantics, internals.R:1808-1815) is unavoidable.
            aggs: list = [
                F.count(F.when(F.col(g) > 0, 1)).alias(f"_pos_{g}")
                for g in cpar_gammas
            ]
            if b_gammas:
                aggs += fam.binary_fit_aggs(b_gammas, "rate")
            if cpar_gammas:
                aggs += fam.cpar_fit_aggs(cpar_gammas, "s")
            fit_row = U_fit.agg(*aggs).collect()[0].asDict()
            ok = True
            if cpar_gammas:
                prev_ok = prev_nonmatch is not None and "alpha" in (prev_nonmatch or {})
                for i, g in enumerate(cpar_gammas):
                    fb_valid = prev_ok and math.isfinite(prev_nonmatch["alpha"][i]) \
                        and prev_nonmatch["alpha"][i] > 0
                    if fit_row[f"_pos_{g}"] < 2 and not fb_valid:
                        ok = False
                        break
            if ok:
                n_U_fit = n_keep
                reason = "alpha_reliability_drop"
            else:
                n_U_fit = n_U_count
                reason = "minimum_sample_full_base"
            diagnostics.append({
                "iter": it, "n_U_current": n_U_count, "alpha": alpha,
                "requested_n_drop": requested_drop, "n_U_fit": n_U_fit,
                "alpha_applied": reason == "alpha_reliability_drop", "reason": reason,
            })
            _tt = _trace("alpha retained-set fused agg", _tt)
            # nonmatch-side params from S_U (or full U on fallback).
            if ok:
                nonmatch_params = _side_params_from_row(
                    fit_row, b_gammas, cpar_gammas, "U", u_fallback)
            else:
                nonmatch_params = _estimate_side(
                    U, b_gammas, cpar_gammas, "U", u_fallback)
            if materialized:
                U.unpersist()
            _trace("alpha u-side estimate", _tt)

        _side_fits_sec = time.time() - _sub_t0
        _sub_t0 = time.time()
        # (d) score s = u/m with NA/neg → +Inf guard
        #     (score_inverted_mec_ratio internals.R:1653-1686).
        # try_divide: a zero match-side density is a legitimate "certain
        # nonmatch" → NULL → guarded to +Inf (R semantics: x/0 = Inf, then
        # score_inverted_mec_ratio maps NA/neg to Inf, internals.R:1683-1685).
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
        scored = omega.withColumn("ratio", guarded)

        # (e) q̂ with full |U|; n_U = max(n_U_min, min(N, round Σq̂)); n_M = N − n_U.
        scored = scored.withColumn("q_est", _q_est_expr(float(n_U_count), float(N)))
        q_sum = float(scored.agg(F.sum("q_est")).collect()[0][0])
        n_U_est = max(n_U_min, min(N, round(q_sum)))
        n_M_est = N - n_U_est
        _q_sum_sec = time.time() - _sub_t0
        _sub_t0 = time.time()

        # (f) new M by ascending-s greedy (T2).
        M_new = select_mec_pairs(
            scored, float(n_M_est), block_col="block", ascending=True,
            invalid_to_never=True, keys_only=True,
            duplicates_in_A=duplicates_in_A, n_pairs=N,
        ).select("a", "b").persist(StorageLevel.MEMORY_AND_DISK)
        n_M_new = M_new.count()
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
        same_set = False
        if can_check and n_M_new == n_M_count:
            same_set = (
                M_new.exceptAll(M).limit(1).count() == 0
            )
        if can_check and abs(n_U_est - n_U_old) < delta:
            convergence_reason = "n_U_delta"
        elif can_check and same_set:
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
            M.unpersist()
            M = M_new
            n_M_count = n_M_new
            n_U_count = n_U_new
            it += 1
            if verbose:
                print(f"[blocked_mec] iter={it} n_M={n_M_new} n_U_est={n_U_est}")
            continue

        iter_seconds.append(round(time.time() - _iter_t0, 2))
        M.unpersist()
        M = M_new
        n_M_count = n_M_new
        break

    _stage_t0 = time.time()
    M_est = (
        scored.join(M, ["a", "b"], "left_semi")
        .select("a", "b", "block", "ratio")
        .orderBy("block", "a", "b")
    )
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
        preserved = true_matches.join(pair_df.select("a", "b"), ["a", "b"], "left_semi").count()
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
        counts = evaluation(M_est, true_matches, cv.n_A * cv.n_B)
        eval_metrics = get_metrics(counts.TP, counts.FP, counts.FN, counts.TN)
        confusion = get_confusion(counts.TP, counts.FP, counts.FN, counts.TN)
    stage_seconds["final_summary"] = round(time.time() - _stage_t0, 2)

    return BlockedMecResult(
        M_est=M_est,
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
        blocking_eval=blocking_eval,
        eval_metrics=eval_metrics,
        confusion=confusion,
        scored=scored,
        iter_seconds=iter_seconds,
        iter_substage_seconds=iter_substage_seconds,
        stage_seconds=stage_seconds,
        cached=[omega, summary_df, M],
    )
