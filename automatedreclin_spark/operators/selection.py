"""Greedy one-to-one MEC selection and classification-set construction
(SURVEY.md §2.5 T1–T4).

The reference's greedy sweep (``select_mec_indices`` internals.R:513-555) is a
global sequential scan in descending-ratio order keeping a pair iff neither
record is used, stopping at the n_M budget. Distribution strategy:

- **blocked** (the scale path): records belong to ≤1 disjoint block, so the
  one-to-one constraint binds only within a block. Run the UNBUDGETED greedy
  sweep per block via ``applyInPandas`` (exact semantics), then take the
  global top-round(n_M) survivors by (ratio desc, a, b) — provably identical
  to the budgeted global sweep because the budget only truncates the scan
  prefix and scan order IS ratio order. The truncation itself is scale-
  gated: TakeOrderedAndProject below TOPK_VIA_SORT_MAX, the sketch-based
  ``retain_top_n`` above it (billion-row budgets never touch the driver).
- **unblocked**: ≤ MAX_UNBLOCKED_COLLECT pairs collect (a, b, ratio) to the
  driver and sweep there (reference-faithful single-node semantics); larger
  Ω runs ``greedy_one_to_one_distributed`` — iterative mutual-best rounds
  that select exactly the greedy scan's pairs with no global sort and no
  driver materialization.

Determinism: every ordering uses the tie-break (ratio, a, b[, block]) —
mirroring the reference's deterministic tie-breaking (internals.R:1714, 1838).
"""

from __future__ import annotations

import bisect
import math
import os
import time
import warnings
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from automatedreclin_spark.operators.util import cut_lineage, release_checkpoint


def _round_half_even(x: float) -> int:
    """R's round(): IEEE round-half-to-even (Python round matches)."""
    return int(round(x))


def greedy_select_local(
    a: np.ndarray,
    b: np.ndarray,
    ratio: np.ndarray,
    n_M: float,
    duplicates_in_A: bool = False,
    ascending: bool = False,
    invalid_to_never: bool = False,
) -> np.ndarray:
    """Exact reference greedy sweep on in-memory arrays
    (``select_mec_indices`` internals.R:513-555; inverted variant
    ``select_inverted_mec_indices`` internals.R:1705-1741 with ``ascending=True``
    and ``invalid_to_never=True``).

    Returns positional indices into the input arrays of the selected pairs, in
    selection (i.e. sorted) order.
    """
    n = len(ratio)
    n_target = _round_half_even(n_M)
    if n_target <= 0 or n == 0:
        return np.empty(0, dtype=np.int64)

    key = np.asarray(ratio, dtype=np.float64).copy()
    if invalid_to_never:
        # NA / negative scores sort LAST (mapped to +Inf in ascending order,
        # internals.R:1712-1713) — still selectable if the budget reaches them.
        bad = np.isnan(key) | (key < 0)
        key[bad] = np.inf if ascending else -np.inf
    sort_sign = 1.0 if ascending else -1.0
    order = np.lexsort((np.asarray(b), np.asarray(a), sort_sign * key))

    used_a: set = set()
    used_b: set = set()
    selected: list[int] = []
    for idx in order:
        ca = a[idx]
        if ca in used_a:
            continue
        if duplicates_in_A:
            used_a.add(ca)
            selected.append(idx)
        else:
            cb = b[idx]
            if cb in used_b:
                continue
            used_a.add(ca)
            used_b.add(cb)
            selected.append(idx)
        if len(selected) >= n_M:
            break
    return np.asarray(selected[:n_target], dtype=np.int64)


def _block_greedy_pdf(pdf: pd.DataFrame, duplicates_in_A: bool, ascending: bool, invalid_to_never: bool) -> pd.DataFrame:
    """Unbudgeted one-to-one sweep inside a single block (pandas batch)."""
    idx = greedy_select_local(
        pdf["a"].to_numpy(),
        pdf["b"].to_numpy(),
        pdf["ratio"].to_numpy(),
        n_M=float(len(pdf)),
        duplicates_in_A=duplicates_in_A,
        ascending=ascending,
        invalid_to_never=invalid_to_never,
    )
    return pdf.iloc[idx]


#: Above this |Ω| the per-block sweep stops streaming ALL pairs through
#: Python and switches to the chunked prefix sweep (see
#: ``_blocked_survivors_chunked``): Arrow transfer becomes O(Σ_h m_h · c)
#: instead of O(|Ω|).
#:
#: The r6 heavy-anchor A/B (400M pairs, BENCH.md runs c/d) showed NEITHER
#: path dominates: on the tie-fronted alpha-fit distribution the one-shot
#: sweep won (iteration-2 select 64.3 s vs the chunked path's 366.7 s —
#: its 4 low-yield rounds each materialize a ~400M-row residual), while on
#: the plain fit's spread distribution the chunked path won (the prefix
#: sweep transfers ~cap rows and converges in 1-2 rounds: iterations
#: ~149 s, vs one-shot selects of 150/300 s and a 350 s final summary —
#: every one-shot select streams all 400M rows through per-block pandas
#: frames, and the resident-frame memory pressure degrades over the fit).
#: The resolution is the chunked path's LOW-YIELD ESCALATION (see
#: ``_blocked_survivors_chunked``): after a low-yield round whose tie-front
#: zip gates out, the next round sweeps the residual WHOLE. Prefix rounds
#: that each remove more than 10% of the residual may come before the
#: first low-yield round; after it, the tie-fronted residual clears within
#: about two more rounds (blocks the zip handled in the escalation round
#: can keep a non-front-class residual for further rounds). O(cap)
#: transfer holds everywhere else. With that the chunked path is the
#: right default at scale, so the crossover stays at the measured 20M.
BLOCK_SWEEP_CHUNK_MIN = 20_000_000
#: first chunk per block = max(_BLOCK_CHUNK_FLOOR, factor · m_h) pairs
_BLOCK_CHUNK_FACTOR = 4
_BLOCK_CHUNK_FLOOR = 1024
#: per-round growth of the per-block cap (bounds worst-case rounds at
#: log_growth(n_h / (factor · m_h)) — ≤ 5 for a 16M-pair block)
_BLOCK_CHUNK_GROWTH = 8
#: round cap: with ×8 growth this is unreachable before the cap exceeds any
#: physical block size; a hit means the residual-clearing invariant broke.
_BLOCK_CHUNK_MAX_ROUNDS = 64
#: below this remaining-pair count the per-block window sort is cheap enough
#: that the quantile prefilter's extra aggregation scans don't pay for
#: themselves.
_BLOCK_PREFILTER_MIN = 5_000_000
#: above this many blocks the prefilter is skipped: per-block keep fractions
#: approach 1 (the chunk floor alone covers small blocks) and the B-row cut
#: table stops being broadcast-cheap.
_BLOCK_PREFILTER_MAX_BLOCKS = 50_000
#: keep-fraction grid — percentile_approx needs a FOLDABLE percentage array,
#: so every block picks the smallest grid point ≥ its own keep fraction.
_PREFILTER_GRID = (0.0002, 0.0005, 0.001, 0.002, 0.005, 0.01, 0.02,
                   0.05, 0.1, 0.2, 0.4, 0.7, 1.0)
#: keep-fraction slack over capr/n_h, plus the sketch's rank-error margin
_PREFILTER_SLACK = 2.0
_PREFILTER_ACC = 10_000


def _block_top_prefilter(
    remaining: DataFrame, sizes: DataFrame, block_col: str, ascending: bool,
    invalid_to_never: bool, growth: int,
) -> tuple[DataFrame, DataFrame]:
    """Exact-superset cut ahead of the per-block top-capr window: per block,
    keep a KEY-VALUE PREFIX that provably contains the top
    min(capr, n_h) rows, so the row_number sort shuffles ~Σ_h capr rows
    instead of |remaining| (the 400M-pair heavy anchor spent ~875 s per fit
    iteration in that sort).

    Mechanics: normalize the never-remapped sort key to smaller-is-better
    ``_kk`` (negate for descending — negation is an order-reversing bijection
    on non-NaN doubles, and invalids are already ±Inf), sketch a per-block
    cut at keep-fraction ``min(1, slack·capr/n_h + margin)`` via ONE
    percentile_approx aggregation (grid percentiles — the percentage argument
    must be foldable, so each block picks the smallest grid point ≥ its own
    fraction), then ONE conditional-count aggregation classifies each block:

    - strict   (count(_kk < cut) ≥ min(capr, n_h)): every top row beats the
      cut value, drop the boundary tie class — bounds heavy-tie blow-ups;
    - inclusive (count(_kk ≤ cut) ≥ min(capr, n_h)): the value-prefix through
      the cut contains the top rows (any excluded row is strictly worse than
      every kept row, so tie resolution by (a, b) cannot reach past it);
    - all      (sketch under-kept — shouldn't happen given the margin): keep
      the whole block, exactness never depends on the sketch.

    All three scans are map-side partial aggregations / filters over the
    (typically cached) remaining set — no data-row shuffle; the cut table is
    B rows, broadcast into the joins."""
    key = _never_sort_key(ascending, invalid_to_never)
    kk = key if ascending else -key
    work = remaining.withColumn("_kk", kk)
    grid = F.array(*[F.lit(v) for v in _PREFILTER_GRID])
    stats = work.groupBy(block_col).agg(
        F.percentile_approx("_kk", grid, F.lit(_PREFILTER_ACC)).alias("_cuts"),
        F.count(F.lit(1)).alias("_nh"),
    )
    frac = F.least(
        F.lit(1.0),
        F.lit(_PREFILTER_SLACK) * F.col("_capr") / F.col("_nh")
        + F.lit(4.0 / _PREFILTER_ACC),
    )
    cuts = (
        stats.join(sizes, block_col)
        .withColumn("_capr", F.lit(growth) * F.col("_cap0"))
        .withColumn("_need", F.least(F.col("_capr"), F.col("_nh")))
        # smallest grid point ≥ the block's keep fraction: 1 + #(grid < frac)
        .withColumn("_cut", F.element_at(
            "_cuts", (F.size(F.filter(grid, lambda x: x < frac)) + 1)
            .cast("int")))
        .select(block_col, "_need", "_cut")
    )
    cuts = cut_lineage(cuts)
    modes = (
        work.join(F.broadcast(cuts), block_col)
        .groupBy(block_col)
        .agg(F.count(F.when(F.col("_kk") < F.col("_cut"), 1)).alias("_def"),
             F.count(F.when(F.col("_kk") <= F.col("_cut"), 1)).alias("_kept"))
        .join(F.broadcast(cuts), block_col)
        .select(
            block_col, "_cut",
            F.when(F.col("_def") >= F.col("_need"), F.lit("strict"))
            .when(F.col("_kept") >= F.col("_need"), F.lit("inclusive"))
            .otherwise(F.lit("all")).alias("_mode"))
    )
    modes = cut_lineage(modes)
    out = (
        work.join(F.broadcast(modes), block_col)
        .filter(
            (F.col("_mode") == "all")
            | ((F.col("_mode") == "strict") & (F.col("_kk") < F.col("_cut")))
            | ((F.col("_mode") == "inclusive") & (F.col("_kk") <= F.col("_cut")))
        )
        .select(*remaining.columns)
    )
    release_checkpoint(cuts)
    # modes stays referenced by `out`'s lazy plan — the caller unpersists it
    # once the round's selection has materialized.
    return out, modes


def _dup_scan_first(narrow: DataFrame, block_col: str, ascending: bool,
                    invalid_to_never: bool) -> DataFrame:
    """duplicates_in_A=True blocked selection, pure JVM: greedy keeps a pair
    iff its ``a`` is unused, i.e. exactly each a's scan-first pair — per
    (block, a), rank 1 under (never-remapped ratio, b). No Python transfer
    at any |Ω| (select_mec_indices internals.R:513-555, dup branch)."""
    from pyspark.sql import Window

    key = _never_sort_key(ascending, invalid_to_never)
    w = Window.partitionBy(block_col, "a").orderBy(
        key.asc() if ascending else key.desc(), F.col("b").asc())
    return (narrow.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1).drop("_rk"))


#: tie-front fast round (VERDICT r5 #1): only attempted after a LOW-YIELD
#: round — one that removed less than this fraction of the residual. A
#: front-loaded giant tie class is the only structure that produces such
#: rounds (the per-block row prefix covers few distinct records inside a
#: tie, BENCH.md round-5 runs 6-7); spread-score fits remove most of the
#: residual every round and never pay the detection passes.
_TIE_FRONT_MAX_YIELD = 0.10
#: also attempted WITHIN a round, right after a sweep that selected fewer
#: than this fraction of the ν-proxy (Σ_cap0) on a still-huge residual —
#: catches the tie front in its first round instead of after one wasted
#: residual materialization. Pure heuristics: the zip itself is exact
#: whenever its own completeness/budget gates pass, so a mis-trigger costs
#: passes, never correctness.
_TIE_FRONT_SEL_FRAC = 0.01
#: residuals below this skip tie-front detection outright (the prefix
#: sweep finishes small residuals faster than the detection passes cost)
_TIE_FRONT_MIN_REMAINING = 5_000_000
#: driver collect budget for the front class's exception set (the rows NOT
#: in the front class, i.e. the residual's other score classes): three
#: longs per row through Arrow, ~200 MB of driver structures at the cap.
#: The heavy anchor's iteration-2 front class leaves |E| ≈ 4M of its 397M
#: residual rows — comfortably inside; a spread-score round fails the
#: PARALLEL count gate below without collecting anything.
_TIE_FRONT_E_MAX = 8_000_000


def _tie_front_zip_round(
    remaining: DataFrame, sizes: DataFrame, block_col: str, ascending: bool,
    invalid_to_never: bool, growth: int, n_blocks: int | None = None,
    used: list | None = None,
) -> tuple[DataFrame | None, list]:
    """Exact selection of the FRONT score-tie class for blocks whose
    remaining pair set is a COMPLETE bipartite product, computed driver-side
    from an exception-compressed representation.

    Structure: per eligible block, remaining = A'×B' (certified by
    n_rows == |A'|·|B'| — the residual rounds preserve completeness because
    they only ever remove whole rows/columns of used records), and the
    front tie class = A'×B' minus the other classes E (everything whose
    never-remapped sort key differs from the block's best). Within a tie
    class the greedy scan order is (a asc, b asc), which reduces to
    "ascending a takes its minimum available non-excepted b" — computable
    exactly on the driver from (sorted A', sorted B', E) with a
    path-compressed next-free-successor sweep, instead of shipping the
    whole multi-hundred-million-row class through per-block row prefixes
    that select ~1 pair per |B'| rows.

    Eligibility gates (all per block): complete product; the front class is
    at least the round's would-be prefix (else the normal sweep handles it
    in one go); the exception set and the id lists fit the driver collect
    budget (MAX_BOUNDARY_COLLECT total). Ineligible blocks fall through to
    the unchanged prefix sweep — exactness never depends on the gates.

    Returns (selected rows as an eagerly-materialized DataFrame or None,
    list of handled block ids). Every class row of a handled block touches
    a selected/used record afterwards (each a either selects or has all its
    class b's used; likewise b), so the standard residual anti-join clears
    the whole class this round.
    """
    from collections import defaultdict

    from pyspark.sql import types as T

    spark = remaining.sparkSession
    key = _never_sort_key(ascending, invalid_to_never)
    kk = key if ascending else -key
    never_kk = float("inf")  # the remapped "never" class in kk-space
    work = remaining.withColumn("_kk", kk)
    _t = time.time()
    # pass 1: per-block completeness + front value + id-cardinality gates
    # (bounded output — one row per block; no id sets collected yet)
    cand = (
        work.groupBy(block_col).agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct("a").alias("_da"),
            F.count_distinct("b").alias("_db"),
            F.min("_kk").alias("_front"),
        )
        .join(sizes, block_col)
        .filter(
            (F.col("_n") == F.col("_da") * F.col("_db"))
            & (F.col("_n") >= F.lit(growth) * F.col("_cap0"))
            & (F.col("_da") + F.col("_db") <= F.lit(MAX_BOUNDARY_COLLECT))
        )
        .collect()
    )
    _t = _trace(f"tie-front stats agg candidates={len(cand)}", _t)
    if not cand:
        return None, []
    if len(cand) > 10_000 and (n_blocks is None or len(cand) != n_blocks):
        # an isin() literal list this long would bloat every subsequent plan;
        # a many-block candidate set is not the few-giant-blocks structure
        # this path exists for anyway
        return None, []
    all_blocks = n_blocks is not None and len(cand) == n_blocks

    def _cand_only(df: DataFrame) -> DataFrame:
        return df if all_blocks else df.filter(
            F.col(block_col).isin([r[block_col] for r in cand]))

    blk_field = remaining.schema[block_col]
    front_df = F.broadcast(spark.createDataFrame(
        [(r[block_col], float(r["_front"])) for r in cand],
        schema=T.StructType([
            T.StructField(block_col, blk_field.dataType),
            T.StructField("_front", T.DoubleType()),
        ]),
    ))
    # pass 2: COUNT the exception set E (everything not in the front class)
    # per block — one fully-parallel aggregation. (A LIMIT-guarded collect
    # was tried instead and measured 238.7 s at the heavy anchor when E
    # exceeded the budget: CollectLimit evaluates partitions in small
    # incremental batches, serializing the scan it was meant to bound.)
    ec_rows = (
        _cand_only(work)
        .join(front_df, block_col)
        .groupBy(block_col)
        .agg(F.count(F.when(F.col("_kk") != F.col("_front"), 1)).alias("_ec"))
        .collect()
    )
    _t = _trace("tie-front exception-count agg", _t)
    e_cnt = {r[block_col]: int(r["_ec"]) for r in ec_rows}
    # re-gate with the REAL front-class size (pass 1 used |block| as proxy),
    # largest exception sets dropped first if the total busts the budget
    eligible = [
        r for r in cand
        if int(r["_n"]) - e_cnt.get(r[block_col], 0)
        >= growth * int(r["_cap0"])
    ]
    eligible.sort(key=lambda r: e_cnt.get(r[block_col], 0))
    zip_blocks = []
    budget = _TIE_FRONT_E_MAX
    for r in eligible:
        e = e_cnt.get(r[block_col], 0)
        if e <= budget:
            zip_blocks.append(r[block_col])
            budget -= e
    if not zip_blocks:
        return None, []
    fronts = {r[block_col]: float(r["_front"]) for r in cand}
    zblk_set = set(zip_blocks)
    # pass 2b: collect E for the zip blocks (bounded by the budget above)
    e_pdf = (
        work.filter(F.col(block_col).isin(zip_blocks))
        .join(front_df, block_col)
        .filter(F.col("_kk") != F.col("_front"))
        .select(block_col, "a", "b")
        .toPandas()
    )
    _t = _trace(f"tie-front E collect |E|={len(e_pdf)}", _t)
    # pass 3: the id universes of the zip blocks (bounded by the pass-1
    # da+db gate), one grouped collect
    id_rows = (
        work.filter(F.col(block_col).isin(zip_blocks))
        .groupBy(block_col)
        .agg(F.collect_set("a").alias("_as"), F.collect_set("b").alias("_bs"))
        .collect()
    )
    _t = _trace("tie-front id collect", _t)

    e_by: dict = defaultdict(set)
    if len(e_pdf):
        for blk, a, b in e_pdf.itertuples(index=False, name=None):
            if blk in zblk_set:
                e_by[(blk, a)].add(b)
    used_a: dict = defaultdict(set)
    used_b: dict = defaultdict(set)
    for blk, a, b in (used or ()):
        used_a[blk].add(a)
        used_b[blk].add(b)

    selected: list[tuple] = []
    for row in id_rows:
        blk = row[block_col]
        As = sorted(x for x in row["_as"] if x not in used_a[blk])
        Bs = sorted(x for x in row["_bs"] if x not in used_b[blk])
        nb = len(Bs)
        parent = list(range(nb + 1))  # next-free successor (path-compressed)

        def find(j: int) -> int:
            root = j
            while parent[root] != root:
                root = parent[root]
            while parent[j] != root:
                parent[j], j = root, parent[j]
            return root

        for a in As:
            ea = e_by.get((blk, a), ())
            j = find(0)
            while j < nb and Bs[j] in ea:
                j = find(j + 1)
            if j >= nb:
                continue  # every free b excepted for this a — unmatched
            parent[j] = j + 1
            selected.append((blk, a, Bs[j]))
    _t = _trace(f"tie-front driver sweep selected={len(selected)}", _t)
    if not selected:
        return None, []
    out_schema = remaining.select(block_col, "a", "b").schema
    if (set(remaining.columns) == {block_col, "a", "b", "ratio"}
            and all(fronts[b_] != never_kk for b_ in zip_blocks)):
        # finite front classes carry ONE raw ratio value per block (the
        # never-remap only rewrites to ±Inf), so the selected rows can be
        # CONSTRUCTED outright — no rejoin pass over the residual
        raw = {b_: (fronts[b_] if ascending else -fronts[b_])
               for b_ in zip_blocks}
        vals = {c: None for c in remaining.columns}
        rows = []
        for blk, a, b in selected:
            vals[block_col], vals["a"], vals["b"] = blk, a, b
            vals["ratio"] = raw[blk]
            rows.append(tuple(vals[c] for c in remaining.columns))
        sel = cut_lineage(spark.createDataFrame(rows, schema=remaining.schema))
    else:
        # the "never" class mixes raw NULL/NaN(/negative) ratios — fetch the
        # actual rows with a broadcast semi join
        kdf = spark.createDataFrame(selected, schema=out_schema)
        sel = cut_lineage(remaining.join(
            F.broadcast(kdf), [block_col, "a", "b"], "left_semi"))
    _trace("tie-front selected materialize", _t)
    return sel, zip_blocks


def _blocked_survivors_chunked(
    narrow: DataFrame,
    block_col: str,
    ascending: bool,
    invalid_to_never: bool,
    round_log: list | None = None,
    n_pairs: int | None = None,
) -> DataFrame:
    """Exact unbudgeted per-block greedy survivors WITHOUT streaming all of
    Ω through Python: sweep each block's top-(cap_h) prefix (ratio order IS
    scan order), drop every pair touching a selected record, repeat on what
    remains with a growing cap.

    Exactness (same residual lemma as the driver-finish chunking and the
    mutual-best loop): the chunk is an exact order-prefix of the remaining
    block scan, so its unbudgeted sweep selects exactly the continuation of
    the block's greedy scan; a swept-but-unselected pair was rejected
    because an endpoint was already used, so the used-record anti-join
    removes it permanently, and a block whose smaller side saturates
    (selections == m_h) self-clears — every remaining pair touches a used
    record. No completeness bookkeeping is needed: blocks simply run out of
    rows.

    Per-round cost: one shuffle+Tungsten-sort of the remaining pairs (the
    groupBy-apply path paid the same shuffle anyway) and ≤ cap_h rows per
    block through Arrow. Typical linkage data finishes in 1 round; the cap
    growth bounds adversarial chains at ~log_8(n_h/m_h) rounds."""
    from pyspark.sql import Window

    key = _never_sort_key(ascending, invalid_to_never)
    order = [key.asc() if ascending else key.desc(),
             F.col("a").asc(), F.col("b").asc()]
    # m_h = min(#distinct a, #distinct b) per block — the hard selection cap
    sizes = (
        narrow.groupBy(block_col)
        .agg(F.count_distinct("a").alias("_na"),
             F.count_distinct("b").alias("_nb"))
        .select(block_col,
                F.greatest(
                    F.lit(_BLOCK_CHUNK_FLOOR),
                    F.lit(_BLOCK_CHUNK_FACTOR) * F.least("_na", "_nb"),
                ).alias("_cap0"))
    )
    sizes = cut_lineage(sizes)
    n_blocks = sizes.count()  # cached — cheap; gates the prefilter
    w = Window.partitionBy(block_col).orderBy(*order)
    parts: list[DataFrame] = []
    # Round 1 reads `narrow` directly (typically an already-persisted Ω
    # projection) — every round's residual is then materialized
    # (cut_lineage). Deferring the materialization (keeping the residual as
    # a lazy anti-join over the last cut when a round removed little) was
    # tried and MEASURED SLOWER at the 400M-pair heavy anchor: the write it
    # saves (~40 s at 396M rows) is smaller than the cost it adds to every
    # subsequent pass, which then re-scans Ω and recomputes the hurdle-ratio
    # arithmetic instead of reading a compact checkpoint (prefilter
    # 20.7 s → 79.9 s, sweep 16.5 s → 51.8 s on the round after a deferral
    # — BENCH.md round-5 adjudication). The per-round residual write pays
    # for itself.
    remaining = narrow
    n_remaining = n_pairs
    growth = 1
    n_prev_entering: int | None = None
    sum_cap0: int | None = None
    for round_no in range(_BLOCK_CHUNK_MAX_ROUNDS):
        _t = time.time()
        n_entering = n_remaining
        # tie-front fast round, trigger 1: the PREVIOUS round was low-yield
        # (removed <10% of the residual) — the signature of a front-loaded
        # giant tie class (BENCH.md r5 runs 6-7); spread-score rounds remove
        # most of the residual and never reach this.
        low_yield_prev = (
            n_prev_entering is not None and n_remaining is not None
            and n_remaining > _TIE_FRONT_MIN_REMAINING
            and n_remaining > (1.0 - _TIE_FRONT_MAX_YIELD) * n_prev_entering)
        zip_sel, zip_blocks = None, []
        zip_attempted = False
        if low_yield_prev:
            zip_attempted = True
            zip_sel, zip_blocks = _tie_front_zip_round(
                remaining, sizes, block_col, ascending, invalid_to_never,
                growth, n_blocks=n_blocks)
            _t = _trace(f"chunked-sweep r{round_no} tie-front(prev-yield) "
                        f"blocks={len(zip_blocks)}", _t)
        sel = None
        full_sweep = False
        prefilter_modes = None
        if len(zip_blocks) < n_blocks:
            base = remaining if not zip_blocks else remaining.filter(
                ~F.col(block_col).isin(zip_blocks))
            if low_yield_prev:
                # ESCALATION (r6 heavy A/B, BENCH.md runs c/d): the previous
                # round was low-yield and the zip could not clear the
                # remaining blocks — the signature of a tie front the prefix
                # rounds would grind through with one ~|residual|-row
                # materialization per round (measured 366.7 s at the 400M
                # anchor). Sweep the residual WHOLE instead: one unbudgeted
                # per-block pass (the one-shot path, measured 64.3 s on the
                # same residual) selects the exact continuation of every
                # block's scan and clears it.
                full_sweep = True
                chunk = base.select(*narrow.columns)
                _t = _trace(f"chunked-sweep r{round_no} full-sweep escalation",
                            _t)
            else:
                if (n_remaining is not None
                        and n_remaining > _BLOCK_PREFILTER_MIN
                        and n_blocks <= _BLOCK_PREFILTER_MAX_BLOCKS):
                    # cut each block to an exact superset of its top capr rows
                    # so the window below sorts ~Σ capr rows, not |remaining|
                    base, prefilter_modes = _block_top_prefilter(
                        base, sizes, block_col, ascending, invalid_to_never,
                        growth)
                    _t = _trace(f"chunked-sweep r{round_no} prefilter", _t)
                chunk = (
                    base.withColumn("_rk", F.row_number().over(w))
                    .join(sizes, block_col)
                    .filter(F.col("_rk") <= growth * F.col("_cap0"))
                    .select(*narrow.columns)
                )
            sel = cut_lineage(chunk.groupBy(block_col).applyInPandas(
                lambda pdf: _block_greedy_pdf(pdf, False, ascending,
                                              invalid_to_never),
                schema=narrow.schema,
            ))
            _t = _trace(f"chunked-sweep r{round_no} sort+sweep", _t)
            if prefilter_modes is not None:
                release_checkpoint(prefilter_modes)
        # trigger 2 (within-round): the sweep selected almost nothing on a
        # still-huge residual — the tie front is HERE; zip the front class
        # now, treating this round's selections as used records, and save
        # the low-yield residual materializations the r5 trace measured at
        # ~58% of the iteration-2 select wall.
        if (not zip_attempted and sel is not None
                and n_remaining is not None
                and n_remaining > _TIE_FRONT_MIN_REMAINING):
            if sum_cap0 is None:
                sum_cap0 = int(sizes.agg(
                    F.sum("_cap0")).collect()[0][0] or 0)
            n_sel = sel.count()
            if n_sel < _TIE_FRONT_SEL_FRAC * sum_cap0:
                used_keys = [tuple(r) for r in
                             sel.select(block_col, "a", "b").collect()]
                zip_sel, zip_blocks = _tie_front_zip_round(
                    remaining, sizes, block_col, ascending, invalid_to_never,
                    growth, n_blocks=n_blocks, used=used_keys)
                _t = _trace(f"chunked-sweep r{round_no} tie-front(low-sel) "
                            f"blocks={len(zip_blocks)}", _t)
        if sel is not None and zip_sel is not None:
            # both sides are already materialized; the union is only the
            # residual anti-join's build side — no extra checkpoint needed
            sel_all = sel.unionByName(zip_sel)
        else:
            sel_all = sel if sel is not None else zip_sel
        if sel is not None:
            parts.append(sel)
        if zip_sel is not None:
            parts.append(zip_sel)
        if full_sweep and not zip_blocks:
            # Every block was swept whole: a remaining pair the sweep did
            # not select was rejected because an endpoint is already used,
            # so the residual is empty by construction — skip the anti-join
            # materialization and its count pass.
            release_checkpoint(remaining)
            _trace(f"chunked-sweep r{round_no} residual cleared (full sweep)",
                   _t)
            if round_log is not None:
                round_log.append((round_no, 0))
            break
        nxt = cut_lineage(
            remaining
            .join(sel_all.select(block_col, "a"), [block_col, "a"],
                  "left_anti")
            .join(sel_all.select(block_col, "b"), [block_col, "b"],
                  "left_anti")
        )
        release_checkpoint(remaining)
        remaining = nxt
        n_rem = remaining.count()
        _trace(f"chunked-sweep r{round_no} residual n_rem={n_rem}", _t)
        n_prev_entering = n_entering
        n_remaining = n_rem
        if round_log is not None:
            round_log.append((round_no, n_rem))
        if n_rem == 0:
            release_checkpoint(remaining)
            break
        growth *= _BLOCK_CHUNK_GROWTH
    else:
        raise RuntimeError(
            "_blocked_survivors_chunked failed to clear the pair set in "
            f"{_BLOCK_CHUNK_MAX_ROUNDS} rounds — residual invariant broken"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = cut_lineage(out)
    for p in parts:
        release_checkpoint(p)
    release_checkpoint(sizes)
    return out


#: Past this budget, the global top-n_target truncation of the survivor set
#: routes through ``retain_top_n`` (sketch + conditional-count agg) instead of
#: ``orderBy().limit()``: orderBy/limit compiles to TakeOrderedAndProject — a
#: per-partition top-k merged ON THE DRIVER, which holds k rows in driver
#: memory — or past topKSortFallbackThreshold to a global sort + single-
#: partition GlobalLimit. The crossover sits at 1M: a 1M-row driver merge is
#: ~40 MB (cheap, and the iterative fits call this every iteration, so the
#: sketch path's extra agg jobs should not tax mid-size fits), while
#: billion-row budgets (the north star's 10^12-record regime) must never
#: funnel through the driver or one task.
TOPK_VIA_SORT_MAX = 1_000_000

#: Broadcasting the selected-key set for the survivor rejoin costs
#: ~(serialized keys + hashmap overhead) PER EXECUTOR; cap the byte estimate
#: (Spark's own broadcast guidance is tens of MB), not a raw row count —
#: the old 5M-row cap allowed ~80MB+ broadcasts.
BROADCAST_KEYS_MAX_BYTES = 32 * 1024 * 1024
_EST_BYTES_PER_KEY = 16      # two 64-bit record ids (numeric id schema)
_EST_BYTES_PER_STR_COL = 64  # record ids are arbitrary STABLE ids — string
                             # keys estimate 64B/column so the byte cap
                             # doesn't wave through multi-hundred-MB
                             # broadcasts of long string ids

#: Unblocked Ω larger than this never hits the driver: the iterative
#: mutual-best sweep (``greedy_one_to_one_distributed``) runs instead of the
#: reference-faithful driver collect.
MAX_UNBLOCKED_COLLECT = 5_000_000


def _broadcast_selected_keys(n_keys: int, keys_df: DataFrame | None = None) -> bool:
    per_key = _EST_BYTES_PER_KEY
    if keys_df is not None:
        import pyspark.sql.types as T

        numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                   T.FloatType, T.DoubleType)
        per_key = sum(
            8 if isinstance(f.dataType, numeric) else _EST_BYTES_PER_STR_COL
            for f in keys_df.schema.fields
        )
    return n_keys * per_key <= BROADCAST_KEYS_MAX_BYTES


def _never_sort_key(ascending: bool, invalid_to_never: bool):
    """The global selection sort key mirroring greedy_select_local exactly:
    Spark's orderBy sorts NaN GREATEST (before +Inf), but the per-block pandas
    sweep and the reference sort NaN/NA *last* (internals.R:1712-1713); under
    invalid_to_never negative scores are "never" too. Remap so a degenerate
    0/0 ratio cannot jump the queue. NULL ratios (absent from the reference,
    which only produces NA→NaN) are folded into "never" as well, so both
    truncation strategies order them identically."""
    never = float("inf") if ascending else float("-inf")
    key = F.col("ratio")
    bad = key.isNull() | F.isnan(key)
    if invalid_to_never:
        bad = bad | (key < 0)
    return F.when(bad, F.lit(never)).otherwise(key)


def _truncate_to_budget(survivors: DataFrame, n_target: int,
                        ascending: bool, invalid_to_never: bool) -> DataFrame:
    """Global top-n_target of the unbudgeted survivor set under
    (ratio "never"-remapped asc/desc, a, b) — identical to truncating the
    budgeted greedy scan (the budget only cuts the scan prefix, and scan
    order IS this order). Small budgets take TakeOrderedAndProject (the
    right plan for small k); large budgets take the sketch-based exact
    top-n, which touches only sketch-error-sized boundary slices and never
    funnels the survivor set through one task or the driver."""
    sort_key = _never_sort_key(ascending, invalid_to_never)
    if n_target <= TOPK_VIA_SORT_MAX:
        order_cols = [sort_key.asc() if ascending else sort_key.desc(), "a", "b"]
        return survivors.orderBy(*order_cols).limit(n_target)
    ranked = survivors.withColumn("_sel_key", sort_key)
    kept = retain_top_n(ranked, n_target, "_sel_key", tie_cols=("a", "b"),
                        descending=not ascending)
    return kept.drop("_sel_key")


def select_mec_pairs(
    omega: DataFrame,
    n_M: float,
    duplicates_in_A: bool = False,
    block_col: str | None = None,
    ascending: bool = False,
    invalid_to_never: bool = False,
    ratio_col: str = "ratio",
    keys_only: bool = False,
    n_pairs: int | None = None,
) -> DataFrame:
    """Greedy one-to-one selection returning the selected pairs as a DataFrame
    with the same schema as ``omega`` (filtered).

    ``omega`` must carry columns (a, b, <ratio_col>) and, when ``block_col``
    is given, the disjoint block id. ``keys_only=True`` skips rejoining the
    non-key columns (callers that consume only (a, b[, block, ratio]) — e.g.
    the inverted blocked loop — avoid one semi join per iteration).
    ``n_pairs`` (|Ω|) routes scale strategies without a count: unblocked, it
    decides driver sweep vs distributed mutual-best; blocked, it routes
    |Ω| > BLOCK_SWEEP_CHUNK_MIN through the chunked prefix sweep (Arrow
    transfer O(records), not O(pairs)). The iterative fits pass it every
    iteration.
    """
    n_target = _round_half_even(n_M)
    if n_target <= 0:
        return omega.limit(0)

    work = omega.withColumnRenamed(ratio_col, "ratio") if ratio_col != "ratio" else omega

    if block_col is not None:
        dup, asc, inv = duplicates_in_A, ascending, invalid_to_never
        # The sweep needs only (block, a, b, ratio): shipping the full row
        # through the groupBy shuffle + Arrow batches multiplies both the
        # shuffle bytes and every Python worker's resident block by the
        # gamma-column count (an 80 GB JVM OOM at 400M pairs before this).
        # Survivors rejoin the full row via a semi join afterwards — the
        # survivor set is ≤ Σ_h min(n_Ah, n_Bh), tiny next to Ω.
        narrow = work.select(block_col, "a", "b", "ratio")
        if dup:
            # per-a scan-first pair: pure JVM window, no Python at any |Ω|
            survivors = _dup_scan_first(narrow, block_col, asc, inv)
        elif n_pairs is not None and n_pairs > BLOCK_SWEEP_CHUNK_MIN:
            survivors = _blocked_survivors_chunked(narrow, block_col, asc, inv,
                                                   n_pairs=n_pairs)
        else:
            survivors = narrow.groupBy(block_col).applyInPandas(
                lambda pdf: _block_greedy_pdf(pdf, dup, asc, inv),
                schema=narrow.schema,
            )
        selected = _truncate_to_budget(survivors, n_target, asc, inv)
        extra = [] if keys_only else [
            c for c in work.columns if c not in (block_col, "a", "b", "ratio")
        ]
        if extra:
            # Rejoin the full row for callers that aggregate gammas over M.
            # The selected key set is ≤ n_target: broadcast it when its byte
            # estimate fits so Ω is never reshuffled; past the threshold a
            # shuffle semi join is the right plan anyway. n_target is an
            # upper bound — the survivor set here is lazy (counting it would
            # re-run the per-block Arrow sweep), so when the budget alone
            # overflows the byte cap we leave the static plan as a shuffle
            # semi join and let AQE's runtime stats (session.py enables
            # adaptive execution) demote it to a broadcast join when the
            # actual survivor set turns out to be small.
            keys = selected.select("a", "b")
            if _broadcast_selected_keys(n_target, keys):
                keys = F.broadcast(keys)
            selected = work.join(keys, ["a", "b"], "left_semi")
    else:
        narrow = work.select("a", "b", "ratio")
        if n_pairs is None:
            n_pairs = narrow.count()
        if n_pairs > MAX_UNBLOCKED_COLLECT:
            # Unblocked Ω too large for the reference-faithful driver sweep:
            # iterative mutual-best selection (exact greedy equivalence, see
            # greedy_one_to_one_distributed) + the same global truncation.
            survivors = greedy_one_to_one_distributed(
                narrow, duplicates_in_A=duplicates_in_A, ascending=ascending,
                invalid_to_never=invalid_to_never,
            )
            # survivors come back as one eager checkpoint, so counting them
            # is a cache scan; the rejoin key set is min(budget, survivors),
            # not the budget — a 3k survivor set under a 3M budget still
            # takes the broadcast semi join instead of reshuffling Ω.
            n_selected = min(n_target, survivors.count())
            sel = _truncate_to_budget(survivors, n_target, ascending,
                                      invalid_to_never)
            # Materialize the truncated KEY set and release the survivor
            # checkpoint immediately (ADVICE r5 #1): repeated large
            # unblocked fits in one session otherwise pin one survivor-sized
            # block per fit for the session's lifetime. What remains held
            # per call is the selected key set alone (two ids per selected
            # pair) — the minimum the returned lazy semi join needs.
            keys = cut_lineage(sel.select("a", "b"))
            release_checkpoint(survivors)
            if _broadcast_selected_keys(n_selected, keys):
                keys = F.broadcast(keys)
            selected = work.join(keys, ["a", "b"], "left_semi")
        else:
            local = narrow.toPandas()
            idx = greedy_select_local(
                local["a"].to_numpy(),
                local["b"].to_numpy(),
                local["ratio"].to_numpy(),
                n_M=n_M,
                duplicates_in_A=duplicates_in_A,
                ascending=ascending,
                invalid_to_never=invalid_to_never,
            )
            chosen = local.iloc[idx][["a", "b"]]
            spark = omega.sparkSession
            if len(chosen) == 0:
                return omega.limit(0)
            sel_df = spark.createDataFrame(chosen)
            selected = work.join(F.broadcast(sel_df), ["a", "b"], "left_semi")

    if ratio_col != "ratio":
        selected = selected.withColumnRenamed("ratio", ratio_col)
    return selected


@dataclass
class SelectionSummary:
    selected: DataFrame
    flr_est: float
    mmr_est: float
    iter: int | None
    #: which bisection strategy ran: "exact_collect" | "distributed" | None
    #: (size mode) — surfaced so callers/oracles can GATE the scale path.
    strategy: str | None = None


#: FLR/MMR exact path cap: distinct-ratio tables up to this size are
#: collected and cum-summed on the driver (binary gammas: 2^K values);
#: beyond it (continuous comparators → distinct ratios ≈ |Ω|) the bisection
#: evaluates thresholds distributedly and collects nothing.
MAX_DISTINCT_RATIO_COLLECT = 65_536

#: bisection levels prefetched per distributed aggregation pass (2^L−1
#: candidate thresholds → 2·(2^L−1) agg columns)
_BISECT_BATCH_LEVELS = 5

#: bracket localization bound for the distributed FLR/MMR bisection: when
#: the current bracket's Ω slice holds at most this many rows, its exact
#: per-distinct-ratio (count, Σĝ) table is collected once (≤ this many
#: groups, bounded driver memory) and the remaining bisection finishes
#: driver-side. log2(|Ω| / this) batch aggregations reach the bound — ~10
#: halvings ≈ 2 batches at a 400M-pair Ω.
_BISECT_LOCALIZE_MAX_ROWS = 500_000


def _dyadic_thresholds(lo: float, hi: float, levels: int) -> list[float]:
    """Every threshold the sequential bisection CAN visit in the next
    `levels` steps from bracket (lo, hi) — computed with the same (a+b)/2
    float recursion the loop uses, NOT algebraic fractions, so the probed
    values are bit-identical to the sequential path."""
    out: list[float] = []
    frontier = [(lo, hi)]
    for _ in range(levels):
        nxt: list[tuple[float, float]] = []
        for a, b in frontier:
            t = (a + b) / 2.0
            if t == a or t == b:  # bracket exhausted at float resolution
                continue
            out.append(t)
            nxt.append((a, t))
            nxt.append((t, b))
        frontier = nxt
    return out


def summarize_mec_selection(
    omega: DataFrame,
    n_M_est: float,
    duplicates_in_A: bool = False,
    set_construction: str = "size",
    target_rate: float = 0.03,
    tol: float = 0.005,
    max_iter: int = 50,
    block_col: str | None = None,
    exact_collect_max: int | None = None,
    n_pairs: int | None = None,
) -> SelectionSummary:
    """Classification-set construction (reference ``summarize_mec_selection``
    internals.R:424-508): size-based greedy set, or FLR/MMR-targeted threshold
    bisection.

    The bisection needs only (count, Σĝ) of {ratio ≥ t} at each probed
    threshold. Two physical strategies, chosen by an approx_count_distinct
    pre-check on ratio:

    - **exact-collect** (binary gammas: ≤ 2^K distinct ratios): aggregate
      ``groupBy(ratio) → (count, Σĝ)`` once, cumsum on the driver, bisect
      against that table.
    - **distributed** (continuous comparators: distinct ratios ≈ |Ω|, which
      a driver collect cannot hold at scale): evaluate the bisection's own
      future thresholds in batches — the next ``_BISECT_BATCH_LEVELS`` levels
      of the (lo+hi)/2 recursion are at most 2^L−1 known floats, so ONE
      conditional-count aggregation per batch covers 5 bisection steps.
      Nothing is collected; thresholds are the exact floats the sequential
      loop computes, so both strategies probe identical thresholds.

    The final set is a simple ``filter(ratio ≥ t)`` (threshold sets are not
    one-to-one constrained, by reference semantics).

    ``exact_collect_max`` overrides MAX_DISTINCT_RATIO_COLLECT for this call
    (0 forces the distributed strategy — used by the registry oracle that
    gates the scale path every round).
    """
    if set_construction not in ("size", "flr", "mmr"):
        raise ValueError("`set_construction` should be one of: size, flr, mmr.")

    if set_construction == "size":
        from pyspark.storagelevel import StorageLevel

        # Persist the final selection: the aggregation below materializes it,
        # and every post-fit consumer (M_est.count(), evaluation joins)
        # reuses the cached set instead of re-running the per-block Arrow
        # sweep over all of Ω.
        selected = select_mec_pairs(
            omega, n_M_est, duplicates_in_A=duplicates_in_A,
            block_col=block_col, n_pairs=n_pairs,
        ).persist(StorageLevel.MEMORY_AND_DISK)
        agg = selected.agg(
            F.count(F.lit(1)).alias("n_sel"), F.sum("g_est").alias("g_sum")
        ).collect()[0]
        n_sel = agg["n_sel"]
        if n_sel == 0:
            return SelectionSummary(selected, float("inf"), 1.0, None)
        g_sum = float(agg["g_sum"])
        flr_est = 1.0 - g_sum / n_sel
        mmr_est = max(0.0, min(1.0, 1.0 - g_sum / n_sel))
        return SelectionSummary(selected, flr_est, mmr_est, None)

    # strategy gate + the distributed path's bracket endpoints in ONE pass
    # (was: an approx_count_distinct pass plus a separate min/max pass)
    gate_row = omega.agg(
        F.approx_count_distinct("ratio").alias("d"),
        F.min("ratio").alias("lo"), F.max("ratio").alias("hi"),
    ).collect()[0]
    n_distinct = gate_row["d"]
    collect_max = (MAX_DISTINCT_RATIO_COLLECT if exact_collect_max is None
                   else exact_collect_max)
    if n_distinct <= collect_max:
        strategy = "exact_collect"
        stats = (
            omega.groupBy("ratio")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("g_est").alias("g_sum"))
            .orderBy(F.col("ratio").desc())
            .toPandas()
        )
        ratios = stats["ratio"].to_numpy(dtype=np.float64)
        cum_n = stats["cnt"].to_numpy(dtype=np.int64).cumsum()
        cum_g = stats["g_sum"].to_numpy(dtype=np.float64).cumsum()

        def n_and_g_at(threshold: float) -> tuple[int, float]:
            # pairs with ratio >= threshold (findInterval(-t, -ratio_sorted))
            k = int(np.searchsorted(-ratios, -threshold, side="right"))
            if k == 0:
                return 0, 0.0
            return int(cum_n[k - 1]), float(cum_g[k - 1])

        min_t, max_t = float(ratios[-1]), float(ratios[0])
    else:
        strategy = "distributed"
        # Narrow lazy projection: the handful of batch aggregations and the
        # localization slice need only (ratio, g_est). Left UNPERSISTED on
        # purpose: with bracket localization the whole bisection costs ~2-4
        # passes, fewer than a materialization would need to pay for itself
        # (omega is a cheap projection over the fit's persisted gamma base).
        bisect_base = omega.select("ratio", "g_est")
        min_t, max_t = float(gate_row["lo"]), float(gate_row["hi"])
        _cache: dict[float, tuple[int, float]] = {}

        def _batch_eval(ts: list[float]) -> None:
            ts = [t for t in ts if t not in _cache]
            if not ts:
                return
            aggs = []
            for i, t in enumerate(ts):
                cond = F.col("ratio") >= t
                aggs.append(F.count(F.when(cond, 1)).alias(f"n{i}"))
                aggs.append(F.sum(F.when(cond, F.col("g_est"))).alias(f"g{i}"))
            row = bisect_base.agg(*aggs).collect()[0]
            for i, t in enumerate(ts):
                _cache[t] = (int(row[f"n{i}"]), float(row[f"g{i}"] or 0.0))

        # Bracket localization: once the CURRENT bracket's slice of Ω holds
        # ≤ _BISECT_LOCALIZE_MAX_ROWS rows, collect its exact per-distinct-
        # ratio (count, Σĝ) table ONCE and finish every remaining bisection
        # step with driver-side suffix sums anchored at the evaluated upper
        # endpoint: {ratio ≥ t} = {ratio ≥ hi} ∪ {t ≤ ratio < hi} for any
        # t the loop can still visit (bisection never leaves its bracket).
        # This is the exact_collect strategy scoped to the bracket — the
        # sequential thresholds are unchanged, only the physical evaluation
        # moves off-cluster. A target rate sitting on a jump of the FLR step
        # function otherwise runs ~max_iter/L batch aggregations (measured:
        # 20 cluster jobs for a 100-iter flr fit); with localization the
        # whole endgame costs one bounded slice collect.
        _local: dict | None = None

        def _try_localize() -> None:
            nonlocal _local
            lo_ev, hi_ev = _cache.get(min_t), _cache.get(max_t)
            if lo_ev is None or hi_ev is None:
                return
            if lo_ev[0] - hi_ev[0] > _BISECT_LOCALIZE_MAX_ROWS:
                return
            slice_pdf = (
                bisect_base
                .filter((F.col("ratio") >= min_t) & (F.col("ratio") < max_t))
                .groupBy("ratio")
                .agg(F.count(F.lit(1)).alias("cnt"),
                     F.sum("g_est").alias("g_sum"))
                .orderBy(F.col("ratio").desc())
                .toPandas()
            )
            _local = {
                "lo": min_t, "hi": max_t,
                "n_hi": hi_ev[0], "g_hi": hi_ev[1],
                "ratios": slice_pdf["ratio"].to_numpy(dtype=np.float64),
                "cum_n": slice_pdf["cnt"].to_numpy(dtype=np.int64).cumsum(),
                # all-null g groups surface as NaN in pandas — mirror the
                # batch-eval `or 0.0` convention
                "cum_g": slice_pdf["g_sum"].fillna(0.0)
                .to_numpy(dtype=np.float64).cumsum(),
            }

        def _serve_local(t: float) -> tuple[int, float]:
            k = int(np.searchsorted(-_local["ratios"], -t, side="right"))
            if k == 0:
                out = (_local["n_hi"], _local["g_hi"])
            else:
                out = (_local["n_hi"] + int(_local["cum_n"][k - 1]),
                       _local["g_hi"] + float(_local["cum_g"][k - 1]))
            _cache[t] = out
            return out

        def n_and_g_at(threshold: float) -> tuple[int, float]:
            if threshold not in _cache:
                if (_local is not None and _local["lo"] <= threshold
                        and threshold <= _local["hi"]):
                    return _serve_local(threshold)
                # Interval shortcut: n(t) = |{ratio ≥ t}| is a non-increasing
                # step function, so if two already-evaluated thresholds
                # bracketing this one have EQUAL counts, the selected set —
                # and hence (n, Σĝ) — is constant across the whole interval;
                # serve the probe by driver arithmetic.
                ts = sorted(_cache)
                i = bisect.bisect_left(ts, threshold)
                if 0 < i < len(ts) and _cache[ts[i - 1]][0] == _cache[ts[i]][0]:
                    _cache[threshold] = _cache[ts[i - 1]]
                    return _cache[threshold]
                _try_localize()
                if (_local is not None and _local["lo"] <= threshold
                        and threshold <= _local["hi"]):
                    return _serve_local(threshold)
                # prefetch every threshold the next L bisection steps can
                # visit from the CURRENT bracket — one agg per L steps;
                # include the bracket endpoints so localization can anchor
                # as soon as the bracket is small enough
                _batch_eval(_dyadic_thresholds(min_t, max_t,
                                               _BISECT_BATCH_LEVELS)
                            + [threshold, min_t, max_t])
            return _cache[threshold]
    threshold = (min_t + max_t) / 2.0
    it = 0
    while it < max_iter:
        n_sel, g_at = n_and_g_at(threshold)
        if set_construction == "flr":
            rate = float("inf") if n_sel == 0 else (n_sel - g_at) / n_sel
        else:
            rate = 1.0 if (n_sel == 0 or n_M_est <= 0) else 1.0 - g_at / n_M_est
        if abs(rate - target_rate) <= tol:
            break
        if rate < target_rate:
            if set_construction == "flr":
                max_t = threshold
            else:
                min_t = threshold
        else:
            if set_construction == "flr":
                min_t = threshold
            else:
                max_t = threshold
        threshold = (min_t + max_t) / 2.0
        it += 1

    n_sel, g_at = n_and_g_at(threshold)
    selected = omega.filter(F.col("ratio") >= threshold) if n_sel > 0 else omega.limit(0)
    flr_est = float("inf") if n_sel == 0 else (n_sel - g_at) / n_sel
    mmr_est = 1.0 if (n_sel == 0 or n_M_est <= 0) else 1.0 - g_at / n_M_est
    return SelectionSummary(selected, flr_est, mmr_est, it, strategy)


# ---------------------------------------------------------------------------
# Distributed "ORDER BY score DESC NULLS LAST, keys ASC LIMIT n" retention
# (no global window). Used by the blocked-MEC alpha U-drop
# (internals.R:1831-1839): the naive row_number() over an unpartitioned
# window funnels ALL nonmatch rows through one task — the textbook
# 100×-scale killer. Instead: an approxQuantile sketch proposes cut values,
# ONE conditional-count agg locates the boundary exactly, and only the
# sketch-error-sized boundary slice (or the tie set at the exact cut value,
# resolved recursively by the next order column) is touched further. The
# final ≤MAX_BOUNDARY_COLLECT boundary keys are fetched with a driver-merged
# top-m (TakeOrderedAndProject) and broadcast-semi-joined back — no
# Exchange SinglePartition anywhere on the main input.
# ---------------------------------------------------------------------------

#: boundary slices larger than this take a window over the SLICE only (still
#: sketch-error-bounded, ≪ the input); keeps the driver key fetch bounded.
MAX_BOUNDARY_COLLECT = 2_000_000

#: SPARK_GRAFT_TRACE=1 → per-step wall prints from the sketch-retention path
#: (perf attribution at heavy scale; off in normal runs).
_TRACE = os.environ.get("SPARK_GRAFT_TRACE", "") not in ("", "0")


def _trace(label: str, t0: float) -> float:
    if _TRACE:
        print(f"[trace] {label}: {time.time() - t0:.1f}s", flush=True)
    return time.time()


def _order_cols(cols: list[str], descs: list[bool]):
    return [F.desc_nulls_last(c) if d else F.asc(c) for c, d in zip(cols, descs)]


#: exact-histogram fast path (VERDICT r5 #3): when a level's distinct-value
#: count is at most this, ONE groupBy(value).count() collect replaces the
#: iterated fixed-width bin rounds + boundary-count agg + boundary-slice
#: fetch, and the retained prefix becomes a pure FILTER over the input (no
#: boundary-key broadcast join, no driver-merged slice sort). Score columns
#: in the MEC fits are arithmetic over a handful of distinct gamma values,
#: so this path fires at every scale — truly continuous scores exceed the
#: gate and take the rank-bracket sketch path below unchanged.
#: 1M groups ≈ a 40 MB driver collect — comfortably bounded, and wide
#: enough that the heavy anchor's tie-class levels (≈150k distinct record
#: ids inside a 320M-row score tie) stay on the exact-histogram path
#: instead of falling back to the multi-pass sketch machinery.
_EXACT_HIST_MAX_GROUPS = 1_048_576
#: approx_count_distinct (default rsd 5%) gate with head-room so a true
#: count marginally above the cap cannot sneak past the estimate; the
#: collect itself re-checks the exact group count and falls back.
_EXACT_HIST_ACD_GATE = int(_EXACT_HIST_MAX_GROUPS * 0.75)


def _exact_hist_prefix_predicate(df: DataFrame, target: int, cols: list[str],
                                 descs: list[bool],
                                 acd_hint: int | None = None):
    """Driver-exact lexicographic cut: a Column predicate P such that
    ``df.filter(P)`` is EXACTLY the first ``target`` rows of df under
    ``ORDER BY cols`` (descs[i] → desc, else asc), or None when any level's
    cardinality exceeds the gate (caller falls back to the sketch path, so
    exactness never depends on the gate). df must be null-free in ``cols``.

    Per level: one approx_count_distinct gate (skipped for level 0 when the
    caller fused it into an earlier agg — ``acd_hint``) and one
    groupBy(value).count() collect over the current tie slice, which shrinks
    to a single value class per level. Spark's total order on doubles (NaN
    greatest, then +Inf; NaN = NaN is true, NaN > x is true for non-NaN x —
    SQL NaN semantics) matches its comparison operators exactly, so the
    strict/equality predicates reproduce the sort's row set bit-for-bit; the
    driver-side sort mirrors it with the (isnan, value) key."""
    sl = df
    preds = []   # strict-prefix predicates accumulated over finished levels
    eqs = F.lit(True)  # equality conjunction pinning the current tie slice
    for lvl, (col, desc) in enumerate(zip(cols, descs)):
        c = F.col(col)
        if acd_hint is not None:
            acd, acd_hint = acd_hint, None
        else:
            acd = int(sl.agg(F.approx_count_distinct(col).alias("d"))
                      .collect()[0]["d"])
        if acd > _EXACT_HIST_ACD_GATE:
            return None
        # fuse the NEXT level's per-class distinct count into this level's
        # groupBy, so each level costs exactly one pass
        aggs = [F.count(F.lit(1)).alias("count")]
        if lvl + 1 < len(cols):
            aggs.append(
                F.approx_count_distinct(cols[lvl + 1]).alias("_acd_next"))
        hist = sl.groupBy(col).agg(*aggs).collect()
        if len(hist) > _EXACT_HIST_MAX_GROUPS or any(
                r[col] is None for r in hist):
            return None
        rows = sorted(
            hist,
            key=lambda r: (isinstance(r[col], float) and math.isnan(r[col]),
                           r[col]),
            reverse=desc,
        )
        cum = 0
        found = None
        for r in rows:
            if cum + int(r["count"]) >= target:
                found = r
                break
            cum += int(r["count"])
        if found is None:   # cannot happen for target ≤ Σcnt; stay safe
            return None
        v, n_before, cnt = found[col], cum, int(found["count"])
        is_v = c == F.lit(v)   # Spark: NaN = NaN is true, groupBy folds NaN
        strictly_better = (c > F.lit(v)) if desc else (c < F.lit(v))
        preds.append(eqs & strictly_better)
        m = target - n_before
        if m >= cnt:           # tie class fully inside the prefix
            preds.append(eqs & is_v)
            out = preds[0]
            for p in preds[1:]:
                out = out | p
            return out
        eqs = eqs & is_v
        sl = sl.filter(is_v)
        target = m
        # gate for the next level: the cut class's fused distinct count
        acd_hint = (int(found["_acd_next"])
                    if "_acd_next" in found.asDict() else None)
    return None   # order columns exhausted inside a tie (non-unique keys)


#: fixed-width bins per histogram level (collected to the driver: ≤64k rows)
_HIST_BINS = 65_536
#: histogram refinement depth cap; past it the current bracket is returned
#: and the window-over-slice fallback absorbs an oversized boundary.
_HIST_MAX_LEVELS = 4
#: refine until the boundary slice is at most this many rows (or refinement
#: stops progressing) — sorting the slice costs ~linear driver-merge work,
#: one more histogram level costs one codegen pass over the input.
_HIST_RESOLVE_TARGET = 100_000


def _rank_bracket_candidates(df: DataFrame, col: str, r_asc: int,
                             n: int) -> list[float] | None:
    """Candidate cut values bracketing the global ASCENDING rank ``r_asc``
    of ``col`` (null-free), via iterated fixed-width bin counts.

    Replaces ``approxQuantile`` here on purpose: at 4×10⁸ rows next to a
    multi-GB columnar cache, the QuantileSummaries digest (an
    ObjectHashAggregate of boxed doubles, untracked by the memory manager,
    one per task × 32) GC-thrashed the heap for ~70 minutes in one heavy
    run and OOM'd it in another. Bin counts are plain whole-stage-codegen
    conditional counts — constant driver memory, one cheap pass per level,
    and the histogram gives the EXACT row count of the returned bracket, so
    refinement stops as soon as the boundary slice is collectable. Exactness
    is unaffected either way: callers re-count the candidates globally and
    resolve the between-slice exactly."""
    c = F.col(col)
    inf = float("inf")
    finite = F.when((c > -inf) & (c < inf), c)
    row = df.agg(
        F.count(F.when(c == -inf, 1)).alias("n_neg"),
        F.count(F.when(c == inf, 1)).alias("n_pos"),
        F.min(finite).alias("lo"),
        F.max(finite).alias("hi"),
    ).collect()[0]
    n_neg, n_pos = int(row["n_neg"]), int(row["n_pos"])
    # target rank inside an infinite tie mass → single-value candidate; the
    # caller's exact-hit path resolves the tie set by the next order column
    if n_neg >= r_asc > 0:
        return [-inf]
    if r_asc > n - n_pos:
        return [inf]
    lo, hi = row["lo"], row["hi"]
    if lo is None:
        return [-inf] if n_neg else ([inf] if n_pos else None)
    lo, hi = float(lo), float(hi)
    if lo == hi:
        return [lo]
    base = n_neg  # rows ranked strictly below the current [lo, hi] bracket
    prev_bin_count = None
    for level in range(_HIST_MAX_LEVELS):
        width = (hi - lo) / _HIST_BINS
        if not (math.isfinite(width) and width > 0):
            return [lo, hi]
        bin_idx = F.least(
            F.greatest(F.floor((c - lo) / width), F.lit(0)),
            F.lit(_HIST_BINS - 1),
        )
        hist = (df.filter((c >= lo) & (c <= hi))
                  .groupBy(bin_idx.alias("_bin")).count()
                  .collect())
        cum = base
        j = bin_count = None
        for r in sorted(hist, key=lambda r: r["_bin"]):
            if cum + r["count"] >= r_asc:
                j, bin_count, base = int(r["_bin"]), int(r["count"]), cum
                break
            cum += r["count"]
        if j is None:  # float-edge rounding: rank sits past the last bin
            return [lo, hi]
        e0, e1 = lo + j * width, min(hi, lo + (j + 1) * width)
        # Stop when the boundary slice is small enough that sorting it is
        # cheaper than another full-input histogram pass — NOT merely
        # collectable: a 459k-row slice under the 2M collect bound costs a
        # multi-second driver-merged sort that one more ~1 s codegen pass
        # shrinks ~bins-fold. A no-progress level (bin_count unchanged —
        # the mass is an exact tie the caller's key-order resolution must
        # handle anyway) stops immediately.
        if (bin_count <= _HIST_RESOLVE_TARGET or e0 >= e1
                or bin_count == prev_bin_count):
            return [e0, e1]
        prev_bin_count = bin_count
        lo, hi = e0, e1
    return [lo, hi]


def _prefix_via_window(df: DataFrame, target: int, cols: list[str],
                       descs: list[bool]) -> DataFrame:
    from pyspark.sql.window import Window

    w = Window.orderBy(*_order_cols(cols, descs))
    return (df.withColumn("_rk", F.row_number().over(w))
              .filter(F.col("_rk") <= target).drop("_rk"))


def _resolve_slice(S: DataFrame, m: int, cols: list[str], descs: list[bool],
                   join_cols: list[str], n_slice: int | None = None) -> DataFrame:
    """Top-m of a boundary slice S (already sketch-error-sized): fetch the m
    winning key tuples with a driver-merged TakeOrderedAndProject and
    broadcast-semi-join them back on the unique tie keys. Falls back to a
    window over S (not the full input) if m is abnormally large.

    ``n_slice`` (exact |S|, known for free to the between-candidates caller
    from its boundary-count aggregation) routes by the SMALLER side: when
    the kept prefix spans most of the slice — the common case when the cut
    lands near a bracket edge — the (n_slice − m) LOSING keys are fetched
    under the exactly-reversed total order and anti-joined instead
    (measured: a 459k-key prefix fetch at sf0.1 became a ~0-row complement
    fetch). The order over (score, tie keys) is total, so prefix and
    complement partition S exactly."""
    if m <= 0:
        return S.limit(0)
    if n_slice is not None and m >= n_slice:
        return S
    if m > MAX_BOUNDARY_COLLECT:
        return _prefix_via_window(S, m, cols, descs)
    _t = time.time()
    if n_slice is not None and n_slice - m < m:
        k = n_slice - m
        keys = (S.select(*join_cols, *[c for c in cols if c not in join_cols])
                 .orderBy(*_order_cols(cols, [not d for d in descs]))
                 .select(*join_cols)
                 .limit(k).collect())
        _trace(f"resolve_slice complement collect k={k}", _t)
        kdf = S.sparkSession.createDataFrame(
            [tuple(r) for r in keys], schema=S.select(*join_cols).schema)
        return S.join(F.broadcast(kdf), on=join_cols, how="left_anti")
    keys = (S.select(*join_cols, *[c for c in cols if c not in join_cols])
             .orderBy(*_order_cols(cols, descs))
             .select(*join_cols)
             .limit(m).collect())
    _trace(f"resolve_slice collect m={m}", _t)
    if not keys:
        return S.limit(0)
    kdf = S.sparkSession.createDataFrame(
        [tuple(r) for r in keys], schema=S.select(*join_cols).schema)
    return S.join(F.broadcast(kdf), on=join_cols, how="left_semi")


def _prefix_rows(df: DataFrame, target: int, n: int, cols: list[str],
                 descs: list[bool], join_cols: list[str],
                 acd_hint: int | None = None) -> DataFrame:
    """Exactly the first `target` of the `n` rows of df under
    ORDER BY cols[0] (desc/asc per descs), resolving ties by the remaining
    cols. df must be null-free in cols[0]. ``acd_hint``: a fused
    approx_count_distinct(cols[0]) from an earlier agg, gating the
    exact-histogram fast path without its own pass."""
    if target <= 0:
        return df.limit(0)
    if target >= n:
        return df
    _t0 = time.time()
    pred = _exact_hist_prefix_predicate(df, target, cols, descs, acd_hint)
    if pred is not None:
        _trace(f"exact-hist prefix n={n}", _t0)
        return df.filter(pred)
    col, desc = cols[0], descs[0]
    c = F.col(col)
    # the target-th row in scan order is the (n-target)-th / target-th row
    # by ASCENDING value (desc keeps the top of the value order)
    r_asc = (n - target) if desc else target
    _t = time.time()
    cands = _rank_bracket_candidates(df, col, max(1, r_asc), n)
    _t = _trace(f"rank-bracket histogram n={n}", _t)
    cands = sorted({v for v in (cands or []) if v is not None}, reverse=desc)
    if not cands:
        return _prefix_via_window(df, target, cols, descs)
    before = (lambda v: c > v) if desc else (lambda v: c < v)
    through = (lambda v: c >= v) if desc else (lambda v: c <= v)
    row = df.agg(*[x for i, v in enumerate(cands) for x in (
        F.count(F.when(before(F.lit(v)), 1)).alias(f"b{i}"),
        F.count(F.when(through(F.lit(v)), 1)).alias(f"t{i}"),
    )]).collect()[0]
    _trace("boundary-count agg", _t)
    stats = [(v, int(row[f"b{i}"]), int(row[f"t{i}"]))
             for i, v in enumerate(cands)]  # in prefix order

    # exact hit: the target-th row's value is one of the candidates
    for v, n_before, n_through in stats:
        if n_before <= target <= n_through:
            definite = df.filter(before(F.lit(v)))
            m = target - n_before
            if m == 0:
                return definite
            T = df.filter(c == v)
            if len(cols) > 1:
                tie_sel = _prefix_rows(T, m, n_through - n_before,
                                       cols[1:], descs[1:], join_cols)
            else:
                # order columns exhausted inside one value — key tuples are
                # unique in Ω so this is boundary-sized; window over T only
                tie_sel = _prefix_via_window(T, m, cols, descs)
            return definite.unionByName(tie_sel)

    # between candidates: find the last candidate fully inside the prefix
    # (n_through < target) and the first fully outside (n_before > target);
    # the strictly-between slice is sketch-error-sized.
    inside = [(v, t) for v, b, t in stats if t < target]
    outside = [(v, b) for v, b, t in stats if b > target]
    lo_v, lo_t = (inside[-1] if inside else (None, 0))
    hi_v, hi_b = (outside[0] if outside else (None, n))
    definite = df.filter(through(F.lit(lo_v))) if lo_v is not None else df.limit(0)
    if lo_v is not None and hi_v is not None:
        S = df.filter(before(F.lit(hi_v)) & ~through(F.lit(lo_v)))
        n_slice = hi_b - lo_t
    elif lo_v is not None:
        S = df.filter(~through(F.lit(lo_v)))
        n_slice = n - lo_t
    elif hi_v is not None:
        S = df.filter(before(F.lit(hi_v)))
        n_slice = hi_b
    else:
        return _prefix_via_window(df, target, cols, descs)
    return definite.unionByName(
        _resolve_slice(S, target - lo_t, cols, descs, join_cols,
                       n_slice=n_slice))


def retain_top_n(
    df: DataFrame,
    n_keep: int,
    score_col: str,
    tie_cols: list[str] | tuple[str, ...] = ("a", "b", "block"),
    n_total: int | None = None,
    descending: bool = True,
    n_nonnull: int | None = None,
    score_acd: int | None = None,
) -> DataFrame:
    """Exactly the rows ranked 1..n_keep under
    ``ORDER BY score_col DESC NULLS LAST, tie_cols ASC`` — the alpha U-drop
    retention order of ``internals.R:1831-1839`` — without a global
    single-partition window. ``descending=False`` ranks by
    ``score_col ASC NULLS LAST`` instead (the inverted-MEC orientation).

    Same row set as
    ``row_number().over(Window.orderBy(desc_nulls_last(score), *ties)) ≤ n``
    (ties resolved identically), built from one approxQuantile sketch + one
    conditional-count agg per order level, touching only sketch-error-sized
    boundary slices beyond that. Safe when both n_keep and the tie sets are
    billions of rows. tie_cols must make rows unique (Ω keys)."""
    tie_cols = [t for t in tie_cols if t in df.columns]
    if n_keep <= 0:
        return df.limit(0)
    if n_total is None:
        n_total = df.count()
    if n_keep >= n_total:
        return df
    s = F.col(score_col)
    _t = time.time()
    if n_nonnull is None or score_acd is None:
        # approx_count_distinct fused into the same pass: gates the exact-
        # histogram prefix path for free (see _exact_hist_prefix_predicate).
        # Callers that already aggregated over the input (the alpha U-drop's
        # fused side-stats pass) hand both in and skip this pass entirely.
        row = df.agg(F.count(s).alias("c"),
                     F.approx_count_distinct(s).alias("d")).collect()[0]
        n_nonnull, score_acd = int(row["c"]), int(row["d"])
        _trace("retain_top_n nonnull-count agg", _t)
    nonnull = df.filter(s.isNotNull()) if n_nonnull < n_total else df
    if n_keep > n_nonnull:
        # all non-null rows kept; the remainder comes from the NULL tail,
        # ordered by the tie columns alone
        nulls = df.filter(s.isNull())
        tail = _prefix_rows(nulls, n_keep - n_nonnull, n_total - n_nonnull,
                            list(tie_cols), [False] * len(tie_cols),
                            list(tie_cols))
        return nonnull.unionByName(tail)
    return _prefix_rows(nonnull, n_keep, n_nonnull,
                        [score_col, *tie_cols],
                        [descending] + [False] * len(tie_cols),
                        list(tie_cols), acd_hint=score_acd)


# ---------------------------------------------------------------------------
# Distributed unblocked greedy (SURVEY §2.5 T1 strategy ii): iterative
# mutual-best selection. The reference's greedy sweep picks, at every step,
# the globally best remaining pair whose records are both unused — which is
# exactly the repeated selection of LOCALLY DOMINANT pairs (a pair that is
# the best remaining for BOTH its records): under a strict total order on
# pairs, a locally dominant pair is always selected by the greedy scan, and
# removing all locally dominant pairs plus their records preserves greedy's
# remaining choices (greedy decisions depend only on which records are
# used). So: rounds of (best-per-a ∩ best-per-b) → remove matched records →
# repeat, with the shrinking remainder finished by the exact driver sweep
# once it fits — same selected set as greedy_select_local, no global sort,
# no driver materialization of Ω.
# ---------------------------------------------------------------------------

#: remainder size at which the mutual-best loop hands the (record-disjoint)
#: residual pair set to the exact driver sweep. Restricting greedy to the
#: residual graph is exact: selections never depend on removed records.
_MUTUAL_BEST_FINISH_LOCAL = 2_000_000

#: hard cap on mutual-best rounds (adversarial chain graphs need O(n) rounds;
#: real ratio distributions converge in a handful). Hitting it raises rather
#: than silently returning a partial matching.
_MUTUAL_BEST_MAX_ROUNDS = 200

#: slice size for the exact scan-order chunked driver finish: however large
#: the residual is when the finish runs (round cap on an adversarial chain
#: graph), the driver materializes at most this many rows at a time. Greedy
#: scan order IS (never-remapped ratio, a, b) order, so sweeping the
#: residual's top-chunk prefix is an exact prefix of the global scan, and an
#: UNBUDGETED prefix sweep consumes the whole prefix (every non-selected
#: prefix pair touches a selected record) — removing pairs that touch
#: matched records therefore both advances the scan and shrinks the residual
#: by ≥ chunk rows per slice.
_MUTUAL_BEST_CHUNK = 2_000_000


def greedy_one_to_one_distributed(
    pairs: DataFrame,
    duplicates_in_A: bool = False,
    ascending: bool = False,
    invalid_to_never: bool = False,
    round_log: list | None = None,
) -> DataFrame:
    """UNBUDGETED greedy one-to-one selection of ``pairs`` (columns a, b,
    ratio) as a distributed computation; returns the selected (a, b, ratio)
    rows. Equivalent to ``greedy_select_local`` with n_M = |pairs| (see the
    module-level proof sketch above); the caller applies the budget with
    ``_truncate_to_budget`` exactly as the blocked path does.

    ``duplicates_in_A=True`` needs no iteration at all: greedy keeps a pair
    iff its ``a`` is unused, i.e. exactly each a's best-ranked pair — one
    min-struct aggregation.

    ``round_log`` (optional): a list the loop appends ``(round_no, n_rem)``
    to — the residual-decay record the scale bench reports."""
    never = float("inf") if ascending else float("-inf")
    key = F.col("ratio")
    bad = key.isNull() | F.isnan(key)
    if invalid_to_never:
        bad = bad | (key < 0)
    sort_key = F.when(bad, F.lit(never)).otherwise(key)
    # normalize to "smaller struct = better" so one min() covers both modes;
    # negation is order-exact on the remapped (NaN-free) key
    norm = sort_key if ascending else -sort_key
    work = pairs.select(
        norm.alias("k"), F.col("a"), F.col("b"), F.col("ratio")
    )

    def best_per(side: str, df: DataFrame) -> DataFrame:
        # lexicographic min over (k, a, b) — identical tie-break to the
        # reference's (ratio, a, b) scan order (internals.R:1714)
        return (
            df.groupBy(side)
            .agg(F.min(F.struct("k", "a", "b")).alias("o"))
            .select(F.col("o.k").alias("k"), F.col("o.a").alias("a"),
                    F.col("o.b").alias("b"))
        )

    if duplicates_in_A:
        sel = best_per("a", work)
        return (
            work.join(sel.select("a", "b"), ["a", "b"], "left_semi")
            .select("a", "b", "ratio")
        )

    spark = pairs.sparkSession

    def _finish_local(rem: DataFrame) -> DataFrame | None:
        """Exact driver sweep over the (record-disjoint) residual pair set —
        greedy restricted to the residual graph continues the global scan."""
        local = rem.select("a", "b", "ratio").toPandas()
        idx = greedy_select_local(
            local["a"].to_numpy(), local["b"].to_numpy(),
            local["ratio"].to_numpy(), n_M=float(len(local)),
            ascending=ascending, invalid_to_never=invalid_to_never,
        )
        chosen = local.iloc[idx][["a", "b", "ratio"]]
        if not len(chosen):
            return None
        return spark.createDataFrame(
            chosen, schema=rem.select("a", "b", "ratio").schema)

    def _finish_chunked(rem: DataFrame, n_rem: int) -> list[DataFrame]:
        """Exact driver finish in scan-order slices of ``_MUTUAL_BEST_CHUNK``
        rows: sweep the residual's top-chunk prefix (``retain_top_n`` on the
        normalized key — sketch path, never a single-partition sort), drop
        every pair touching a matched record (which consumes the entire
        prefix, see the constant's comment), repeat. Bounded driver memory
        for ANY residual size; ≤ ⌈n_rem/chunk⌉ slices."""
        chunk = max(int(_MUTUAL_BEST_CHUNK), 1)
        parts: list[DataFrame] = []
        while n_rem > 0:
            if n_rem <= chunk:
                part = _finish_local(rem)
                release_checkpoint(rem)
                if part is not None:
                    parts.append(part)
                return parts
            # k is the never-remapped "smaller = better" key (NaN/null-free),
            # so scan order is exactly (k ASC, a, b) — an exact prefix.
            prefix = retain_top_n(rem, chunk, "k", tie_cols=("a", "b"),
                                  n_total=n_rem, descending=False)
            part = _finish_local(prefix)
            # a nonempty prefix always selects its scan-first pair
            parts.append(part)
            nxt = cut_lineage(
                rem.join(part.select("a"), "a", "left_anti")
                .join(part.select("b"), "b", "left_anti")
            )
            release_checkpoint(rem)
            rem = nxt
            n_rem = rem.count()
        release_checkpoint(rem)
        return parts

    selected_parts: list[DataFrame] = []
    remaining = cut_lineage(work)
    for round_no in range(_MUTUAL_BEST_MAX_ROUNDS + 1):
        n_rem = remaining.count()
        if round_log is not None:
            round_log.append((round_no, n_rem))
        if n_rem == 0:
            release_checkpoint(remaining)
            break
        if n_rem <= _MUTUAL_BEST_FINISH_LOCAL or round_no == _MUTUAL_BEST_MAX_ROUNDS:
            # Residual fits the driver — or the round cap hit first (chain-
            # structured score graphs resolve ~1 pair/round). Either way the
            # chunked finish sweeps it in exact scan-order slices, so the
            # driver holds at most _MUTUAL_BEST_CHUNK rows regardless of how
            # large the cap-time residual is.
            if round_no == _MUTUAL_BEST_MAX_ROUNDS:
                warnings.warn(
                    f"greedy_one_to_one_distributed hit the {_MUTUAL_BEST_MAX_ROUNDS}"
                    f"-round cap with {n_rem:,} pairs left (chain-structured "
                    "scores?); finishing with the exact chunked driver sweep "
                    f"({_MUTUAL_BEST_CHUNK:,} rows per slice).",
                    RuntimeWarning, stacklevel=2,
                )
            selected_parts.extend(_finish_chunked(remaining, n_rem))
            break
        ba = best_per("a", remaining)
        bb = best_per("b", remaining)
        # mutual best: the pair each endpoint ranks first on both sides
        sel = cut_lineage(
            ba.join(bb.select("a", "b"), ["a", "b"], "left_semi")
        )
        # Materialize the (small) selected slice eagerly so the per-round
        # parts never re-read prior rounds' remaining-set checkpoints — and
        # the prior remaining can be RELEASED each round (storage stays
        # bounded at one round's residual instead of Σ round sizes ≈ 2|Ω|).
        selected_parts.append(cut_lineage(
            remaining.join(sel.select("a", "b"), ["a", "b"], "left_semi")
            .select("a", "b", "ratio")
        ))
        # drop every pair touching a matched record; cut_lineage cuts the
        # per-round lineage (localCheckpoint single-JVM; reliable checkpoint
        # when the cluster sets sc.setCheckpointDir — see operators/util.py)
        new_remaining = cut_lineage(
            remaining.join(sel.select("a"), "a", "left_anti")
            .join(sel.select("b"), "b", "left_anti")
        )
        release_checkpoint(remaining)
        release_checkpoint(sel)
        remaining = new_remaining

    if not selected_parts:
        return pairs.select("a", "b", "ratio").limit(0)
    out = selected_parts[0]
    for part in selected_parts[1:]:
        out = out.unionByName(part)
    # Consolidate the selection into ONE eager checkpoint and release the
    # per-round / per-chunk part checkpoints immediately: storage held after
    # return is bounded at one copy of the selected set (not Σ part sizes),
    # callers can count/reuse the result without recompute, and the caller
    # may .unpersist() the returned frame once consumed.
    out = cut_lineage(out)
    for part in selected_parts:
        release_checkpoint(part)
    return out
