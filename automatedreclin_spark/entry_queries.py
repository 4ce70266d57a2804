"""Driver-contract queries and their DuckDB oracle SQL.

Each entry here is one linkage or scoring operator from SURVEY.md §2,
expressed twice:

- ``QUERIES[name](spark, sf_dir) -> DataFrame`` — the Spark implementation
  using this package's operators;
- ``ORACLES[name]`` — equivalent ANSI SQL for DuckDB over a ``customer``
  view of ``{sf_dir}/customer.parquet``.

Parity anchors used throughout (verified in tests/test_oracles.py):
- ``jaro_similarity`` (DuckDB) == our Jaro kernel == the reference's
  ``jarowinkler_complement`` base (stringdist jw, p=0)
- ``levenshtein`` native on both sides

Linkage queries run over record sets A/B derived deterministically from the
``customer`` table with SQL-expressible corruption (so the oracle can derive
the identical sets): A = custkey % 3 ≠ 0; B = custkey % 3 ≠ 1 with the name
of every custkey % 5 = 0 row corrupted by one edit
(``Customer#…`` → ``Custmer#…``). Blocking key = c_nationkey.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automatedreclin_spark.functions.comparators import (
    cmp_identical,
    jarowinkler_complement,
    levenshtein_norm,
)
from automatedreclin_spark.models.mec import mec
from automatedreclin_spark.operators.comparison import comparison_vectors
from automatedreclin_spark.operators.pairs import block_pairs, exact_match_pairs


# -------------------------------------------------------- derived A/B views --

def _record_sets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    A = (
        cust.filter(F.col("c_custkey") % 3 != 0)
        .select(
            F.col("c_custkey").alias("a"),
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").cast("long").alias("block"),
        )
    )
    B = (
        cust.filter(F.col("c_custkey") % 3 != 1)
        .select(
            F.col("c_custkey").alias("b"),
            F.when(
                F.col("c_custkey") % 5 == 0,
                F.regexp_replace(F.col("c_name"), "Customer", "Custmer"),
            ).otherwise(F.col("c_name")).alias("name"),
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").cast("long").alias("block"),
        )
    )
    return A, B

_SQL_A = """
    SELECT c_custkey AS a, c_name AS name, c_mktsegment AS seg,
           CAST(c_nationkey AS BIGINT) AS block
    FROM customer WHERE c_custkey % 3 <> 0
"""
_SQL_B = """
    SELECT c_custkey AS b,
           CASE WHEN c_custkey % 5 = 0 THEN replace(c_name, 'Customer', 'Custmer')
                ELSE c_name END AS name,
           c_mktsegment AS seg,
           CAST(c_nationkey AS BIGINT) AS block
    FROM customer WHERE c_custkey % 3 <> 1
"""


# ------------------------------------------------------------------ queries --

def q_cv_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C2/J4: within-block candidate pairs + binary comparison vectors."""
    A, B = _record_sets(spark, sf_dir)
    pairs = block_pairs(A, B, dedup=False)
    cv = comparison_vectors(
        A, B, ["name", "seg"],
        comparators={"name": cmp_identical(), "seg": cmp_identical()},
        pairs=pairs, check_finite=False,
    )
    return cv.omega.select("a", "b", "gamma_name", "gamma_seg")


ORACLE_CV_BINARY = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B})
SELECT A.a, B.b,
       CAST(A.name = B.name AS DOUBLE) AS gamma_name,
       CAST(A.seg = B.seg AS DOUBLE) AS gamma_seg
FROM A JOIN B ON A.block = B.block
"""


def q_cv_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C-family: normalized Levenshtein gamma (native both sides), rounded."""
    A, B = _record_sets(spark, sf_dir)
    pairs = block_pairs(A, B, dedup=False)
    cv = comparison_vectors(
        A, B, ["name"], comparators={"name": levenshtein_norm()},
        pairs=pairs, check_finite=False,
    )
    return cv.omega.select("a", "b", F.round("gamma_name", 6).alias("gamma_name"))


ORACLE_CV_LEVENSHTEIN = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B})
SELECT A.a, B.b,
       ROUND(CASE WHEN greatest(length(A.name), length(B.name)) = 0 THEN 0.0
             ELSE CAST(levenshtein(A.name, B.name) AS DOUBLE)
                  / greatest(length(A.name), length(B.name)) END, 6) AS gamma_name
FROM A JOIN B ON A.block = B.block
"""


def q_cv_jaro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C3: Jaro-complement gamma via Arrow-batched pandas UDF (the reference's
    jarowinkler_complement, comparators.R:37-42), restricted to same-(block,
    seg) pairs to bound the pair space."""
    from automatedreclin_spark.operators.util import ensure_parallelism

    A, B = _record_sets(spark, sf_dir)
    # Parallelize the probe side BEFORE the expansion (like block_pairs): the
    # single-file scan would otherwise run the join in one task and
    # comparison_vectors would repartition the already-expanded pair table
    # (an Exchange of ~0.8M pair rows for a 10k-row problem; guide §2.4).
    pairs = (
        ensure_parallelism(A.select("block", "seg", "a"), factor=3)
        .join(B.select("block", "seg", "b"), ["block", "seg"])
        .select("block", "a", "b")
    )
    cv = comparison_vectors(
        A, B, ["name"], comparators={"name": jarowinkler_complement()},
        pairs=pairs, check_finite=False,
    )
    return cv.omega.select("a", "b", F.round("gamma_name", 6).alias("gamma_name"))


ORACLE_CV_JARO = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B})
SELECT A.a, B.b,
       ROUND(1.0 - jaro_similarity(A.name, B.name), 6) AS gamma_name
FROM A JOIN B ON A.block = B.block AND A.seg = B.seg
"""


def q_exact_match_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: exact-agreement seed join on all key variables."""
    A, B = _record_sets(spark, sf_dir)
    return exact_match_pairs(A, B, ["name", "seg"])


ORACLE_EXACT_SEEDS = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B})
SELECT A.a, B.b FROM A JOIN B ON A.name = B.name AND A.seg = B.seg
"""


def q_block_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block summary (internals.R:699-704): per-block sizes, pair_count,
    nonmatches_min."""
    A, B = _record_sets(spark, sf_dir)
    a_counts = A.groupBy("block").agg(F.count(F.lit(1)).alias("n_a"))
    b_counts = B.groupBy("block").agg(F.count(F.lit(1)).alias("n_b"))
    return (
        a_counts.join(b_counts, "block", "inner")
        .select(
            "block", "n_a", "n_b",
            (F.col("n_a") * F.col("n_b")).alias("pair_count"),
            (F.col("n_a") * F.col("n_b") - F.least("n_a", "n_b")).alias("nonmatches_min"),
        )
    )


ORACLE_BLOCK_SUMMARY = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
ac AS (SELECT block, COUNT(*) AS n_a FROM A GROUP BY block),
bc AS (SELECT block, COUNT(*) AS n_b FROM B GROUP BY block)
SELECT ac.block, n_a, n_b, n_a * n_b AS pair_count,
       n_a * n_b - least(n_a, n_b) AS nonmatches_min
FROM ac JOIN bc ON ac.block = bc.block
"""


def q_evaluation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2: TP/FP/FN + FLR/MMR/F1 for pred = exact-name matches vs truth =
    same-custkey pairs within the candidate space."""
    A, B = _record_sets(spark, sf_dir)
    pairs = block_pairs(A, B, dedup=False)
    pred = exact_match_pairs(A, B, ["name"]).join(pairs.select("a", "b"), ["a", "b"], "left_semi")
    truth = pairs.filter(F.col("a") == F.col("b")).select("a", "b")
    tp = pred.join(truth, ["a", "b"], "inner").count()
    fp = pred.count() - tp
    fn = truth.count() - tp
    flr = 1.0 - (tp / (tp + fp) if tp + fp else 0.0)
    mmr = fn / (fn + tp) if fn + tp else 0.0
    f1 = 2 * tp / (2 * tp + fp + fn) if (2 * tp + fp + fn) else 0.0
    return spark.createDataFrame(
        pd.DataFrame([{
            "tp": tp, "fp": fp, "fn": fn,
            "flr": round(flr, 6), "mmr": round(mmr, 6), "f1": round(f1, 6),
        }])
    )


ORACLE_EVALUATION = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
cand AS (SELECT A.a, B.b, A.name AS name_a, B.name AS name_b
         FROM A JOIN B ON A.block = B.block),
pred AS (SELECT a, b FROM cand WHERE name_a = name_b),
truth AS (SELECT a, b FROM cand WHERE a = b),
counts AS (
  SELECT
    (SELECT COUNT(*) FROM pred JOIN truth USING (a, b)) AS tp,
    (SELECT COUNT(*) FROM pred) AS n_pred,
    (SELECT COUNT(*) FROM truth) AS n_true
)
SELECT tp, n_pred - tp AS fp, n_true - tp AS fn,
       ROUND(1.0 - CAST(tp AS DOUBLE) / NULLIF(n_pred, 0), 6) AS flr,
       ROUND(CAST(n_true - tp AS DOUBLE) / NULLIF(n_true, 0), 6) AS mmr,
       ROUND(2.0 * tp / NULLIF(2.0 * tp + (n_pred - tp) + (n_true - tp), 0), 6) AS f1
FROM counts
"""


def _pair_anchor_rows(A: DataFrame, B: DataFrame) -> list[tuple[str, float]]:
    """Integer-exact anchors over the block-join pair space, recomputed by
    the DuckDB oracle independently from the parquet (cross-engine parity of
    the raw comparator inputs — not literals echoed from the Spark side).
    All four are integer-valued, so float summation order cannot drift the
    comparison: Σ raw Levenshtein distance, seg-agreement pair count, the
    largest per-block pair count, and the both-sides block count."""
    pairs = (
        A.select(F.col("name").alias("_an"), F.col("seg").alias("_as"), "block")
        .join(B.select(F.col("name").alias("_bn"), F.col("seg").alias("_bs"),
                       "block"), "block")
    )
    row = pairs.agg(
        F.sum(F.levenshtein("_an", "_bn")).alias("sl"),
        F.count(F.when(F.col("_as") == F.col("_bs"), 1)).alias("sa"),
    ).collect()[0]
    bs = (
        A.groupBy("block").agg(F.count(F.lit(1)).alias("na"))
        .join(B.groupBy("block").agg(F.count(F.lit(1)).alias("nb")), "block")
    )
    brow = bs.agg(F.max(F.col("na") * F.col("nb")).alias("mx"),
                  F.count(F.lit(1)).alias("nblocks")).collect()[0]
    return [
        ("sum_lev_distance", float(row["sl"])),
        ("seg_agree_pairs", float(row["sa"])),
        ("max_block_pairs", float(brow["mx"])),
        ("n_blocks_both_sides", float(brow["nblocks"])),
    ]


_SQL_PAIR_ANCHORS = """
UNION ALL SELECT 'sum_lev_distance',
  (SELECT SUM(levenshtein(A.name, B.name)) FROM A JOIN B ON A.block = B.block)::DOUBLE
UNION ALL SELECT 'seg_agree_pairs',
  (SELECT COUNT(*) FROM A JOIN B ON A.block = B.block AND A.seg = B.seg)::DOUBLE
UNION ALL SELECT 'max_block_pairs', (SELECT MAX(na * nb) FROM bs2)::DOUBLE
UNION ALL SELECT 'n_blocks_both_sides', (SELECT COUNT(*) FROM bs2)::DOUBLE
"""

_SQL_BS2 = """
ac2 AS (SELECT block, COUNT(*) AS na FROM A GROUP BY block),
bc2 AS (SELECT block, COUNT(*) AS nb FROM B GROUP BY block),
bs2 AS (SELECT na, nb FROM ac2 JOIN bc2 USING (block))
"""


def _invariant_df(spark: SparkSession, rows: list[tuple[str, float]]) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["metric", "value"]).astype({"value": "float64"})
    )


def q_mec_binary_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: blocked unsupervised binary MEC on the derived record sets.

    The fixed-point fit itself is not SQL-expressible, so the query emits the
    fit's CONTRACT as an invariant table the oracle can pin (the reference's
    own blocked-MEC contract, inst/tinytest/test_mec_blocking.R:13-35):
    |M_est| = round(n̂_M), one-to-one on both sides, M ⊆ candidate pairs,
    |M_est| ≤ min(n_A, n_B) — plus data-dependent anchors (min_ab,
    n_candidate_pairs) that DuckDB derives independently."""
    A, B = _record_sets(spark, sf_dir)
    pairs = block_pairs(A, B, block_col="block", dedup=False)
    res = mec(
        A, B, variables=["name", "seg"],
        pairs=pairs.select("block", "a", "b"),
        block_col="block",
    )
    M = res.M_est
    agg = M.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("a").alias("da"),
        F.count_distinct("b").alias("db"),
    ).collect()[0]
    # subset check against the fit's own persisted Ω (res.scored) — re-
    # expanding the block join would redo the pair explosion, and an
    # anti-join with Ω on the RIGHT would hash 4M rows; instead count the
    # members via a broadcast semi join (M is tiny) and subtract.
    cnt = int(agg["cnt"])
    inside = res.scored.select("a", "b").join(
        F.broadcast(M.select("a", "b")), ["a", "b"], "left_semi"
    ).count()
    outside = cnt - inside
    n_a, n_b = A.count(), B.count()
    return _invariant_df(spark, [
        ("m_est_size_minus_round_n_m", float(cnt - round(res.n_M_est))),
        ("one_to_one_a_violations", float(cnt - int(agg["da"]))),
        ("one_to_one_b_violations", float(cnt - int(agg["db"]))),
        ("pairs_outside_candidates", float(outside)),
        ("m_est_within_cap", 1.0 if cnt <= min(n_a, n_b) else 0.0),
        ("min_ab", float(min(n_a, n_b))),
        ("n_candidate_pairs", float(res.n)),
    ])


ORACLE_MEC_INVARIANTS = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
cand AS (SELECT A.a, B.b FROM A JOIN B ON A.block = B.block)
SELECT 'm_est_size_minus_round_n_m' AS metric, 0.0 AS value
UNION ALL SELECT 'one_to_one_a_violations', 0.0
UNION ALL SELECT 'one_to_one_b_violations', 0.0
UNION ALL SELECT 'pairs_outside_candidates', 0.0
UNION ALL SELECT 'm_est_within_cap', 1.0
UNION ALL SELECT 'min_ab',
  least((SELECT COUNT(*) FROM A), (SELECT COUNT(*) FROM B))::DOUBLE
UNION ALL SELECT 'n_candidate_pairs', (SELECT COUNT(*) FROM cand)::DOUBLE
"""


# ------------------------------------------------------ blocked / supervised --

def q_blocked_mec_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked inverted MEC (models/blocked_mec.py) — the fit emits its
    structural contract (internals.R:1953-2222 / test_mec_blocking.R):
    |M| = n̂_M, n̂_M + n̂_U = N, n̂_U ≥ N − ν, per-block |M_h| ≤ min(n_Ah, n_Bh),
    one-to-one both sides — plus the block-summary scalars ν, n_U_min and N,
    which DuckDB recomputes independently from the block sizes (so the
    blocked bound arithmetic is cross-checked, not just pinned)."""
    from automatedreclin_spark.models.blocked_mec import blocked_mec

    A, B = _record_sets(spark, sf_dir)
    res = blocked_mec(A, B, variables=["name", "seg"])
    M = res.M_est
    agg = M.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("a").alias("da"),
        F.count_distinct("b").alias("db"),
    ).collect()[0]
    cnt = int(agg["cnt"])
    sizes = (
        A.groupBy("block").agg(F.count(F.lit(1)).alias("na"))
        .join(B.groupBy("block").agg(F.count(F.lit(1)).alias("nb")), "block")
    )
    cap_viol = (
        M.groupBy("block").agg(F.count(F.lit(1)).alias("m_h"))
        .join(sizes, "block")
        .filter(F.col("m_h") > F.least("na", "nb"))
        .count()
    )
    res.unpersist()  # every scalar above is computed; release Ω and M
    return _invariant_df(spark, [
        ("m_size_minus_n_m_est", float(cnt - res.n_M_est)),
        ("n_m_plus_n_u_minus_n", float(res.n_M_est + res.n_U_est - res.candidate_pair_count)),
        ("n_u_ge_n_u_min", 1.0 if res.n_U_est >= res.n_U_min else 0.0),
        ("per_block_cap_violations", float(cap_viol)),
        ("one_to_one_a_violations", float(cnt - int(agg["da"]))),
        ("one_to_one_b_violations", float(cnt - int(agg["db"]))),
        ("nu", float(res.nu)),
        ("n_u_min", float(res.n_U_min)),
        ("n_candidate_pairs", float(res.candidate_pair_count)),
    ])


ORACLE_BLOCKED_MEC_INVARIANTS = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
ac AS (SELECT block, COUNT(*) AS na FROM A GROUP BY block),
bc AS (SELECT block, COUNT(*) AS nb FROM B GROUP BY block),
bs AS (SELECT na, nb FROM ac JOIN bc USING (block))
SELECT 'm_size_minus_n_m_est' AS metric, 0.0 AS value
UNION ALL SELECT 'n_m_plus_n_u_minus_n', 0.0
UNION ALL SELECT 'n_u_ge_n_u_min', 1.0
UNION ALL SELECT 'per_block_cap_violations', 0.0
UNION ALL SELECT 'one_to_one_a_violations', 0.0
UNION ALL SELECT 'one_to_one_b_violations', 0.0
UNION ALL SELECT 'nu', (SELECT SUM(least(na, nb)) FROM bs)::DOUBLE
UNION ALL SELECT 'n_u_min',
  (SELECT SUM(na * nb) - SUM(least(na, nb)) FROM bs)::DOUBLE
UNION ALL SELECT 'n_candidate_pairs', (SELECT SUM(na * nb) FROM bs)::DOUBLE
"""


def q_supervised_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised train → predict (models/supervised.py): train on the
    same-custkey labels within candidates, score a derived holdout. The
    fixed-point n̂_M solve isn't SQL-expressible; the query emits the
    prediction contract (|pred| = round(n̂_M), one-to-one, pred ⊆ holdout
    candidates, |pred| ≤ min holdout side) plus holdout-size anchors DuckDB
    derives independently."""
    from automatedreclin_spark.models.supervised import predict_rec_lin, train_rec_lin
    from automatedreclin_spark.operators.pairs import block_pairs as _bp

    A, B = _record_sets(spark, sf_dir)
    trainA = A.filter(F.col("a") % 7 != 0)
    trainB = B.filter(F.col("b") % 7 != 0)
    matches = (
        trainA.select("a").join(trainB.select("b"), F.col("a") == F.col("b"))
        .select("a", "b")
    )
    model = train_rec_lin(trainA, trainB, matches, variables=["name", "seg"])
    holdA = A.filter(F.col("a") % 7 == 0)
    holdB = B.filter(F.col("b") % 7 == 0)
    hold_pairs = _bp(holdA, holdB, dedup=False).select("a", "b")
    pred = predict_rec_lin(model, holdA, holdB, pairs=hold_pairs)
    M = pred.M_est
    agg = M.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("a").alias("da"),
        F.count_distinct("b").alias("db"),
    ).collect()[0]
    cnt = int(agg["cnt"])
    outside = M.select("a", "b").join(hold_pairs, ["a", "b"], "left_anti").count()
    n_ha, n_hb = holdA.count(), holdB.count()
    return _invariant_df(spark, [
        ("pred_size_minus_round_n_m", float(cnt - round(pred.n_M_est))),
        ("one_to_one_a_violations", float(cnt - int(agg["da"]))),
        ("one_to_one_b_violations", float(cnt - int(agg["db"]))),
        ("pairs_outside_holdout_candidates", float(outside)),
        ("pred_within_cap", 1.0 if cnt <= min(n_ha, n_hb) else 0.0),
        ("n_hold_a", float(n_ha)),
        ("n_hold_b", float(n_hb)),
        ("n_holdout_pairs", float(hold_pairs.count())),
    ])


ORACLE_SUPERVISED_INVARIANTS = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
HA AS (SELECT * FROM A WHERE a % 7 = 0),
HB AS (SELECT * FROM B WHERE b % 7 = 0),
hp AS (SELECT HA.a, HB.b FROM HA JOIN HB ON HA.block = HB.block)
SELECT 'pred_size_minus_round_n_m' AS metric, 0.0 AS value
UNION ALL SELECT 'one_to_one_a_violations', 0.0
UNION ALL SELECT 'one_to_one_b_violations', 0.0
UNION ALL SELECT 'pairs_outside_holdout_candidates', 0.0
UNION ALL SELECT 'pred_within_cap', 1.0
UNION ALL SELECT 'n_hold_a', (SELECT COUNT(*) FROM HA)::DOUBLE
UNION ALL SELECT 'n_hold_b', (SELECT COUNT(*) FROM HB)::DOUBLE
UNION ALL SELECT 'n_holdout_pairs', (SELECT COUNT(*) FROM hp)::DOUBLE
"""


def q_supervised_predict_ratio2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised train requested with prob_ratio="2" — the feasibility-
    downgrade path (supervised_learning.R:220-236): ratio "2" denominates by
    the NONMATCHES, which is only identifiable if every variable shows some
    agreement among them. On this corpus names are unique per custkey, so no
    nonmatch pair agrees on name and the trainer must downgrade to ratio "1"
    with the reference's warning. The oracle RECOMPUTES the feasibility
    predicate from the parquet (per-variable nonmatch agreement counts via
    equi-joins over the training cross product) — the downgrade decision is
    gated end-to-end against independently recomputed data, not echoed."""
    import warnings as _w

    from automatedreclin_spark.models.supervised import predict_rec_lin, train_rec_lin
    from automatedreclin_spark.operators.pairs import block_pairs as _bp

    A, B = _record_sets(spark, sf_dir)
    trainA = A.filter(F.col("a") % 7 != 0)
    trainB = B.filter(F.col("b") % 7 != 0)
    matches = (
        trainA.select("a").join(trainB.select("b"), F.col("a") == F.col("b"))
        .select("a", "b")
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        model = train_rec_lin(trainA, trainB, matches,
                              variables=["name", "seg"], prob_ratio="2")
    warned = any("Switching the probability ratio" in str(w.message)
                 for w in caught)
    # nonmatch agreement counts, recomputed the oracle's way (equi-joins over
    # the training cross product; nonmatch = different custkey)
    name_agree = (
        trainA.select("a", F.col("name").alias("_n"))
        .join(trainB.select("b", F.col("name").alias("_n")), "_n")
        .filter(F.col("a") != F.col("b")).count()
    )
    seg_agree = (
        trainA.select("a", F.col("seg").alias("_s"))
        .join(trainB.select("b", F.col("seg").alias("_s")), "_s")
        .filter(F.col("a") != F.col("b")).count()
    )
    holdA = A.filter(F.col("a") % 7 == 0)
    holdB = B.filter(F.col("b") % 7 == 0)
    hold_pairs = _bp(holdA, holdB, dedup=False).select("a", "b")
    pred = predict_rec_lin(model, holdA, holdB, pairs=hold_pairs)
    M = pred.M_est
    agg = M.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("a").alias("da"),
        F.count_distinct("b").alias("db"),
    ).collect()[0]
    cnt = int(agg["cnt"])
    return _invariant_df(spark, [
        ("prob_ratio_downgraded_to_1",
         1.0 if model.prob_ratio == "1" else 0.0),
        ("downgrade_warned_iff_applied",
         1.0 if warned == (model.prob_ratio == "1") else 0.0),
        ("nonmatch_name_agree_pairs", float(name_agree)),
        ("nonmatch_seg_agree_pairs", float(seg_agree)),
        ("pred_size_minus_round_n_m", float(cnt - round(pred.n_M_est))),
        ("one_to_one_a_violations", float(cnt - int(agg["da"]))),
        ("one_to_one_b_violations", float(cnt - int(agg["db"]))),
        ("n_hold_a", float(holdA.count())),
        ("n_hold_b", float(holdB.count())),
    ])


ORACLE_SUPERVISED_RATIO2 = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
TA AS (SELECT * FROM A WHERE a % 7 <> 0),
TB AS (SELECT * FROM B WHERE b % 7 <> 0),
na AS (SELECT COUNT(*) AS c FROM TA JOIN TB ON TA.name = TB.name AND TA.a <> TB.b),
sa AS (SELECT COUNT(*) AS c FROM TA JOIN TB ON TA.seg = TB.seg AND TA.a <> TB.b)
SELECT 'prob_ratio_downgraded_to_1' AS metric,
  (SELECT CASE WHEN (SELECT c FROM na) = 0 OR (SELECT c FROM sa) = 0
          THEN 1.0 ELSE 0.0 END) AS value
UNION ALL SELECT 'downgrade_warned_iff_applied', 1.0
UNION ALL SELECT 'nonmatch_name_agree_pairs', (SELECT c FROM na)::DOUBLE
UNION ALL SELECT 'nonmatch_seg_agree_pairs', (SELECT c FROM sa)::DOUBLE
UNION ALL SELECT 'pred_size_minus_round_n_m', 0.0
UNION ALL SELECT 'one_to_one_a_violations', 0.0
UNION ALL SELECT 'one_to_one_b_violations', 0.0
UNION ALL SELECT 'n_hold_a', (SELECT COUNT(*) FROM A WHERE a % 7 = 0)::DOUBLE
UNION ALL SELECT 'n_hold_b', (SELECT COUNT(*) FROM B WHERE b % 7 = 0)::DOUBLE
"""


# ------------------------------------------ fixed-param ratio scoring (A5/A6) --
#
# The heart of the MEC engine — Bernoulli-product and hurdle-Gamma density
# RATIO scoring (internals.R:358-403, 749-831) — is pure arithmetic once the
# parameters are fixed, so it IS SQL-expressible. This query runs the exact
# production column expressions (families.bernoulli_product_expr /
# hurdle_gamma_product_expr / g_est_expr) with pinned parameters over the
# customer Ω; the oracle mirrors the same arithmetic with the same Python-
# computed float literals (lgamma/log constants are driver-side in BOTH).

_FIXED = {
    "theta": [0.95, 0.9],        # binary M-side (gamma_name, gamma_seg)
    "eta": [0.02, 0.2],          # binary U-side
    "p0_M": 0.9, "alpha_M": 2.0, "beta_M": 8.0,   # hurdle-Gamma M (lev gamma)
    "p0_U": 0.05, "alpha_U": 1.5, "beta_U": 2.0,  # hurdle-Gamma U
    "n_M": 100.0, "n": 50000.0,  # posterior g_est scalars (driver-side in mec)
}


def q_score_ratio_fixed_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/A9 with pinned parameters: production scoring expressions,
    hash-checked against the DuckDB mirror (log-ratio + posterior ĝ)."""
    from automatedreclin_spark.models import families as fam

    A, B = _record_sets(spark, sf_dir)
    A = A.withColumn("name_lev", F.col("name"))
    B = B.withColumn("name_lev", F.col("name"))
    pairs = block_pairs(A, B, dedup=False)
    cv = comparison_vectors(
        A, B, ["name", "seg", "name_lev"],
        comparators={"name": cmp_identical(), "seg": cmp_identical(),
                     "name_lev": levenshtein_norm()},
        pairs=pairs, check_finite=False,
    )
    p = _FIXED
    b_g = ["gamma_name", "gamma_seg"]
    ratio = (
        F.lit(1.0)
        * (fam.bernoulli_product_expr(b_g, p["theta"])
           / fam.bernoulli_product_expr(b_g, p["eta"]))
        * (fam.hurdle_gamma_product_expr(["gamma_name_lev"], [p["p0_M"]],
                                         [p["alpha_M"]], [p["beta_M"]])
           / fam.hurdle_gamma_product_expr(["gamma_name_lev"], [p["p0_U"]],
                                           [p["alpha_U"]], [p["beta_U"]]))
    )
    scored = cv.omega.withColumn("ratio", ratio)
    return scored.select(
        "a", "b",
        F.round(F.log("ratio"), 6).alias("log_ratio"),
        F.round(fam.g_est_expr(p["n_M"], p["n"]), 6).alias("g_est"),
    )


def _score_ratio_oracle() -> str:
    """Mirror of q_score_ratio_fixed_params: identical arithmetic shape with
    identical Python-float literals (17-significant-digit reprs round-trip
    exactly), so both engines execute the same IEEE-double expression tree."""
    import math

    p = _FIXED

    def bern(cols: list[str], probs: list[float]) -> str:
        terms = [
            f"({g} * {p_!r} + (1.0 - {g}) * {1.0 - p_!r})"
            for g, p_ in zip(cols, probs)
        ]
        return "(" + " * ".join(terms) + ")"

    def hurdle(g: str, p0: float, a: float, b: float) -> str:
        log_c = a * math.log(b) - math.lgamma(a)
        return (
            f"(CASE WHEN {g} = 0 THEN {p0!r} "
            f"ELSE {1.0 - p0!r} * exp({log_c!r} + {a - 1.0!r} * ln({g}) "
            f"- {b!r} * {g}) END)"
        )

    ratio = (
        f"((1.0 * ({bern(['g_name', 'g_seg'], p['theta'])}"
        f" / {bern(['g_name', 'g_seg'], p['eta'])}))"
        f" * ({hurdle('g_lev', p['p0_M'], p['alpha_M'], p['beta_M'])}"
        f" / {hurdle('g_lev', p['p0_U'], p['alpha_U'], p['beta_U'])}))"
    )
    n_M, n = p["n_M"], p["n"]
    return f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
omega AS (
  SELECT A.a, B.b,
         CAST(A.name = B.name AS DOUBLE) AS g_name,
         CAST(A.seg = B.seg AS DOUBLE) AS g_seg,
         CASE WHEN greatest(length(A.name), length(B.name)) = 0 THEN 0.0
              ELSE CAST(levenshtein(A.name, B.name) AS DOUBLE)
                   / CAST(greatest(length(A.name), length(B.name)) AS DOUBLE)
         END AS g_lev
  FROM A JOIN B ON A.block = B.block
), scored AS (
  SELECT a, b, {ratio} AS ratio FROM omega
)
SELECT a, b,
       ROUND(ln(ratio), 6) AS log_ratio,
       ROUND(least(1.0, {n_M!r} * ratio / ({n_M!r} * (ratio - 1.0) + {n!r})), 6) AS g_est
FROM scored
"""




# ------------------------------- T6 alpha path / flr bisection / dups-in-A ---
#
# These three queries exist so the oracle check gates the library's scale
# paths: the alpha U-drop's sketch retention (T6, internals.R:1831-1839),
# the flr/mmr DISTRIBUTED threshold bisection (forced via
# exact_collect_max=0), and the duplicates_in_A selection mode. Each emits
# its structural contract as an invariant table plus data-dependent anchors
# DuckDB recomputes independently.

def q_blocked_mec_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked inverted MEC with alpha=0.25 and a continuous name gamma —
    every iteration past the first runs the ranked U-retention over the
    continuous q_est scores. At sf0.001 the fit takes the driver route:
    ``levenshtein_norm`` has no ``local`` form, so Ω comes from the Spark
    build (``omega_build == "spark"``) and the retention runs in
    ``_LocalOmega.retained_u_rows``; the distributed retention
    (``retain_top_n``'s sketch cut) is pinned by
    tests/test_blocked_mec.py::test_alpha_drop_scale_path_matches_window_reference.
    Contract: the blocked-MEC structural invariants PLUS the alpha arithmetic
    of internals.R:1824-1839 — n_U_fit = n_U − floor(alpha·n_U) on every
    applied iteration, valid reason codes, and ≥1 actually-applied drop
    (else the path under test never ran)."""
    from automatedreclin_spark.models.blocked_mec import blocked_mec

    A, B = _record_sets(spark, sf_dir)
    res = blocked_mec(
        A, B, variables=["name", "seg"],
        comparators={"name": levenshtein_norm(), "seg": cmp_identical()},
        methods={"name": "continuous_parametric", "seg": "binary"},
        alpha=0.25,
    )
    M = res.M_est
    agg = M.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("a").alias("da"),
        F.count_distinct("b").alias("db"),
    ).collect()[0]
    cnt = int(agg["cnt"])
    diag = res.u_fit_diagnostics
    valid_reasons = {"first_u_fit_full", "alpha_zero", "requested_drop_zero",
                     "alpha_reliability_drop", "minimum_sample_full_base"}
    if diag.empty:
        # structural early exit (no nonmatch complement) never runs a U fit;
        # emit honest zeros — alpha_applied_any=0 / first_iter_full_base=0
        # then fail the oracle compare LOUDLY instead of crashing on a
        # column-less frame.
        applied = diag
        bad_reason = drop_viol = req_viol = 0
    else:
        bad_reason = int((~diag["reason"].isin(valid_reasons)).sum())
        applied = diag[diag["alpha_applied"]]
        # internals.R:1824: S_U keeps n_U - floor(alpha * n_U) rows
        drop_viol = int((applied["n_U_fit"]
                         != applied["n_U_current"] - applied["requested_n_drop"]).sum())
        req_viol = int((diag["requested_n_drop"]
                        != (0.25 * diag["n_U_current"]).astype(int)).sum())
    res.unpersist()  # every scalar above is computed; release Ω and M
    return _invariant_df(spark, [
        ("m_size_minus_n_m_est", float(cnt - res.n_M_est)),
        ("one_to_one_a_violations", float(cnt - int(agg["da"]))),
        ("one_to_one_b_violations", float(cnt - int(agg["db"]))),
        ("n_m_plus_n_u_minus_n", float(res.n_M_est + res.n_U_est - res.candidate_pair_count)),
        ("n_u_ge_n_u_min", 1.0 if res.n_U_est >= res.n_U_min else 0.0),
        ("alpha_applied_any", 1.0 if len(applied) > 0 else 0.0),
        ("alpha_drop_arithmetic_violations", float(drop_viol)),
        ("requested_drop_arithmetic_violations", float(req_viol)),
        ("invalid_reason_codes", float(bad_reason)),
        ("first_iter_full_base", 1.0 if (len(diag) > 0
            and diag.iloc[0]["reason"] == "first_u_fit_full"
            and diag.iloc[0]["n_U_fit"] == diag.iloc[0]["n_U_current"]) else 0.0),
        ("nu", float(res.nu)),
        ("n_u_min", float(res.n_U_min)),
        ("n_candidate_pairs", float(res.candidate_pair_count)),
        *_pair_anchor_rows(A, B),
    ])


ORACLE_BLOCKED_MEC_ALPHA = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
ac AS (SELECT block, COUNT(*) AS na FROM A GROUP BY block),
bc AS (SELECT block, COUNT(*) AS nb FROM B GROUP BY block),
bs AS (SELECT na, nb FROM ac JOIN bc USING (block)),
{_SQL_BS2}
SELECT 'm_size_minus_n_m_est' AS metric, 0.0 AS value
UNION ALL SELECT 'one_to_one_a_violations', 0.0
UNION ALL SELECT 'one_to_one_b_violations', 0.0
UNION ALL SELECT 'n_m_plus_n_u_minus_n', 0.0
UNION ALL SELECT 'n_u_ge_n_u_min', 1.0
UNION ALL SELECT 'alpha_applied_any', 1.0
UNION ALL SELECT 'alpha_drop_arithmetic_violations', 0.0
UNION ALL SELECT 'requested_drop_arithmetic_violations', 0.0
UNION ALL SELECT 'invalid_reason_codes', 0.0
UNION ALL SELECT 'first_iter_full_base', 1.0
UNION ALL SELECT 'nu', (SELECT SUM(least(na, nb)) FROM bs)::DOUBLE
UNION ALL SELECT 'n_u_min',
  (SELECT SUM(na * nb) - SUM(least(na, nb)) FROM bs)::DOUBLE
UNION ALL SELECT 'n_candidate_pairs', (SELECT SUM(na * nb) FROM bs)::DOUBLE
{_SQL_PAIR_ANCHORS}
"""


def q_mec_flr_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEC fit with set_construction='flr' over a CONTINUOUS ratio
    distribution, with the exact-collect strategy disabled
    (exact_collect_max=0) so the DISTRIBUTED dyadic-prefetch bisection is
    the path under test. Contract: the strategy gate itself, the threshold-
    set filter property (min selected ratio strictly separates from max
    excluded ratio), rate/selected-set consistency, and termination — plus
    anchors (candidate count, rounded distinct continuous gammas) DuckDB
    recomputes."""
    from automatedreclin_spark.models.mec import mec as _mec

    A, B = _record_sets(spark, sf_dir)
    res = _mec(
        A, B, variables=["name", "seg"],
        comparators={"name": levenshtein_norm(), "seg": cmp_identical()},
        methods={"name": "continuous_parametric", "seg": "binary"},
        pairs=block_pairs(A, B, dedup=False).select("block", "a", "b"),
        block_col="block",
        set_construction="flr", target_rate=0.05, tol=0.01,
        max_iter_bisection=100,
        exact_collect_max=0,
    )
    sel = res.M_est.select("a", "b", "ratio")
    n_sel = sel.count()
    scored = res.scored
    row = scored.join(sel.select("a", "b"), ["a", "b"], "left_semi").agg(
        F.min("ratio").alias("min_sel"), F.sum("g_est").alias("g_sel"),
        F.count(F.lit(1)).alias("cnt_sel"),
    ).collect()[0]
    # NaN ratios are legitimately excluded by the >= t filter and Spark's
    # max() propagates NaN — mask them out of the separation bound.
    max_excl = scored.join(sel.select("a", "b"), ["a", "b"], "left_anti").agg(
        F.max(F.when(~F.isnan("ratio"), F.col("ratio")))).collect()[0][0]
    sep_ok = (n_sel == 0 or max_excl is None
              or float(row["min_sel"]) > float(max_excl))
    flr_from_set = (float("inf") if not n_sel
                    else 1.0 - float(row["g_sel"]) / int(row["cnt_sel"]))
    consistent = (n_sel == int(row["cnt_sel"])
                  and abs(flr_from_set - res.flr_est) < 1e-6)
    terminated = (res.iter_bisection == 100
                  or abs(res.flr_est - 0.05) <= 0.01)
    n_distinct_lev = scored.select(
        F.round("gamma_name", 6).alias("g")).distinct().count()
    return _invariant_df(spark, [
        ("bisection_strategy_distributed",
         1.0 if res.bisection_strategy == "distributed" else 0.0),
        ("threshold_set_separation", 1.0 if sep_ok else 0.0),
        ("flr_consistent_with_selected", 1.0 if consistent else 0.0),
        ("selected_subset_violations",
         float(sel.join(scored.select("a", "b"), ["a", "b"], "left_anti").count())),
        ("bisection_terminated_validly", 1.0 if terminated else 0.0),
        ("n_candidate_pairs", float(res.n)),
        ("n_distinct_gamma_lev_r6", float(n_distinct_lev)),
        *_pair_anchor_rows(A, B),
    ])


ORACLE_MEC_FLR = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
{_SQL_BS2},
omega AS (
  SELECT A.a, B.b,
         ROUND(CASE WHEN greatest(length(A.name), length(B.name)) = 0 THEN 0.0
               ELSE CAST(levenshtein(A.name, B.name) AS DOUBLE)
                    / greatest(length(A.name), length(B.name)) END, 6) AS g_lev
  FROM A JOIN B ON A.block = B.block
)
SELECT 'bisection_strategy_distributed' AS metric, 1.0 AS value
UNION ALL SELECT 'threshold_set_separation', 1.0
UNION ALL SELECT 'flr_consistent_with_selected', 1.0
UNION ALL SELECT 'selected_subset_violations', 0.0
UNION ALL SELECT 'bisection_terminated_validly', 1.0
UNION ALL SELECT 'n_candidate_pairs', (SELECT COUNT(*) FROM omega)::DOUBLE
UNION ALL SELECT 'n_distinct_gamma_lev_r6',
  (SELECT COUNT(DISTINCT g_lev) FROM omega)::DOUBLE
{_SQL_PAIR_ANCHORS}
"""


def q_blocked_mec_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked MEC with duplicates_in_A=True (B records may repeat,
    internals.R:513-533): only the A side is one-to-one constrained, the
    per-block structural cap becomes n_a, and ν = Σ n_a over blocks present
    on both sides. block_estimates' nonmatches_min must never go negative
    (blocks present only in A clamp to 0)."""
    from automatedreclin_spark.models.blocked_mec import blocked_mec

    A, B = _record_sets(spark, sf_dir)
    res = blocked_mec(A, B, variables=["name", "seg"], duplicates_in_A=True)
    M = res.M_est
    agg = M.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("a").alias("da"),
    ).collect()[0]
    cnt = int(agg["cnt"])
    a_sizes = A.groupBy("block").agg(F.count(F.lit(1)).alias("na"))
    cap_viol = (
        M.groupBy("block").agg(F.count(F.lit(1)).alias("m_h"))
        .join(a_sizes, "block")
        .filter(F.col("m_h") > F.col("na"))
        .count()
    )
    neg_nm = res.block_estimates.filter(F.col("nonmatches_min") < 0).count()
    res.unpersist()  # every scalar above is computed; release Ω and M
    return _invariant_df(spark, [
        ("m_size_minus_n_m_est", float(cnt - res.n_M_est)),
        ("one_to_one_a_violations", float(cnt - int(agg["da"]))),
        ("per_block_a_cap_violations", float(cap_viol)),
        ("negative_nonmatches_min_rows", float(neg_nm)),
        ("n_m_plus_n_u_minus_n", float(res.n_M_est + res.n_U_est - res.candidate_pair_count)),
        ("nu", float(res.nu)),
        ("n_u_min", float(res.n_U_min)),
        ("n_candidate_pairs", float(res.candidate_pair_count)),
    ])


ORACLE_BLOCKED_MEC_DUPS = f"""
WITH A AS ({_SQL_A}), B AS ({_SQL_B}),
ac AS (SELECT block, COUNT(*) AS na FROM A GROUP BY block),
bc AS (SELECT block, COUNT(*) AS nb FROM B GROUP BY block),
bs AS (SELECT na, nb FROM ac JOIN bc USING (block))
SELECT 'm_size_minus_n_m_est' AS metric, 0.0 AS value
UNION ALL SELECT 'one_to_one_a_violations', 0.0
UNION ALL SELECT 'per_block_a_cap_violations', 0.0
UNION ALL SELECT 'negative_nonmatches_min_rows', 0.0
UNION ALL SELECT 'n_m_plus_n_u_minus_n', 0.0
UNION ALL SELECT 'nu', (SELECT SUM(na) FROM bs)::DOUBLE
UNION ALL SELECT 'n_u_min',
  (SELECT SUM(na * nb) - SUM(na) FROM bs)::DOUBLE
UNION ALL SELECT 'n_candidate_pairs', (SELECT SUM(na * nb) FROM bs)::DOUBLE
"""



QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cv_binary": q_cv_binary,
    "cv_levenshtein": q_cv_levenshtein,
    "cv_jaro": q_cv_jaro,
    "exact_match_seeds": q_exact_match_seeds,
    "block_summary": q_block_summary,
    "evaluation_metrics": q_evaluation_metrics,
    "mec_binary_customer": q_mec_binary_customer,
    "blocked_mec_customer": q_blocked_mec_customer,
    "supervised_predict": q_supervised_predict,
    "supervised_predict_ratio2": q_supervised_predict_ratio2,
    "score_ratio_fixed_params": q_score_ratio_fixed_params,
    "blocked_mec_alpha": q_blocked_mec_alpha,
    "mec_flr_customer": q_mec_flr_customer,
    "blocked_mec_dups": q_blocked_mec_dups,
}

ORACLES: dict[str, str] = {
    "cv_binary": ORACLE_CV_BINARY,
    "cv_levenshtein": ORACLE_CV_LEVENSHTEIN,
    "cv_jaro": ORACLE_CV_JARO,
    "exact_match_seeds": ORACLE_EXACT_SEEDS,
    "block_summary": ORACLE_BLOCK_SUMMARY,
    "evaluation_metrics": ORACLE_EVALUATION,
    "mec_binary_customer": ORACLE_MEC_INVARIANTS,
    "blocked_mec_customer": ORACLE_BLOCKED_MEC_INVARIANTS,
    "supervised_predict": ORACLE_SUPERVISED_INVARIANTS,
    "supervised_predict_ratio2": ORACLE_SUPERVISED_RATIO2,
    "score_ratio_fixed_params": _score_ratio_oracle(),
    "blocked_mec_alpha": ORACLE_BLOCKED_MEC_ALPHA,
    "mec_flr_customer": ORACLE_MEC_FLR,
    "blocked_mec_dups": ORACLE_BLOCKED_MEC_DUPS,
}
