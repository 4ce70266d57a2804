"""Blocked inverted MEC scenario goldens + output contract
(reference inst/tinytest/test_mec_blocking.R, scenarios re-created with
explicit block assignments in place of the external ANN blocking run)."""

import sys
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from automatedreclin_spark.functions.comparators import (
    abs_distance,
    jarowinkler_complement,
    levenshtein_norm,
    token_jaccard,
)
import automatedreclin_spark.models.blocked_mec as bm
from automatedreclin_spark.models.blocked_mec import blocked_mec


@pytest.fixture
def route():
    """The route and Ω build the scenario tests run on at module level: the
    driver, with Ω built from the records' prepared values (the default
    bounds; every scenario here is far below them). ``TestDistributedRoute``
    reruns them on the distributed route."""
    return "driver", "records"


def _contract(res):
    """Output contract (test_mec_blocking.R:13-35)."""
    m = res.M_est.toPandas()
    assert list(m.columns) == ["a", "b", "block", "ratio"]
    assert res.n_M_est == len(m)
    assert res.n_U_est == res.candidate_pair_count - res.n_M_est
    if res.block_estimates is not None:
        be = res.block_estimates.toPandas()
        assert (be["n_M_est"] >= 0).all()
        assert (be["n_M_est"] <= be[["n_a", "n_b"]].min(axis=1)).all()
    if res.scored is not None and "q_est" in res.scored.columns:
        q = res.scored.select("q_est").toPandas()["q_est"]
        assert ((q >= 0) & (q <= 1)).all()


def test_singleton_blocks_all_match(spark, route):
    """5×5 identical tables, 1×1 blocks → all pairs matched, n_U_est = 0
    (structural path; test_mec_blocking.R:83-163)."""
    names = ["Emma", "Liam", "Olivia", "Noah", "Ava"]
    surnames = ["Smith", "Jones", "Brown", "Davis", "Miller"]
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(1, 6), "name": names, "surname": surnames,
        "block": range(1, 6),
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(1, 6), "name": names, "surname": surnames,
        "block": range(1, 6),
    }))
    true = spark.createDataFrame(pd.DataFrame({"a": range(1, 6), "b": range(1, 6)}))
    res = blocked_mec(A, B, ["name", "surname"], true_matches=true)
    assert (res.route, res.omega_build) == route
    assert res.n_M_est == 5
    assert res.n_U_est == 0
    assert res.candidate_pair_count == 5
    assert res.convergence_reason == "structural_no_nonmatch_complement"
    m = res.M_est.orderBy("a").toPandas()
    assert list(m["a"]) == list(range(1, 6))
    assert list(m["b"]) == list(range(1, 6))
    if res.blocking_eval:
        assert res.blocking_eval["blocking_recall"] == 1.0
    _contract(res)


def test_singleton_nonmatch(spark, route):
    """2×2 with one shared record per block → both pairs matched
    (test_mec_blocking.R:206-233)."""
    A = spark.createDataFrame(pd.DataFrame({
        "a": [1, 2], "name": ["same", "left"], "surname": ["person", "alpha"],
        "block": [1, 2],
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": [1, 2], "name": ["same", "right"], "surname": ["person", "beta"],
        "block": [1, 2],
    }))
    res = blocked_mec(A, B, ["name", "surname"])
    assert (res.route, res.omega_build) == route
    assert res.n_M_est == 2
    assert res.n_U_est == 0
    m = res.M_est.orderBy("a").toPandas()
    assert list(m["a"]) == [1, 2] and list(m["b"]) == [1, 2]
    _contract(res)


def test_threshold_blocks(spark, route):
    """1×3 blocks: A records 1 and 4 against B triples → exactly the two
    exact-agreement pairs match, n_U_est = 4, MMR = 2/3
    (test_mec_blocking.R:235-304)."""
    names = ["A1", "A2", "A3", "B1", "B2", "B3"]
    surnames = ["S1", "S2", "S3", "T1", "T2", "T3"]
    # All six A records enter; blocking strands records 2,3,5,6 in blocks
    # with no B counterpart (the reference's excluded_records).
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(1, 7), "name": names, "surname": surnames,
        "block": [1, 91, 92, 2, 93, 94],
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(1, 7), "name": names, "surname": surnames,
        "block": [1, 1, 1, 2, 2, 2],
    }))
    true = spark.createDataFrame(pd.DataFrame({"a": range(1, 7), "b": range(1, 7)}))
    res = blocked_mec(A, B, ["name", "surname"], true_matches=true)
    assert (res.route, res.omega_build) == route
    assert res.candidate_pair_count == 6
    assert res.n_M_est == 2
    assert res.n_U_est == 4
    m = res.M_est.orderBy("a").toPandas()
    assert list(m["a"]) == [1, 4] and list(m["b"]) == [1, 4]
    assert res.blocking_eval["blocking_recall"] == pytest.approx(1 / 3)
    assert res.eval_metrics["FLR"] == 0.0
    assert res.eval_metrics["MMR"] == pytest.approx(2 / 3)
    assert res.confusion == [[2, 4], [0, 30]]
    _contract(res)


def _cpar_case(spark):
    """40×40 records in 5 fuzzy blocks: B names half exact copies, half
    typo'd; two continuous-parametric gammas and one binary."""
    n = 40
    base = [f"name{i:02d}" for i in range(n)]
    sur = [f"sur{i:02d}" for i in range(n)]
    # B: half exact copies, half typo'd
    b_names = [s if i % 2 == 0 else s[:-1] + "x" for i, s in enumerate(base)]
    blocks = [i % 5 for i in range(n)]
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(1, n + 1), "name": base, "surname": sur,
        "city": ["c1"] * (n // 2) + ["c2"] * (n // 2), "block": blocks,
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(1, n + 1), "name": b_names, "surname": sur,
        "city": ["c1"] * (n // 2) + ["c2"] * (n // 2), "block": blocks,
    }))
    return A, B, dict(
        variables=["name", "surname", "city"],
        comparators={"name": jarowinkler_complement(),
                     "surname": jarowinkler_complement()},
        methods={"name": "continuous_parametric",
                 "surname": "continuous_parametric"},
    )


def test_cpar_blocked(spark, route):
    """Mixed binary + continuous-parametric blocked fit (like fit_cpar,
    test_mec_blocking.R:172-204) with larger fuzzy blocks."""
    A, B, fit_args = _cpar_case(spark)
    n = 40
    res = blocked_mec(
        A, B, **fit_args,
        true_matches=spark.createDataFrame(
            pd.DataFrame({"a": range(1, n + 1), "b": range(1, n + 1)})
        ),
    )
    assert (res.route, res.omega_build) == route
    assert res.cpar_params is not None and res.b_params is not None
    assert list(res.cpar_params["variable"]) == ["gamma_name", "gamma_surname"]
    assert list(res.b_params["variable"]) == ["gamma_city"]
    p = res.cpar_params
    import math
    assert all(math.isfinite(x) for col in
               ["p_0_M", "alpha_M", "beta_M", "p_0_U", "alpha_U", "beta_U"]
               for x in p[col])
    # typo'd B names share surname → should still be matched 1:1 to their A row
    m = res.M_est.toPandas()
    assert (m["a"] == m["b"]).mean() >= 0.9
    _contract(res)


def test_alpha_validation(spark):
    A = spark.createDataFrame(pd.DataFrame({"a": [1], "name": ["x"], "block": [1]}))
    B = spark.createDataFrame(pd.DataFrame({"b": [1], "name": ["x"], "block": [1]}))
    with pytest.raises(ValueError, match="alpha"):
        blocked_mec(A, B, ["name"], alpha=1.5)
    with pytest.raises(ValueError, match="binary and continuous_parametric"):
        blocked_mec(A, B, ["name"], methods={"name": "hit_miss"})


def test_alpha_u_drop_diagnostics(spark, route):
    """alpha > 0 exercises the U-fit drop (T6) and its reason codes."""
    import numpy as np
    rng = np.random.default_rng(6)
    n = 60
    names = [f"n{i:02d}" for i in range(n)]
    b_names = [s if i % 2 == 0 else f"x{i:02d}" for i, s in enumerate(names)]
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(1, n + 1), "name": names,
        "city": [f"c{i % 3}" for i in range(n)], "block": [i % 4 for i in range(n)],
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(1, n + 1), "name": b_names,
        "city": [f"c{i % 3}" for i in range(n)], "block": [i % 4 for i in range(n)],
    }))
    res = blocked_mec(A, B, ["name", "city"], alpha=0.3)
    assert (res.route, res.omega_build) == route
    d = res.u_fit_diagnostics
    assert list(d["reason"])[0] == "first_u_fit_full"
    later = set(d["reason"][1:])
    assert later <= {"alpha_reliability_drop", "requested_drop_zero",
                     "minimum_sample_full_base"}
    if "alpha_reliability_drop" in later:
        applied = d[d["reason"] == "alpha_reliability_drop"]
        assert (applied["n_U_fit"] < applied["n_U_current"]).all()
    _contract(res)


def test_evaluation_diagnostics_helpers(spark):
    from automatedreclin_spark.evaluation import (
        blocking_diagnostics,
        mec_selection_diagnostics,
    )
    true = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3], "b": [1, 2, 3]}))
    cand = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 9], "b": [1, 2, 9]}))
    sel = spark.createDataFrame(pd.DataFrame({"a": [1, 9], "b": [1, 9]}))
    bd = blocking_diagnostics(true, cand, full_pairs=100)
    assert bd["preserved_matches"] == 2 and bd["blocking_recall"] == pytest.approx(2 / 3)
    md = mec_selection_diagnostics(sel, true, cand)
    assert md["candidate_recall"] == pytest.approx(1 / 2)
    assert md["candidate_flr"] == pytest.approx(1 / 2)


def test_pairs_mode_restricts_omega(spark, route):
    """pairs mode (the giant-component scale path): Ω is exactly the given
    candidate pairs, never the within-block cross product; nu derives from
    the pairs' distinct ids."""
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(1, 5), "name": [f"n{i}" for i in range(1, 5)],
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(1, 5), "name": [f"n{i}" for i in range(1, 5)],
    }))
    # one giant block, but only 6 of the 16 cross pairs are candidates
    cand = spark.createDataFrame(pd.DataFrame({
        "block": [1] * 6,
        "a": [1, 1, 2, 2, 3, 4],
        "b": [1, 2, 2, 3, 3, 4],
    }))
    res = blocked_mec(A, B, ["name"], pairs=cand)
    assert (res.route, res.omega_build) == route
    assert res.candidate_pair_count == 6          # NOT 16
    assert res.nu == 4                            # min(4 distinct a, 4 distinct b)
    m = res.M_est.orderBy("a").toPandas()
    # exact-name pairs are (i, i); one-to-one selection over candidates
    assert {(r.a, r.b) for r in m.itertuples()} == {(1, 1), (2, 2), (3, 3), (4, 4)}
    _contract(res)


def test_alpha_drop_scale_path_matches_window_reference(spark, monkeypatch):
    """The sketch-cut retention (retain_top_n) must reproduce the global
    row_number-window retention EXACTLY through a full alpha>0 fit: same
    M_est pairs, same per-iteration U-fit diagnostics. Binary-only gammas
    give massively tied q_est (the hardest tie case for the cut). Pinned to
    the distributed route, where retain_top_n runs."""
    import numpy as np

    monkeypatch.setattr(bm, "_FIT_LOCAL", 0)
    rng = np.random.default_rng(12)
    n = 120
    names = [f"n{i:03d}" for i in range(n)]
    b_names = [s if i % 3 == 0 else f"x{i:03d}" for i, s in enumerate(names)]
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(1, n + 1), "name": names,
        "city": [f"c{i % 4}" for i in range(n)], "block": [i % 5 for i in range(n)],
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(1, n + 1), "name": b_names,
        "city": [f"c{i % 4}" for i in range(n)], "block": [i % 5 for i in range(n)],
    }))

    def run():
        res = blocked_mec(A, B, ["name", "city"], alpha=0.5)
        assert res.route == "distributed"
        m = sorted(map(tuple, res.M_est.select("a", "b").collect()))
        return m, res.u_fit_diagnostics

    m_fast, d_fast = run()
    assert "alpha_reliability_drop" in set(d_fast["reason"]), d_fast

    def window_retention(df, n_keep, score_col, tie_cols=("a", "b", "block"),
                         n_total=None, **_precomputed_stats):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        w = Window.orderBy(F.desc_nulls_last(score_col),
                           *[F.asc(c) for c in tie_cols if c in df.columns])
        return (df.withColumn("_rk", F.row_number().over(w))
                  .filter(F.col("_rk") <= n_keep).drop("_rk"))

    monkeypatch.setattr(bm, "retain_top_n", window_retention)
    m_ref, d_ref = run()
    assert m_fast == m_ref
    assert list(d_fast["n_U_fit"]) == list(d_ref["n_U_fit"])
    assert list(d_fast["reason"]) == list(d_ref["reason"])


def _amount_case(spark):
    """90×90 records in 4 blocks: a binary name gamma and a
    continuous-parametric amount distance, fit with alpha = 0.4."""
    rng = np.random.default_rng(3)
    n = 90
    names = [f"n{i:03d}" for i in range(n)]
    b_names = [s if i % 3 == 0 else f"x{i:03d}" for i, s in enumerate(names)]
    vals = np.round(rng.gamma(2.0, 1.5, n), 3)
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(1, n + 1), "name": names, "amount": vals,
        "block": [i % 4 for i in range(n)],
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(1, n + 1), "name": b_names,
        "amount": np.where(np.arange(n) % 3 == 0, vals, np.round(vals * 1.7 + 0.4, 3)),
        "block": [i % 4 for i in range(n)],
    }))
    return A, B, dict(variables=["name", "amount"],
                      methods={"amount": "continuous_parametric"},
                      comparators={"amount": abs_distance()},
                      alpha=0.4)


def test_alpha_u_materialization_is_plan_only(spark, monkeypatch):
    """The DISK_ONLY narrow-U materialization in the alpha-drop path is a
    physical-plan choice only: forcing it on (threshold 0) must reproduce
    the lazy path bit-for-bit — same M_est pairs and ratios, same side
    params, same per-iteration diagnostics. Pinned to the distributed
    route, the only one that materializes U."""
    monkeypatch.setattr(bm, "_FIT_LOCAL", 0)
    A, B, fit_args = _amount_case(spark)

    def run():
        res = blocked_mec(A, B, **fit_args)
        assert res.route == "distributed"
        m = sorted(map(tuple, res.M_est.select("a", "b", "ratio").collect()))
        return m, res.u_fit_diagnostics, res.b_params, res.cpar_params

    monkeypatch.setattr(bm, "_ALPHA_U_MATERIALIZE_MIN", 0)
    m_mat, d_mat, bp_mat, cp_mat = run()
    assert "alpha_reliability_drop" in set(d_mat["reason"]), d_mat

    monkeypatch.setattr(bm, "_ALPHA_U_MATERIALIZE_MIN", 1 << 62)
    m_lazy, d_lazy, bp_lazy, cp_lazy = run()
    assert m_mat == m_lazy
    assert list(d_mat["n_U_fit"]) == list(d_lazy["n_U_fit"])
    assert list(d_mat["reason"]) == list(d_lazy["reason"])
    pd.testing.assert_frame_equal(pd.DataFrame(bp_mat), pd.DataFrame(bp_lazy))
    pd.testing.assert_frame_equal(pd.DataFrame(cp_mat), pd.DataFrame(cp_lazy))


def test_duplicates_in_A_relaxes_b_reuse(spark, route):
    """`duplicates_in_A=True` (arg parity with mec(), internals.R:513-533):
    A records are used at most once but B records may repeat, so a block
    with duplicated A records can match both to the same B record. The
    structural bound per block becomes n_a instead of min(n_a, n_b)."""
    # Block 1: two identical A records, one matching B record; block 2 is a
    # clean pair so the fit has an unambiguous match pattern.
    A = spark.createDataFrame(pd.DataFrame({
        "a": [1, 2, 3], "name": ["same", "same", "left"],
        "surname": ["person", "person", "alpha"], "block": [1, 1, 2],
    }))
    B = spark.createDataFrame(pd.DataFrame({
        "b": [1, 2], "name": ["same", "left"], "surname": ["person", "alpha"],
        "block": [1, 2],
    }))

    res_dup = blocked_mec(A, B, ["name", "surname"], duplicates_in_A=True)
    assert (res_dup.route, res_dup.omega_build) == route
    m = res_dup.M_est.orderBy("a").toPandas()
    # nu = n_a per block with duplicates allowed: 2 + 1
    assert res_dup.nu == 3
    assert m["a"].is_unique
    # both duplicate A records link to the single B record
    assert list(m[m["a"].isin([1, 2])]["b"]) == [1, 1]

    res_one2one = blocked_mec(A, B, ["name", "surname"])
    assert (res_one2one.route, res_one2one.omega_build) == route
    m1 = res_one2one.M_est.toPandas()
    assert res_one2one.nu == 2
    assert m1["a"].is_unique and m1["b"].is_unique


def test_nonfinite_gamma_raises(spark, route):
    """The C5 guard on the blocked path: a comparator that yields NaN stops
    the fit with the reference's error, on either route, and leaves no
    cached data behind."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    A = spark.createDataFrame(pd.DataFrame({
        "a": [1, 2, 3], "amount": [1.0, float("nan"), 3.0], "block": [1, 1, 2]}))
    B = spark.createDataFrame(pd.DataFrame({
        "b": [1, 2, 3], "amount": [1.0, 2.0, 3.5], "block": [1, 1, 2]}))
    before = persistent().size()
    with pytest.raises(ValueError, match="missing or non-finite"):
        blocked_mec(A, B, ["amount"], methods={"amount": "continuous_parametric"},
                    comparators={"amount": abs_distance()},
                    pairs=A.select("block", "a").join(B.select("block", "b"), "block"))
    assert persistent().size() == before


def test_null_token_content_raises(spark, route):
    """token_jaccard scores a NULL content as NULL, not as agreement, so
    the C5 guard stops the fit, whichever way Ω is built."""
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    A = spark.createDataFrame(pd.DataFrame({
        "a": [1, 2, 3], "content": ["x y", None, "z"], "block": [1, 1, 2]}))
    B = spark.createDataFrame(pd.DataFrame({
        "b": [1, 2, 3], "content": ["x y", "y", "z w"], "block": [1, 1, 2]}))
    before = persistent().size()
    with pytest.raises(ValueError, match=r"missing or non-finite.*content \(2 invalid"):
        blocked_mec(A, B, ["content"], methods={"content": "continuous_parametric"},
                    comparators={"content": token_jaccard()},
                    pairs=A.select("block", "a").join(B.select("block", "b"), "block"))
    assert persistent().size() == before


def _long_record_case(spark):
    """12×12 records in 3 blocks; one record per side has a 3,000-character
    name, far above any other record's prepared size."""
    names = ["alpha", "bravo", "charlie", "delta", "echo", "fox",
             "golf", "hotel", "india", "juliet", "kilo", "x" * 3000]
    b_names = [s if i % 3 else s[:-1] + "q" for i, s in enumerate(names)]
    blocks = [i // 4 for i in range(12)]
    A = spark.createDataFrame(pd.DataFrame({
        "a": range(12), "name": names, "city": [f"c{i % 2}" for i in range(12)],
        "block": blocks}))
    B = spark.createDataFrame(pd.DataFrame({
        "b": range(12), "name": b_names, "city": [f"c{i % 2}" for i in range(12)],
        "block": blocks}))
    return A, B, dict(variables=["name", "city"],
                      comparators={"name": jarowinkler_complement()},
                      methods={"name": "continuous_parametric"})


def test_omega_builds_agree_and_budget_bounds_records(spark, monkeypatch):
    """The driver route builds the same Ω from the records' prepared values
    as the Spark pair join: bit-identical M_est. The budget bounds the
    prepared bytes of all referenced records together (24 records, 6,346
    bytes): a record over its even share of the budget is fetched in a
    second pass once the total is known to fit, and a total over the
    budget falls back to the Spark build."""
    A, B, fit_args = _long_record_case(spark)
    outs = {}
    for budget, build in ((bm._PREP_BUDGET, "records"), (7_000, "records"),
                          (6_000, "spark")):
        monkeypatch.setattr(bm, "_PREP_BUDGET", budget)
        res = blocked_mec(A, B, **fit_args)
        assert (res.route, res.omega_build) == ("driver", build), budget
        outs[budget] = res.M_est.toPandas()
        _contract(res)
    for m in outs.values():
        pd.testing.assert_frame_equal(m, outs[bm._PREP_BUDGET], check_exact=True)


def _readers(*frames, rows=2):
    """A batch reader per frame, like the pipeline's readers of the record
    snapshots: ``reader(columns)`` yields the frame's rows in pyarrow
    batches of ``rows``."""
    def batches(table, columns):
        return table.select(columns).to_batches(max_chunksize=rows)
    return tuple(partial(batches, df.toArrow()) for df in frames)


def _with_readers(A, B, *args, **kwargs):
    return bm.blocked_mec(A, B, *args, readers=_readers(A, B), **kwargs)


def test_snapshot_build_agrees_and_budget_bounds_it(spark, monkeypatch):
    """With a batch reader per side, the driver route builds Ω from the
    records' values on the driver (``prep_local``), with no Spark job:
    M_est is bit-identical to the Spark-collected records build's. The
    same budget bounds it, counted the same way (24 records, 6,346
    prepared bytes): over it, the Spark build runs, with the same M_est."""
    A, B, fit_args = _long_record_case(spark)
    want = blocked_mec(A, B, **fit_args)
    assert want.omega_build == "records"
    readers = _readers(A, B, rows=5)
    for budget, build in ((bm._PREP_BUDGET, "snapshot"), (7_000, "snapshot"),
                          (6_000, "spark")):
        monkeypatch.setattr(bm, "_PREP_BUDGET", budget)
        res = blocked_mec(A, B, **fit_args, readers=readers)
        assert (res.route, res.omega_build) == ("driver", build), budget
        pd.testing.assert_frame_equal(res.M_est.toPandas(), want.M_est.toPandas(),
                                      check_exact=True)
        _contract(res)


def test_snapshot_build_launches_no_job(spark):
    """Given readers and keys as a pandas frame, the driver-route fit runs
    no Spark job: neither the keys nor the records' values are collected
    through Spark."""
    A, B, fit_args = _cpar_case(spark)
    pairs = A.select("block", "a").join(B.select("block", "b"), "block").toPandas()
    readers = _readers(A, B)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    res = blocked_mec(A, B, **fit_args, pairs=pairs, readers=readers)
    assert (res.route, res.omega_build) == ("driver", "snapshot")
    assert set(tracker.getJobIdsForGroup(None)) == before


def test_comparator_without_driver_prep_collects_through_spark(spark):
    """A comparator with a numpy form but no driver ``prep_local`` (a
    ``token_jaccard`` pattern other than Java's whitespace) makes a fit
    with readers collect the prepared values through Spark, as without
    readers: bit-identical M_est."""
    A, B, fit_args = _long_record_case(spark)
    fit_args["comparators"] = {**fit_args["comparators"], "city": token_jaccard(",")}
    fit_args["methods"] = {**fit_args["methods"], "city": "continuous_parametric"}
    assert token_jaccard(",").prep_local(pa.array(["a,b"])) is None
    want = blocked_mec(A, B, **fit_args)
    res = blocked_mec(A, B, **fit_args, readers=_readers(A, B))
    assert (want.omega_build, res.omega_build) == ("records", "records")
    pd.testing.assert_frame_equal(res.M_est.toPandas(), want.M_est.toPandas(),
                                  check_exact=True)


@pytest.mark.filterwarnings("error::UserWarning")
def test_arrow_backed_keys_collect_without_arrow_fallback(spark):
    """Keys handed in as a pandas frame backed by several Arrow chunks (as
    the pipeline's labeled keys can be) reach the records collect's id
    relations as plain numpy ids: createDataFrame keeps its Arrow path and
    warns of no row-by-row fallback."""
    A, B, fit_args = _cpar_case(spark)
    pairs = pa.Table.from_pandas(
        A.select("block", "a").join(B.select("block", "b"), "block").toPandas(),
        preserve_index=False)
    pairs = pa.Table.from_batches(pairs.to_batches(max_chunksize=50))
    keys = pairs.to_pandas(types_mapper=pd.ArrowDtype)
    assert keys["a"].array._pa_array.num_chunks > 1
    res = blocked_mec(A, B, **fit_args, pairs=keys)
    assert (res.route, res.omega_build) == ("driver", "records")
    pd.testing.assert_frame_equal(
        _fit_outputs(res), _fit_outputs(blocked_mec(A, B, **fit_args)), check_exact=True)


def test_comparator_without_local_form_uses_spark_build(spark):
    A, B, fit_args = _long_record_case(spark)
    fit_args["comparators"] = {"name": levenshtein_norm()}
    res = blocked_mec(A, B, **fit_args)
    assert (res.route, res.omega_build) == ("driver", "spark")
    _contract(res)


@pytest.mark.parametrize("fit_route", ["driver", "distributed"])
def test_pandas_keys_fit_like_spark_keys(spark, monkeypatch, fit_route):
    """Keys handed in as a pandas frame give the fit of the same keys as a
    Spark frame: same route, M_est schema and rows. On the driver route the
    records build constructs no pair-join plan, and ``M_est_local`` holds
    M_est's rows."""
    A, B, fit_args = _cpar_case(spark)
    pairs = (A.select("block", "a").join(B.select("block", "b"), "block")
             .toPandas().sort_values(["a", "b"], ignore_index=True))
    if fit_route == "distributed":
        monkeypatch.setattr(bm, "_FIT_LOCAL", 0)
    spark_keys = blocked_mec(A, B, **fit_args, pairs=spark.createDataFrame(pairs))
    if fit_route == "driver":
        monkeypatch.setattr(bm, "comparison_vectors", lambda *a, **k: pytest.fail(
            "the records build needs no pair-join plan"))
    pandas_keys = blocked_mec(A, B, **fit_args, pairs=pairs)
    assert spark_keys.route == pandas_keys.route == fit_route
    assert spark_keys.M_est.schema == pandas_keys.M_est.schema
    m_spark, m_pandas = _fit_outputs(spark_keys), _fit_outputs(pandas_keys)
    pd.testing.assert_frame_equal(m_spark, m_pandas, check_exact=True)
    if fit_route == "driver":
        local = pandas_keys.M_est_local.sort_values(["a", "b"], ignore_index=True)
        pd.testing.assert_frame_equal(local, m_pandas, check_exact=True)
    else:
        assert pandas_keys.M_est_local is None
    for res in (spark_keys, pandas_keys):
        _contract(res)
        res.unpersist()


def _fit_outputs(res, M_est=None):
    m = (res.M_est if M_est is None else M_est).toPandas()
    return m.sort_values(["a", "b"], ignore_index=True)


def _assert_routes_agree(drv, dist, m_drv, m_dist):
    assert (drv.route, dist.route) == ("driver", "distributed")
    assert (drv.iter, drv.convergence_reason) == (dist.iter, dist.convergence_reason)
    assert (drv.n_M_est, drv.nu) == (dist.n_M_est, dist.nu)
    pd.testing.assert_frame_equal(drv.u_fit_diagnostics, dist.u_fit_diagnostics)
    for table in ("b_params", "cpar_params"):
        t_drv, t_dist = getattr(drv, table), getattr(dist, table)
        assert (t_drv is None) == (t_dist is None)
        if t_drv is None:
            continue
        assert list(t_drv["variable"]) == list(t_dist["variable"])
        for col in t_drv.columns.drop("variable"):
            # A Gamma fit to positives that are all equal has an unbounded
            # shape: its Newton solve turns the last bits of Σγ⁺ and
            # Σlog γ⁺, which the routes add in different orders, into
            # ~1e-4 of the estimate (cpar case: alpha_M ≈ 1.2e11).
            loose = ((t_dist[f"alpha_{col[-1]}"] > 1e6)
                     if col.startswith(("alpha_", "beta_"))
                     else pd.Series(False, index=t_dist.index))
            for mask, rtol in ((~loose, 1e-9), (loose, 1e-3)):
                np.testing.assert_allclose(t_drv[col][mask], t_dist[col][mask],
                                           rtol=rtol, atol=0, err_msg=col)
    pd.testing.assert_frame_equal(m_drv[["a", "b", "block"]],
                                  m_dist[["a", "b", "block"]])
    np.testing.assert_allclose(m_drv["ratio"], m_dist["ratio"], rtol=1e-9, atol=0)


@pytest.mark.parametrize("case", ["cpar", "alpha"])
def test_routes_agree(spark, monkeypatch, case):
    """The driver and the distributed route fit the same model: same match
    keys, iterations, convergence reason and U-fit diagnostics; ratios and
    side parameters within rtol 1e-9 (the routes sum in different orders)."""
    A, B, fit_args = {"cpar": _cpar_case, "alpha": _amount_case}[case](spark)
    drv = blocked_mec(A, B, **fit_args)
    monkeypatch.setattr(bm, "_FIT_LOCAL", 0)
    dist = blocked_mec(A, B, **fit_args)
    if case == "alpha":
        assert "alpha_reliability_drop" in set(dist.u_fit_diagnostics["reason"])
    _assert_routes_agree(drv, dist, _fit_outputs(drv), _fit_outputs(dist))
    dist.unpersist()


def test_routes_agree_on_pipeline_corpus(spark, monkeypatch, tmp_path):
    """The pipeline's own fit (pairs mode over connected-component blocks)
    on both routes: the distributed fit reruns from the committed stages
    30 and earlier of the driver run."""
    import shutil

    from automatedreclin_spark.checkpoint import CheckpointManager
    from automatedreclin_spark.fixtures import synth_files
    from automatedreclin_spark.pipeline import link_repo_files

    A, B, _ = synth_files(spark, n_a=250, n_b=500, seed=5)
    ck = str(tmp_path)
    builds = {}
    drv = link_repo_files(spark, A, B, checkpoint_dir=ck)
    builds["driver"] = CheckpointManager(spark, ck).manifest("40_linkage")["meta"]
    m_drv = _fit_outputs(drv.fit, drv.matches)
    for stage in ("40_linkage", "50_clusters", "55_entities"):
        shutil.rmtree(f"{ck}/{stage}")
    monkeypatch.setattr(bm, "_FIT_LOCAL", 0)
    dist = link_repo_files(spark, A, B, checkpoint_dir=ck)
    builds["distributed"] = CheckpointManager(spark, ck).manifest("40_linkage")["meta"]
    assert builds == {
        "driver": {"route": "driver", "omega_build": "snapshot"},
        "distributed": {"route": "distributed", "omega_build": "spark"},
    }
    _assert_routes_agree(drv.fit, dist.fit, m_drv,
                         _fit_outputs(dist.fit, dist.matches))


def test_driver_route_ignores_partitioning(spark):
    """The driver route sorts the collected Ω before any sum or tie break,
    so differently partitioned copies of one candidate set give
    bit-identical M_est, ratios included."""
    A, B, fit_args = _cpar_case(spark)
    pairs = (A.select("block", "a").join(B.select("block", "b"), "block")
             .toPandas())
    outs = []
    for seed, parts in ((0, 1), (1, 7)):
        copy = spark.createDataFrame(
            pairs.sample(frac=1.0, random_state=seed)).repartition(parts)
        res = blocked_mec(A, B, **fit_args, pairs=copy)
        assert res.route == "driver"
        outs.append(res.M_est.toPandas())
    pd.testing.assert_frame_equal(outs[0], outs[1], check_exact=True)


class TestDistributedRoute:
    """The scenario tests above, rerun with ``_FIT_LOCAL`` = 0 so that every
    fit takes the distributed route."""

    @pytest.fixture
    def route(self, monkeypatch):
        monkeypatch.setattr(bm, "_FIT_LOCAL", 0)
        return "distributed", "spark"

    test_singleton_blocks_all_match = staticmethod(test_singleton_blocks_all_match)
    test_singleton_nonmatch = staticmethod(test_singleton_nonmatch)
    test_threshold_blocks = staticmethod(test_threshold_blocks)
    test_cpar_blocked = staticmethod(test_cpar_blocked)
    test_alpha_u_drop_diagnostics = staticmethod(test_alpha_u_drop_diagnostics)
    test_pairs_mode_restricts_omega = staticmethod(test_pairs_mode_restricts_omega)
    test_duplicates_in_A_relaxes_b_reuse = staticmethod(test_duplicates_in_A_relaxes_b_reuse)
    test_nonfinite_gamma_raises = staticmethod(test_nonfinite_gamma_raises)
    test_null_token_content_raises = staticmethod(test_null_token_content_raises)


class TestSparkOmegaBuild:
    """Scenario tests rerun on the driver route with a prepared-value
    budget of 0 bytes, so that Ω comes from the Spark pair join."""

    @pytest.fixture
    def route(self, monkeypatch):
        monkeypatch.setattr(bm, "_PREP_BUDGET", 0)
        return "driver", "spark"

    test_threshold_blocks = staticmethod(test_threshold_blocks)
    test_cpar_blocked = staticmethod(test_cpar_blocked)
    test_pairs_mode_restricts_omega = staticmethod(test_pairs_mode_restricts_omega)
    test_nonfinite_gamma_raises = staticmethod(test_nonfinite_gamma_raises)
    test_null_token_content_raises = staticmethod(test_null_token_content_raises)


class TestSnapshotBuild:
    """Scenario tests rerun on the driver route with a batch reader per
    side, so that Ω comes from the records' values read on the driver
    (``Comparator.prep_local``), two rows per batch."""

    @pytest.fixture
    def route(self, monkeypatch):
        monkeypatch.setattr(sys.modules[__name__], "blocked_mec", _with_readers)
        return "driver", "snapshot"

    test_singleton_blocks_all_match = staticmethod(test_singleton_blocks_all_match)
    test_singleton_nonmatch = staticmethod(test_singleton_nonmatch)
    test_threshold_blocks = staticmethod(test_threshold_blocks)
    test_cpar_blocked = staticmethod(test_cpar_blocked)
    test_alpha_u_drop_diagnostics = staticmethod(test_alpha_u_drop_diagnostics)
    test_pairs_mode_restricts_omega = staticmethod(test_pairs_mode_restricts_omega)
    test_duplicates_in_A_relaxes_b_reuse = staticmethod(test_duplicates_in_A_relaxes_b_reuse)
    test_null_token_content_raises = staticmethod(test_null_token_content_raises)
