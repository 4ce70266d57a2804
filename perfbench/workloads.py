"""The benchmark's workloads: seeded inputs, the timed jobs, their checks.

Every workload is a closed loop with one client: a sample runs the fresh
job, then simulates a crash and runs the recovery, back to back. The
set-up rounds have run Spark jobs in the same JVM (input generation,
read-back, Python worker start), but the first sample is the first run of
the library's own queries in the session, so it pays their code generation
and JIT warm-up the way a submitted batch application does. Each job starts
from ``spark.catalog.clearCache()`` and a fresh checkpoint path, so no job
reuses another's cached or committed state (``blocked_mec`` leaves its
persisted candidate space cached, which would turn a rerun over the same
parquet paths into a cache hit rather than a recovery).

Only public calls into ``automatedreclin_spark`` are timed, through
``timed``, which also records each call's wall-clock window and CPU time:
the traced run counts only the Spark work inside those windows.
Correctness checks run outside the timed regions; a failed check fails the
operation it checks.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automatedreclin_spark.checkpoint import CheckpointManager
from automatedreclin_spark.entry_queries import ORACLES, QUERIES
from automatedreclin_spark.evaluation import evaluation, pairwise_f1
from automatedreclin_spark.fixtures import synth_files
from automatedreclin_spark.pipeline import link_repo_files, verify_content_invariant


class CheckFailed(Exception):
    pass


def check(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def timed(out: dict, cpu, fn):
    """Run ``fn`` as one timed call. Returns its result, wall seconds and
    CPU seconds (``cpu()`` read before and after), and appends
    ``(start_ms, end_ms, wall_s, cpu_s)`` to ``out["windows"]``."""
    w0, t0, c0 = time.time() * 1000, time.perf_counter(), cpu()
    result = fn()
    wall, cpu_s = time.perf_counter() - t0, cpu() - c0
    out.setdefault("windows", []).append((w0, time.time() * 1000, wall, cpu_s))
    return result, wall, cpu_s


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# ------------------------------------------------------------ link_files --

#: The shape of the paper's 500x1000 simulation design (fixtures.synth_files:
#: 15% exact and 25% typo'd copies of A records in B). The job's cost is
#: mostly per-Spark-job overhead, so 500x1000 only took longer.
LINK_N_A, LINK_N_B = 300, 600
LINK_STAGES = ("10_records_A", "10_records_B", "20_candidates",
               "30_components", "40_linkage", "50_clusters", "55_entities")
#: What a crash during the fit loses: the fit's stage and its iteration
#: snapshots, and everything downstream of it.
LINK_LOST = ("40_linkage", "40_linkage_iters", "50_clusters", "55_entities")
#: Stages a recovery after that crash must read back instead of rebuilding.
LINK_RESUMED = 4


class LinkFiles:
    """``pipeline.link_repo_files`` on ``fixtures.synth_files``."""

    name = "link_files"

    def generate(self, spark: SparkSession, seed: int, data: Path) -> None:
        """The fixture's corpus with record ids and row order permuted by
        ``seed``. Each corpus seed of ``synth_files`` gives the fit 3 or 4
        iterations, which moved the recovery time by 20%, more than the
        run-to-run noise; a permutation keeps the linkage problem and
        changes every id and the order the job reads rows in."""
        A, B, labels = (df.toPandas() for df in
                        synth_files(spark, n_a=LINK_N_A, n_b=LINK_N_B))
        rng = np.random.default_rng(seed)
        new_a = rng.permutation(len(A)) + 1
        new_b = rng.permutation(len(B)) + 1
        A["a"], labels["a"] = new_a[A["a"] - 1], new_a[labels["a"] - 1]
        B["b"], labels["b"] = new_b[B["b"] - 1], new_b[labels["b"] - 1]
        for pdf, part in ((A, "A"), (B, "B"), (labels, "labels")):
            pdf = pdf.iloc[rng.permutation(len(pdf))]
            spark.createDataFrame(pdf).write.mode("overwrite").parquet(str(data / part))

    def load(self, spark: SparkSession, data: Path) -> None:
        self.A = spark.read.parquet(str(data / "A"))
        self.B = spark.read.parquet(str(data / "B"))
        self.labels = spark.read.parquet(str(data / "labels"))
        for df in (self.A, self.B, self.labels):
            df.count()

    def prepare_checks(self, spark: SparkSession, data: Path) -> None:
        pass

    def job(self, spark: SparkSession, ck: Path):
        return link_repo_files(spark, self.A, self.B, str(ck))

    def sample(self, spark: SparkSession, ck: Path, ops, cpu, tracer=None) -> dict:
        out: dict = {"ck": str(ck)}
        entities = None

        def fresh():
            nonlocal entities
            spark.catalog.clearCache()
            if tracer:
                tracer.job = f"{ck.name}/fresh"
            run, out["job_s"], out["job_cpu_s"] = timed(
                out, cpu, lambda: self.job(spark, ck))
            out["pairs"] = run.candidate_pairs
            out["iterations"] = run.fit.iter
            out["run"] = run
            if tracer:
                out["ck_bytes"] = dir_bytes(ck)
            entities = _sorted_pdf(run.entities, ["entity_id", "side", "id"])
            for src, id_col, side in ((self.A, "a", 0), (self.B, "b", 1)):
                bad = verify_content_invariant(run.entities, src, id_col, side)
                check(bad == 0, f"content invariant: {bad} violations on side {side}")
            m = run.matches.agg(F.count(F.lit(1)).alias("n"),
                                F.count_distinct("a").alias("da"),
                                F.count_distinct("b").alias("db")).collect()[0]
            check(m["n"] == m["da"] == m["db"], f"matches not one-to-one: {m}")
            c = evaluation(run.matches.select("a", "b"), self.labels,
                           run.candidate_pairs)
            out["f1"] = pairwise_f1(c.TP, c.FP, c.FN)
            check(out["f1"] >= 0.99, f"pairwise F1 {out['f1']:.4f} < 0.99")

        def recover():
            for stage in LINK_LOST:
                shutil.rmtree(ck / stage, ignore_errors=True)
            spark.catalog.clearCache()
            if tracer:
                tracer.job = f"{ck.name}/resume"
            run, out["resume_s"], _ = timed(out, cpu, lambda: self.job(spark, ck))
            check(run.fit is not None, "recovery skipped the lost fit")
            # Committed stages append no counter row, so the recovery's rows
            # are the rebuilt stages.
            rebuilt = CheckpointManager(spark, str(ck)).counters().count() - len(LINK_STAGES)
            check(len(LINK_STAGES) - rebuilt == LINK_RESUMED,
                  f"recovery rebuilt {rebuilt} stages, expected "
                  f"{len(LINK_STAGES) - LINK_RESUMED}")
            check(entities is not None, "no fresh entities to compare")
            again = _sorted_pdf(run.entities, ["entity_id", "side", "id"])
            check(again.equals(entities), "recovered entities differ")

        ops.run(fresh)
        ops.run(recover)
        return out

    def layers(self, spark: SparkSession, samples: list[dict], spans, self_s) -> dict:
        """Per-layer metrics of a traced run (see README.md)."""
        if not samples or "run" not in samples[-1]:
            return {}
        run = samples[-1]["run"]
        ck = Path(samples[-1]["ck"])
        fresh = [s for s in spans if s.job.endswith("/fresh")]
        last_resume = [s for s in spans if s.job == f"{ck.name}/resume"]
        out = {}
        for stage in LINK_STAGES:
            out[f"checkpoint.stage_s.{stage}"] = _median_per_job(
                [s for s in fresh if s.name == "checkpoint.stage"
                 and s.attrs["stage"] == stage], self_s)
        out["checkpoint.bytes_written"] = float(np.median(
            [s["ck_bytes"] for s in samples if "ck_bytes" in s]))
        out["checkpoint.stages_skipped"] = float(sum(
            1 for s in last_resume
            if s.name == "checkpoint.stage" and s.attrs["skipped"]))
        kept = self.labels.join(
            spark.read.parquet(str(ck / "20_candidates" / "data")),
            ["a", "b"], "left_semi").count()
        out["blocking.candidate_pairs"] = float(run.candidate_pairs)
        out["blocking.recall"] = kept / self.labels.count()
        out["blocking.pairs_per_match"] = run.candidate_pairs / max(kept, 1)
        sizes = (spark.read.parquet(str(ck / "30_components" / "data"))
                 .groupBy("component").count())
        out["clustering.components"] = float(sizes.count())
        out["clustering.largest_component"] = float(
            sizes.agg(F.max("count")).collect()[0][0])
        for name, key in (("pipeline.connected_components", "clustering.cc_s"),
                          ("pipeline.cluster_matches", "clustering.cluster_s")):
            out[key] = _median_per_job([s for s in fresh if s.name == name])
        fits = [s["run"].fit for s in samples if s.get("run") and s["run"].fit]
        out.update({
            "blocked_mec.fit_s": _median_per_job(
                [s for s in fresh if s.name == "pipeline.blocked_mec"]),
            "blocked_mec.iterations": float(np.median([f.iter for f in fits])),
            "blocked_mec.init_agg_s": float(np.median(
                [f.stage_seconds["init_agg"] for f in fits])),
            "blocked_mec.init_select_s": float(np.median(
                [f.stage_seconds["init_select"] for f in fits])),
            "blocked_mec.iter_s_total": float(np.median(
                [sum(f.iter_seconds) for f in fits])),
            "blocked_mec.matches": float(np.median([f.n_M_est for f in fits])),
        })
        return out


def _sorted_pdf(df: DataFrame, cols: list[str]) -> pd.DataFrame:
    return df.toPandas().sort_values(cols).reset_index(drop=True)


def _median_per_job(spans, self_s=None) -> float:
    """Median over jobs of the summed (self) seconds of ``spans``; 0 when
    the layer did no work."""
    per_job: dict[str, float] = {}
    for s in spans:
        per_job[s.job] = per_job.get(s.job, 0.0) + (
            self_s[s.id] if self_s else s.seconds)
    return float(np.median(list(per_job.values()))) if per_job else 0.0


# ----------------------------------------------------------- score_pairs --

#: Customer rows. |A| = |B| = 2/3 of them in 25 nation blocks, so
#: cv_binary, cv_levenshtein and score_ratio_fixed_params each score
#: about 4 N^2 / 225 pairs and cv_jaro (same block and segment) a fifth of
#: that.
SCORE_N = 5000
SCORE_QUERIES = ("cv_binary", "cv_levenshtein", "cv_jaro",
                 "score_ratio_fixed_params")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

_P, _M = 1_000_000_007, 1_000_003
_NULL = 999_999_999_999


def fingerprint_expr(cols: list[str]):
    """Per-row hash of (a, b, values rounded to 1e-6) mod ``_P``, written so
    that Spark and DuckDB compute the same integer (``fingerprint_sql``)."""
    h = F.col("a") % _P
    h = (h * _M + F.col("b")) % _P
    for c in cols:
        v = F.coalesce(F.round(F.col(c) * 1_000_000.0).cast("long"), F.lit(_NULL))
        h = ((h * _M + v) % _P + _P) % _P
    return h


def fingerprint_sql(cols: list[str]) -> str:
    h = f"(a % {_P})"
    h = f"(({h} * {_M} + b) % {_P})"
    for c in cols:
        v = f"coalesce(CAST(ROUND({c} * 1000000.0) AS BIGINT), {_NULL})"
        h = f"(((({h} * {_M} + {v}) % {_P}) + {_P}) % {_P})"
    return h


def customer_table(n: int, seed: int) -> pd.DataFrame:
    """TPC-H-shaped customer rows. ``c_custkey`` is a seeded permutation, so
    the seed decides A/B membership (custkey mod 3) and which B names get
    the typo (custkey mod 5); sizes do not depend on it."""
    rng = np.random.default_rng(seed)
    return pd.DataFrame({
        "c_custkey": rng.permutation(n).astype("int64") + 1,
        "c_name": [f"Customer#{i:09d}" for i in range(1, n + 1)],
        "c_nationkey": rng.integers(0, 25, n).astype("int32"),
        "c_mktsegment": rng.choice(SEGMENTS, n),
    })


def write_customers(spark: SparkSession, n: int, seed: int, data: Path) -> None:
    (spark.createDataFrame(customer_table(n, seed))
     .write.mode("overwrite").parquet(str(data / "customer.parquet")))


class ScorePairs:
    """The four scoring queries of ``entry_queries.QUERIES``."""

    name = "score_pairs"

    def generate(self, spark: SparkSession, seed: int, data: Path) -> None:
        write_customers(spark, SCORE_N, seed, data)

    def load(self, spark: SparkSession, data: Path) -> None:
        self.data = data
        spark.read.parquet(str(data / "customer.parquet")).count()

    def prepare_checks(self, spark: SparkSession, data: Path) -> None:
        """(rows, fingerprint) of each query's DuckDB oracle."""
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{data / 'duckdb_tmp'}'")
            con.execute("CREATE VIEW customer AS SELECT * FROM "
                        f"read_parquet('{data / 'customer.parquet'}/*.parquet')")
            out = {}
            for q in SCORE_QUERIES:
                cols = [c for c in con.execute(
                    f"SELECT * FROM ({ORACLES[q]}) LIMIT 0").fetchdf().columns
                    if c not in ("a", "b")]
                rows, fp = con.execute(
                    f"SELECT COUNT(*), SUM({fingerprint_sql(cols)}) "
                    f"FROM ({ORACLES[q]}) t").fetchone()
                out[q] = (int(rows), int(fp))
            self.expected = out
        finally:
            con.close()

    def job(self, spark: SparkSession) -> tuple[dict, dict, dict]:
        """Run and force every query; returns per-query (rows, fingerprint),
        per-query seconds, and the g_est >= 0.5 decision counts."""
        got, secs, decide = {}, {}, {}
        for q in SCORE_QUERIES:
            t0 = time.perf_counter()
            df = QUERIES[q](spark, str(self.data))
            cols = [c for c in df.columns if c not in ("a", "b")]
            aggs = [F.count(F.lit(1)), F.sum(fingerprint_expr(cols))]
            if q == "score_ratio_fixed_params":
                pred, true = F.col("g_est") >= 0.5, F.col("a") == F.col("b")
                aggs += [F.count(F.when(pred & true, 1)),
                         F.count(F.when(pred, 1)), F.count(F.when(true, 1))]
            row = df.agg(*aggs).collect()[0]
            secs[q] = time.perf_counter() - t0
            got[q] = (int(row[0]), int(row[1]))
            if q == "score_ratio_fixed_params":
                decide = {"TP": row[2], "pred": row[3], "true": row[4]}
        return got, secs, decide

    def sample(self, spark: SparkSession, ck: Path, ops, cpu, tracer=None) -> dict:
        out: dict = {}

        def fresh():
            spark.catalog.clearCache()
            (got, secs, d), out["job_s"], out["job_cpu_s"] = timed(
                out, cpu, lambda: self.job(spark))
            out["pairs"] = sum(r for r, _ in got.values())
            out["query_s"] = secs
            out["query_pairs"] = {q: got[q][0] for q in got}
            tp = d["TP"]
            out["f1"] = pairwise_f1(tp, d["pred"] - tp, d["true"] - tp)
            for q in SCORE_QUERIES:
                check(got[q] == self.expected[q],
                      f"{q}: spark {got[q]} != oracle {self.expected[q]}")

        def recover():
            # Scoring commits nothing, so recovering from a crash is a full
            # rerun that must reach the same results.
            spark.catalog.clearCache()
            (got, _, _), out["resume_s"], _ = timed(out, cpu, lambda: self.job(spark))
            for q in SCORE_QUERIES:
                check(got[q] == self.expected[q],
                      f"{q} rerun: spark {got[q]} != oracle {self.expected[q]}")

        ops.run(fresh)
        ops.run(recover)
        return out

    def layers(self, spark, samples, spans, self_s) -> dict:
        out = {}
        for q in SCORE_QUERIES:
            s = [x["query_s"][q] for x in samples if "query_s" in x]
            p = [x["query_pairs"][q] for x in samples if "query_pairs" in x]
            med = float(np.median(s)) if s else 0.0
            out[f"comparison.{q}_s"] = med
            out[f"comparison.{q}_pairs_per_s"] = (
                float(np.median(p)) / med if med else 0.0)
        return out


WORKLOADS = {w.name: w for w in (LinkFiles(), ScorePairs())}
