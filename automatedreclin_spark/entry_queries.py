"""Driver-contract queries and their DuckDB oracle SQL.

Each entry here is one operator from SURVEY.md §2 (or a training-data-pipeline
op), expressed twice:

- ``QUERIES[name](spark, sf_dir) -> DataFrame`` — the Spark implementation
  using this package's operators;
- ``ORACLES[name]`` — equivalent ANSI SQL for DuckDB over the pre-registered
  views (region nation customer supplier part orders lineitem events
  documents embeddings).

Parity anchors used throughout (verified in tests/test_entry.py):
- ``jaro_similarity`` (DuckDB) == our Jaro kernel == the reference's
  ``jarowinkler_complement`` base (stringdist jw, p=0)
- ``levenshtein`` native on both sides
- shared 60-bit token hash: Spark ``conv(substr(md5(x),1,15),16,10)::long``
  == DuckDB ``('0x' || substr(md5(x),1,15))::BIGINT``
- ``sha256`` hex equal on both sides

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


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -------------------------------------------------------- derived A/B views --

def _record_sets(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    cust = _t(spark, sf_dir, "customer")
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


# ------------------------------------------------- training-data-pipeline ----

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256(content) groups with canonical representative —
    the per-row invariant hash of BASELINE.json (input_hint). Emits every
    group so the value-hash check covers all 500 digests."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2(F.col("text"), 256).alias("content_sha"))
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_id"))
    )


ORACLE_DEDUP_EXACT = """
SELECT sha256(text) AS content_sha, COUNT(*) AS n_copies, MIN(doc_id) AS canonical_id
FROM documents GROUP BY 1
"""


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality signals per document (pure Catalyst)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("lexical_diversity"),
        F.col("n_chars").alias("n_chars"),
    )


ORACLE_TOKEN_STATS = """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
       ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' ')), 6) AS lexical_diversity,
       n_chars
FROM documents
"""




#: per-(lang, i, j) quadratic work ceiling for the exact ngram-Jaccard
#: self-join: with B ≥ n_max/√T, the largest language's per-key expansion is
#: ≤ T pairs, so no single task can become the straggler however skewed the
#: language distribution is.
_NGRAM_TARGET_PAIRS_PER_KEY = 4_000_000


def _ngram_bucket_count(n_langs: int, n_max: int, parallelism: int) -> int:
    """Triangle-bucket count B for the exact ngram-Jaccard self-join, sized
    from the data instead of fixed (r5):

    - parallelism floor: |lang| × B(B+1)/2 join keys ≥ 3 × cluster
      parallelism, so the quadratic stage always has ≥3 task waves to
      balance across (a fixed B=8 under-splits once the cluster is larger
      than the key count);
    - work ceiling: (n_max/B)² ≤ _NGRAM_TARGET_PAIRS_PER_KEY, so the
      biggest language's per-key expansion is bounded regardless of skew.

    Replication is B+1 rows per doc, so B is capped at 64 — past that the
    exact baseline is the wrong tool and the MinHash-LSH path (ops/dedup)
    is the answer."""
    import math

    n_langs = max(1, n_langs)
    b_par = 1
    while b_par * (b_par + 1) * n_langs < 6 * parallelism and b_par < 64:
        b_par += 1
    b_work = (math.ceil(n_max / math.sqrt(_NGRAM_TARGET_PAIRS_PER_KEY))
              if n_max else 1)
    return max(1, min(64, max(b_par, b_work)))


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by word-set Jaccard ≥ 0.5 within the same lang
    (exact pairwise — the LSH variant is the scale path).

    The self-join is TRIANGLE-BUCKETED: a plain ``join(right, "lang")`` hash-
    partitions on the handful of distinct lang values, so ~5 of 32 tasks do
    the entire quadratic expansion (measured 3.5→17 s straggler swings at
    sf0.1). Each doc gets a bucket u = hash(id) % B; the LEFT side emits join
    keys (u, j) for j ≥ u, the RIGHT side (i, v) for i ≤ v, and the equi-join
    on (lang, i, j) meets every unordered doc pair exactly once — same-bucket
    pairs deduped by id_a < id_b, cross-bucket pairs canonicalized with
    least/greatest (Jaccard is symmetric). Parallelism becomes
    |lang| × B(B+1)/2 keys instead of |lang|.

    B is AUTO-SIZED from the per-lang doc counts (one tiny agg job) — see
    ``_ngram_bucket_count``."""
    from automatedreclin_spark.operators.util import ensure_parallelism

    raw = ensure_parallelism(_t(spark, sf_dir, "documents"))
    stats = raw.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    B = _ngram_bucket_count(
        n_langs=len(stats),
        n_max=max((r["c"] for r in stats), default=0),
        parallelism=spark.sparkContext.defaultParallelism,
    )
    docs = raw.select(
        "doc_id", "lang", F.array_distinct(F.split(F.col("text"), " ")).alias("toks"),
        F.pmod(F.xxhash64("doc_id"), F.lit(B)).alias("bkt"),
    )
    js = F.sequence(F.col("bkt"), F.lit(B - 1))
    left = docs.select(
        "lang", F.col("bkt").alias("i"), F.explode(js).alias("j"),
        F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"),
    )
    is_ = F.sequence(F.lit(0), F.col("bkt"))
    right = docs.select(
        "lang", F.explode(is_).alias("i"), F.col("bkt").alias("j"),
        F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"),
    )
    pairs = left.join(right, ["lang", "i", "j"]).filter(
        (F.col("i") != F.col("j")) | (F.col("id_a") < F.col("id_b"))
    )
    jac = F.size(F.array_intersect("toks_a", "toks_b")).cast("double") / F.size(
        F.array_union("toks_a", "toks_b")
    )
    return (
        pairs.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= 0.5)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jaccard",
        )
    )


ORACLE_NGRAM_JACCARD = """
WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS toks
           FROM documents)
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(x.toks, y.toks))), 6) AS jaccard
FROM d x JOIN d y ON x.lang = y.lang AND x.doc_id < y.doc_id
WHERE CAST(len(list_intersect(x.toks, y.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(x.toks, y.toks))) >= 0.5
"""


_MINHASH_PERMS = [(1_000_003, 12_345), (999_983, 54_321), (1_000_033, 77_777), (999_979, 13_579)]
_MERSENNE = (1 << 61) - 1


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 permutations) over word tokens, built on the
    shared md5-derived 60-bit token hash so the oracle reproduces them
    bit-for-bit. LSH banding/bucketing builds on these (ops/dedup.py)."""
    docs = _t(spark, sf_dir, "documents")
    tok_hash = F.conv(
        F.substring(F.md5(F.col("tok")), 1, 15), 16, 10
    ).cast("decimal(38,0)")
    exploded = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(F.col("text"), " "))).alias("tok")
    ).withColumn("h", tok_hash)
    aggs = [
        F.min(((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MERSENNE)).cast("long")).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_MINHASH_PERMS)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


ORACLE_MINHASH = f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)::HUGEINT AS h
  FROM toks
)
SELECT doc_id,
  {", ".join(
    f"CAST(MIN(({a}::HUGEINT * h + {b}) % {_MERSENNE}) AS BIGINT) AS mh_{i}"
    for i, (a, b) in enumerate(_MINHASH_PERMS)
  )}
FROM hashed GROUP BY doc_id
"""


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for query vectors (vec_id < 10)
    among the rest — the exactness baseline for ANN (ops/similarity.py)."""
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v")
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    nq = F.sqrt(F.aggregate("qv", F.lit(0.0), lambda acc, x: acc + x * x))
    nc = F.sqrt(F.aggregate("cv", F.lit(0.0), lambda acc, x: acc + x * x))
    # Explicit broadcast of the (tiny) query side: the corpus streams through
    # a BroadcastNestedLoopJoin with no shuffle — the only plan that scales
    # this brute-force baseline to a large corpus.
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id", "neighbor_id", F.round(dot / (nq * nc), 6).alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


ORACLE_ANN_COSINE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, v AS cv FROM e WHERE vec_id >= 10),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM q CROSS JOIN c
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 3
"""


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cv_binary": q_cv_binary,
    "cv_levenshtein": q_cv_levenshtein,
    "cv_jaro": q_cv_jaro,
    "exact_match_seeds": q_exact_match_seeds,
    "block_summary": q_block_summary,
    "evaluation_metrics": q_evaluation_metrics,
    "mec_binary_customer": q_mec_binary_customer,
    "dedup_exact": q_dedup_exact,
    "text_token_stats": q_text_token_stats,
    "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "minhash_signatures": q_minhash_signatures,
    "ann_cosine_topk": q_ann_cosine_topk,
}

ORACLES: dict[str, str] = {
    "cv_binary": ORACLE_CV_BINARY,
    "cv_levenshtein": ORACLE_CV_LEVENSHTEIN,
    "cv_jaro": ORACLE_CV_JARO,
    "exact_match_seeds": ORACLE_EXACT_SEEDS,
    "block_summary": ORACLE_BLOCK_SUMMARY,
    "evaluation_metrics": ORACLE_EVALUATION,
    # mec_binary_customer: invariant-table oracle added below.
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "text_token_stats": ORACLE_TOKEN_STATS,
    "ngram_jaccard_pairs": ORACLE_NGRAM_JACCARD,
    "minhash_signatures": ORACLE_MINHASH,
    "ann_cosine_topk": ORACLE_ANN_COSINE,
}


# --------------------------------------------------- ops: quality / dedup ----

def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-feature extraction (ops/textstats.py) — corpus-filter signals,
    all whole-stage-codegen expressions."""
    from automatedreclin_spark.ops.textstats import quality_features

    docs = _t(spark, sf_dir, "documents")
    q = quality_features(docs, "doc_id", "text")
    return q.select(
        "id", "n_tokens", "n_distinct_tokens",
        F.round("lexical_diversity", 6).alias("lexical_diversity"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("mean_word_len", 6).alias("mean_word_len"),
    )


ORACLE_TEXT_QUALITY = """
WITH d AS (
  SELECT doc_id AS id, text, length(text) AS n_chars,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split(trim(text), ' ')) END AS n_tokens,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(list_distinct(string_split(trim(text), ' '))) END AS n_distinct_tokens,
         length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits
  FROM documents
)
SELECT id, n_tokens, n_distinct_tokens,
       ROUND(CASE WHEN n_tokens > 0 THEN CAST(n_distinct_tokens AS DOUBLE) / n_tokens ELSE 0 END, 6) AS lexical_diversity,
       ROUND(CASE WHEN n_chars > 0 THEN CAST(punct AS DOUBLE) / n_chars ELSE 0 END, 6) AS punct_ratio,
       ROUND(CASE WHEN n_chars > 0 THEN CAST(digits AS DOUBLE) / n_chars ELSE 0 END, 6) AS digit_ratio,
       ROUND(CASE WHEN n_tokens > 0 THEN CAST(n_chars - n_tokens + 1 AS DOUBLE) / n_tokens ELSE 0 END, 6) AS mean_word_len
FROM d
"""


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline (ops/dedup.py): 16-hash signatures over
    word tokens, 4 bands, bucket join, exact-Jaccard verification ≥ 0.5."""
    from automatedreclin_spark.ops.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    out = minhash_dedup(docs, "doc_id", "text", n_hashes=16, bands=4, threshold=0.5)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def _minhash_lsh_oracle() -> str:
    from automatedreclin_spark.ops.dedup import MINHASH_PERMS_16
    from automatedreclin_spark.operators.blocking import MERSENNE_61

    mh_cols = ",\n    ".join(
        f"CAST(MIN(({a}::HUGEINT * h + {b}) % {MERSENNE_61}) AS BIGINT) AS mh_{i}"
        for i, (a, b) in enumerate(MINHASH_PERMS_16)
    )
    band_keys = []
    for band in range(4):
        cols = [f"mh_{band * 4 + r}" for r in range(4)]
        band_keys.append("(" + " AND ".join(f"x.{c} = y.{c}" for c in cols) + ")")
    band_join = " OR ".join(band_keys)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
  FROM documents
), hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)::HUGEINT AS h
  FROM toks
), sigs AS (
  SELECT doc_id, {mh_cols} FROM hashed GROUP BY doc_id
), cand AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id AND ({band_join})
), tsets AS (
  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS t FROM documents
)
SELECT id_a, id_b,
       ROUND(CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
             / len(list_distinct(list_concat(ta.t, tb.t))), 6) AS jaccard
FROM cand JOIN tsets ta ON cand.id_a = ta.doc_id
          JOIN tsets tb ON cand.id_b = tb.doc_id
WHERE CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
      / len(list_distinct(list_concat(ta.t, tb.t))) >= 0.5
"""


def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup (ops/dedup.py). md5-bit majority vote in
    a pandas UDF; the pigeonhole band join is a complete Hamming-8 cover, so
    the oracle is the brute-force hamming filter over SQL-rebuilt signatures
    (hash-checked)."""
    from automatedreclin_spark.ops.dedup import simhash_dedup

    docs = _t(spark, sf_dir, "documents")
    return simhash_dedup(docs, "doc_id", "text", max_hamming=8)


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (ops/textstats.py) reduced to per-doc scalars
    (count / min / max of the fingerprint set — order-insensitive), hash-
    checked against a DuckDB rebuild of the same md5 k-gram arithmetic."""
    from automatedreclin_spark.ops.textstats import fingerprint

    docs = _t(spark, sf_dir, "documents")
    fp = fingerprint(docs, "doc_id", "text", k=5, window=4)
    return fp.select(
        "id",
        "n_fingerprints",
        F.array_min("fingerprints").alias("fp_min"),
        F.array_max("fingerprints").alias("fp_max"),
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (ops/textstats.py) — deterministic marker
    counting, mirrored exactly in the DuckDB oracle (hash-checked); accuracy
    vs the lang column additionally asserted in tests."""
    from automatedreclin_spark.ops.textstats import language_id

    docs = _t(spark, sf_dir, "documents")
    return language_id(docs, "doc_id", "text")


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k (ops/similarity.py). The result is inherently
    approximate (driver-sampled Lloyd centroids), so — like the iterative MEC
    fits — the query emits its CONTRACT as an invariant table:

    - structural zeros computed from the IVF result against an in-query
      brute-force rerun: exactly k rows per query, contiguous ranks, no IVF
      cosine above the brute cosine at the same rank (IVF ⊆ exact candidate
      space), overall recall@k ≥ 0.5 (observed ~0.73 at both test SFs);
    - data-dependent anchors DuckDB recomputes independently: n_queries and,
      per query, the brute-force k-th cosine (rounded) and the brute top-k
      neighbor-id sum — pinning the exactness yardstick itself.
    """
    from automatedreclin_spark.ops.similarity import brute_force_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    corpus = emb.filter(F.col("vec_id") >= 10)
    k = 3
    ivf = ivf_topk(queries, corpus, k=k, n_centroids=8, n_probe=4).toPandas()
    brute = brute_force_topk(queries, corpus, k=k).toPandas()
    n_queries = queries.count()

    rows_minus = float(len(ivf) - k * n_queries)
    rank_viol = float(
        (ivf.groupby("query_id")["rank"].sum() != k * (k + 1) // 2).sum())
    merged = ivf.merge(brute, on=["query_id", "rank"], suffixes=("_ivf", "_bf"))
    margin_viol = float((merged["cosine_ivf"] > merged["cosine_bf"] + 1e-9).sum())
    hits = ivf.merge(brute, on=["query_id", "neighbor_id"])
    recall = len(hits) / float(k * n_queries)
    out = [
        ("ivf_rows_minus_k_per_query", rows_minus),
        ("rank_contiguity_violations", rank_viol),
        ("margin_violations", margin_viol),
        ("overall_recall_floor_ok", 1.0 if recall >= 0.5 else 0.0),
        ("n_queries", float(n_queries)),
    ]
    kth = brute[brute["rank"] == k]
    for r in kth.itertuples():
        out.append((f"brute_k{k}_cos_q{r.query_id}", round(r.cosine, 5)))
    nbr = brute.groupby("query_id")["neighbor_id"].sum()
    for qid, s in nbr.items():
        out.append((f"brute_top{k}_nbr_sum_q{qid}", float(s)))
    return _invariant_df(spark, out)


QUERIES.update({
    "text_quality": q_text_quality,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "simhash_dedup": q_simhash_dedup,
    "doc_fingerprints": q_doc_fingerprints,
    "language_id": q_language_id,
    "ann_ivf_topk": q_ann_ivf_topk,
})

# SimHash is md5-derived and fully deterministic, so it IS SQL-expressible:
# rebuild the 64-bit signature in DuckDB (two-part hex → HUGEINT assembly,
# per-bit ±1 majority vote over distinct tokens), then — because the
# pigeonhole band join is a COMPLETE cover of the Hamming-8 ball — the pair
# set equals the brute-force hamming(sig_a, sig_b) ≤ 8 filter.
_SIMHASH_SIG_SQL = """
sig_raw AS (
  SELECT doc_id,
         SUM(bit::HUGEINT << j) AS s
  FROM (
    SELECT doc_id, j,
           CASE WHEN SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) > 0
                THEN 1 ELSE 0 END AS bit
    FROM (
      SELECT doc_id,
             (('0x'||substr(md5(tok),1,8))::BIGINT::HUGEINT * 4294967296
              + ('0x'||substr(md5(tok),9,8))::BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))) AS tok
        FROM documents WHERE length(trim(text)) > 0
      )
    ) hashed CROSS JOIN (SELECT unnest(range(64)) AS j) js
    GROUP BY doc_id, j
  ) bits
  GROUP BY doc_id
),
sigs AS (
  SELECT d.doc_id,
         CAST(CASE WHEN s >= 9223372036854775808::HUGEINT
                   THEN s - 18446744073709551616::HUGEINT
                   ELSE COALESCE(s, 0) END AS BIGINT) AS simhash
  FROM documents d LEFT JOIN sig_raw USING (doc_id)
)
"""

ORACLE_SIMHASH_DEDUP = f"""
WITH {_SIMHASH_SIG_SQL}
SELECT x.doc_id AS id_a, y.doc_id AS id_b,
       bit_count(xor(x.simhash, y.simhash)) AS hamming
FROM sigs x JOIN sigs y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.simhash, y.simhash)) <= 8
"""

# Winnowing is pure md5 arithmetic over k-gram windows — reproducible in
# DuckDB with list_transform/list_slice mirroring the staged Catalyst arrays.
ORACLE_DOC_FINGERPRINTS = """
WITH staged AS (
  SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks FROM documents
), kg AS (
  SELECT doc_id,
    list_transform(range(0, greatest(len(toks)-5, 0)+1),
      i -> ('0x'||substr(md5(array_to_string(list_slice(toks, i+1, i+5), ' ')),1,15))::BIGINT
           % 2305843009213693951) AS kgh
  FROM staged
), mins AS (
  SELECT doc_id,
    list_distinct(list_transform(range(0, greatest(len(kgh)-4, 0)+1),
      i -> list_min(list_slice(kgh, i+1, i+4)))) AS fps
  FROM kg
)
SELECT doc_id AS id, len(fps) AS n_fingerprints,
       list_min(fps) AS fp_min, list_max(fps) AS fp_max
FROM mins
"""


def _language_id_oracle() -> str:
    """The language-ID heuristic is deterministic marker counting — mirror it
    in SQL, including Python's dict-order tie-break (en > de > fr > es) and
    the CJK codepoint-share early exit."""
    from automatedreclin_spark.ops.textstats import _LANG_MARKERS

    marker_scores = ", ".join(
        f"len(list_filter(toks, t -> list_contains({mk!r}, t)))::DOUBLE"
        f" / greatest(len(toks), 1) AS s_{lang}"
        for lang, mk in _LANG_MARKERS.items()
    )
    return f"""
WITH base AS (
  SELECT doc_id AS id, text,
         length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS cjk,
         length(text) AS n,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS toks
  FROM documents
), scored AS (
  SELECT id, cjk, n, {marker_scores} FROM base
)
SELECT id,
  CASE WHEN n IS NULL OR n = 0 THEN 'und'
       WHEN cjk::DOUBLE / greatest(n, 1) > 0.2 THEN 'zh'
       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       WHEN s_fr >= s_es THEN 'fr'
       ELSE 'es' END AS lang_pred,
  CASE WHEN n IS NULL OR n = 0 THEN 0.0
       WHEN cjk::DOUBLE / greatest(n, 1) > 0.2 THEN ROUND(cjk::DOUBLE / n, 6)
       ELSE ROUND(greatest(s_en, s_de, s_fr, s_es), 6) END AS lang_conf
FROM scored
"""


# The ANN invariant anchors mirror Spark's cosine formula exactly:
# dot/(sqrt(dot(q,q))*sqrt(dot(c,c))) over double-cast vectors (same fold
# order → bit-identical), with the same (cosine DESC, neighbor_id ASC)
# deterministic rank tie-break as brute_force_topk.
ORACLE_ANN_IVF_INVARIANTS = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id >= 10
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qv, cv)
         / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
         AS cos
  FROM q CROSS JOIN c
), ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS r
  FROM scored
), top AS (SELECT * FROM ranked WHERE r <= 3)
SELECT 'ivf_rows_minus_k_per_query' AS metric, 0.0 AS value
UNION ALL SELECT 'rank_contiguity_violations', 0.0
UNION ALL SELECT 'margin_violations', 0.0
UNION ALL SELECT 'overall_recall_floor_ok', 1.0
UNION ALL SELECT 'n_queries', (SELECT COUNT(*) FROM q)::DOUBLE
UNION ALL SELECT 'brute_k3_cos_q' || query_id, ROUND(cos, 5) FROM top WHERE r = 3
UNION ALL SELECT 'brute_top3_nbr_sum_q' || query_id, SUM(neighbor_id)::DOUBLE
          FROM top GROUP BY query_id
"""


ORACLES.update({
    "text_quality": ORACLE_TEXT_QUALITY,
    "minhash_lsh_dedup": _minhash_lsh_oracle(),
    "simhash_dedup": ORACLE_SIMHASH_DEDUP,
    "doc_fingerprints": ORACLE_DOC_FINGERPRINTS,
    "language_id": _language_id_oracle(),
    "ann_ivf_topk": ORACLE_ANN_IVF_INVARIANTS,
})


# ------------------------------------------------ clustering / model paths ---

def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: connected components
    (operators/clustering.py large-star/small-star) over the LSH-verified
    near-dup pair graph. Oracle = recursive-CTE min-label closure in DuckDB."""
    from automatedreclin_spark.operators.clustering import connected_components
    from automatedreclin_spark.ops.dedup import minhash_dedup

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_dedup(docs, "doc_id", "text", n_hashes=16, bands=4, threshold=0.5)
    comp = connected_components(pairs.select(
        F.col("id_a").alias("u"), F.col("id_b").alias("v")
    ))
    return comp.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))


def _dedup_clusters_oracle(rounds: int = 16) -> str:
    """Connected components as unrolled min-label propagation (NOT a
    transitive-closure recursive CTE): round k relabels every node with the
    min label over itself and its neighbors, so each round is one hash join
    + group-by over the edge list — O(rounds x |E|) total. The old
    ``reach(id, r)`` closure materializes O(sum component_size^2) rows, which
    is fine at sf0.01 (61k pairs / 500 docs) but unrunnable at sf0.1's
    near-clique density (6M pairs / 5k docs => ~25M closure rows ground
    through DuckDB's mostly single-threaded recursion).

    Min-label propagation needs component-diameter rounds; LSH similarity
    graphs are shallow (bucket cliques chained by shared members), so 16 is
    generous. Convergence is ASSERTED, not assumed: if the last two rounds
    differ on any node, a poison row (-1, -1) is emitted so the driver's
    row-count/hash compare fails loudly instead of blessing a half-converged
    labeling."""
    pair_sql = _minhash_lsh_oracle()
    stages = []
    for k in range(1, rounds + 1):
        # AS MATERIALIZED throughout: DuckDB 1.0 inlines plain CTEs at every
        # reference, so without it each round re-evaluates the whole minhash
        # pair rebuild (measured 15x slower end-to-end).
        stages.append(
            f"l{k} AS MATERIALIZED (SELECT e.u AS id, MIN(l.label) AS label "
            f"FROM edges e JOIN l{k - 1} l ON l.id = e.v GROUP BY e.u)"
        )
    stage_sql = ",\n".join(stages)
    return f"""
WITH pairs AS MATERIALIZED ({pair_sql}),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b AS u, id_a AS v FROM pairs
  UNION ALL
  SELECT DISTINCT id_a AS u, id_a AS v FROM pairs
  UNION ALL
  SELECT DISTINCT id_b AS u, id_b AS v FROM pairs
),
l0 AS MATERIALIZED (SELECT DISTINCT u AS id, u AS label FROM edges),
{stage_sql},
conv AS (
  SELECT count(*) AS n_unconverged
  FROM l{rounds} a JOIN l{rounds - 1} b ON a.id = b.id
  WHERE a.label <> b.label
)
SELECT id AS doc_id, label AS cluster_id FROM l{rounds}
UNION ALL
SELECT -1 AS doc_id, -1 AS cluster_id FROM conv WHERE n_unconverged > 0
"""


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


QUERIES.update({
    "dedup_clusters": q_dedup_clusters,
    "blocked_mec_customer": q_blocked_mec_customer,
    "supervised_predict": q_supervised_predict,
    "supervised_predict_ratio2": q_supervised_predict_ratio2,
})
ORACLES.update({
    "dedup_clusters": _dedup_clusters_oracle(),
    "mec_binary_customer": ORACLE_MEC_INVARIANTS,
    "blocked_mec_customer": ORACLE_BLOCKED_MEC_INVARIANTS,
    "supervised_predict": ORACLE_SUPERVISED_INVARIANTS,
    "supervised_predict_ratio2": ORACLE_SUPERVISED_RATIO2,
})


def q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact baseline, oracle-checked; the
    LSH variant is validated against this in tests)."""
    from automatedreclin_spark.ops.dedup import embedding_cosine_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_dedup(emb, "vec_id", "embedding",
                                  threshold=0.35, exact=True)


ORACLE_EMBEDDING_DEDUP = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT x.vec_id AS id_a, y.vec_id AS id_b,
       ROUND(list_dot_product(x.v, y.v)
             / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cosine
FROM e x JOIN e y ON x.vec_id < y.vec_id
WHERE list_dot_product(x.v, y.v)
      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.35
"""

QUERIES["embedding_dedup"] = q_embedding_dedup
ORACLES["embedding_dedup"] = ORACLE_EMBEDDING_DEDUP


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


QUERIES["score_ratio_fixed_params"] = q_score_ratio_fixed_params
ORACLES["score_ratio_fixed_params"] = _score_ratio_oracle()


# ---------------------- r4: T6 alpha path / flr bisection / dups-in-A -------
#
# These three queries exist so CORRECTNESS and BENCH gate the library's
# scale paths every round (VERDICT r3 #4): the alpha U-drop's sketch
# retention (T6, internals.R:1831-1839), the flr/mmr DISTRIBUTED threshold
# bisection (forced via exact_collect_max=0), and the duplicates_in_A
# selection mode. Each emits its structural contract as an invariant table
# plus data-dependent anchors DuckDB recomputes independently.

def q_blocked_mec_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked inverted MEC with alpha=0.25 and a continuous name gamma —
    every iteration past the first runs the ranked U-retention
    (retain_top_n sketch cut over the continuous q_est scores). Contract:
    the blocked-MEC structural invariants PLUS the alpha arithmetic of
    internals.R:1824-1839 — n_U_fit = n_U − floor(alpha·n_U) on every
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


QUERIES.update({
    "blocked_mec_alpha": q_blocked_mec_alpha,
    "mec_flr_customer": q_mec_flr_customer,
    "blocked_mec_dups": q_blocked_mec_dups,
})
ORACLES.update({
    "blocked_mec_alpha": ORACLE_BLOCKED_MEC_ALPHA,
    "mec_flr_customer": ORACLE_MEC_FLR,
    "blocked_mec_dups": ORACLE_BLOCKED_MEC_DUPS,
})
