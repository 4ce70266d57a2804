"""Blocking: scalable candidate generation (SURVEY.md §2.7).

The reference delegates to the external `blocking` package (shingles → ANN →
graph components, ``run_blocking`` internals.R:635-645) and then re-validates
the result into DISJOINT blocks (``reconstruct_block_summary``
internals.R:668-715). At 10^12-file scale an ANN graph is the wrong tool; the
north rule prescribes *derived deterministic keys*: ``(lang, minhash bucket of
path tokens)`` — pure narrow column work, no shuffle until the block join.

Skew control (the `python`-dominated lang in the fixture is deliberate):
- AQE skew-join splitting handles moderate skew automatically;
- :func:`salt_blocks` decomposes pathological blocks: the A side gets a
  random-but-deterministic salt, the B side replicates over all salts —
  classic salted-join replication, bounded by ``n_salts``;
- :func:`cap_blocks` drops/flags blocks whose pair count exceeds a budget
  (mirroring the reference's excluded-records reporting,
  internals.R:706-709).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Mersenne prime modulus of the minhash permutations.
MERSENNE_61 = (1 << 61) - 1

_DEFAULT_PERMS = [
    (1_000_003, 12_345),
    (999_983, 54_321),
    (1_000_033, 77_777),
    (999_979, 13_579),
]


def token_hash_expr(tok):
    """Shared 60-bit token hash: first 15 hex digits of md5 as an integer.
    Deterministic across engines (same value in DuckDB via
    ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("decimal(38,0)")


def minhash_bucket_expr(tokens_col, n_buckets: int, perm: tuple[int, int] = _DEFAULT_PERMS[0]):
    """min over tokens of a universal hash, bucketed — a single narrow
    expression (no explode/shuffle): array_min(transform(tokens, h))."""
    a, b = perm
    hashed = F.transform(
        tokens_col,
        lambda t: ((F.lit(a) * token_hash_expr(t) + F.lit(b)) % F.lit(MERSENNE_61)),
    )
    return (F.array_min(hashed) % n_buckets).cast("long")


def files_blocking_key(df: DataFrame, n_buckets: int = 1024,
                       path_col: str = "path", lang_col: str = "lang") -> DataFrame:
    """The north-star blocking key for the repo-file table:
    block = xxhash64(lang, minhash_bucket(path tokens)).

    Path tokens = directory components + basename split on [._-]; the minhash
    makes small typos in one token still collide on the bucket chosen by the
    minimum, giving fuzzy recall without an ANN graph."""
    tokens = F.split(F.regexp_replace(F.col(path_col), r"[._\-/]+", " "), r"\s+")
    bucket = minhash_bucket_expr(tokens, n_buckets)
    return df.withColumn("block", F.xxhash64(F.col(lang_col), bucket))


def multi_probe_blocking_keys(
    df: DataFrame,
    id_col: str,
    n_buckets: int = 1024,
    n_probes: int = 2,
    path_col: str = "path",
    lang_col: str = "lang",
) -> DataFrame:
    """Multi-probe variant: one row per (record, probe) with block =
    xxhash64(lang, probe_idx, minhash_bucket_probe). Union of per-probe
    candidate pairs raises recall (standard LSH banding); pairs are
    deduplicated downstream on (a, b). Returns (id, block) assignments."""
    tokens = F.split(F.regexp_replace(F.col(path_col), r"[._\-/]+", " "), r"\s+")
    assignments = []
    for i in range(n_probes):
        perm = _DEFAULT_PERMS[i % len(_DEFAULT_PERMS)]
        bucket = minhash_bucket_expr(tokens, n_buckets, perm)
        assignments.append(
            df.select(
                F.col(id_col),
                F.xxhash64(F.col(lang_col), F.lit(i), bucket).alias("block"),
            )
        )
    out = assignments[0]
    for other in assignments[1:]:
        out = out.unionByName(other)
    return out


def files_candidate_blocks(
    df: DataFrame,
    id_col: str,
    n_buckets: int = 1024,
    path_probes: int = 2,
    content_probes: int = 2,
    path_col: str = "path",
    lang_col: str = "lang",
    content_col: str = "content",
) -> DataFrame:
    """Candidate-generation blocks for the repo-file table: multi-probe
    minhash buckets over BOTH path tokens and content tokens, namespaced by
    probe index. Content probes catch renamed files (same text, new path);
    path probes catch edited files (same path, new text). Returns (id, block)
    assignments — NOT disjoint; downstream pair generation dedups on (a, b).
    """
    path_tokens = F.split(F.regexp_replace(F.col(path_col), r"[._\-/]+", " "), r"\s+")
    content_tokens = F.split(F.col(content_col), r"\s+")
    assignments = []
    for i in range(path_probes):
        perm = _DEFAULT_PERMS[i % len(_DEFAULT_PERMS)]
        bucket = minhash_bucket_expr(path_tokens, n_buckets, perm)
        assignments.append(df.select(
            F.col(id_col),
            F.xxhash64(F.col(lang_col), F.lit(i), bucket).alias("block"),
        ))
    for i in range(content_probes):
        perm = _DEFAULT_PERMS[(i + path_probes) % len(_DEFAULT_PERMS)]
        bucket = minhash_bucket_expr(content_tokens, n_buckets, perm)
        assignments.append(df.select(
            F.col(id_col),
            F.xxhash64(F.col(lang_col), F.lit(100 + i), bucket).alias("block"),
        ))
    out = assignments[0]
    for other in assignments[1:]:
        out = out.unionByName(other)
    return out


@dataclass
class BlockSummary:
    summary: DataFrame      # (block, n_a, n_b, pair_count, nonmatches_min)
    candidate_pair_count: int
    nu: int                 # Σ min(n_a, n_b) — upper bound on within-block matches
    excluded_a: int         # A records in no shared block
    excluded_b: int


def block_summary(A_blocked: DataFrame, B_blocked: DataFrame,
                  block_col: str = "block") -> BlockSummary:
    """Per-block sizes and pair counts (reference ``reconstruct_block_summary``
    internals.R:699-704) — normalized representation (one row per block),
    which scales where collect_list of member ids would not."""
    a_counts = A_blocked.groupBy(block_col).agg(F.count(F.lit(1)).alias("n_a"))
    b_counts = B_blocked.groupBy(block_col).agg(F.count(F.lit(1)).alias("n_b"))
    joined = a_counts.join(b_counts, block_col, "full")
    summary = joined.select(
        block_col,
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
    ).withColumns({
        "pair_count": F.col("n_a") * F.col("n_b"),
        "nonmatches_min": F.col("n_a") * F.col("n_b") - F.least("n_a", "n_b"),
    })
    totals = summary.agg(
        F.sum("pair_count").alias("pairs"),
        F.sum(F.when((F.col("n_a") > 0) & (F.col("n_b") > 0),
                     F.least("n_a", "n_b")).otherwise(0)).alias("nu"),
        F.sum(F.when(F.col("n_b") == 0, F.col("n_a")).otherwise(0)).alias("ex_a"),
        F.sum(F.when(F.col("n_a") == 0, F.col("n_b")).otherwise(0)).alias("ex_b"),
    ).collect()[0]
    return BlockSummary(
        summary=summary,
        candidate_pair_count=int(totals["pairs"] or 0),
        nu=int(totals["nu"] or 0),
        excluded_a=int(totals["ex_a"] or 0),
        excluded_b=int(totals["ex_b"] or 0),
    )


def assert_disjoint_blocks(assignments: DataFrame, id_col: str,
                           block_col: str = "block") -> None:
    """Disjointness check: a record in >1 block is an error for the blocked
    MEC (reference internals.R:694-697)."""
    dup = (
        assignments.groupBy(id_col)
        .agg(F.count_distinct(block_col).alias("n_blocks"))
        .filter(F.col("n_blocks") > 1)
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError("Blocking must assign each record to at most one block.")


def salt_blocks(
    A_blocked: DataFrame,
    B_blocked: DataFrame,
    hot_blocks: DataFrame,
    n_salts: int = 8,
    a_col: str = "a",
    block_col: str = "block",
) -> tuple[DataFrame, DataFrame]:
    """Explicit salting for pathological blocks: A rows in a hot block get
    ``salted_block = hash(block, xxhash64(a) % n_salts)``; B rows in a hot
    block are REPLICATED across all salts. Non-hot blocks pass through with
    salt 0. Join on ``salted_block`` afterwards; results are identical to the
    unsalted join (every original (a,b) pair co-occurs in exactly one salted
    block)."""
    hot = F.broadcast(hot_blocks.select(F.col(block_col)).withColumn("_hot", F.lit(True)))

    # NB: xxhash64 is input-type-sensitive — keep salt LongType on BOTH sides.
    a_side = A_blocked.join(hot, block_col, "left").withColumn(
        "salt",
        F.when(F.col("_hot").isNotNull(),
               F.pmod(F.xxhash64(F.col(a_col)), F.lit(n_salts)))
        .otherwise(F.lit(0)).cast("long"),
    ).drop("_hot")

    salts = F.array([F.lit(i).cast("long") for i in range(n_salts)])
    b_side = (
        B_blocked.join(hot, block_col, "left")
        .withColumn(
            "_salts",
            F.when(F.col("_hot").isNotNull(), salts)
            .otherwise(F.array(F.lit(0).cast("long"))),
        )
        .withColumn("salt", F.explode("_salts"))
        .drop("_hot", "_salts")
    )
    mk = lambda df: df.withColumn("salted_block", F.xxhash64(F.col(block_col), F.col("salt"))).drop("salt")
    return mk(a_side), mk(b_side)


def find_hot_blocks(summary: DataFrame, max_pairs_per_block: int) -> DataFrame:
    """Blocks whose pair count exceeds the budget → candidates for salting."""
    return summary.filter(F.col("pair_count") > max_pairs_per_block).select("block")


def cap_blocks(summary: DataFrame, max_pairs_per_block: int,
               report: Observation | None = None) -> tuple[DataFrame, DataFrame]:
    """Split the block summary into (kept, dropped-oversized). Dropped blocks
    are reported like the reference's excluded records rather than silently
    exploding the shuffle. ``report`` observes their number and pair total
    (``dropped_blocks``, ``dropped_pairs``) while the kept side is
    evaluated, so reporting costs no extra job."""
    over = F.col("pair_count") > max_pairs_per_block
    if report is not None:
        summary = summary.observe(
            report,
            F.count(F.when(over, 1)).alias("dropped_blocks"),
            F.coalesce(F.sum(F.when(over, F.col("pair_count"))), F.lit(0))
            .alias("dropped_pairs"),
        )
    return summary.filter(~over), summary.filter(over)
