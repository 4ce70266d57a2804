"""Blocking: scalable candidate generation (SURVEY.md §2.7).

The reference delegates to the external `blocking` package (shingles → ANN →
graph components, ``run_blocking`` internals.R:635-645) and then re-validates
the result into DISJOINT blocks (``reconstruct_block_summary``
internals.R:668-715). At 10^12-file scale an ANN graph is the wrong tool; the
north rule prescribes *derived deterministic keys*: ``(lang, probe, minhash
bucket of path or content tokens)`` — pure narrow column work, no shuffle
until the block join.

Skew control (the `python`-dominated lang in the fixture is deliberate):
:func:`cap_blocks` drops every block whose pair count exceeds a budget and
reports how many blocks and pairs it dropped (mirroring the reference's
excluded-records reporting, internals.R:706-709); the blocks it keeps are
joined as they are, and AQE's skew-join splitting
(``session.ENGINE_CONF``) splits the skewed partitions of that join. No
block is salted.

:func:`files_candidate_blocks` and :func:`cap_blocks` are the Spark plan of
the pipeline's candidate stage. :func:`files_candidate_pairs_local` is its
driver form, for record sets that fit on the driver: it streams the record
snapshots one pyarrow batch at a time, computes the same ``(id, block)``
assignments in numpy, bit-identical to Spark's (Java's ``\\s``, exact
Mersenne arithmetic, Spark's xxhash64), and caps and expands the blocks
with pandas.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: The characters a path is split on, besides whitespace.
_PATH_SEPS = r"[._\-/]+"

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
    path_tokens = F.split(F.regexp_replace(F.col(path_col), _PATH_SEPS, " "), r"\s+")
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


# --- the driver form of files_candidate_blocks + cap_blocks + block_pairs ---

#: Java's ``\s``, which Spark's ``split`` uses: RE2's ``\s`` lacks ``\x0b``,
#: and Python's also matches Unicode spaces such as U+00A0 and U+2003.
_JAVA_WS = r"[ \t\n\x0b\f\r]+"
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                           0x165667B19E3779F9, 0x85EBCA77C2B2AE63,
                           0x27D4EB2F165667C5)
#: Spark's xxhash64 seed.
_XXH_SEED = 42

# The XXH64 helpers take a Python int or a numpy uint64 array: ``& _M64``
# wraps the one like numpy's arithmetic wraps the other.


def _rotl(x, r: int):
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc, lane):
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh_fmix(h):
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned int: Spark's ``hashUnsafeBytes``,
    and over the 4 little-endian bytes of an int its ``hashInt``."""
    n, i = len(data), 0

    def word(j: int, width: int) -> int:
        return int.from_bytes(data[j:j + width], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed, (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_xxh_round(x, word(i + 8 * k, 8)) for k, x in enumerate(v)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _xxh_round(0, word(i, 8)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (word(i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h = _rotl(h ^ (byte * _P5 & _M64), 11) * _P1 & _M64
    return _xxh_fmix(h)


def _xxh64_long(x: np.ndarray, seed: np.ndarray) -> np.ndarray:
    """Spark's ``XXH64.hashLong`` of each uint64 ``x`` under its ``seed``."""
    h = (seed + (_P5 + 8)) ^ _xxh_round(0, x)
    return _xxh_fmix(_rotl(h, 27) * _P1 + _P4)


def _affine_mod61(a: int, b: int, x: np.ndarray) -> np.ndarray:
    """(a·x + b) mod 2^61−1 for uint64 ``x`` < 2^61 and ints ``a``, ``b``
    < 2^61, exact in uint64: 31-bit halves, and 2^61 ≡ 1 folds the high
    parts down (2^62 ≡ 2, m·2^61 ≡ m)."""
    u, m31 = np.uint64, (1 << 31) - 1
    x0, x1 = x & u(m31), x >> u(31)
    mid = u(a >> 31) * x0 + u(a & m31) * x1                      # < 2^62
    s = (u(2 * (a >> 31)) * x1                                   # < 2^61
         + (mid >> u(30)) + ((mid & u((1 << 30) - 1)) << u(31))  # < 2^61 + 2^32
         + u(a & m31) * x0 + u(b))                               # < 2^62 + 2^61
    s = (s & u(MERSENNE_61)) + (s >> u(61))                      # < 2^61 + 8
    return np.where(s >= u(MERSENNE_61), s - u(MERSENNE_61), s)


def _min_hash_buckets(tokens: pa.ListArray, perms: list[tuple[int, int]],
                      n_buckets: int) -> tuple[np.ndarray, list[np.ndarray]]:
    """:func:`minhash_bucket_expr` over each record's tokens, for each perm:
    the mask of records with tokens (a NULL list has no bucket) and a uint64
    bucket per such record. Each distinct token is md5-hashed once."""
    valid = tokens.is_valid().to_numpy(zero_copy_only=False)
    lengths = pc.list_value_length(tokens).filter(tokens.is_valid()).to_numpy()
    starts = np.cumsum(lengths) - lengths
    codes = tokens.flatten().dictionary_encode()
    hashes = np.array([int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                       for t in codes.dictionary.to_pylist()], dtype=np.uint64)
    idx = codes.indices.to_numpy()
    buckets = []
    for a, b in perms:
        mins = (np.minimum.reduceat(_affine_mod61(a, b, hashes)[idx], starts)
                if len(starts) else np.zeros(0, np.uint64))
        buckets.append(mins % np.uint64(n_buckets))
    return valid, buckets


def files_candidate_blocks_local(
    batches: Iterable[pa.RecordBatch],
    id_col: str,
    n_buckets: int = 1024,
    path_probes: int = 2,
    content_probes: int = 2,
) -> tuple[np.ndarray, np.ndarray] | None:
    """:func:`files_candidate_blocks` on the driver, one record batch (with
    ``id_col``, ``path``, ``lang`` and ``content``) at a time: the same
    ``(id, block)`` assignments, bit for bit and as a multiset, as two
    arrays. None when an id is NULL, which Spark's pairs keep and the
    arrays cannot hold."""
    n_perms = len(_DEFAULT_PERMS)
    path_perms = [(i, _DEFAULT_PERMS[i % n_perms]) for i in range(path_probes)]
    content_perms = [(100 + i, _DEFAULT_PERMS[(i + path_probes) % n_perms])
                     for i in range(content_probes)]
    ids, blocks = [], []
    for batch in batches:
        if batch.column(id_col).null_count:
            return None
        langs = batch.column("lang").dictionary_encode()
        # xxhash64 skips a NULL input: a NULL lang takes the seed as is.
        lang_seeds = [_xxh64(lang.encode(), _XXH_SEED)
                      for lang in langs.dictionary.to_pylist()] + [_XXH_SEED]
        lang_idx = langs.indices.fill_null(len(lang_seeds) - 1).to_numpy()
        path = pc.replace_substring_regex(batch.column("path"), _PATH_SEPS, " ")
        for text, probes in ((path, path_perms), (batch.column("content"), content_perms)):
            if not probes:
                continue
            valid, buckets = _min_hash_buckets(pc.split_pattern_regex(text, _JAVA_WS),
                                               [perm for _, perm in probes], n_buckets)
            for (probe, _), bucket in zip(probes, buckets):
                block = np.array([_xxh64(probe.to_bytes(4, "little", signed=True), seed)
                                  for seed in lang_seeds], dtype=np.uint64)[lang_idx]
                # A NULL bucket is skipped too.
                block[valid] = _xxh64_long(bucket, block[valid])
                ids.append(batch.column(id_col).to_numpy())
                blocks.append(block.view(np.int64))
    if not ids:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(ids), np.concatenate(blocks)


def files_candidate_pairs_local(
    blocks_a: tuple[np.ndarray, np.ndarray],
    blocks_b: tuple[np.ndarray, np.ndarray],
    max_pairs_per_block: int,
    max_pairs: int,
) -> tuple[pd.DataFrame, int, int] | None:
    """:func:`cap_blocks` and the deduplicated :func:`block_pairs` join over
    two sides' ``(ids, blocks)`` on the driver: the kept ``(a, b)`` pairs
    sorted, with the dropped blocks' number and pair total. None when the
    kept blocks hold ``max_pairs`` pairs or more before deduplication."""
    (ids_a, blk_a), (ids_b, blk_b) = blocks_a, blocks_b
    ua, ca = np.unique(blk_a, return_counts=True)
    ub, cb = np.unique(blk_b, return_counts=True)
    shared, ia, ib = np.intersect1d(ua, ub, assume_unique=True, return_indices=True)
    n_pairs = ca[ia] * cb[ib]
    over = n_pairs > max_pairs_per_block
    if n_pairs[~over].sum() >= max_pairs:
        return None
    kept = shared[~over]
    a = pd.DataFrame({"block": blk_a, "a": ids_a})[np.isin(blk_a, kept)]
    b = pd.DataFrame({"block": blk_b, "b": ids_b})[np.isin(blk_b, kept)]
    pairs = (a.merge(b, on="block")[["a", "b"]].drop_duplicates()
             .sort_values(["a", "b"], ignore_index=True))
    return pairs, int(over.sum()), int(n_pairs[over].sum())


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
