import pandas as pd
import pytest
from pyspark.sql import functions as F

from automatedreclin_spark.fixtures import synth_files
from automatedreclin_spark.operators.blocking import (
    assert_disjoint_blocks,
    block_summary,
    cap_blocks,
    files_candidate_blocks,
)
from automatedreclin_spark.operators.pairs import block_pairs


@pytest.fixture(scope="module")
def corpus(spark):
    return synth_files(spark, n_a=200, n_b=400, seed=11)


def _path_probes(A, B, n_probes):
    """Candidate pairs from ``n_probes`` path probes alone (no content)."""
    ba = files_candidate_blocks(A, "a", n_buckets=256, path_probes=n_probes, content_probes=0)
    bb = files_candidate_blocks(B, "b", n_buckets=256, path_probes=n_probes, content_probes=0)
    return block_pairs(ba, bb).select("a", "b")


def test_files_blocking_key_recall(corpus):
    """Exact duplicates must always collide; fuzzy (typo'd basename) should
    mostly collide — minhash over path tokens tolerates single-token edits."""
    A, B, labels = corpus
    pairs = _path_probes(A, B, 1)
    kept = labels.join(pairs, ["a", "b"], "left_semi").count()
    total = labels.count()
    # exact dups = first 30 labels (15%), fuzzy = next 50 (25%)
    exact = labels.filter(F.col("a") <= 30)
    kept_exact = exact.join(pairs, ["a", "b"], "left_semi").count()
    assert kept_exact == exact.count(), "exact duplicates must share a block"
    assert kept / total >= 0.6, f"single-probe blocking recall too low: {kept}/{total}"


def test_files_candidate_blocks_recall(corpus):
    """Path+content multi-probe blocking: near-total recall on exact AND
    fuzzy duplicates at a fraction of the full pair space."""
    A, B, labels = corpus
    ba = files_candidate_blocks(A, "a", n_buckets=256)
    bb = files_candidate_blocks(B, "b", n_buckets=256)
    pairs = block_pairs(ba, bb)
    kept = labels.join(pairs.select("a", "b"), ["a", "b"], "left_semi").count()
    total = labels.count()
    n_pairs = pairs.count()
    assert kept / total >= 0.9, f"candidate recall too low: {kept}/{total}"
    assert n_pairs < 200 * 400 / 2, "candidate space should be well under the cross product"


def test_multi_probe_improves_recall(corpus):
    A, B, labels = corpus
    r1 = labels.join(_path_probes(A, B, 1), ["a", "b"], "left_semi").count()
    r3 = labels.join(_path_probes(A, B, 3), ["a", "b"], "left_semi").count()
    assert r3 >= r1


def test_block_summary_and_caps(spark):
    A = spark.createDataFrame(pd.DataFrame({"a": [1, 2, 3, 4], "block": [1, 1, 2, 3]}))
    B = spark.createDataFrame(pd.DataFrame({"b": [1, 2, 3], "block": [1, 2, 9]}))
    s = block_summary(A, B)
    rows = {r["block"]: r.asDict() for r in s.summary.collect()}
    assert rows[1]["pair_count"] == 2 and rows[1]["nonmatches_min"] == 1
    assert rows[2]["pair_count"] == 1
    assert s.candidate_pair_count == 3
    assert s.nu == 2  # min(2,1) + min(1,1)
    assert s.excluded_a == 1  # block 3 has no B
    assert s.excluded_b == 1  # block 9 has no A
    kept, dropped = cap_blocks(s.summary, max_pairs_per_block=1)
    assert dropped.count() == 1  # block 1 (2 pairs) over budget


def test_disjointness_check(spark):
    ok = spark.createDataFrame(pd.DataFrame({"id": [1, 2], "block": [1, 2]}))
    assert_disjoint_blocks(ok, "id")
    bad = spark.createDataFrame(pd.DataFrame({"id": [1, 1], "block": [1, 2]}))
    with pytest.raises(ValueError, match="at most one block"):
        assert_disjoint_blocks(bad, "id")
