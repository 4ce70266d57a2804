"""Property-based robustness tests (hypothesis)."""

import numpy as np
from hypothesis import example, given, settings, strategies as st

from automatedreclin_spark.functions.strings import (
    _jaro_similarity_long,
    jaro_similarity,
    levenshtein,
)
from automatedreclin_spark.operators.selection import greedy_select_local

short_text = st.text(alphabet="abcde f", max_size=20)


@given(short_text, short_text)
@settings(max_examples=300, deadline=None)
def test_bitparallel_jaro_equals_classic(x, y):
    if len(x) == 0 or len(y) == 0 or x == y:
        return
    assert abs(jaro_similarity(x, y) - _jaro_similarity_long(x, y)) < 1e-15


@given(short_text, short_text)
@settings(max_examples=200, deadline=None)
def test_jaro_symmetric_and_bounded(x, y):
    s = jaro_similarity(x, y)
    assert 0.0 <= s <= 1.0
    assert s == jaro_similarity(y, x)


@given(short_text, short_text)
@settings(max_examples=200, deadline=None)
def test_levenshtein_triangle_via_identity(x, y):
    d = levenshtein(x, y)
    assert d == levenshtein(y, x)
    assert d >= abs(len(x) - len(y))
    assert d <= max(len(x), len(y))


@st.composite
def _pair_instances(draw):
    n = draw(st.integers(1, 40))
    a = draw(st.lists(st.integers(1, 12), min_size=n, max_size=n))
    b = draw(st.lists(st.integers(1, 12), min_size=n, max_size=n))
    ratio = draw(st.lists(
        st.floats(0, 100, allow_nan=False, allow_infinity=False),
        min_size=n, max_size=n))
    # dedup (a, b) pairs like a real pair table
    seen, idx = set(), []
    for i in range(n):
        if (a[i], b[i]) not in seen:
            seen.add((a[i], b[i]))
            idx.append(i)
    sel = lambda xs: np.array([xs[i] for i in idx])
    return sel(a), sel(b), sel(ratio).astype(float)


@given(_pair_instances(), st.floats(0, 20, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_greedy_is_one_to_one_and_budgeted(inst, n_M):
    a, b, ratio = inst
    sel = greedy_select_local(a, b, ratio, n_M)
    # one-to-one and budget
    assert len(set(a[sel])) == len(sel)
    assert len(set(b[sel])) == len(sel)
    assert len(sel) <= round(n_M) if round(n_M) > 0 else len(sel) == 0
    # prefix property: selections are greedy-maximal — every selected pair's
    # ratio is >= any unselected pair that would still have been admissible
    # at that point. Weak check: selected ratios sorted descending.
    ratios = ratio[sel]
    assert all(ratios[i] >= ratios[i + 1] - 1e-12 for i in range(len(ratios) - 1))


@given(_pair_instances())
@settings(max_examples=100, deadline=None)
def test_greedy_budget_monotone(inst):
    """Budget k selection is a prefix of budget k+1 selection."""
    a, b, ratio = inst
    prev = []
    for k in range(0, min(len(a), 6) + 1):
        sel = list(greedy_select_local(a, b, ratio, float(k)))
        assert sel[: len(prev)] == prev
        prev = sel


@given(_pair_instances(), st.floats(0, 20, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_greedy_duplicates_in_A_b_side_free(inst, n_M):
    """duplicates_in_A=True (internals.R:525-533): A ids unique in the
    selection, B ids free to repeat, budget respected, and the selection is
    never smaller than the one-to-one selection under the same budget (a
    relaxed constraint can only admit more pairs)."""
    a, b, ratio = inst
    sel_dup = greedy_select_local(a, b, ratio, n_M, duplicates_in_A=True)
    assert len(set(a[sel_dup])) == len(sel_dup)
    if round(n_M) > 0:
        assert len(sel_dup) <= round(n_M)
    else:
        assert len(sel_dup) == 0
    ratios = ratio[sel_dup]
    assert all(ratios[i] >= ratios[i + 1] - 1e-12 for i in range(len(ratios) - 1))
    sel_one = greedy_select_local(a, b, ratio, n_M)
    assert len(sel_dup) >= len(sel_one)


# --- driver forms of the comparators: bit-identical to their Spark forms ---

#: whitespace runs (Java's, and U+001C, U+00A0 and U+2003, which Java's
#: ``\s`` does not match), repeated tokens, non-BMP characters, and a long
#: run of one letter so that strings pass Jaro's 64-character batch cutoff
_words = st.sampled_from(["a", "b", "ab", "ba", "\U0001F600", "\U0001D11E",
                          "é", "x" * 40, " ", "  ", "\t", "\n", "\x0b", "\x1c",
                          "\u00a0", "\u2003", ""])
_texts = st.none() | st.lists(_words, max_size=8).map("".join)


def _spark_and_local(spark, comparators, xs, ys, dtype):
    """For each comparator, the gammas of its Spark form over (x, y) and of
    its ``local`` form over the Spark-prepared values, as float64 arrays
    with NULL as NaN. One Spark job for all of them."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    df = spark.createDataFrame(list(zip(xs, ys)), f"x {dtype}, y {dtype}")
    t = df.select(*[
        col.alias(f"{name}{i}") for i, c in enumerate(comparators)
        for name, col in (("g", c(F.col("x"), F.col("y")).cast("double")),
                          ("px", c.prep(F.col("x"))), ("py", c.prep(F.col("y"))))
    ]).toArrow()
    return [(t[f"g{i}"].cast(pa.float64()).to_numpy(zero_copy_only=False),
             c.local(t[f"px{i}"], t[f"py{i}"]))
            for i, c in enumerate(comparators)]


def _assert_bits_equal(want, got):
    assert np.array_equal(np.isnan(want), np.isnan(got))
    ok = ~np.isnan(want)
    assert np.array_equal(want[ok].view(np.int64), got[ok].view(np.int64)), (want, got)


@given(st.lists(st.tuples(_texts, _texts), min_size=1, max_size=40))
@settings(max_examples=20, deadline=None)
def test_string_comparators_local_bit_identical(spark, rows):
    from automatedreclin_spark.functions.comparators import (
        cmp_identical,
        jarowinkler_complement,
        token_jaccard,
    )

    xs, ys = zip(*rows)
    comparators = [cmp_identical(), jarowinkler_complement(), token_jaccard()]
    for want, got in _spark_and_local(spark, comparators, xs, ys, "string"):
        _assert_bits_equal(want, got)


#: special values drawn often enough that rows pair them with each other
#: (Spark's equality holds for NaN = NaN, IEEE's does not)
_numbers = (st.none()
            | st.sampled_from([float("nan"), float("inf"), -float("inf"), 0.0, -0.0])
            | st.floats(allow_nan=True, allow_infinity=True)
            | st.integers(-(2 ** 62), 2 ** 62).map(float))


@given(st.lists(st.tuples(_numbers, _numbers), min_size=1, max_size=40))
@settings(max_examples=20, deadline=None)
def test_numeric_comparators_local_bit_identical(spark, rows):
    from automatedreclin_spark.functions.comparators import abs_distance, cmp_identical

    xs, ys = zip(*rows)
    for want, got in _spark_and_local(spark, [abs_distance(), cmp_identical()],
                                      xs, ys, "double"):
        _assert_bits_equal(want, got)


@given(st.lists(st.tuples(_texts, _texts), min_size=1, max_size=40),
       st.integers(1, 40))
@example(rows=[(" a\x0bb ", "\u00a0a b\u2003"), ("\x1c x", ""), (None, "  "),
               ("a a b", None)], batch_rows=3)
@settings(max_examples=20, deadline=None)
def test_token_jaccard_prep_local_matches_spark(spark, rows, batch_rows):
    """token_jaccard's driver prep, over any split of the rows into
    batches, gives each row Spark's token set (distinct, NULL as NULL),
    and the numpy form over it the Spark form's gammas, bit for bit."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from automatedreclin_spark.functions.comparators import token_jaccard

    tj = token_jaccard()
    xs, ys = zip(*rows)
    t = spark.createDataFrame(list(zip(xs, ys)), "x string, y string").select(
        tj(F.col("x"), F.col("y")).alias("g"),
        tj.prep(F.col("x")).alias("px"), tj.prep(F.col("y")).alias("py")).toArrow()

    def prep_local(values):
        return pa.concat_arrays([
            tj.prep_local(pa.array(values[s:s + batch_rows], pa.string()))
            for s in range(0, len(values), batch_rows)])

    px, py = prep_local(xs), prep_local(ys)
    for want, got in ((t["px"], px), (t["py"], py)):
        got = got.to_pylist()
        assert all(v is None or len(v) == len(set(v)) for v in got)
        assert ([None if v is None else set(v) for v in got]
                == [None if v is None else set(v) for v in want.to_pylist()])
    _assert_bits_equal(t["g"].to_numpy(zero_copy_only=False), tj.local(px, py))


def test_token_jaccard_null_is_null(spark):
    """NULL on either side is NULL in the Spark form, not a perfect score
    (size(NULL) is -1 with ANSI off)."""
    from automatedreclin_spark.functions.comparators import token_jaccard

    [(want, got)] = _spark_and_local(spark, [token_jaccard()], ["a b", None, None, "a"],
                                     [None, "a b", None, "a"], "string")
    assert np.isnan(want[:3]).all() and np.isnan(got[:3]).all()
    assert want[3] == got[3] == 0.0


@given(st.lists(st.tuples(_texts, _texts), min_size=1, max_size=60),
       st.lists(st.integers(1, 59), max_size=5))
@settings(max_examples=100, deadline=None)
def test_jaro_local_chunking_exact(rows, cuts):
    """The Jaro kernel scores each row on its own: the local form over any
    split of the rows gives the doubles of one unsplit call."""
    from automatedreclin_spark.functions.comparators import jarowinkler_complement

    xs, ys = map(list, zip(*rows))
    jw = jarowinkler_complement()
    whole = jw.local(xs, ys)
    bounds = [0, *sorted(c for c in set(cuts) if c < len(xs)), len(xs)]
    parts = np.concatenate([jw.local(xs[s:e], ys[s:e])
                            for s, e in zip(bounds, bounds[1:])])
    _assert_bits_equal(whole, parts)


#: strings around the batch kernel's 64-character limit, over an alphabet
#: small enough to repeat characters, with non-BMP ones
_jaro_alphabet = st.sampled_from(["a", "b", "c", " ", "é", "\U0001F600", "\U0001D11E"])
_jaro_texts = (st.none() | st.text(_jaro_alphabet, max_size=10)
               | st.text(_jaro_alphabet, min_size=62, max_size=66))


@given(st.lists(st.tuples(_jaro_texts, _jaro_texts), min_size=1, max_size=40),
       st.lists(st.integers(1, 39), max_size=4), st.sampled_from([1 << 22, 1]))
@example(rows=[("a" * 64, "a" * 63 + "b"), ("ab" * 32, "ba" * 33), ("", ""),
               ("", "a"), (None, "a"), ("\U0001F600a", "a\U0001F600")],
         cuts=[], cells=1 << 22)
@settings(max_examples=100, deadline=None)
def test_jaro_batch_matches_scalar(rows, cuts, cells):
    """The batch Jaro kernel, over any split of the rows and any grouping
    of its mask table, gives each row the scalar kernels' double: the
    classic matcher's (and the scalar bit-parallel one's up to 64
    characters), 0 with an empty side, 1 for equal strings, NaN for
    NULL."""
    from unittest import mock

    from automatedreclin_spark.functions import strings

    xs, ys = map(list, zip(*rows))
    bounds = [0, *sorted(c for c in set(cuts) if c < len(xs)), len(xs)]
    with mock.patch.object(strings, "_TABLE_CELLS", cells):
        got = np.concatenate([strings.jaro_similarity_batch(xs[s:e], ys[s:e])
                              for s, e in zip(bounds, bounds[1:])])
    want = []
    for x, y in rows:
        if x is None or y is None:
            want.append(np.nan)
        elif not x or not y:
            want.append(0.0)
        elif x == y:
            want.append(1.0)
        else:
            want.append(_jaro_similarity_long(x, y))
            if max(len(x), len(y)) <= 64:
                assert jaro_similarity(x, y) == want[-1]
    _assert_bits_equal(np.array(want), got)


# --- the driver form of the candidate blocks: bit-identical to Spark's ---

#: Java's whitespace and what it does not match (U+00A0, U+2003, U+001C),
#: runs of the path separators, non-BMP characters and one long word
_block_words = st.sampled_from([
    "a", "b", "ab", "é", "\U0001F600", "\U0001D11E", "x" * 40,
    " ", "  ", "\t", "\n", "\r\n", "\x0b", "\x0c", "\u00a0", "\u2003", "\x1c",
    ".", "_", "-", "/", "._-/", "..", "", "a-b", "c.d", "e_f", "g/h",
])
_block_texts = st.none() | st.lists(_block_words, max_size=8).map("".join)
#: lang lengths cross XXH64's 4-, 8- and 32-byte steps
_langs = st.none() | st.sampled_from(["", "py", "go", "python", "rust", "é" * 3,
                                      "javascript", "\U0001F600", "l" * 31, "m" * 45])


@given(st.lists(st.tuples(_block_texts, _langs, _block_texts), min_size=1, max_size=30),
       st.sampled_from([7, 1000, 4095, 4097, 999_983]),
       st.integers(1, 3), st.integers(0, 5), st.integers(1, 30))
# every path separator and Java-only whitespace, in every example run
@example(rows=[("a-b", "py", " x\x0by "), ("c.d-e/f_g", None, "\u00a0x\t"),
               ("h--i", "go", None), ("j/-k", "", "")],
         n_buckets=999_983, path_probes=2, content_probes=1, batch_rows=3)
@settings(max_examples=20, deadline=None)
def test_candidate_blocks_local_bit_identical(spark, rows, n_buckets, path_probes,
                                              content_probes, batch_rows):
    """files_candidate_blocks_local gives each record the (id, block)
    assignments files_candidate_blocks gives it, as a multiset, over any
    split of the records into batches."""
    import pyarrow as pa

    from automatedreclin_spark.operators.blocking import (
        files_candidate_blocks,
        files_candidate_blocks_local,
    )

    data = [(i, *row) for i, row in enumerate(rows)]
    probes = dict(n_buckets=n_buckets, path_probes=path_probes,
                  content_probes=content_probes)
    df = spark.createDataFrame(data, "id long, path string, lang string, content string")
    want = sorted(map(tuple, files_candidate_blocks(df, "id", **probes).collect()))
    table = pa.table(dict(zip(("id", "path", "lang", "content"), zip(*data))),
                     schema=pa.schema([("id", pa.int64()), ("path", pa.string()),
                                       ("lang", pa.string()), ("content", pa.string())]))
    ids, blocks = files_candidate_blocks_local(
        table.to_batches(max_chunksize=batch_rows), "id", **probes)
    assert sorted(zip(ids.tolist(), blocks.tolist())) == want
