"""Comparator registry: pluggable column-pair → gamma-column functions.

Mirrors the reference's user-pluggable comparator surface
(``comparison_vectors.R:78-88``, ``comparators.R:15-42``) as a Spark-first
design: a comparator is a callable ``(Column, Column) -> Column`` producing a
DoubleType "gamma" where 0 ⇔ exact agreement (semi-metric axioms,
``unsupervised_learning.R:60-66``).

Catalyst-native comparators (equality, abs distance, Levenshtein, token
Jaccard) stay entirely JVM-side inside whole-stage codegen. String-similarity
comparators with no Spark builtin (Jaro) are Arrow-batched pandas UDFs — whole
``pd.Series`` in, whole ``pd.Series`` out, no row-at-a-time Spark UDFs.

A comparator may also have a driver form, used where Ω is built on the driver
(``models/blocked_mec.py``) instead of by a Spark pair join:

- ``prep(col)`` is the comparator's per-record form of a value, evaluated
  once per record by Spark (identity by default; the distinct tokens of one
  split for ``token_jaccard``), so there is no second regex dialect;
- ``local(x, y)`` maps two pyarrow arrays of prepared values, aligned per
  pair, to the gammas as a float64 numpy array, bit-identical to the Spark
  form; NULL on either side gives NaN, which the non-finite guard counts as
  Spark's NULL. ``local = None`` means there is no driver form.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from automatedreclin_spark.functions import strings as _str


class Comparator:
    """Base comparator: callable (left Column, right Column) -> gamma Column."""

    #: True when the gamma is {0,1}-valued (usable by the `binary` method family).
    is_binary = False

    #: ``local(x, y) -> np.ndarray``: the driver form over prepared values
    #: (see the module docstring); None when the comparator has none.
    local = None

    def __call__(self, left: Column, right: Column) -> Column:  # pragma: no cover
        raise NotImplementedError

    def prep(self, col: Column) -> Column:
        """The per-record form of a value that ``local`` consumes."""
        return col


def _arrow(x) -> pa.Array:
    if isinstance(x, pa.ChunkedArray):
        return x.combine_chunks()
    return x if isinstance(x, pa.Array) else pa.array(x)


def _float64(arr: pa.Array) -> np.ndarray:
    """float64 values, NULL as NaN."""
    return arr.cast(pa.float64()).to_numpy(zero_copy_only=False)


class cmp_identical(Comparator):
    """Binary agreement: 1 if equal, 0 otherwise.

    Note the reference convention (via reclin2 ``cmp_identical``): gamma is an
    *agreement* indicator there (1 = equal). The reference's binary MEC treats
    gamma=1 as agreement (``theta = mean(gamma|M)`` ≈ 1 for matches,
    ``internals.R:17-23``), so we keep 1 = agreement for binary comparators and
    0 ⇔ agreement for distance comparators — exactly the reference's mixed
    convention (``comparison_vectors.R:86``, ``unsupervised_learning.R:72-73``).
    """

    is_binary = True

    def __call__(self, left: Column, right: Column) -> Column:
        # NULL on either side propagates to NULL and is caught by the
        # non-finite gamma guard (comparison_vectors.R:153-172 semantics).
        return (left == right).cast("double")

    def local(self, x, y) -> np.ndarray:
        x, y = _arrow(x), _arrow(y)
        eq = pc.equal(x, y)
        if pa.types.is_floating(x.type):
            # Spark's equality holds for NaN = NaN; IEEE's does not.
            eq = pc.or_(eq, pc.and_(pc.is_nan(x), pc.is_nan(y)))
        return _float64(eq)


class abs_distance(Comparator):
    """|x - y| for numeric variables (comparators.R:15-19)."""

    def __call__(self, left: Column, right: Column) -> Column:
        return F.abs(self.prep(left) - self.prep(right))

    def prep(self, col: Column) -> Column:
        return col.cast("double")

    def local(self, x, y) -> np.ndarray:
        return np.abs(_float64(_arrow(x)) - _float64(_arrow(y)))


class jarowinkler_complement(Comparator):
    """1 − Jaro similarity (the reference's ``jarowinkler_complement()``,
    comparators.R:37-42 — stringdist ``jw`` with default p=0).

    Arrow-batched pandas UDF; NULL in → NULL out (then the gamma guard fires).

    NOTE: gamma is NOT a faithful equality witness — the DuckDB empty-string
    convention scores ("", "") as similarity 0 (gamma 1), while "" == "" is
    true. Exact-agreement seeds therefore come from the raw-equality seed
    flag built by comparison_vectors(seed_flag_variables=...), never from a
    gamma-value predicate.
    """

    def __call__(self, left: Column, right: Column) -> Column:
        @pandas_udf("double")
        def _jw_complement(x: pd.Series, y: pd.Series) -> pd.Series:
            # Batch-vectorized numpy kernel (strings.jaro_similarity_batch):
            # one numpy pass per s1 position over the whole Arrow batch — no
            # per-row Python in the hot path. None → NaN → gamma guard.
            sim = _str.jaro_similarity_batch(x.to_numpy(dtype=object),
                                             y.to_numpy(dtype=object))
            return pd.Series(1.0 - sim, dtype="float64")

        return _jw_complement(left, right)

    def local(self, x, y) -> np.ndarray:
        # The kernel scores each row on its own, so the same rows give the
        # same doubles however they are batched (here or by Arrow).
        sim = _str.jaro_similarity_batch(_arrow(x).to_numpy(zero_copy_only=False),
                                         _arrow(y).to_numpy(zero_copy_only=False))
        return 1.0 - sim


class jaro_winkler(Comparator):
    """1 − Jaro-Winkler similarity (p=0.1 prefix boost; DuckDB-compatible)."""

    def __init__(self, p: float = 0.1, max_prefix: int = 4):
        self.p = p
        self.max_prefix = max_prefix

    def __call__(self, left: Column, right: Column) -> Column:
        p, max_prefix = self.p, self.max_prefix

        @pandas_udf("double")
        def _jw(x: pd.Series, y: pd.Series) -> pd.Series:
            sim = _str.jaro_winkler_similarity
            out = [
                None if (a is None or b is None) else 1.0 - sim(a, b, p, max_prefix)
                for a, b in zip(x, y)
            ]
            return pd.Series(out, dtype="float64")

        return _jw(left, right)


class levenshtein_norm(Comparator):
    """Levenshtein distance normalized by max length → [0,1]. Pure Catalyst
    (native ``F.levenshtein``), 0 ⇔ exact agreement (distance is an integer
    ≥ 1 for distinct strings, and the maxlen==0 branch means both empty)."""

    def __call__(self, left: Column, right: Column) -> Column:
        maxlen = F.greatest(F.length(left), F.length(right))
        return F.when(maxlen == 0, F.lit(0.0)).otherwise(
            F.levenshtein(left, right).cast("double") / maxlen.cast("double")
        )


class token_jaccard(Comparator):
    """1 − Jaccard similarity of distinct token sets. Pure Catalyst:
    split → array_distinct → array_intersect/array_union sizes. NULL on
    either side gives NULL.

    ``pattern`` is the split regex (default: whitespace)."""

    def __init__(self, pattern: str = r"\s+"):
        self.pattern = pattern

    def __call__(self, left: Column, right: Column) -> Column:
        la, lb = self.prep(left), self.prep(right)
        union = F.size(F.array_union(la, lb))
        inter = F.size(F.array_intersect(la, lb))
        # Checked first: with ANSI off, size(NULL) is -1, and -1/-1 would
        # score a missing value as perfect agreement.
        return (
            F.when(la.isNull() | lb.isNull(), F.lit(None).cast("double"))
            .when(union == 0, F.lit(0.0))
            .otherwise(1.0 - inter.cast("double") / union.cast("double"))
        )

    def prep(self, col: Column) -> Column:
        return F.array_distinct(F.split(col, self.pattern))

    def local(self, x, y) -> np.ndarray:
        """Exact set sizes over prepared token lists (distinct within a
        row), the tokens coded through one exact dictionary of the tokens
        present (never hashed)."""
        x, y = _arrow(x), _arrow(y)
        n = len(x)
        vx = x.flatten()
        tokens = pc.dictionary_encode(pa.concat_arrays([vx, y.flatten()]))
        codes = tokens.indices.to_numpy().astype(np.int64)
        cx, cy = codes[:len(vx)], codes[len(vx):]
        width = max(len(tokens.dictionary), 1)
        lx = pc.list_value_length(x).fill_null(0).to_numpy().astype(np.int64)
        ly = pc.list_value_length(y).fill_null(0).to_numpy().astype(np.int64)
        # A token shared by row i's two lists is one repeated (i, code) key.
        rows = np.arange(n, dtype=np.int64) * width
        keys = np.concatenate([np.repeat(rows, lx) + cx, np.repeat(rows, ly) + cy])
        keys.sort()
        shared = keys[1:][keys[1:] == keys[:-1]]
        inter = np.bincount(shared // width, minlength=n)
        union = lx + ly - inter
        with np.errstate(invalid="ignore", divide="ignore"):
            out = 1.0 - inter.astype(np.float64) / union.astype(np.float64)
        out[union == 0] = 0.0
        out[pc.or_(x.is_null(), y.is_null()).to_numpy(zero_copy_only=False)] = np.nan
        return out
