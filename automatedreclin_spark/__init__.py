"""automatedreclin_spark — a PySpark-native record-linkage / entity-resolution engine.

A from-scratch re-expression of the query and data-processing capabilities of
the R package ``automatedRecLin`` (reference at /root/reference) on Apache
Spark DataFrames: blocking, pairwise comparison vectors, maximum-entropy match
classification (binary / continuous-parametric / continuous-nonparametric
families), greedy one-to-one selection, transitive clustering, and the
checkpointed end-to-end linkage job (``pipeline.link_repo_files``).

Design notes (see SURVEY.md):
- All hot-path computation is Catalyst column expressions or Arrow-vectorized
  pandas UDFs; model fitting reduces to DataFrame aggregations feeding small
  driver-side scalar solvers (the sufficient-statistics pattern of
  ``alpha_formula_summary``, reference internals.R:72-86).
- Nothing here is a port of the reference's R execution engine; the reference
  defines WHAT is computed (operators, semantics, golden values).
"""

from automatedreclin_spark.session import get_spark
from automatedreclin_spark.functions.comparators import (
    abs_distance,
    cmp_identical,
    jarowinkler_complement,
    jaro_winkler,
    levenshtein_norm,
    token_jaccard,
)
from automatedreclin_spark.operators.comparison import comparison_vectors
from automatedreclin_spark.operators.selection import (
    greedy_select_local,
    select_mec_pairs,
    summarize_mec_selection,
)
from automatedreclin_spark.evaluation import evaluation, get_metrics, get_confusion
from automatedreclin_spark.models.mec import mec
from automatedreclin_spark.models.supervised import train_rec_lin, predict_rec_lin

__all__ = [
    "get_spark",
    "abs_distance",
    "cmp_identical",
    "jarowinkler_complement",
    "jaro_winkler",
    "levenshtein_norm",
    "token_jaccard",
    "comparison_vectors",
    "greedy_select_local",
    "select_mec_pairs",
    "summarize_mec_selection",
    "evaluation",
    "get_metrics",
    "get_confusion",
    "mec",
    "train_rec_lin",
    "predict_rec_lin",
]

__version__ = "0.1.0"
