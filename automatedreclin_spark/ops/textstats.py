"""Text analysis operators for corpus curation: language ID, quality scoring,
token counting, document fingerprinting. ALL pure Catalyst (whole-stage
codegen) — no Python in any hot path.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from automatedreclin_spark.operators.blocking import MERSENNE_61, token_hash_expr

# Tiny public stopword seeds per language for the heuristic language ID.
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "with"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "dans", "que", "une", "pour"],
    "es": ["el", "la", "de", "que", "los", "en", "una", "es", "por", "con"],
}


def token_count_expr(text_col, pattern: str = r"\s+") -> Column:
    """Whitespace token count (0 for empty strings)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), pattern))
    )


def bpe_ish_token_count_expr(text_col) -> Column:
    """A BPE-ish subword count: words + digits + punctuation runs, counting a
    long word as ceil(len/4) subwords (the usual ~4 chars/token rule)."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    pieces = F.regexp_extract_all(t, F.lit(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"), 0)
    return F.aggregate(
        pieces, F.lit(0), lambda acc, p: acc + F.ceil(F.length(p) / 4.0).cast("int")
    )


def quality_features(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document quality signals: length, token stats, punctuation /
    digit / uppercase ratios, lexical diversity, mean word length — the usual
    corpus-filter features, all whole-stage-codegen expressions."""
    t = F.col(text_col)
    toks = F.split(F.trim(t), r"\s+")
    n_chars = F.length(t)
    n_tokens = token_count_expr(text_col)
    distinct_tokens = F.size(F.array_distinct(toks))
    punct = F.length(F.regexp_replace(t, r"[^\p{Punct}]", ""))
    digits = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    upper = F.length(F.regexp_replace(t, r"[^A-Z]", ""))
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        distinct_tokens.alias("n_distinct_tokens"),
        F.when(n_tokens > 0, distinct_tokens / n_tokens).otherwise(0.0)
        .alias("lexical_diversity"),
        F.when(n_chars > 0, punct / n_chars).otherwise(0.0).alias("punct_ratio"),
        F.when(n_chars > 0, digits / n_chars).otherwise(0.0).alias("digit_ratio"),
        F.when(n_chars > 0, upper / n_chars).otherwise(0.0).alias("upper_ratio"),
        F.when(n_tokens > 0, (n_chars - n_tokens + 1) / n_tokens).otherwise(0.0)
        .alias("mean_word_len"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str,
                  min_tokens: int = 10, max_mean_word_len: float = 12.0) -> DataFrame:
    """Composite [0,1] quality score + keep verdict (heuristic corpus filter)."""
    feats = quality_features(df, id_col, text_col)
    score = (
        F.least(F.lit(1.0), F.col("n_tokens") / 64.0) * 0.4
        + F.col("lexical_diversity") * 0.3
        + (1.0 - F.least(F.lit(1.0), F.col("punct_ratio") * 5)) * 0.15
        + (1.0 - F.least(F.lit(1.0), F.col("digit_ratio") * 5)) * 0.15
    )
    return feats.withColumn("quality", F.round(score, 6)).withColumn(
        "keep",
        (F.col("n_tokens") >= min_tokens)
        & (F.col("mean_word_len") <= max_mean_word_len),
    )


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Heuristic language ID: stopword-marker hit counts per language, CJK
    codepoint share for zh. PURE CATALYST (whole-stage codegen — no Python
    in the hot path): marker hits via ``filter(tokens, array_contains)``,
    argmax via a chained CASE with fixed tie-break order (en > de > fr > es,
    mirroring Python dict-order max()). Returns (id, lang_pred, lang_conf).
    The DuckDB oracle in tests/test_ops_text_multimodal.py mirrors this
    expression exactly."""
    t = F.col(text_col)
    n = F.length(t)
    cjk = F.length(F.regexp_replace(t, "[^一-鿿]", ""))
    toks = F.when(
        F.length(F.trim(t)) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.lower(t)), r"\s+"))
    langs = list(_LANG_MARKERS)
    score_cols = {
        lang: (
            F.size(F.filter(toks, lambda x: x.isin(_LANG_MARKERS[lang])))
            .cast("double") / F.greatest(F.size(toks), F.lit(1))
        )
        for lang in langs
    }
    base = df.select(
        F.col(id_col).alias("id"), n.alias("_n"), cjk.alias("_cjk"),
        *[score_cols[lang].alias(f"_s_{lang}") for lang in langs],
    )
    s = {lang: F.col(f"_s_{lang}") for lang in langs}
    best = F.greatest(*s.values())
    # argmax with first-wins tie-break in _LANG_MARKERS order
    from functools import reduce

    pred_chain = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        later = [s[lg] for lg in langs[langs.index(lang) + 1:]]
        ge_all_later = reduce(lambda acc, lt: acc & (s[lang] >= lt),
                              later, F.lit(True))
        pred_chain = F.when(ge_all_later, F.lit(lang)).otherwise(pred_chain)
    is_zh = (F.col("_cjk").cast("double") / F.greatest("_n", F.lit(1))) > 0.2
    # NULL text: length(NULL) is NULL so every WHEN below would fall through
    # to the CASE tail — guard explicitly to ('und', 0.0), same as empty.
    lang_pred = (
        F.when(F.col("_n").isNull() | (F.col("_n") == 0), "und")
        .when(is_zh, "zh")
        .when(best == 0, "und")
        .otherwise(pred_chain)
    )
    lang_conf = (
        F.when(F.col("_n").isNull() | (F.col("_n") == 0), 0.0)
        .when(is_zh, F.round(F.col("_cjk").cast("double") / F.col("_n"), 6))
        .otherwise(F.round(best, 6))
    )
    return base.select("id", lang_pred.alias("lang_pred"),
                       lang_conf.alias("lang_conf"))


def fingerprint(df: DataFrame, id_col: str, text_col: str,
                k: int = 5, window: int = 4) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03): k-gram
    rolling hashes → per-window minimum → distinct fingerprint set. Pure
    Catalyst: the k-gram hashes reuse the shared md5-derived token hash, the
    window minimum is a transform over a sliding index sequence. Returns
    (id, fingerprints array<long>, n_fingerprints)."""
    # Stage each array as a materialized column: a nested lambda that
    # references an un-staged array expression makes Catalyst re-evaluate the
    # whole producer (md5 per k-gram) PER OUTER INDEX — O(m²) hashing. With
    # staging it is computed once per row.
    staged = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_text"))
        .withColumn("_toks", F.split(F.lower(F.col("_text")), r"\s+"))
        .withColumn(
            "_kg",
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("_toks") - k, F.lit(0))),
                lambda i: (
                    token_hash_expr(F.concat_ws(" ", F.slice(F.col("_toks"), i + 1, k)))
                    % F.lit(MERSENNE_61)
                ).cast("long"),
            ),
        )
        .withColumn(
            "_mins",
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("_kg") - window, F.lit(0))),
                lambda i: F.array_min(F.slice(F.col("_kg"), i + 1, window)),
            ),
        )
        .withColumn("fingerprints", F.array_distinct("_mins"))
    )
    return staged.select(
        "id", "fingerprints", F.size("fingerprints").alias("n_fingerprints")
    )
