"""Deterministic test fixtures (FIXTURES.md).

F4: the reference's example name tables (README.md:55-79, identical to the
bundled A_example/B_example used by the golden tests) with 1-based ids.

F1: a pure-function synthetic ``files`` corpus (repo, path, commit, lang,
content) matching BASELINE.json's input_hint, with injected exact and typo'd
duplicates plus a ground-truth ``labels`` pair table.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

A_EXAMPLE = pd.DataFrame({
    "a": range(1, 11),
    "name": ["Emma", "Liam", "Olivia", "Noah", "Ava",
             "Ethan", "Sophia", "Mason", "Isabella", "James"],
    "surname": ["Smith", "Johnson", "Williams", "Brown", "Jones",
                "Garcia", "Miller", "Davis", "Rodriguez", "Wilson"],
    "city": ["New York", "Los Angeles", "Chicago", "Houston", "Phoenix",
             "Philadelphia", "San Antonio", "San Diego", "Dallas", "San Jose"],
})

B_EXAMPLE = pd.DataFrame({
    "b": range(1, 13),
    "name": ["Emma", "Liam", "Olivia", "Noah",
             "Ava", "Ehtan", "Sopia", "Mson",
             "Charlotte", "Benjamin", "Amelia", "Lucas"],
    "surname": ["Smith", "Johnson", "Williams", "Brown",
                "Jnes", "Garca", "Miler", "Dvis",
                "Martinez", "Lee", "Hernandez", "Clark"],
    "city": ["New York", "Los Angeles", "Chicago", "Houston",
             "Phonix", "Philadelpia", "San Antnio", "San Dieg",
             "Seattle", "Miami", "Boston", "Denver"],
})


def name_examples(spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(A, B, true_matches) — the reference's golden pair: matches are
    (1..8, 1..8), rows 1-4 exact, 5-8 typo'd (inst/tinytest/test_mec.R:16)."""
    A = spark.createDataFrame(A_EXAMPLE)
    B = spark.createDataFrame(B_EXAMPLE)
    true = spark.createDataFrame(pd.DataFrame({"a": range(1, 9), "b": range(1, 9)}))
    return A, B, true


LANGS = ["python", "java", "c", "js", "go", "rust", "ruby"]
#: skew: python dominates (exercises the block caps / AQE skew-join).
LANG_WEIGHTS = [0.45, 0.15, 0.10, 0.10, 0.08, 0.07, 0.05]

_STEMS = (
    "loader parser index worker stream buffer config handler router model "
    "cache util client server schema token batch merge split filter reduce "
    "map join sort scan hash block probe queue task pool shard state"
).split()

#: Realistic identifier vocabulary: ~3k distinct tokens so UNRELATED files
#: share few tokens (low Jaccard) while edited copies stay close — with a
#: 32-word vocab every pair of random documents was near-identical and the
#: content comparison carried no signal (surfaced by the 2000×4000 soak test).
_WORDS = [f"{s}_{i}" for s in _STEMS for i in range(96)]


def _mk_content(rng: np.random.Generator, n_tokens: int) -> str:
    toks = rng.choice(_WORDS, size=n_tokens)
    return " ".join(toks.tolist())


def _typo(rng: np.random.Generator, s: str) -> str:
    """1-2 character edits (delete or swap), the Ehtan/Garca/Phonix analogue."""
    chars = list(s)
    for _ in range(int(rng.integers(1, 3))):
        if len(chars) < 3:
            break
        i = int(rng.integers(1, len(chars) - 1))
        if rng.random() < 0.5:
            del chars[i]
        else:
            chars[i], chars[i - 1] = chars[i - 1], chars[i]
    return "".join(chars)


def synth_files(
    spark: SparkSession,
    n_a: int = 500,
    n_b: int = 1000,
    exact_frac: float = 0.15,
    fuzzy_frac: float = 0.25,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Deterministic ``files`` corpus: returns (files_A, files_B, labels).

    A-record ids are ``a``, B ids are ``b`` (1-based longs); labels(a, b) are
    the ground-truth match pairs. A chosen fraction of B rows are exact copies
    of A rows (perfect-agreement seeds required by the reference,
    unsupervised_learning.R:254-256), another fraction are typo'd copies
    (path-basename edits + small content edits, same lang), the rest are
    unrelated nonmatches. Mirrors the paper's 500×1000 simulation design.
    """
    rng = np.random.default_rng(seed)

    def mk_record(i: int, population: str) -> dict:
        lang = rng.choice(LANGS, p=LANG_WEIGHTS)
        depth = int(rng.integers(2, 5))
        dirs = rng.choice(_WORDS, size=depth).tolist()
        base = f"{rng.choice(_WORDS)}_{i}.{lang[:2]}"
        commit = hashlib.sha1(f"{population}-{i}-{seed}".encode()).hexdigest()
        return {
            "repo": f"org{int(rng.integers(0, 20))}/proj{int(rng.integers(0, 50))}",
            "path": "/".join(dirs + [base]),
            "commit": commit,
            "lang": str(lang),
            "content": _mk_content(rng, int(rng.integers(30, 120))),
        }

    a_rows = [mk_record(i, "A") for i in range(n_a)]

    n_exact = int(n_a * exact_frac)
    n_fuzzy = int(n_a * fuzzy_frac)
    b_rows: list[dict] = []
    labels: list[tuple[int, int]] = []

    for j in range(n_exact):
        src = dict(a_rows[j])
        src["repo"] = f"mirror/{src['repo']}"
        src["commit"] = hashlib.sha1(f"B-exact-{j}-{seed}".encode()).hexdigest()
        b_rows.append(src)
        labels.append((j + 1, len(b_rows)))

    for j in range(n_exact, n_exact + n_fuzzy):
        src = dict(a_rows[j])
        parts = src["path"].split("/")
        parts[-1] = _typo(rng, parts[-1])
        src["path"] = "/".join(parts)
        toks = src["content"].split()
        for _ in range(max(1, len(toks) // 20)):
            toks[int(rng.integers(0, len(toks)))] = str(rng.choice(_WORDS))
        src["content"] = " ".join(toks)
        src["repo"] = f"mirror/{src['repo']}"
        src["commit"] = hashlib.sha1(f"B-fuzzy-{j}-{seed}".encode()).hexdigest()
        b_rows.append(src)
        labels.append((j + 1, len(b_rows)))

    while len(b_rows) < n_b:
        b_rows.append(mk_record(len(b_rows) + 1_000_000, "B"))

    a_pdf = pd.DataFrame(a_rows)
    a_pdf.insert(0, "a", range(1, len(a_rows) + 1))
    b_pdf = pd.DataFrame(b_rows)
    b_pdf.insert(0, "b", range(1, len(b_rows) + 1))
    labels_pdf = pd.DataFrame(labels, columns=["a", "b"])

    return (
        spark.createDataFrame(a_pdf),
        spark.createDataFrame(b_pdf),
        spark.createDataFrame(labels_pdf),
    )


_FIRST = ("anna maria jan piotr kasia tomek ola marek ewa adam zofia pawel "
          "magda krzys basia jurek celina bartek iza rafal").split()
_LAST = ("nowak kowalski wisniewski wojcik kowalczyk kaminski lewandowski "
         "zielinski szymanski wozniak dabrowski kozlowski jankowski mazur "
         "kwiatkowski krawczyk piotrowski grabowski nowakowski pawlowski").split()


def synth_census_cis(
    spark: SparkSession,
    n_a: int = 2500,
    n_b: int = 2400,
    overlap: float = 0.6,
    typo_rate: float = 0.3,
    seed: int = 42,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """F5 — census/CIS-shaped person fixture (reference data shape,
    R/data.R:39-115): key variables pername1/pername2 (strings, JW),
    sex/dob_day/dob_mon/dob_year (binary), blocking field enumcap.
    Returns (census, cis, true_matches) with stable ids a/b."""
    rng = np.random.default_rng(seed)

    def person(i: int) -> dict:
        return {
            "person_id": f"P{i:06d}",
            "pername1": str(rng.choice(_FIRST)),
            "pername2": str(rng.choice(_LAST)),
            "sex": str(rng.choice(["m", "f"])),
            "dob_day": int(rng.integers(1, 29)),
            "dob_mon": int(rng.integers(1, 13)),
            "dob_year": int(rng.integers(1930, 2010)),
            "enumcap": int(rng.integers(0, 40)),
        }

    base = [person(i) for i in range(n_a)]
    a_pdf = pd.DataFrame(base)
    a_pdf.insert(0, "a", range(1, n_a + 1))

    n_overlap = int(n_b * overlap)
    b_rows = []
    labels = []
    for j in range(n_overlap):
        src = dict(base[j])
        if rng.random() < typo_rate:
            which = str(rng.choice(["pername1", "pername2"]))
            src[which] = _typo(rng, src[which])
        b_rows.append(src)
        labels.append((j + 1, len(b_rows)))
    while len(b_rows) < n_b:
        b_rows.append(person(1_000_000 + len(b_rows)))
    b_pdf = pd.DataFrame(b_rows)
    b_pdf.insert(0, "b", range(1, n_b + 1))

    return (
        spark.createDataFrame(a_pdf),
        spark.createDataFrame(b_pdf),
        spark.createDataFrame(pd.DataFrame(labels, columns=["a", "b"])),
    )
