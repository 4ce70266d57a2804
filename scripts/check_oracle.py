"""Mimic the driver's correctness gate: run each __spark_entry__ query on
Spark AND its DuckDB oracle; compare row count, column set, and
order-insensitive values. Usage:

    python scripts/check_oracle.py [sf_dir] [only_csv] [artifact.json]

With a third argument, writes a CORRECTNESS-style JSON artifact (per-query
status, row counts, value hash, timings) — used to produce the sf0.1
bench-scale correctness record referenced from BENCH.md.
tests/test_oracles.py runs the same comparison on every query at sf0.001."""

from __future__ import annotations

import hashlib
import json
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from automatedreclin_spark.session import get_spark  # noqa: E402
import importlib.util  # noqa: E402

spec = importlib.util.spec_from_file_location("__spark_entry__", REPO / "__spark_entry__.py")
entry_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry_mod)

TABLES = ["customer"]


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(9)
        elif np.issubdtype(pdf[c].dtype, np.integer) or str(pdf[c].dtype).startswith("u"):
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def mismatch(s: pd.DataFrame, d: pd.DataFrame) -> str | None:
    """Why the normalized Spark frame ``s`` differs from the normalized
    oracle frame ``d``, or None when they match."""
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} vs {list(d.columns)}"
    if len(s) != len(d):
        return f"row count {len(s)} vs {len(d)}"
    if not s.equals(d):
        diff = ~(s == d).all(axis=1)
        first = pd.concat([s[diff].head(3).add_suffix("_spark"),
                           d[diff].head(3).add_suffix("_duck")], axis=1)
        return f"{int(diff.sum())}/{len(s)} differing rows; first few:\n{first}"
    return None


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive sha256 over the normalized frame (mirrors the
    driver's compare: columns sorted by name, rows sorted by value)."""
    return hashlib.sha256(
        pdf.to_csv(index=False).encode("utf-8")
    ).hexdigest()[:16]


def main(sf_dir: str = "/root/testdata/sf0.01", only: list[str] | None = None,
         artifact: str | None = None) -> int:
    spark = get_spark(app_name="oracle-check", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    records: dict[str, dict] = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        rec = records[name] = {"status": None, "rows_spark": None,
                               "rows_oracle": None, "value_hash": None,
                               "spark_sec": None, "oracle_sec": None,
                               "err": None}
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"[FAIL] {name}: spark query raised {type(e).__name__}: {e}")
            rec.update(status="fail", err=f"spark: {type(e).__name__}: {e}")
            failures += 1
            continue
        t_spark = time.time() - t0
        rec.update(rows_spark=len(spark_pdf), spark_sec=round(t_spark, 2))
        t1 = time.time()
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"[FAIL] {name}: oracle raised {type(e).__name__}: {e}")
            rec.update(status="fail", err=f"oracle: {type(e).__name__}: {e}")
            failures += 1
            continue
        rec.update(rows_oracle=len(duck_pdf), oracle_sec=round(time.time() - t1, 2))
        s, d = normalize(spark_pdf), normalize(duck_pdf)
        err = mismatch(s, d)
        if err:
            print(f"[FAIL] {name}: {err}")
            rec.update(status="fail", err=err)
            failures += 1
        else:
            h = value_hash(s)
            print(f"[OK]   {name}: {len(s)} rows match ({t_spark:.1f}s spark)")
            rec.update(status="hash_match", value_hash=h)
    if artifact:
        out = {
            "sf_dir": sf_dir,
            "n_queries": len(records),
            "n_hash_match": sum(r["status"] == "hash_match" for r in records.values()),
            "n_fail": failures,
            "queries": records,
        }
        Path(artifact).write_text(json.dumps(out, indent=2))
        print(f"artifact -> {artifact}")
    return failures


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 and sys.argv[2] != "-" else None
    art = sys.argv[3] if len(sys.argv) > 3 else None
    sys.exit(1 if main(sf, only, art) else 0)
