"""Stage checkpointing with commit manifests — the resumability layer.

The north rule requires per-stage/per-iteration snapshots "with per-partition
lineage and counters so any stage resumes from its last committed snapshot".
In production this maps 1:1 onto Iceberg table commits (atomic snapshot +
metadata); this sandbox has no Iceberg runtime jars, so the same contract is
implemented as:

    <base>/<stage>/data/          parquet snapshot (atomic via _SUCCESS)
    <base>/<stage>/manifest.json  row count, per-partition row counts
                                  (lineage counters), user metadata, schema
    <base>/<stage>/_COMMITTED     commit marker written LAST

Every counter comes from the write itself: ``rows`` and any stage-specific
metric are observed while the snapshot is written, and the per-partition
counts are read from the written files' parquet footers (the file name
carries the writing task's partition id), so committing a stage scans
nothing twice.

A stage is only considered committed when the marker exists, so a job killed
mid-write re-runs that stage from its inputs (idempotent: same stage name →
same deterministic content). ``resume=True`` (default) makes re-running a
pipeline skip every committed stage — kill/restart tests live in
tests/test_pipeline.py.
"""

from __future__ import annotations

import json
import re
import time
from pathlib import Path
from typing import Any, Callable, Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_PART_FILE = re.compile(r"part-(\d+)")


def _rows_per_partition(data_dir: Path) -> dict[int, int]:
    """Rows of each writing task, summed from the parquet footers of the
    files it wrote. Tasks that wrote no rows write no file."""
    out: dict[int, int] = {}
    for f in data_dir.glob("part-*.parquet"):
        pid = int(_PART_FILE.match(f.name).group(1))
        out[pid] = out.get(pid, 0) + pq.read_metadata(f).num_rows
    return dict(sorted(out.items()))


class CheckpointManager:
    def __init__(self, spark: SparkSession, base_dir: str, resume: bool = True):
        self.spark = spark
        self.base = Path(base_dir)
        self.resume = resume
        self.base.mkdir(parents=True, exist_ok=True)

    def _stage_dir(self, name: str) -> Path:
        return self.base / name

    def is_committed(self, name: str) -> bool:
        return (self._stage_dir(name) / "_COMMITTED").exists()

    def manifest(self, name: str) -> dict[str, Any] | None:
        p = self._stage_dir(name) / "manifest.json"
        if p.exists():
            return json.loads(p.read_text())
        return None

    def stage(
        self,
        name: str,
        builder: Callable[[], DataFrame],
        meta: dict[str, Any] | None = None,
        inputs: list[str] | None = None,
        observations: Sequence[Observation] = (),
    ) -> DataFrame:
        """Run (or resume) a checkpointed stage. The builder's output is
        materialized to parquet; reading it back also truncates lineage for
        downstream iteration (the localCheckpoint role at cluster scale).

        ``inputs`` names the upstream committed stages this stage reads; their
        rows_out become this stage's explicit rows_in lineage (SURVEY §7.0's
        (stage, iter, rows_in, rows_out) row). Stages fed by external tables
        pass no inputs and record rows_in = null.

        ``observations`` are attached by the builder somewhere in its plan;
        their metrics, collected by the snapshot write, are added to the
        manifest's ``meta``, where a resumed run reads them back."""
        sdir = self._stage_dir(name)
        data_dir = sdir / "data"
        if self.resume and self.is_committed(name):
            return self.spark.read.parquet(str(data_dir))

        # Validate declared inputs BEFORE running the builder: a typo'd
        # upstream name should fail in milliseconds, not after hours of
        # computation and a full snapshot write.
        for up in inputs or []:
            if self.manifest(up) is None:
                raise ValueError(
                    f"stage {name!r} declares input {up!r} but no committed "
                    "manifest exists for it (typo, or the upstream stage was "
                    "never committed)"
                )

        t0 = time.time()
        df = builder()
        # df.observe: rows_out is measured DURING the snapshot write itself
        # (no second scan of the builder's plan) — the lineage counter the
        # Iceberg commit would carry as snapshot summary metadata.
        obs = Observation(f"ck_{name}")
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        df.write.mode("overwrite").parquet(str(data_dir))
        rows_out = int(obs.get["rows_out"])
        meta = dict(meta or {})
        for o in observations:
            meta.update(o.get)
        out = self.spark.read.parquet(str(data_dir))
        per_part = _rows_per_partition(data_dir)
        # Explicit rows_in lineage: each named upstream stage's committed
        # rows_out, read from its manifest (committed strictly before us).
        inputs_rows: dict[str, int] = {}
        for up in inputs or []:
            m = self.manifest(up)
            if m is None:
                # Pre-validated above; re-check in case an upstream manifest
                # vanished mid-stage — partial rows_in must never masquerade
                # as complete lineage.
                raise ValueError(
                    f"stage {name!r} declares input {up!r} but no committed "
                    "manifest exists for it (typo, or the upstream stage was "
                    "never committed)"
                )
            inputs_rows[up] = int(m["rows"])
        rows_in = sum(inputs_rows.values()) if inputs_rows else None

        manifest = {
            "stage": name,
            "rows": rows_out,
            "rows_in": rows_in,
            "inputs": inputs_rows,
            "partitions": per_part,
            "schema": out.schema.simpleString(),
            "elapsed_sec": round(time.time() - t0, 3),
            "meta": meta,
        }
        sdir.mkdir(parents=True, exist_ok=True)
        (sdir / "manifest.json").write_text(json.dumps(manifest, indent=2, default=str))
        (sdir / "_COMMITTED").write_text(str(time.time()))
        self._append_counters(name, rows_out, len(per_part),
                              manifest["elapsed_sec"], meta,
                              rows_in=rows_in, inputs_rows=inputs_rows)
        return out

    # ---------------------------------------------------- counters table ----

    def _counters_path(self) -> Path:
        return self.base / "_counters.jsonl"

    def _append_counters(self, stage: str, rows_out: int, n_partitions: int,
                         elapsed_sec: float, meta: dict[str, Any] | None,
                         rows_in: int | None = None,
                         inputs_rows: dict[str, int] | None = None) -> None:
        """One queryable row per committed stage — the (stage, iter, rows_in,
        rows_out) lineage table of SURVEY §7.0. rows_in is the summed
        rows_out of the stage's declared upstream committed snapshots, and
        ``inputs`` keeps the per-upstream breakdown; appended atomically
        AFTER the commit marker."""
        rec = {
            "stage": stage,
            "committed_at": time.time(),
            "rows_in": rows_in,
            "rows_out": rows_out,
            "inputs": inputs_rows or {},
            "n_partitions": n_partitions,
            "elapsed_sec": elapsed_sec,
            "meta": meta or {},
        }
        with self._counters_path().open("a") as f:
            f.write(json.dumps(rec, default=str) + "\n")

    _COUNTERS_SCHEMA = (
        "stage string, committed_at double, rows_in long, rows_out long, "
        "inputs map<string,long>, n_partitions long, elapsed_sec double"
    )

    def counters(self) -> DataFrame:
        """The per-stage lineage/counters table as a DataFrame (survives
        resume: committed stages keep their original rows; re-run stages
        append a fresh row, so the history is an audit log)."""
        p = self._counters_path()
        if not p.exists():
            return self.spark.createDataFrame([], self._COUNTERS_SCHEMA)
        recs = [json.loads(ln) for ln in p.read_text().splitlines() if ln.strip()]
        return self.spark.createDataFrame(
            [(r["stage"], float(r["committed_at"]),
              None if r.get("rows_in") is None else int(r["rows_in"]),
              int(r["rows_out"]),
              {k: int(v) for k, v in (r.get("inputs") or {}).items()},
              int(r["n_partitions"]), float(r["elapsed_sec"])) for r in recs],
            self._COUNTERS_SCHEMA,
        )

    def scalar(self, name: str, builder: Callable[[], dict[str, Any]]) -> dict[str, Any]:
        """Checkpoint small driver-side results (fitted params, counts)."""
        sdir = self._stage_dir(name)
        p = sdir / "scalar.json"
        if self.resume and self.is_committed(name):
            return json.loads(p.read_text())
        value = builder()
        sdir.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(value, indent=2, default=str))
        (sdir / "_COMMITTED").write_text(str(time.time()))
        return value
