"""spark-submit entry point for the end-to-end repo-file linkage pipeline.

    python scripts/make_pyfiles.py
    spark-submit --py-files dist/automatedreclin_spark.zip \
        jobs/linkage_job.py --files-a <path> --files-b <path> \
        --checkpoint-dir <dir> --output <dir> [--labels <path>]

On a cluster, point --files-a/--files-b at Iceberg/parquet tables of
(repo, path, commit, lang, content) rows with id columns a/b (or pass
--derive-ids to hash them from (repo, path, commit)). tests/test_spark_submit.py
runs this exact script through spark-submit against the synthetic corpus.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--files-a", required=True)
    ap.add_argument("--files-b", required=True)
    ap.add_argument("--labels")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--derive-ids", action="store_true",
                    help="derive stable ids as xxhash64(repo, path, commit)")
    ap.add_argument("--n-buckets", type=int, default=4096)
    args = ap.parse_args()

    from automatedreclin_spark.pipeline import link_repo_files, verify_content_invariant
    from automatedreclin_spark.session import ENGINE_CONF

    # The master comes from spark-submit; the engine settings are the ones
    # every library session uses.
    spark = (SparkSession.builder.appName("reclin-linkage")
             .config(map=ENGINE_CONF).getOrCreate())

    A = spark.read.parquet(args.files_a)
    B = spark.read.parquet(args.files_b)
    if args.derive_ids:
        A = A.withColumn("a", F.xxhash64("repo", "path", "commit"))
        B = B.withColumn("b", F.xxhash64("repo", "path", "commit"))
    labels = spark.read.parquet(args.labels) if args.labels else None

    run = link_repo_files(
        spark, A, B,
        checkpoint_dir=args.checkpoint_dir,
        labels=labels,
        n_buckets=args.n_buckets,
    )
    run.matches.write.mode("overwrite").parquet(f"{args.output}/matches")
    run.entities.write.mode("overwrite").parquet(f"{args.output}/entities")

    violations = (
        verify_content_invariant(run.entities, A, "a", 0)
        + verify_content_invariant(run.entities, B, "b", 1)
    )
    summary = {
        "candidate_pairs": run.candidate_pairs,
        "components": run.n_components,
        "dropped_blocks": run.dropped_blocks,
        "dropped_pairs": run.dropped_pairs,
        "matches": run.matches.count(),
        "invariant_violations": violations,
        "eval": run.eval_metrics,
    }
    print("LINKAGE_SUMMARY " + json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
