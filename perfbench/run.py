#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload link_files --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout: the library is imported from there,
and everything the run writes goes under ``.bench_work/`` there. One driver
process on ``local[<cores> / 2]`` with the library's own Spark defaults. Set-up
(session start, input generation, read-back, Python worker start) runs
``SETUP_ROUNDS`` times and reports its median: the first round launches the
driver JVM, the later ones stop the SparkContext and start a new one in that
JVM. Then a closed loop with one client runs samples back to back until
``--seconds`` have passed. ``--trace 1`` adds spans around calls
into the library and the Spark event log, and reports per-layer metrics
instead of the end-to-end ones.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SETUP_ROUNDS = 3
#: Spark task threads: half the cores, so that the JIT compiler, GC and
#: Python worker threads beside them, and a woken thread on a shared host,
#: find an idle core instead of queueing behind the job.
TASK_THREADS = max(1, len(os.sched_getaffinity(0)) // 2)
#: The driver JVM's own thread pools, sized to the task threads rather than
#: to the cores: two JIT compiler threads (the fewest tiered compilation
#: allows) and as many parallel GC threads as task threads.
JVM_THREADS = (f"-XX:CICompilerCount=2 -XX:ParallelGCThreads={TASK_THREADS} "
               f"-XX:ConcGCThreads={max(1, TASK_THREADS // 2)}")


class Ops:
    """Counts operations; an exception, failed checks included, fails one."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, fn) -> None:
        self.attempted += 1
        try:
            fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: Path, trace: bool):
    from automatedreclin_spark import get_spark

    conf = {
        # Keep the JVM's temporary files inside the checkout.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData {JVM_THREADS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cpus=TASK_THREADS, extra_conf=conf)


def _identity(batches):
    yield from batches


def warm_up(spark) -> None:
    """Start the Python workers, which the first pandas UDF would otherwise
    start inside the first timed job."""
    cores = spark.sparkContext.defaultParallelism
    spark.range(cores * 4, numPartitions=cores).mapInPandas(
        _identity, "id long").count()


def stop_session(spark) -> None:
    """Stop the SparkContext and the driver JVM, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def install_spans(tracer) -> None:
    from automatedreclin_spark import pipeline
    from automatedreclin_spark.checkpoint import CheckpointManager
    from automatedreclin_spark.models import blocked_mec

    tracer.wrap(CheckpointManager, "stage", "checkpoint.stage",
                lambda ck, name, *a, **k: {
                    "stage": name,
                    "skipped": bool(ck.resume and ck.is_committed(name))})
    for attr in ("files_candidate_blocks", "connected_components",
                 "cluster_matches", "blocked_mec"):
        tracer.wrap(pipeline, attr, f"pipeline.{attr}")
    for attr in ("select_mec_pairs", "retain_top_n"):
        tracer.wrap(blocked_mec, attr, f"selection.{attr}")


def end_to_end(samples, setup_times) -> dict:
    def med(key):
        return statistics.median(s[key] for s in samples if key in s)

    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "job_s": (med("job_s"), "s"),
        "job_cpu_s": (med("job_cpu_s"), "s"),
        "pairs_per_s": (statistics.median(
            s["pairs"] / s["job_s"] for s in samples if "job_s" in s), "1/s"),
        "resume_s": (med("resume_s"), "s"),
        "pairwise_f1": (med("f1"), "ratio"),
    }


def per_layer(wl, spark, samples, tracer, cpu_frac, peak_rss) -> dict:
    from perfbench.spans import self_times

    self_s = self_times(tracer.spans)
    n = len(samples)
    sel = [s for s in tracer.spans if s.name.startswith("selection.")]
    out = {
        "selection.calls": len(sel) / n,
        "selection.s": sum(s.seconds for s in sel) / n,
        "proc.cpu_busy_frac": cpu_frac,
        "proc.peak_rss_mb": peak_rss / 1e6,
        "trace.job_s": statistics.median(
            s["job_s"] for s in samples if "job_s" in s),
    }
    out.update(wl.layers(spark, samples, tracer.spans, self_s))
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    # Import the library from this checkout, never from elsewhere.
    sys.path[0] = str(ROOT)
    try:
        import automatedreclin_spark
    except ImportError as e:
        print(f"automatedreclin_spark is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if Path(automatedreclin_spark.__file__).resolve().parents[1] != ROOT:
        print(f"automatedreclin_spark imported from outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench import procstat, stats
    from perfbench.spans import Tracer, parse_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    metric_names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]

    work = ROOT / ".bench_work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "data", "ck", "eventlog"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # The JVM that assembles the spark-submit command writes no perf data.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    ops = Ops()
    tracer = Tracer() if args.trace else None
    spark = None
    samples: list[dict] = []
    metrics: dict = {}
    layers: dict = {}
    sampler = procstat.Sampler()
    try:
        with sampler:
            setup_times = []
            for _ in range(SETUP_ROUNDS):
                if spark is not None:
                    spark.stop()
                t0 = time.perf_counter()
                spark = start_session(work, bool(args.trace))
                wl.generate(spark, args.seed, work / "data")
                wl.load(spark, work / "data")
                warm_up(spark)
                setup_times.append(time.perf_counter() - t0)
                print(f"setup round {len(setup_times)}: {setup_times[-1]:.2f} s",
                      file=sys.stderr)
            t0 = time.perf_counter()
            wl.prepare_checks(spark, work / "data")
            print(f"checks: {time.perf_counter() - t0:.2f} s", file=sys.stderr)

            if tracer:
                install_spans(tracer)
            wall0 = time.perf_counter()
            while True:
                ck = work / "ck" / f"s{len(samples)}"
                t_s = time.perf_counter()
                samples.append(wl.sample(spark, ck, ops, sampler.cpu_seconds, tracer))
                samples[-1]["sample_s"] = time.perf_counter() - t_s
                print(f"sample {len(samples)}: " + ", ".join(
                    f"{k} {v:.6g}" for k, v in samples[-1].items()
                    if isinstance(v, (int, float))), file=sys.stderr)
                if len(samples) > 1:  # the traced run reads the last one
                    shutil.rmtree(work / "ck" / f"s{len(samples) - 2}",
                                  ignore_errors=True)
                if time.perf_counter() - wall0 >= args.seconds:
                    break
            # (start_ms, end_ms, wall_s, cpu_s) of every timed call.
            windows = [w for s in samples for w in s.get("windows", ())]
            done = any("job_s" in s for s in samples)
            if tracer:
                tracer.unwrap()
                tracer.dump(work / "spans.json")
                if done:
                    cpu_frac = sum(w[3] for w in windows) / (
                        sum(w[2] for w in windows) * len(os.sched_getaffinity(0)))
                    layers = per_layer(wl, spark, samples, tracer, cpu_frac,
                                       sampler.peak_rss)
            elif done:
                metrics = {k: {"value": v, "unit": u} for k, (v, u) in
                           end_to_end(samples, setup_times).items()}
    finally:
        if spark is not None:
            stop_session(spark)
        procstat.wait_gone(sampler.seen)

    if layers:
        # The event log is complete only once the SparkContext has stopped.
        logs = sorted((work / "eventlog").iterdir(), key=lambda p: p.stat().st_mtime)
        with open(logs[-1]) as f:
            events = parse_event_log(f, [w[:2] for w in windows])
        for k, v in events.items():
            layers[f"spark.{k}"] = v if k == "max_task_skew" else v / len(samples)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        unknown = set(layers) - set(units)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")
        # Layers the workload never calls did no work.
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": units[k]}
                   for k in metric_names}

    jobs = [s["job_s"] for s in samples if "job_s" in s]
    if jobs:
        summ = stats.summarize(jobs)
        tail = (f"p{summ['tail_p']:g} {summ['tail']:.3f} s" if summ["tail_p"]
                else f"no tail percentile below {4 * stats.TAIL_SAMPLES} samples")
        print(f"{wl.name}: job_s median {summ['median']:.3f} s, {tail}, "
              f"n={summ['n']} samples (closed loop, 1 client)")
    for k, m in metrics.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    result = {"correct": ops.failed == 0 and bool(metrics),
              "attempted": max(ops.attempted, 1), "failed": ops.failed,
              "metrics": metrics}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
