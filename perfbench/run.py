#!/usr/bin/env python3
"""Benchmark of the bern_spark entity-resolution pipeline.

    python3 perfbench/run.py --workload er_corpus --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Builds the workload's inputs from
``--seed``, starts Spark through ``bern_spark.session.get_spark`` with the
program's defaults on ``local[<cpus>]``, runs ``resolve_entities`` as a
closed loop with one client for ``--seconds`` of measured time (at least one
run), checks every output, and prints each metric by name with its unit. The
last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` does a separate traced run and reports the
per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("er_corpus", "er_vocab")
UNITS = {
    "wall_s": "s",
    "turns_per_s": "1/s",
    "setup_s": "s",
    "worker_rss_mb": "MB",
    "shuffle_bytes": "B",
    "success_ratio": "ratio",
}


def per_layer_unit(name: str) -> str:
    suffix = name.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("bytes") or suffix == "bytes_written":
        return "B"
    if suffix.endswith("ratio") or suffix in ("pairs_per_surface", "write_amplification"):
        return "ratio"
    return "count"


def timing_summary(samples: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond it."""
    n = len(samples)
    med = statistics.median(samples)
    if n < 20:
        return f"median {med:.4f} (n={n}; too few samples for a percentile above the median)"
    q = int(100 * (1 - 10 / n))
    pq = statistics.quantiles(samples, n=100)[q - 1]
    return f"median {med:.4f}, p{q} {pq:.4f} (n={n})"


def _environment(workdir: str) -> None:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "OMP_NUM_THREADS"):
        os.environ.pop(k, None)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "bern_spark", "pipeline.py")):
        print(f"error: no bern_spark package under {ROOT}; run from a checkout", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    _environment(workdir)
    try:
        return _run(args, workdir)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def _run(args, workdir: str) -> int:
    from bern_spark.session import get_spark
    from perfbench import workloads

    if args.smoke:
        workloads.SIZES = workloads.SMALL_SIZES

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    session_start = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        result = workloads.Result(session_start_s=session_start)
        # the traced run reports no setup_s, so it builds its input once
        repeats = 1 if args.trace else workloads.SETUP_REPEATS
        inp, build_walls = workloads.build_inputs(
            spark, args.workload, args.seed, workdir, repeats, workloads.SIZES[args.workload]
        )
        result.turns = inp.turns
        result.setup_s = session_start + statistics.median(build_walls)
        if args.trace:
            spans_dir = os.path.join(ROOT, ".bench_work", "spans")
            os.makedirs(spans_dir, exist_ok=True)
            spans_path = os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json")
            workloads.traced_run(spark, inp, args.workload, workdir, spans_path, result)
        else:
            workloads.timed_loop(spark, inp, args.seconds, result)
    finally:
        _stop_spark(spark)

    print(f"workload {args.workload} seed {args.seed} turns {result.turns} "
          f"cpus {os.environ['SPARK_GRAFT_CPUS']}")
    print(f"setup: session start {session_start:.4f} s, input builds "
          f"{' '.join(f'{w:.4f}' for w in build_walls)} s")
    for k, v in sorted(result.context.items()):
        print(f"context {k} {json.dumps(v)}")
    for f in result.failures:
        print(f"FAILED {f}")
    attempted = len(result.iterations)
    failed = sum(1 for it in result.iterations if not it.ok)
    print(f"failure_ratio {failed / attempted:.4f} ratio")
    if args.trace:
        metrics = {k: (v, per_layer_unit(k)) for k, v in result.per_layer.items()}
    else:
        walls = [it.wall for it in result.iterations]
        print(f"runs: {' '.join(f'{w:.4f}' for w in walls)} s")
        print(f"wall_s: {timing_summary(walls)} s")
        summary = workloads.summarize(result)
        summary["setup_s"] = result.setup_s
        summary["worker_rss_mb"] = result.worker_rss_mb
        metrics = {k: (summary[k], UNITS[k]) for k in UNITS}
    for k, (v, unit) in metrics.items():
        print(f"metric {k} {v} {unit}")
    print(json.dumps({
        "correct": not result.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
