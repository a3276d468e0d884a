"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest_dedupe --seed 1 --seconds 30 --trace 0

Run from the repository root. Generates (or reuses) the seeded inputs,
starts one Spark session, sets up, runs the workload's batches in a closed
loop, checks the output, and prints every metric with its unit. A run is
a fixed number of batches per workload; ``--seconds`` is recorded in the
run card but does not cut the loop. The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). Everything the run writes stays under ``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
# A run that has not printed its result by then is killed with its JVM.
WATCHDOG_S = 170


def parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_environment(work: str) -> None:
    """Keep Spark's scratch files, warehouse and temp files inside the run's
    directory, and give Spark every CPU this process may use."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for the JVM to
    exit (Spark's Python workers are its children and go with it)."""
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
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _watchdog() -> None:
    from pyspark import SparkContext

    print(f"benchmark exceeded {WATCHDOG_S}s; aborting", file=sys.stderr, flush=True)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=30)
    os._exit(3)


def main(argv: list[str]) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "polars_incremental_spark", "__init__.py")):
        print(f"polars_incremental_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)  # the checkout's source, not an installed copy

    import benchmath as bm
    import gen
    from spans import RssSampler
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    if args.seconds < 1:
        print("--seconds must be >= 1", file=sys.stderr)
        return 2
    cls, shape = WORKLOADS[args.workload]

    watchdog = threading.Timer(WATCHDOG_S, _watchdog)
    watchdog.daemon = True
    watchdog.start()

    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    isolate_environment(work)
    out_dir = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    os.makedirs(out_dir, exist_ok=True)
    os.makedirs(CACHE, exist_ok=True)

    card = gen.RunCard(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    inputs, manifest, gen_s = gen.cached_inputs(CACHE, args.workload, args.seed, **shape)

    from polars_incremental_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")  # once per process
    start_s = time.perf_counter() - t0
    try:
        run = cls(spark, inputs, manifest, work, trace=bool(args.trace))
        with RssSampler() as rss:  # set-up and batches; not the checks
            setup_s = start_s + run.setup()
            run.measure(shape["n_files"])
        if run.batches:
            run.check()
    finally:
        stop_spark(spark)

    if not run.batches:
        print("no batch completed", file=sys.stderr)
        return 1
    if args.trace:
        metrics = run.per_layer()
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.warmup_s"] = (bm.median(run.warmup_s), "s")
        metrics["process.peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
        run.tracer.write(os.path.join(out_dir, "spans.json"),
                         batches=[b.sid for b in run.batches])
    else:
        metrics = run.end_to_end()
        run.raw["setup_s"] = setup_s
        metrics["setup_s"] = (setup_s * run.box_scale(), "s")
    card.finish(
        os.path.join(out_dir, "runcard.json"),
        generate_s=gen_s,
        batches=len(run.batches),
        raw_timings=getattr(run, "raw", None),
        box_scale=run.box_scale(),
        setup_probe_s=run.setup_probes,
        failures=run.ops.failures,
        peak_rss_by_process=rss.peak_detail,
        batch_walls_s=[b.wall for b in run.batches],
        box_probe_s=[b.probe_s for b in run.batches],
    )
    for failure in run.ops.failures:
        print(f"FAILED: {failure}", file=sys.stderr)
    watchdog.cancel()

    width = max(len(k) for k in metrics)
    print(f"{args.workload} seed={args.seed} batches={len(run.batches)} "
          f"generate_s={gen_s:.2f} (outside set-up)")
    if not args.trace:
        print(f"timings scaled by box_scale={run.box_scale():.4f}, as measured: "
              + " ".join(f"{k}={v:.6g}" for k, v in run.raw.items()))
    for name, (value, unit) in sorted(metrics.items()):
        print(f"  {name:<{width}}  {value:>14.6g} {unit}")
    print(json.dumps(bm.result_line(run.ops, metrics)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
