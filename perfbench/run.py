"""Layer-attributed benchmark of oroch_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload scan_query --seed 1 \\
        --seconds 8 --trace 0

Prints one JSON line of run details (environment, per-op medians by
the names the docs use, sample counts, errors), then, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Exits 1 when any op failed or answered
wrong (after printing), 2 when the run could not produce its metrics.
Everything it writes stays under ``.perfbench/`` in the checkout.
"""
from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# Reserved for checking a claimed gain on inputs it was not tuned on;
# do not use it while developing a change.
HELD_OUT_SEED = 982_451_653
CACHED_SOURCES = 6


def _args(argv, workloads):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads))
    seed = ap.add_mutually_exclusive_group(required=True)
    seed.add_argument("--seed", type=int)
    seed.add_argument("--held-out", action="store_true",
                      help=f"use the held-out seed {HELD_OUT_SEED}")
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.held_out:
        a.seed = HELD_OUT_SEED
    return a


def _evict(cache: str) -> None:
    """Keep the newest generated sources only."""
    if not os.path.isdir(cache):
        return
    dirs = sorted((os.path.join(cache, d) for d in os.listdir(cache)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[CACHED_SOURCES:]:
        shutil.rmtree(d, ignore_errors=True)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _env(cores: int, heap: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    return {"cores": cores, "heap_mb": heap, "spark": pyspark.__version__,
            "arrow": pyarrow.__version__, "numpy": numpy.__version__,
            "python": platform.python_version(),
            "machine": platform.machine()}


def main(argv=None) -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from workloads import WORKLOADS, Run

    args = _args(argv, WORKLOADS)
    sys.path.insert(0, root)
    try:
        import oroch_spark.engine  # noqa: F401 - the code under test
    except ImportError as exc:
        print(f"perfbench: cannot import oroch_spark from {root}: {exc!r}",
              file=sys.stderr)
        return 2

    import harness
    import report
    from tracing import Tracer

    state = os.path.join(root, ".perfbench")
    work = os.path.join(state, f"run-{os.getpid()}")
    cache = os.path.join(state, "cache")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(cache, exist_ok=True)
    _evict(cache)
    # keep every process this run starts writing inside the checkout
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # the Python workers import the checkout's oroch_spark, not another
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")

    cores, heap = harness.cores(), harness.heap_mb()
    try:
        with harness.RssSampler() as rss:
            t0 = time.perf_counter()
            spark = harness.build_spark(work, cores, heap)
            session_s = time.perf_counter() - t0
            try:
                run = Run(spark, work, cache, args.seed, args.seconds, cores,
                          Tracer(spark) if args.trace else None)
                WORKLOADS[args.workload](run)
            finally:
                _stop_spark(spark)
        setup_s = session_s + statistics.median(run.builds)
        if args.trace:
            values = report.per_layer(
                run, [m["name"] for m in spec["per_layer"]])
            declared = spec["per_layer"]
        else:
            values = report.end_to_end(run, setup_s, rss.peak_mb())
            declared = spec["end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in values]
        if missing:
            raise KeyError(f"metrics not measured: {missing}")
        ledger = run.ledger
        details = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "env": _env(cores, heap),
            "setup": {"session_s": session_s, "builds_s": run.builds},
            "phases": run.phases,
            "host": {"probe_s": run.probes,
                     "slowdown": report.host_slowdown(run),
                     "unscaled": {"setup_s": setup_s,
                                  "turns_per_s": run.samples.turns_per_s(),
                                  "p50_ms": run.samples.p50_ms()}},
            "ops": {k: {"n": len(v),
                        "p50_ms": 1000.0 * statistics.median(v),
                        "turns": run.samples.turns[k],
                        "wall_s": v}
                    for k, v in run.samples.wall.items()},
            "named": run.details,
            "error_rate": ledger.failed / ledger.attempted,
            "errors": ledger.errors,
        }
        if args.trace:
            os.makedirs(os.path.join(state, "traces"), exist_ok=True)
            run.tracer.dump(os.path.join(
                state, "traces",
                f"{args.workload}-s{args.seed}-{os.getpid()}.json"), details)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"perfbench": details}))
    print(json.dumps({
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]),
                                "unit": m["unit"]} for m in declared},
    }))
    for e in ledger.errors:
        print(f"perfbench: {e}", file=sys.stderr)
    return 0 if ledger.failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - no metrics: report and fail
        import traceback

        traceback.print_exc()
        sys.exit(2)
