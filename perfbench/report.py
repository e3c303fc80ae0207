"""Turn a finished run into the metrics the benchmark prints.

Per-op values from the traced run are medians over the ops of one
kind. Workload values that cover the whole mix add those medians over
the kinds in one round of the mix, so they do not depend on how many
rounds fitted in the run. A layer a workload does not exercise reads 0.
"""
from __future__ import annotations

import statistics

from gen import COLUMNS
from harness import REF_NOMINAL_S
from workloads import QUERY_OPS

UDF = {"spark.udf.boot_ms": "pythonBootTime",
       "spark.udf.init_ms": "pythonInitTime",
       "spark.udf.python_ms": "pythonTotalTime",
       "spark.udf.bytes_to_python": "pythonDataSent",
       "spark.udf.bytes_from_python": "pythonDataReceived"}


def host_slowdown(run) -> float:
    """How much slower the host ran the probe than nominal (> 1: busy)."""
    return statistics.median(run.probes) / REF_NOMINAL_S


def end_to_end(run, setup_s: float, peak_rss_mb: float) -> dict:
    """Timings scaled to the nominal host speed; sizes and memory as
    measured."""
    slow = host_slowdown(run)
    return {"setup_s": setup_s / slow,
            "turns_per_s": run.samples.turns_per_s() * slow,
            "p50_ms": run.samples.p50_ms() / slow,
            "bytes_per_turn": run.e2e["bytes_per_turn"],
            "ref_budget_ratio": run.e2e["ref_budget_ratio"],
            "peak_rss_mb": peak_rss_mb}


def _by_kind(ops: list) -> dict:
    out: dict = {}
    for rec in ops:
        out.setdefault(rec["kind"], []).append(rec)
    return out


def _med(recs: list, get) -> float:
    return statistics.median(get(r) for r in recs)


def per_layer(run, names: list) -> dict:
    """Every per-layer metric named in BENCHMARK.json, 0 where the
    workload leaves the layer idle."""
    m = dict.fromkeys(names, 0.0)
    m.update(run.layers)
    tracer = run.tracer
    kinds = _by_kind(tracer.ops)
    blocks_total = run.layers.get("engine.blocks_total", 0)
    attributed = busy = 0.0
    for kind, recs in kinds.items():
        m[f"engine.plan_ms.{kind}"] = 1000.0 * _med(recs, lambda r: r["plan_s"])
        m[f"spark.tasks.{kind}"] = _med(recs, lambda r: r["tasks"])
        python_ms = _med(recs, lambda r: r["python"].get("pythonTotalTime", 0))
        m[f"spark.udf.python_ms.{kind}"] = python_ms
        for name, key in UDF.items():
            m[name] += _med(recs, lambda r: r["python"].get(key, 0))
        m["spark.scan.bytes_read"] += _med(recs, lambda r: r["input_bytes"])
        m["spark.shuffle.bytes_written"] += _med(
            recs, lambda r: r["shuffle_write_bytes"])
        m["spark.nonpython_core_s"] += (
            run.cores * _med(recs, lambda r: r["wall_s"]) - python_ms / 1000.0)
        if kind in QUERY_OPS:
            kept = _med(recs, lambda r: r["blocks_in"] or 0)
            m[f"engine.blocks_kept.{kind}"] = kept
            m[f"engine.kept_ratio.{kind}"] = kept / blocks_total
        for r in recs:
            busy += run.cores * r["wall_s"]
            attributed += r["executor_run_ms"] / 1000.0 + r["plan_s"]
    # the kernels' share of the cores' time during the op that runs
    # them: in-process kernel time against cores x the op's median wall
    meds = run.samples.medians()
    for layer, kind in (("encode", "encode"), ("decode", "decode_full")):
        if kind in meds:
            kernel_ms = sum(m[f"kernels.{layer}_ms.{c}"] for c in COLUMNS)
            m[f"kernels.{layer}_share"] = kernel_ms / (
                1000.0 * run.cores * meds[kind])
    m["trace.overhead_s"] = tracer.overhead_s
    m["trace.unattributed_share"] = max(0.0, 1.0 - attributed / busy)
    unknown = set(m) - set(names)
    if unknown:
        raise KeyError(f"per-layer metrics missing from BENCHMARK.json: "
                       f"{sorted(unknown)}")
    return m
