"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries": {name: sec}, "sf", ...}.

The headline metric is the north-rule one: encode throughput in
turns/sec on the synthetic transcript table, with compressed
bytes/turn and the reference-size budget ratio reported alongside.

Usage:
    python3 bench.py                 # driver mode (one JSON line)
    python3 bench.py --cores 8       # override parallelism (scaling runs)
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_CONV = int(os.environ.get("OROCH_BENCH_CONV", "12000"))
# Fixed partitioning: the job must be IDENTICAL at every parallelism
# level (the two-cluster-size rule compares throughput on the same job).
N_BUCKETS = int(os.environ.get("OROCH_BENCH_BUCKETS", "32"))
N_SRC_FILES = int(os.environ.get("OROCH_BENCH_SRC_FILES", "256"))
# Encode mode for the headline metric:
#   maponly  (default) shuffle-free encode of the conv-clustered source
#            (engine.encode_parquet_maponly) — the plan that scales
#   shuffle  salted repartition + mapInArrow (engine.encode_df), the
#            plan for unclustered input
MODE = os.environ.get("OROCH_BENCH_MODE", "maponly")
MODES = ("maponly", "shuffle")


def build_spark(cores: int):
    from pyspark.sql import SparkSession
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName("oroch-bench")
            .config("spark.sql.shuffle.partitions", str(max(cores * 2, 8)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.parquet.outputTimestampType",
                    "TIMESTAMP_MICROS")
            .config("spark.driver.memory", "16g")
            .config("spark.ui.enabled", "false")
            .config("spark.log.level", "ERROR")
            .getOrCreate())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", default=None)
    ap.add_argument("--reps", type=int,
                    default=int(os.environ.get("OROCH_BENCH_REPS", "3")))
    args = ap.parse_args()
    if MODE not in MODES:
        raise ValueError(f"OROCH_BENCH_MODE={MODE!r}: expected "
                         + "|".join(MODES))

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    spark = build_spark(args.cores)
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from oroch_spark import engine, transcripts
    from oroch_spark.operators import dedup, similarity

    queries: dict[str, float] = {}
    queries_min: dict[str, float] = {}
    unreliable: list[str] = []
    # non-headline failures, {name: repr(exc)}: reported, never dropped
    errors: dict[str, str] = {}
    extra: dict = {}

    def timed(name, fn, required=True, reps=None):
        """One DISCARDED warm-up rep (JIT, page cache, plan cache —
        the r4 record showed all three timed reps can land in a cold/
        contended window), then `reps` timed reps. Pins the MEDIAN
        (noise-robust both ways), keeps the min alongside, and flags
        the query as unreliable when max/min > 2x — a spread that wide
        means the host was contended and the number shouldn't be
        trusted as a regression signal (VERDICT r4 #1)."""
        times = []
        out = None
        try:
            # free accumulated JVM garbage from the PREVIOUS query
            # before this one's warm-up — isolated reruns measured
            # rt_lineitem 1.8-2.2s where the in-bench number was
            # 3.7-5.8s purely from heap pressure left behind by the
            # 5.8M-turn encode/decode stages. GC time is outside the
            # timed region, so this is hygiene, not a method change.
            spark.sparkContext._jvm.System.gc()
            fn()  # warm-up, discarded
            for _ in range(max(1, reps or args.reps)):
                t0 = time.time()
                out = fn()
                times.append(time.time() - t0)
        except Exception as exc:
            if required:
                raise
            errors[name] = repr(exc)  # non-headline: report, keep the line
            return None
        ts = sorted(times)
        queries[name] = round(ts[len(ts) // 2], 3)
        queries_min[name] = round(ts[0], 3)
        if ts[-1] > 2.0 * max(ts[0], 1e-9):
            unreliable.append(name)
        return out

    # --- headline: transcript encode throughput -------------------------
    # Source is a parquet table (the realistic Iceberg-style input);
    # generation is materialized once, outside the timing.
    import tempfile

    src_dir = os.path.join(tempfile.gettempdir(),
                           f"oroch_bench_src_{N_CONV}_{N_SRC_FILES}f")
    if not os.path.exists(os.path.join(src_dir, "_SUCCESS")):
        # Fixed file count + per-conversation seeding + in-partition id
        # sort => byte-identical source layout at every parallelism
        # level (the input to the two-cluster-size comparison).
        transcripts.generate(spark, N_CONV, seed=42,
                             partitions=N_SRC_FILES) \
            .write.mode("overwrite").parquet(src_dir)
    src = spark.read.parquet(src_dir)
    n_turns = src.count()

    def encode_run():
        if MODE == "maponly":
            blocks = engine.encode_parquet_maponly(
                spark, src_dir, ["conv_id", "turn_idx"],
                text_cols=["text"])
        else:
            blocks = engine.encode_df(src, ["conv_id", "turn_idx"],
                                      n_buckets=N_BUCKETS,
                                      text_cols=["text"])
        return blocks.agg(
            F.sum("n").alias("n"), F.sum("bytes_in").alias("bi"),
            F.sum("bytes_out").alias("bo"),
            F.sum("ref_bytes").alias("rb")).collect()[0]

    # Headline gets extra reps (each ~2-3s at sf0.1): the headline
    # turns/sec is the round-over-round comparable, so it uses the BEST
    # rep (min wall time) after the discarded warm-up — the standard
    # shared-host practice (python timeit: "use the min") and the same
    # method r3/r4 pinned (best-of-3 warm), so the numbers compare
    # like-for-like. The median is reported alongside; the per-query
    # table stays median-based for regression tracking.
    row = timed("encode_transcripts", encode_run,
                reps=max(args.reps, 5))
    enc_sec = queries_min["encode_transcripts"]
    extra.update({
        "n_turns": n_turns,
        "turns_per_sec": round(n_turns / enc_sec, 1),
        "turns_per_sec_median": round(
            n_turns / queries["encode_transcripts"], 1),
        "bytes_per_turn": round(row["bo"] / row["n"], 2),
        "compression_ratio": round(row["bo"] / row["bi"], 4),
        "ref_budget_ratio": round(row["bo"] / row["rb"], 4),
        "within_ref_budget": bool(row["bo"] <= row["rb"]),
    })

    # --- decode (round-trip half) ---------------------------------------
    blocks = engine.encode_parquet_maponly(
        spark, src_dir, ["conv_id", "turn_idx"],
        text_cols=["text"]).persist()
    blocks.count()
    kinds = engine.column_kinds(src.schema)
    timed("decode_transcripts",
          lambda: engine.decode_df(blocks, kinds).count())
    # Blocking unpersist + forced full GC before the small-table section:
    # the lazily-freed multi-GB block cache otherwise thrashes the JVM
    # heap through every query that follows — measured rt_events 3.3-5.8s
    # with the lazy unpersist vs 0.8-1.3s after a blocking free + GC
    # (the r4 record's "rt_events 6.9s" was this, not a kernel change).
    blocks.unpersist(True)
    spark.sparkContext._jvm.System.gc()
    time.sleep(1)

    # --- engine round-trips on the sf tables ----------------------------
    for tbl, keys in [("events", ["event_id"]),
                      ("lineitem", ["l_orderkey", "l_linenumber"]),
                      ("documents", ["doc_id"])]:
        df = spark.read.parquet(f"{sf_dir}/{tbl}.parquet")
        timed(f"rt_{tbl}",
              lambda df=df, keys=keys: engine.roundtrip_df(
                  df, keys, n_buckets=N_BUCKETS,
                  text_cols=["text"]).count())

    # --- pipeline operators ---------------------------------------------
    from oroch_spark.operators import textstats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed("dedup_exact", lambda: dedup.exact_dedup(docs).count(),
          required=False)
    timed("fingerprint", lambda: textstats.fingerprint(docs).count(),
          required=False)
    timed("langid", lambda: textstats.lang_id_ngram(docs).count(),
          required=False)
    timed("simhash", lambda: dedup.simhash(docs, bits=16).count(),
          required=False)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = entry._query_vec(sf_dir)
    timed("ann_cosine_topk",
          lambda: similarity.cosine_topk(emb, qv, k=10).collect(),
          required=False)
    # embedding-table round-trip: the byte-plane array<float> codec
    timed("rt_embeddings",
          lambda: engine.roundtrip_df(emb, ["vec_id"],
                                      n_buckets=N_BUCKETS).count(),
          required=False)
    # multimodal: vectorized Arrow feature kernel over document bytes
    from oroch_spark.operators import multimodal
    timed("media_features",
          lambda: multimodal.extract_features(
              multimodal.media_from_documents(docs)).count(),
          required=False)

    # --- pushdown query surface over a persisted blocks table -----------
    # (encode once outside the timings; each op then demonstrates its
    # prune: ms-scale answers against the same table the scans pay
    # seconds for)
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_kinds = engine.column_kinds(events.schema)
    ev_blocks_dir = os.path.join(tempfile.gettempdir(),
                                 f"oroch_bench_evblocks_{sf}")
    if not os.path.exists(os.path.join(ev_blocks_dir, "_SUCCESS")):
        engine.encode_df(events, ["event_id"], n_buckets=N_BUCKETS,
                         block_rows=65536) \
            .write.mode("overwrite").parquet(ev_blocks_dir)
    ev_blocks = spark.read.parquet(ev_blocks_dir)
    timed("lookup_point",
          lambda: engine.lookup(ev_blocks, ev_kinds, "event_id",
                                4242).collect(), required=False)
    timed("range_agg",
          lambda: engine.range_agg(ev_blocks, ev_kinds, "event_id",
                                   1000, 500000, "user_id").collect(),
          required=False)
    timed("group_count",
          lambda: engine.group_count(ev_blocks, ev_kinds,
                                     "event_type").collect(),
          required=False)
    timed("topk_key",
          lambda: engine.topk_key(ev_blocks, ev_kinds, "event_id",
                                  10).collect(), required=False)
    timed("lookup_join",
          lambda: engine.lookup_join(
              ev_blocks, ev_kinds, "event_id",
              events.filter(F.col("event_type") == "signup")
              .select("event_id").limit(1000)).count(),
          required=False)
    # approx NDV from per-block HLL sketches: metadata-speed answer on
    # a sketch-encoded copy of the same table (built once per sf)
    try:
        sk_dir = os.path.join(tempfile.gettempdir(),
                              f"oroch_bench_skblocks_{sf}")
        if not os.path.exists(os.path.join(sk_dir, "_SUCCESS")):
            engine.encode_df(events, ["event_id"], n_buckets=N_BUCKETS,
                             block_rows=65536,
                             sketch_cols=["user_id"]) \
                .write.mode("overwrite").parquet(sk_dir)
        sk_blocks = spark.read.parquet(sk_dir)
        timed("approx_ndv",
              lambda: engine.approx_distinct(sk_blocks,
                                             "user_id").collect(),
              required=False)
    except Exception as exc:
        errors["approx_ndv_setup"] = repr(exc)

    # --- declarative DataSource surface (round 4) ------------------------
    # format("oroch") pushdown read + latest-wins merge-on-read over an
    # upsert stream sink; both tables built once per sf and cached
    try:
        from oroch_spark.sources import datasource as dsrc

        dsrc.register(spark)
        ds_dir = os.path.join(tempfile.gettempdir(),
                              f"oroch_bench_dsev_{sf}")
        if not os.path.exists(os.path.join(ds_dir, "_SUCCESS")):
            (events.repartition(8, "event_id")
                   .sortWithinPartitions("event_id")
                   .write.format("oroch").mode("overwrite")
                   .option("key_cols", "event_id").save(ds_dir))
        timed("ds_filter",
              lambda: spark.read.format("oroch").load(ds_dir)
              .filter((F.col("event_id") >= 1000)
                      & (F.col("event_id") < 50000)
                      & (F.col("event_type") == "click")).count(),
              required=False)
        lw_root = os.path.join(tempfile.gettempdir(),
                               f"oroch_bench_lw_{sf}")
        lw_sink = os.path.join(lw_root, "sink")
        lw_done = os.path.join(lw_root, "_FIXTURE_READY")
        if not os.path.exists(lw_done):
            srcdir = os.path.join(lw_root, "src")
            events.coalesce(4).write.mode("overwrite") \
                .parquet(os.path.join(srcdir, "f1"))
            (events.filter(F.col("event_id") % 10 == 0)
                   .withColumn("value", F.col("value") + 100)
                   .coalesce(4).write.mode("overwrite")
                   .parquet(os.path.join(srcdir, "f2")))
            q = (spark.readStream.schema(events.schema)
                 .option("maxFilesPerTrigger", "4")
                 .parquet(srcdir + "/*")
                 .writeStream.format("oroch").option("path", lw_sink)
                 .option("key_cols", "event_id")
                 .option("checkpointLocation",
                         os.path.join(lw_root, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination(300)
            if len({b for _, b
                    in dsrc._sink_manifest_files(lw_sink)}) >= 2:
                with open(lw_done, "w") as f:
                    f.write("ok")
        timed("latest_wins_read",
              lambda: spark.read.format("oroch")
              .option("latest_wins", "true").load(lw_sink).count(),
              required=False)
    except Exception as exc:  # declarative-surface timings are extras
        errors["datasource_setup"] = repr(exc)

    # --- single-thread kernel throughput (noise-robust comparable) ------
    # The 32-thread wall clock on this overcommitted host (32 vCPU ~
    # 8-11 real cores) swings with co-tenant load minute to minute; a
    # fixed single-threaded kernel run is the round-over-round
    # comparable that survives that noise. Best of `reps` over a fixed
    # ~90k-row slice of the SAME bench source files.
    import glob as _glob

    import pyarrow.parquet as _pq

    st_files = sorted(_glob.glob(os.path.join(src_dir, "*.parquet")))[:4]
    st_tabs = [_pq.read_table(f) for f in st_files]
    st_rows = sum(t.num_rows for t in st_tabs)
    st_kinds = engine.arrow_column_kinds(st_tabs[0].schema)

    def st_run():
        for t in st_tabs:
            for s in range(0, t.num_rows, 65536):
                engine._encode_chunk(t.slice(s, 65536), 0, 0, st_kinds,
                                     ["conv_id", "turn_idx"],
                                     frozenset(["text"]))

    st_run()  # warm (first-touch memory is ~50x slower in this sandbox)
    st_best = None
    for _ in range(max(1, args.reps)):
        t0 = time.time()
        st_run()
        w = time.time() - t0
        st_best = w if st_best is None else min(st_best, w)
    extra["st_kernel_rows_per_sec"] = round(st_rows / st_best, 1)

    result = {
        "metric": "encode_turns_per_sec",
        "value": extra["turns_per_sec"],
        "unit": "turns/sec",
        "queries": queries,
        "sf": sf,
        "cores": args.cores,
        # noise control on this overcommitted host (32 vCPU ~ 8-11 real
        # cores, minute-scale load swings — BENCH/BASELINE.md probe):
        # every per-query time is the MEDIAN of `reps` runs AFTER one
        # discarded warm-up rep; `queries_min` keeps the per-query best
        # and `unreliable` names queries whose max/min spread exceeded
        # 2x (host contention — treat those as suspect, not as
        # regressions)
        "method": (f"headline=best-of-{max(args.reps, 5)}, "
                   f"per-query=median-of-{max(1, args.reps)}, "
                   "after 1 discarded warmup rep"),
        "reps": max(1, args.reps),
        "queries_min": queries_min,
        "unreliable": unreliable,
        "errors": errors,
        "encode_mode": MODE,
        **extra,
    }
    line = json.dumps(result)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
