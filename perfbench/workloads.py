"""The benchmark's two workloads. Each is a closed loop with one
client over inputs generated from the run's seed, and every op is
checked against an oracle (see oracle.py).

- ``encode_upsert``, the write path. Each round encodes a
  conversation-clustered source with ``engine.encode_parquet_maponly``
  (the codec kernels do most of the work), then commits one
  ``dml.upsert`` to a sink built with ``writeStream`` and reads some
  upserted conversations back with a filtered latest-wins read (the
  write side of ``sources``, and the only user of ``engine.encode_df``'s
  shuffle plan). Nothing here decodes a blocks table or prunes.
- ``scan_query``, the read path. Over a blocks table the code under
  test wrote during set-up: a full and a projected ``decode_df`` (the
  read half of the kernels) and the pruned queries ``lookup``,
  ``lookup_in``, ``range_scan`` and ``group_count`` (pruning,
  descriptor parsing, planning and the fixed per-task Python cost).
  Nothing here encodes.
"""
from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import layers
from harness import (Ledger, Op, OpFailure, Samples, measure, reference_job,
                     run_op, tail)
from oracle import (LatestModel, SourceOracle, checksum_df, expect_equal,
                    expect_rows)

KEY_COLS = ["conv_id", "turn_idx"]
TEXT_COLS = ["text"]
PROJECTED = ["conv_id", "turn_idx", "role"]
# Input sizes. They are set by the benchmark's time budget: every run
# pays about 15 s of Spark start-up and first-job cost before it
# measures anything, so the tables are sized to keep a whole run near
# a minute on 4 cores.
TABLE_TURNS, TABLE_FILES = 520_000, 4
SINK_TURNS, SINK_FILES = 30_000, 4
UPSERT_TURNS = 2_000
LOOKUP_IN_KEYS = 16
RANGE_CONVS = 50
SETUP_REPEATS = 3
QUERY_OPS = ("lookup", "lookup_in", "range_scan", "group_count")


@dataclass
class Run:
    spark: object
    work: str
    cache: str
    seed: int
    seconds: float
    cores: int
    tracer: Optional[object]
    ledger: Ledger = field(default_factory=Ledger)
    samples: Samples = field(default_factory=Samples)
    builds: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    details: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)
    probes: list = field(default_factory=list)

    def build(self, fn) -> None:
        """One timed repetition of the workload's set-up step."""
        t0 = time.perf_counter()
        fn()
        self.builds.append(time.perf_counter() - t0)

    def op(self, op: Op):
        return run_op(self.ledger, self.samples, op, self.tracer)

    def loop(self, round_fn, min_rounds: int) -> None:
        """One warm-up round, checked and counted but not sampled (the
        first run of each op pays JIT, Python-worker and first-touch
        memory costs), then the measured rounds (see harness.measure).
        The host-speed probe runs before every round and after the
        last, so it sees the host as the rounds saw it."""
        samples, tracer = self.samples, self.tracer
        self.samples, self.tracer = Samples(), None
        t0 = time.perf_counter()
        try:
            reference_job(self.spark, 2 * self.cores)
            round_fn(0)
        finally:
            self.samples, self.tracer = samples, tracer
        t1 = time.perf_counter()

        def measured(i):
            self.probes.append(reference_job(self.spark, 2 * self.cores))
            round_fn(i + 1)

        rounds = measure(self.seconds, min_rounds, measured)
        self.probes.append(reference_job(self.spark, 2 * self.cores))
        self.phases.update(warm_up_s=t1 - t0, rounds=rounds,
                           measured_s=time.perf_counter() - t1)

    def detail(self, name: str, value: float, unit: str, **extra) -> None:
        """A named figure for the details line (not a gated metric)."""
        self.details[name] = dict(value=value, unit=unit, **extra)


def _engine():
    from oroch_spark import engine
    return engine


def source(run: Run, turns: int, files: int) -> str:
    d = os.path.join(run.cache, f"src-s{run.seed}-t{turns}-f{files}")
    gen.generate(d, run.seed, gen.conv_for_turns(run.seed, turns), files)
    return d


def _source_files(src: str) -> list:
    return sorted(os.path.join(src, f) for f in os.listdir(src)
                  if f.endswith(".parquet"))


def _sizes(run: Run, n, bytes_out, ref_bytes, blocks) -> None:
    run.e2e["bytes_per_turn"] = bytes_out / n
    run.e2e["ref_budget_ratio"] = bytes_out / ref_bytes
    run.layers["engine.blocks_total"] = blocks


def _kernel_layers(run: Run, src: str, kinds: list,
                   blocks: Optional[pa.Table] = None) -> None:
    """Spark-free kernel and block-format timings (traced runs only)."""
    engine = _engine()
    m, encoded = layers.encode_pass(engine, _source_files(src), kinds,
                                    KEY_COLS, TEXT_COLS)
    run.layers.update(m)
    run.layers.update(layers.decode_pass(
        engine, encoded if blocks is None else blocks, kinds))


# ---------------------------------------------------------------------------


def encode_upsert(run: Run) -> None:
    from pyspark.sql import functions as F

    from oroch_spark.sources import datasource as ds
    from oroch_spark.sources import dml

    engine = _engine()
    spark = run.spark
    ds.register(spark)
    table_src = source(run, TABLE_TURNS, TABLE_FILES)
    n_table = pq.ParquetDataset(table_src).read(
        columns=["turn_idx"]).num_rows
    sink_src = source(run, SINK_TURNS, SINK_FILES)
    schema = spark.read.parquet(sink_src).schema

    def build_sink(path):
        q = (spark.readStream.schema(schema).parquet(sink_src)
             .writeStream.format("oroch").option("path", path)
             .option("key_cols", ",".join(KEY_COLS))
             .option("checkpointLocation", path + ".ckpt")
             .trigger(availableNow=True).start())
        if not q.awaitTermination(150):
            q.stop()
            raise TimeoutError("base sink stream did not finish")
        if q.exception() is not None:
            raise RuntimeError(f"base sink stream failed: {q.exception()}")

    # set-up: the base sink, built with writeStream by the code under test
    paths = [os.path.join(run.work, f"sink{i}") for i in range(SETUP_REPEATS)]
    for p in paths:
        run.build(lambda p=p: build_sink(p))
    sink = paths[-1]
    for p in paths[:-1]:
        shutil.rmtree(p)
        shutil.rmtree(p + ".ckpt")

    base = gen.read_source(sink_src)
    # a fresh sink holds only committed files: read their block rows
    meta = pq.read_table(
        [os.path.join(sink, f) for f in os.listdir(sink)
         if f.endswith(".parquet")], columns=["n"])
    expect_equal("base sink turns", pc.sum(meta["n"]).as_py(), base.num_rows)
    model = LatestModel(base)
    convs = pc.unique(base["conv_id"]).to_pylist()
    lengths = dict(zip(*[c.to_pylist() for c in
                         pc.value_counts(base["conv_id"]).flatten()]))
    rng = random.Random(run.seed)
    first: dict = {}
    last_read: dict = {}

    def encoded(r):
        expect_equal("encoded turns", r["n"], n_table)
        if r["bytes_out"] > r["ref_bytes"]:
            raise OpFailure(f"bytes_out {r['bytes_out']} over the Oroch "
                            f"model budget {r['ref_bytes']}")
        if first:
            expect_equal("bytes_out against the first pass",
                         r["bytes_out"], first["bytes_out"])
        first.update(r)

    encode = Op("encode", n_table,
                lambda: engine.encode_parquet_maponly(
                    spark, table_src, KEY_COLS, text_cols=TEXT_COLS)
                .agg(F.sum("n").alias("n"),
                     F.sum("bytes_out").alias("bytes_out"),
                     F.sum("ref_bytes").alias("ref_bytes"),
                     F.count(F.lit(1)).alias("blocks")),
                lambda df: df.collect()[0].asDict(), encoded)

    def one_round(i):
        run.op(encode)
        picks, turns = [], 0
        for c in rng.sample(convs, len(convs)):
            if turns >= UPSERT_TURNS:
                break
            picks.append(c)
            turns += lengths[c]
        prefix = f"upsert {run.seed}/{i}: "
        changed = base.filter(pc.is_in(base["conv_id"], pa.array(picks)))
        changed = changed.set_column(
            changed.schema.get_field_index("text"), "text",
            pc.binary_join_element_wise(prefix, changed["text"], ""))

        def upserted(man):
            expect_equal("upsert manifest kind", man.get("dml"), "upsert")
            model.upsert(changed)

        run.op(Op("upsert", turns,
                  lambda: spark.read.parquet(sink_src)
                  .filter(F.col("conv_id").isin(picks))
                  .withColumn("text", F.concat(F.lit(prefix), "text")),
                  lambda df: dml.upsert(spark, sink, df), upserted,
                  walk=False))
        few = picks[:3]
        got = run.op(Op("merge_read", base.num_rows,
                        lambda: spark.read.format("oroch")
                        .option("latest_wins", "true").load(sink)
                        .filter(F.col("conv_id").isin(few)),
                        lambda df: df.toArrow(),
                        lambda got: expect_rows("merge_read", got,
                                                model.expected(few))))
        last_read.update(keys=few, rows=got.num_rows if got else 0)

    run.loop(one_round, min_rounds=2)
    _sizes(run, first["n"], first["bytes_out"], first["ref_bytes"],
           first["blocks"])
    meds = run.samples.medians()
    run.detail("turns_per_s.encode", n_table / meds["encode"], "turns/s")
    for k in ("upsert", "merge_read"):
        run.detail(f"{k}_p50_ms", 1000.0 * meds[k], "ms",
                   n=len(run.samples.wall[k]))
    if not run.tracer:
        return

    def sink_stats():
        return (ds.stream_sink_blocks(spark, sink)
                .agg(F.sum("n").alias("n"),
                     F.sum("bytes_out").alias("bytes_out"),
                     F.countDistinct("batch_id").alias("batches"))
                .collect()[0].asDict())

    st = sink_stats()
    run.layers.update({"sources.sink_batches": st["batches"],
                       "sources.sink_bytes": st["bytes_out"]})
    # the last filtered read again, through the reader itself in this
    # process, to count what it decodes
    merge = layers.merge_read_pass(ds, engine, sink, KEY_COLS[0],
                                   last_read["keys"])
    expect_equal("in-process merge read rows",
                 merge["sources.merge_rows_returned"], last_read["rows"])
    run.layers.update(merge)
    # compaction ends the traced run only: it is maintenance, and its
    # cost is reported per layer
    once = Samples()
    run_op(run.ledger, once,
           Op("compact", base.num_rows, lambda: None,
              lambda _: ds.compact_sink(spark, sink),
              lambda _: expect_equal("turns after compaction",
                                     sink_stats()["n"], base.num_rows),
              walk=False),
           run.tracer)
    run.layers["sources.compact_ms"] = 1000.0 * once.wall["compact"][0]
    _kernel_layers(run, table_src, engine.column_kinds(
        spark.read.parquet(table_src).schema))


def scan_query(run: Run) -> None:
    engine = _engine()
    spark = run.spark
    src = source(run, TABLE_TURNS, TABLE_FILES)
    blocks_dir = os.path.join(run.work, "blocks")
    for _ in range(SETUP_REPEATS):
        run.build(lambda: engine.encode_parquet_maponly(
            spark, src, KEY_COLS, text_cols=TEXT_COLS)
            .write.mode("overwrite").parquet(blocks_dir))
    blocks = spark.read.parquet(blocks_dir)
    kinds = engine.column_kinds(spark.read.parquet(src).schema)

    table = gen.read_source(src)
    oracle = SourceOracle(table)
    n = table.num_rows
    want = checksum_df(spark.read.parquet(src),
                       gen.COLUMNS).collect()[0].asDict()
    want_proj = {k: v for k, v in want.items()
                 if k == "rows" or k.split(".")[0] in PROJECTED}
    convs = pc.unique(table["conv_id"]).to_pylist()
    counts = oracle.value_counts("role")
    meta = pq.read_table(blocks_dir, columns=["n", "bytes_out", "ref_bytes"])
    _sizes(run, pc.sum(meta["n"]).as_py(), pc.sum(meta["bytes_out"]).as_py(),
           pc.sum(meta["ref_bytes"]).as_py(), meta.num_rows)
    rng = random.Random(run.seed)

    def decode(kind, cols, expected):
        return Op(kind, n,
                  lambda: checksum_df(engine.decode_df(
                      blocks, kinds,
                      columns=None if cols is gen.COLUMNS else cols), cols),
                  lambda df: df.collect()[0].asDict(),
                  lambda got: expect_equal(f"{kind} checksums", got,
                                           expected))

    def rows_op(kind, call, expected):
        return Op(kind, n, call, lambda df: df.toArrow(),
                  lambda got: expect_rows(kind, got, expected()))

    def one_round(i):
        cid = rng.choice(convs)
        ids = rng.sample(convs, LOOKUP_IN_KEYS)
        lo_i = rng.randrange(len(convs) - RANGE_CONVS)
        lo, hi = convs[lo_i], convs[lo_i + RANGE_CONVS - 1]
        ops = [
            decode("decode_full", gen.COLUMNS, want),
            decode("decode_projected", PROJECTED, want_proj),
            rows_op("lookup",
                    lambda: engine.lookup(blocks, kinds, "conv_id", cid),
                    lambda: oracle.rows_in([cid])),
            rows_op("lookup_in",
                    lambda: engine.lookup_in(blocks, kinds, "conv_id", ids),
                    lambda: oracle.rows_in(ids)),
            rows_op("range_scan",
                    lambda: engine.range_scan(blocks, kinds, "conv_id",
                                              lo, hi),
                    lambda: oracle.rows_between(lo, hi)),
            Op("group_count", n,
               lambda: engine.group_count(blocks, kinds, "role"),
               lambda df: {r[0]: r[1] for r in df.collect()},
               lambda got: expect_equal("group_count role", got, counts)),
        ]
        for op in ops:
            run.op(op)

    # three rounds give the query mix the 11 samples query_tail_ms needs
    run.loop(one_round, min_rounds=3)
    meds = run.samples.medians()
    run.detail("turns_per_s.decode_full", n / meds["decode_full"], "turns/s")
    run.detail("projected_turns_per_s", n / meds["decode_projected"],
               "turns/s")
    for k in QUERY_OPS:
        run.detail(f"{k}_p50_ms", 1000.0 * meds[k], "ms",
                   n=len(run.samples.wall[k]))
    mix = [s for k in QUERY_OPS for s in run.samples.wall[k]]
    pct, v = tail(mix)
    run.detail("query_tail_ms", 1000.0 * v, "ms", percentile=pct, n=len(mix))
    if run.tracer:
        _kernel_layers(run, src, kinds, pq.read_table(blocks_dir))


WORKLOADS = {
    "encode_upsert": encode_upsert,
    "scan_query": scan_query,
}
