"""End-to-end Spark engine tests (SURVEY.md §5 plan items 3-5).

Round-trip: decoded DataFrame bit-identical to the source under stable
(conv_id, turn_idx) ordering, all six columns — the reference's
encode/decode round-trip tests (`tests/unit/integer_codec.cc:8-43`)
generalized per the north rule.
"""
import os

import numpy as np
import pandas as pd
import pytest

from oroch_spark import checkpoint, engine, transcripts
from oroch_spark.sources.table import IcebergishTable, snapshot_of_dir


@pytest.fixture(scope="module")
def tiny(spark):
    df = transcripts.generate(spark, n_conv=50, seed=42)
    df.persist()
    yield df
    df.unpersist()


def assert_identical(src_pd: pd.DataFrame, dec_pd: pd.DataFrame,
                     key_cols=("conv_id", "turn_idx")):
    src_pd = src_pd.sort_values(list(key_cols)).reset_index(drop=True)
    dec_pd = dec_pd.sort_values(list(key_cols)).reset_index(drop=True)
    assert list(src_pd.columns) == sorted(src_pd.columns) or True
    dec_pd = dec_pd[src_pd.columns]
    pd.testing.assert_frame_equal(src_pd, dec_pd, check_exact=True)


class TestRoundtrip:
    def test_transcripts_bit_identical(self, spark, tiny):
        dec = engine.roundtrip_df(tiny, ["conv_id", "turn_idx"],
                                  n_buckets=8, block_rows=512,
                                  chunk_rows=256, text_cols=["text"])
        assert_identical(tiny.toPandas(), dec.toPandas())

    def test_checksum_equivalence(self, spark, tiny):
        dec = engine.roundtrip_df(tiny, ["conv_id", "turn_idx"],
                                  n_buckets=4, text_cols=["text"])
        assert engine.checksum_df(tiny) == engine.checksum_df(dec)

    def test_events_table(self, spark):
        src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        dec = engine.roundtrip_df(src, ["event_id"], n_buckets=4)
        assert engine.checksum_df(src) == engine.checksum_df(dec)
        assert src.count() == dec.count()

    def test_maponly_ns_timestamp_parquet(self, spark, tmp_path):
        # INT96/ns-unit parquet surfaces as timestamp[ns] in the
        # file-pull path; the encoder must normalize to epoch-micros
        # (regression: decoded ts was off by 1000x at bench scale)
        import numpy as np
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq
        n = 500
        pdf = pd.DataFrame({
            "conv_id": [f"c{i%7}" for i in range(n)],
            "turn_idx": np.arange(n, dtype=np.int32),
            "ts": pd.to_datetime(1_700_000_000_000_000 + np.arange(n) * 1_000_000,
                                 unit="us"),
        })
        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        tbl = tbl.set_column(2, "ts", tbl.column("ts").cast(pa.timestamp("ns")))
        src_dir = tmp_path / "nssrc"
        src_dir.mkdir()
        pq.write_table(tbl, str(src_dir / "part-0.parquet"))
        blocks = engine.encode_parquet_maponly(
            spark, str(src_dir), ["conv_id", "turn_idx"], block_rows=128)
        kinds = [("conv_id", "str"), ("turn_idx", "i32"), ("ts", "ts")]
        dec = engine.decode_df(blocks, kinds).toPandas() \
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        exp = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        pd.testing.assert_series_equal(dec["ts"], exp["ts"],
                                       check_exact=True)

    def test_double_decimal_scaling_column(self):
        # price-like 2-decimal doubles integer-code far below raw bits;
        # NaN/inf/-0.0 blocks fall back to raw and stay bit-identical
        import pyarrow as pa
        rng = np.random.default_rng(5)
        prices = np.round(rng.uniform(0, 5000, 4000), 2)
        arr = pa.array(prices, type=pa.float64())
        blob, d, b_in, b_ref = engine._encode_column(arr, engine.K_F64,
                                                     False)
        assert d["c"].startswith("dec2+")
        assert len(blob) < b_in // 3  # ~20 packed bits vs 64 raw
        back = engine._decode_column(blob, engine.K_F64, len(prices),
                                     pa.float64())
        assert back.equals(arr)

        odd = np.array([1.5, float("nan"), float("inf"), -0.0, 2.25e-300])
        arr2 = pa.array(odd, type=pa.float64())
        blob2, d2, _, _ = engine._encode_column(arr2, engine.K_F64, False)
        back2 = engine._decode_column(blob2, engine.K_F64, len(odd),
                                      pa.float64())
        assert back2.to_numpy(zero_copy_only=False).view(np.int64) \
            .tolist() == odd.view(np.int64).tolist()

    def test_nullable_columns_roundtrip(self, spark):
        # nulls in every supported kind: validity bitmap prefix + fill
        from pyspark.sql import functions as F
        df = (spark.range(2000)
              .select(F.concat(F.lit("c"), (F.col("id") % 7))
                       .alias("conv_id"),
                      F.col("id").cast("int").alias("turn_idx"),
                      F.when(F.col("id") % 3 == 0, None)
                       .otherwise(F.concat(F.lit("text "), F.col("id")))
                       .alias("text"),
                      F.when(F.col("id") % 5 == 0, None)
                       .otherwise(F.col("id").cast("double") / 3.0)
                       .alias("score"),
                      F.when(F.col("id") % 4 == 0, None)
                       .otherwise(F.col("id").cast("long") * 1000)
                       .alias("big"),
                      F.when(F.col("id") % 6 == 0, None)
                       .otherwise(F.timestamp_micros(
                           F.lit(1_700_000_000_000_000) + F.col("id")))
                       .alias("ts")))
        dec = engine.roundtrip_df(df, ["conv_id", "turn_idx"],
                                  n_buckets=4, block_rows=256,
                                  text_cols=["text"])
        src_pd = df.toPandas().sort_values(["conv_id", "turn_idx"]) \
                   .reset_index(drop=True)
        dec_pd = dec.toPandas().sort_values(["conv_id", "turn_idx"]) \
                   .reset_index(drop=True)[src_pd.columns]
        pd.testing.assert_frame_equal(src_pd, dec_pd, check_exact=True)

    def test_single_giant_conversation_spreads_buckets(self, spark):
        # skew: one conversation with 30k turns must not land in one
        # bucket — the salted key (conv_id, turn_idx // chunk) splits it,
        # and decode is still bit-identical (north rule skew clause)
        from pyspark.sql import functions as F
        df = (spark.range(30000)
              .select(F.lit("conv-giant").alias("conv_id"),
                      F.col("id").cast("int").alias("turn_idx"),
                      F.lit("user").alias("role"),
                      F.concat(F.lit("turn text "), F.col("id"))
                       .alias("text"),
                      F.lit("").alias("tool"),
                      F.timestamp_micros(
                          F.lit(1_700_000_000_000_000) + F.col("id"))
                       .alias("ts")))
        blocks = engine.encode_df(df, ["conv_id", "turn_idx"],
                                  n_buckets=8, block_rows=2048,
                                  chunk_rows=1024, text_cols=["text"])
        blocks.persist()
        n_buckets_used = blocks.select("bucket").distinct().count()
        assert n_buckets_used >= 6  # spread, not pinned to one task
        dec = engine.decode_df(blocks, engine.column_kinds(df.schema))
        assert engine.checksum_df(dec) == engine.checksum_df(df)
        blocks.unpersist()

    def test_recompact_preserves_content(self, spark, tiny):
        kinds = engine.column_kinds(tiny.schema)
        small = engine.encode_df(tiny, ["conv_id", "turn_idx"],
                                 n_buckets=4, block_rows=64,
                                 text_cols=["text"])
        n_small = small.count()
        big = engine.recompact(small, kinds, ["conv_id", "turn_idx"],
                               n_buckets=4, block_rows=8192,
                               text_cols=["text"])
        big.persist()
        assert big.count() < n_small
        dec = engine.decode_df(big, kinds)
        assert engine.checksum_df(dec) == engine.checksum_df(tiny)
        big.unpersist()

    def test_maponly_roundtrip_bit_identical(self, spark, tiny, tmp_path):
        # shuffle-free encode of a conv-clustered parquet source
        src_dir = str(tmp_path / "src")
        spark.conf.set("spark.sql.parquet.outputTimestampType",
                       "TIMESTAMP_MICROS")
        (tiny.repartition(4, "conv_id")
             .sortWithinPartitions("conv_id", "turn_idx")
             .write.mode("overwrite").parquet(src_dir))
        blocks = engine.encode_parquet_maponly(
            spark, src_dir, ["conv_id", "turn_idx"], block_rows=512,
            text_cols=["text"])
        dec = engine.decode_df(blocks, engine.column_kinds(tiny.schema))
        assert_identical(tiny.toPandas(), dec.toPandas())
        # the only exchange in the plan is over file-name rows (the
        # task list), never over data rows
        plan = blocks._jdf.queryExecution().executedPlan().toString()
        # data read happens in-UDF: no Spark parquet scan node (the
        # raw file PATHS legitimately appear as literals in the
        # JVM-side task-list projection)
        assert "filescan" not in plan.lower()
        assert "batchscan" not in plan.lower()

    def test_compression_beats_reference_budget(self, spark, tiny):
        blocks = engine.encode_df(tiny, ["conv_id", "turn_idx"],
                                  n_buckets=4, text_cols=["text"]).toPandas()
        assert blocks.bytes_out.sum() <= blocks.ref_bytes.sum()
        assert blocks.bytes_out.sum() < blocks.bytes_in.sum()


class TestCheckpointResume:
    def test_resume_skips_done_buckets(self, spark, tiny, tmp_path):
        out = str(tmp_path / "enc")
        snap = "snap-test-1"
        kw = dict(key_cols=["conv_id", "turn_idx"], snapshot_id=snap,
                  n_buckets=6, block_rows=512, chunk_rows=256,
                  text_cols=["text"], buckets_per_stage=2)
        # interrupted run: 1 of 3 stages commits, then crash
        with pytest.raises(RuntimeError, match="injected failure"):
            checkpoint.encode_job(spark, tiny, out, fail_after_stages=1, **kw)
        m1 = checkpoint.read_manifest(spark, out).toPandas()
        assert set(m1.bucket) == {0, 1}
        # resume: must skip the two committed buckets
        res = checkpoint.encode_job(spark, tiny, out, **kw)
        assert sorted(res.skipped_buckets) == [0, 1]
        assert sorted(res.encoded_buckets) == [2, 3, 4, 5]
        # final output identical to an uninterrupted run elsewhere
        out2 = str(tmp_path / "enc2")
        checkpoint.encode_job(spark, tiny, out2, **kw)
        b1 = checkpoint.read_blocks(spark, out)
        b2 = checkpoint.read_blocks(spark, out2)
        kinds = engine.column_kinds(tiny.schema)
        d1 = engine.decode_df(b1, kinds)
        d2 = engine.decode_df(b2, kinds)
        assert engine.checksum_df(d1) == engine.checksum_df(d2)
        assert engine.checksum_df(d1) == engine.checksum_df(tiny)
        # manifest lineage fields present
        m = checkpoint.read_manifest(spark, out).toPandas()
        for col in ("snapshot_id", "codec_hist", "bytes_in", "bytes_out",
                    "ref_bytes", "key_min", "key_max", "status"):
            assert col in m.columns
        assert (m.status == "done").all()


class TestTableProvider:
    def test_snapshot_id_stable(self, spark, tmp_path, tiny):
        p = str(tmp_path / "t1")
        IcebergishTable.write(tiny.limit(100), p)
        t = IcebergishTable(spark, p)
        s1 = t.snapshot_id
        assert s1 == IcebergishTable(spark, p).snapshot_id
        assert len(s1) == 16
        assert t.read().count() == 100

    def test_snapshot_of_readonly_dir(self):
        s = snapshot_of_dir("/root/testdata/sf0.001")
        assert s == snapshot_of_dir("/root/testdata/sf0.001")
        assert s != snapshot_of_dir("/root/testdata/sf0.01")


class TestGenerator:
    def test_deterministic_across_parallelism(self, spark):
        a = transcripts.generate(spark, 20, partitions=2)
        b = transcripts.generate(spark, 20, partitions=7)
        assert engine.checksum_df(a) == engine.checksum_df(b)

    def test_schema_and_shape(self, spark):
        df = transcripts.generate(spark, 30)
        pdf = df.toPandas()
        assert list(pdf.columns) == ["conv_id", "turn_idx", "role", "text",
                                     "tool", "ts"]
        assert pdf.groupby("conv_id").turn_idx.is_monotonic_increasing.all()
        assert (pdf.loc[pdf.role != "tool", "tool"] == "").all()


def test_decode_schema_evolution_null_fills_added_column(spark):
    """Iceberg add-column semantics: blocks written before a column
    existed decode with NULLs for it, so old and new snapshots union
    under the widened schema."""
    from pyspark.sql import Row

    old = spark.createDataFrame([Row(k=i, a=i * 2) for i in range(100)])
    new = spark.createDataFrame(
        [Row(k=i, a=i * 2, b=f"x{i}") for i in range(100, 150)])
    old_blocks = engine.encode_df(old, ["k"], n_buckets=2, block_rows=32)
    new_blocks = engine.encode_df(new, ["k"], n_buckets=2, block_rows=32)
    kinds_v2 = engine.column_kinds(new.schema)
    dec = engine.decode_df(old_blocks.unionByName(new_blocks), kinds_v2)
    assert dec.count() == 150
    assert dec.filter("b IS NULL").count() == 100
    assert dec.filter("k = 120").collect()[0]["b"] == "x120"
    assert dec.filter("k = 20").collect()[0]["a"] == 40


def test_lookup_and_group_count_on_evolved_table(spark):
    """Round-4 fix: every kernel — not just decode — must tolerate
    blocks written before a column existed. lookup on the ADDED column
    treats pre-evolution blocks as zero matches; lookup on the key
    null-fills the added output column; group_count on the added
    column counts pre-evolution rows under NULL."""
    from pyspark.sql import Row

    old = spark.createDataFrame([Row(k=i, a=i * 2) for i in range(100)])
    new = spark.createDataFrame(
        [Row(k=i, a=i * 2, b=f"x{i % 3}") for i in range(100, 150)])
    blocks = engine.encode_df(old, ["k"], n_buckets=2, block_rows=32) \
        .unionByName(engine.encode_df(new, ["k"], n_buckets=2,
                                      block_rows=32))
    kinds_v2 = engine.column_kinds(new.schema)

    # lookup by key: an old block's row null-fills the added column
    got = engine.lookup(blocks, kinds_v2, "k", 20).collect()
    assert len(got) == 1 and got[0]["a"] == 40 and got[0]["b"] is None
    # lookup on the ADDED column: old blocks contribute zero matches
    rows = engine.lookup_where(blocks, kinds_v2, "b", "x1").collect()
    assert {r.k for r in rows} == {k for k in range(100, 150)
                                   if k % 3 == 1}
    # lookup_in spanning both eras
    got = engine.lookup_in(blocks, kinds_v2, "k", [20, 120]).collect()
    assert {(r.k, r.b) for r in got} == {(20, None), (120, "x0")}
    # group_count on the added column: NULL group absorbs old rows
    gc = {r.b: r.n_rows
          for r in engine.group_count(blocks, kinds_v2, "b").collect()}
    assert gc[None] == 100
    assert sum(v for k, v in gc.items() if k is not None) == 50
    # group_agg grouped by the added column (was already tolerant)
    ga = engine.group_agg(blocks, kinds_v2, ["b"], "a").collect()
    assert {r.b for r in ga} == {None, "x0", "x1", "x2"}


def _encode_sorted(batches, unique_keys=True, block_rows=4):
    """Run the encode kernel directly on pre-sorted Arrow batches."""
    kinds = [("c", "str"), ("t", "f64")]
    fn = engine.make_encode_fn(kinds, ["c", "t"], block_rows, frozenset(),
                               unique_keys=unique_keys)
    return [b for b in fn(iter(batches))]


def _sorted_batch(buckets, cs, ts):
    import pyarrow as pa
    return pa.RecordBatch.from_arrays(
        [pa.array(cs, pa.string()), pa.array(ts, pa.float64()),
         pa.array(buckets, pa.int32())], names=["c", "t", "_bucket"])


@pytest.mark.parametrize("cs, ts, dup", [
    # neighbours inside one block
    (["a", "a", "b"], [1.0, 1.0, 2.0], ("a", 1.0)),
    # last row of block 0 and first row of block 1 (block_rows=4)
    (["a", "b", "c", "d", "d", "e"], [0.0] * 6, ("d", 0.0)),
    # NULL equals NULL, as in groupBy
    ([None, None, "a"], [None, None, 1.0], (None, None)),
    (["a", "a"], [float("nan"), float("nan")], ("a", float("nan"))),
])
def test_encode_kernel_rejects_neighbouring_duplicate_keys(cs, ts, dup):
    batch = _sorted_batch([0] * len(cs), cs, ts)
    with pytest.raises(engine.DuplicateKeyError) as e:
        _encode_sorted([batch])
    assert str(e.value) == f"duplicate key {dup!r}"
    # the driver reads the key back out of the Spark job failure text
    assert engine.duplicate_key_in(RuntimeError(
        "Job aborted.\nTraceback ...\noroch_spark.engine."
        f"DuplicateKeyError: {e.value}\n\tat org.apache")) == repr(dup)
    # without the flag the same rows encode
    assert sum(b.num_rows for b in _encode_sorted([batch], False)) >= 1


def test_encode_kernel_unique_keys_spans_batches_not_buckets():
    # a duplicate split across two input batches is caught; equal keys
    # in different buckets (a different hash domain) are not compared
    dup = [_sorted_batch([0, 0], ["a", "b"], [1.0, 2.0]),
           _sorted_batch([0, 1], ["b", "b"], [2.0, 2.0])]
    with pytest.raises(engine.DuplicateKeyError, match="'b', 2.0"):
        _encode_sorted(dup, block_rows=2)
    ok = [_sorted_batch([0, 0, 1], ["a", "b", "b"], [1.0, 2.0, 2.0])]
    out = _encode_sorted(ok, block_rows=2)
    assert sum(b.num_rows for b in out) == 2   # one block per bucket
    assert engine.duplicate_key_in(ValueError("other failure")) is None


def test_file_encode_kernel_pulls_files_by_ordinal(tmp_path):
    # Spark-free: the kernel maps each ``id`` ordinal to a (path,
    # bucket) pair, reads the file itself and tags its blocks
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    tables, paths = [], []
    for i, seed in enumerate((1, 2)):
        t = pa.Table.from_pandas(transcripts.generate_pandas(4, seed=seed),
                                 preserve_index=False)
        paths.append(str(tmp_path / f"f{i}.parquet"))
        pq.write_table(t, paths[-1])
        tables.append(t)
    kinds = engine.arrow_column_kinds(tables[0].schema)
    fn = engine.make_file_encode_fn(
        kinds, ["conv_id", "turn_idx"], 16, frozenset(["text"]),
        file_map=[(paths[0], 5), (paths[1], 9)])
    task = pa.RecordBatch.from_pydict({"id": pa.array([1, 0], pa.int64())})
    blocks = pa.Table.from_batches(list(fn(iter([task]))))
    buckets = blocks.column("bucket").to_pylist()
    assert [b for i, b in enumerate(buckets)
            if i == 0 or b != buckets[i - 1]] == [9, 5]
    dec = engine.make_decode_fn(
        kinds, tables[0].schema.serialize().to_pybytes())
    for bucket, t in ((5, tables[0]), (9, tables[1])):
        mine = blocks.filter(pc.equal(blocks.column("bucket"), bucket))
        got = pa.Table.from_batches(list(dec(iter(mine.to_batches()))))
        assert got.equals(t)
