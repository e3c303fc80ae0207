"""Every block-decode path calls ``engine._decode_column`` through the
``engine`` module, once per block per decoded column.

``perfbench/layers.py`` counts decoded rows by assigning a wrapper to
``engine._decode_column`` (``sources.merge_rows_decoded`` reads 0 if a
path bypasses it). These tests wrap it the same way and check the plain
reader, the latest-wins reader, the stream reader and ``make_decode_fn``
against one small sink whose first block predates a column: each path
decodes (block, present column) pairs exactly once and null-fills the
column the old block lacks."""
import pytest
from pyspark.sql import Row

from oroch_spark import engine
from oroch_spark.sources import datasource as ds
from oroch_spark.sources import dml

SCHEMA = "k long, v string"
N_OLD, N_DELETED = 40, 5


@pytest.fixture(scope="module")
def sink(spark, tmp_path_factory):
    """Batch 0: one block of (k, v). Batch 1: a delete_where that adds
    the tombstone column ``deleted`` — one block of (k, v, deleted)."""
    ds.register(spark)
    td = tmp_path_factory.mktemp("hook_sink")
    src = str(td / "in")
    spark.createDataFrame([Row(k=i, v=f"v{i}") for i in range(N_OLD)],
                          SCHEMA).coalesce(1).write.parquet(src)
    path = str(td / "out")
    q = (spark.readStream.schema(SCHEMA).parquet(src)
         .writeStream.format("oroch")
         .option("path", path).option("key_cols", "k")
         .option("checkpointLocation", str(td / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    man = dml.delete_where(spark, path, f"k >= {N_OLD - N_DELETED}",
                           tombstone_col="deleted", n_buckets=1)
    assert man["n_deleted"] == N_DELETED
    return path


@pytest.fixture()
def calls(monkeypatch):
    """(kind, n) of every ``engine._decode_column`` call."""
    seen = []
    orig = engine._decode_column

    def counting(blob, kind, n, *args, **kwargs):
        seen.append((kind, n))
        return orig(blob, kind, n, *args, **kwargs)

    monkeypatch.setattr(engine, "_decode_column", counting)
    return seen


def _kinds(sink):
    return ds.read_sidecar(sink)["kinds"]


# (kind, n) per decode of the whole table: the old block decodes k and
# v, the delete batch's block decodes k, v and deleted
def _expected():
    return sorted([("i64", N_OLD), ("str", N_OLD), ("i64", N_DELETED),
                   ("str", N_DELETED), ("bool", N_DELETED)])


def _sink_blocks(sink):
    import pyarrow.parquet as pq

    rdr = ds.OrochStreamReader({"path": sink}, _kinds(sink))
    files = [p.file for p in rdr.partitions({"batch": 0},
                                            rdr.latestOffset())]
    assert len(files) == 2
    return pq.read_table(files[0]), pq.read_table(files[1])


def test_sink_layout(sink):
    assert dict(_kinds(sink))["deleted"] == "bool"
    old, new = _sink_blocks(sink)
    assert old.num_rows == new.num_rows == 1
    assert "deleted" not in engine._block_cols(old.column("desc")[0]
                                               .as_py())


def test_reader_read(sink, calls):
    source = ds.OrochDataSource({"path": sink})
    reader = source.reader(source.schema())
    batches = [b for p in reader.partitions() for b in reader.read(p)]
    assert sorted(calls) == _expected()
    rows = sum(b.num_rows for b in batches)
    nulls = sum(b.column("deleted").null_count for b in batches)
    assert (rows, nulls) == (N_OLD + N_DELETED, N_OLD)


def test_reader_read_merge(sink, calls):
    source = ds.OrochDataSource({"path": sink, "latest_wins": "true"})
    reader = source.reader(source.schema())
    parts = reader.partitions()
    # two key ranges split at the new block's low key: the old block
    # overlaps both and decodes in each, the new block only in the upper
    assert [(p.lo, p.hi) for p in parts] == [(None, N_OLD - N_DELETED),
                                             (N_OLD - N_DELETED, None)]
    batches = [b for p in parts for b in reader.read(p)]
    assert sorted(calls) == sorted(_expected()
                                   + [("i64", N_OLD), ("str", N_OLD)])
    rows = sum(b.num_rows for b in batches)
    nulls = sum(b.column("deleted").null_count for b in batches)
    # the deleted keys' latest versions come from the new block
    assert (rows, nulls) == (N_OLD, N_OLD - N_DELETED)


def test_stream_reader_read(sink, calls):
    rdr = ds.OrochStreamReader({"path": sink}, _kinds(sink))
    batches = [b for p in rdr.partitions({"batch": 0}, rdr.latestOffset())
               for b in rdr.read(p)]
    assert sorted(calls) == _expected()
    assert [b.column("deleted").null_count for b in batches] == [N_OLD, 0]


def test_make_decode_fn(sink, calls):
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    old, new = _sink_blocks(sink)
    kinds = _kinds(sink)
    schema = to_arrow_schema(T.StructType(
        [T.StructField(n, engine.spark_type_of(k)) for n, k in kinds]))
    fn = engine.make_decode_fn(kinds, schema.serialize().to_pybytes())
    blocks = pa.concat_tables([old, new.select(old.column_names)])
    batches = list(fn(iter(blocks.to_batches())))
    assert sorted(calls) == _expected()
    assert [b.column("deleted").null_count for b in batches] == [N_OLD, 0]
    assert batches[1].column("deleted").to_pylist() == [True] * N_DELETED
