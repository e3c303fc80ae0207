"""Spark-free per-layer figures for the traced run.

The kernels and the block format are timed in this process, over the
run's own source files and blocks, by calling the engine's encode and
decode functions directly. Per-column encode time comes from timing
each ``engine._encode_column`` call (by its ``name=`` argument) while
``make_file_encode_fn`` runs; the wrappers are removed afterwards.
The sink's latest-wins reader is run the same way, to count the rows
it decodes for a filtered read.
"""
from __future__ import annotations

import contextlib
import json
import time

import pyarrow as pa

from gen import COLUMNS

INT_CODECS = ("naught", "normal", "varint", "varfor", "bitpck", "bitfor",
              "bitpfr", "delta")
STR_CODECS = ("plain_str", "dict_str", "rle_str", "fsst_str", "wsdict_str")
INT_COLUMNS = ("turn_idx", "ts")


def codec_names(col: str) -> tuple:
    return (INT_CODECS if col in INT_COLUMNS else STR_CODECS) + ("other",)


@contextlib.contextmanager
def _timed(module, name: str, sink: dict, key=None):
    """Accumulate the wall of every call to ``module.name`` into
    ``sink[key(args, kwargs)]`` (or ``sink[name]``) while active."""
    orig = getattr(module, name)

    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return orig(*args, **kwargs)
        finally:
            k = key(args, kwargs) if key else name
            sink[k] = sink.get(k, 0.0) + time.perf_counter() - t0

    setattr(module, name, wrapper)
    try:
        yield
    finally:
        setattr(module, name, orig)


def encode_pass(engine, files: list, kinds: list, key_cols: list,
                text_cols: list) -> tuple:
    """Encode ``files`` the way encode_parquet_maponly's tasks do, in
    one process. Returns (metrics, blocks table)."""
    fn = engine.make_file_encode_fn(
        kinds, key_cols, 65536, frozenset(text_cols),
        file_map=[(f, i) for i, f in enumerate(files)])
    task = pa.RecordBatch.from_pydict(
        {"id": pa.array(range(len(files)), pa.int64())})
    spent: dict = {}
    with _timed(engine, "_encode_chunk", spent), \
            _timed(engine, "_encode_column", spent,
                   key=lambda a, kw: kw.get("name")):
        t0 = time.perf_counter()
        blocks = pa.Table.from_batches(list(fn(iter([task]))))
        wall = time.perf_counter() - t0
    col_s = sum(spent.get(c, 0.0) for c in COLUMNS)
    rows = sum(blocks.column("n").to_pylist())
    m = {f"kernels.encode_ms.{c}": 1000.0 * spent.get(c, 0.0)
         for c in COLUMNS}
    m["engine.encode_rows_per_s"] = rows / wall
    m["engine.block_assembly_ms"] = 1000.0 * (
        spent.get("_encode_chunk", 0.0) - col_s)
    return m, blocks


def decode_pass(engine, blocks: pa.Table, kinds: list) -> dict:
    """Per-column decode kernels, descriptor parsing and the whole
    decode function, over ``blocks`` in one process; plus the exact
    per-column bytes and codec counts read from the descriptors."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    spark_schema = T.StructType([T.StructField(n, engine.spark_type_of(k))
                                 for n, k in kinds])
    arrow_schema = to_arrow_schema(spark_schema)
    descs = blocks.column("desc").to_pylist()
    ns = blocks.column("n").to_pylist()
    payloads = blocks.column("payload")

    t0 = time.perf_counter()
    parsed = [json.loads(d) for d in descs]
    desc_parse_s = time.perf_counter() - t0

    dec_s = dict.fromkeys(COLUMNS, 0.0)
    nbytes = dict.fromkeys(COLUMNS, 0)
    codecs = {c: dict.fromkeys(codec_names(c), 0) for c in COLUMNS}
    for i, desc in enumerate(parsed):
        payload = payloads[i].as_py()
        for d in desc["cols"]:
            name = d["n"]
            nbytes[name] += d["l"]
            c = d["c"] if d["c"] in codecs[name] else "other"
            codecs[name][c] += 1
            blob = payload[d["o"]:d["o"] + d["l"]]
            t0 = time.perf_counter()
            engine._decode_column(blob, d["k"], ns[i],
                                  arrow_schema.field(name).type,
                                  nullable=bool(d.get("z")))
            dec_s[name] += time.perf_counter() - t0

    fn = engine.make_decode_fn(kinds, arrow_schema.serialize().to_pybytes())
    t0 = time.perf_counter()
    decoded = sum(b.num_rows for b in fn(iter(blocks.to_batches())))
    wall = time.perf_counter() - t0

    rows = sum(ns)
    m = {f"kernels.decode_ms.{c}": 1000.0 * dec_s[c] for c in COLUMNS}
    m.update({f"kernels.bytes_per_row.{c}": nbytes[c] / rows
              for c in COLUMNS})
    for c in COLUMNS:
        for codec, count in codecs[c].items():
            m[f"kernels.codec_blocks.{c}.{codec}"] = count
    m["engine.decode_rows_per_s"] = decoded / wall
    m["engine.desc_parse_ms"] = 1000.0 * desc_parse_s
    return m


def merge_read_pass(ds, engine, sink: str, key_col: str, keys: list) -> dict:
    """Plan and run the sink's latest-wins reader in this process, as
    Spark's Python data-source runner does for a read filtered to
    ``key_col IN keys``: push the filter, plan the partitions, read
    each one. Counts the rows its ``engine._decode_column`` calls
    decode (per block, not per column) and the rows it returns."""
    from pyspark.sql.datasource import In

    source = ds.OrochDataSource({"path": sink, "latest_wins": "true"})
    reader = source.reader(source.schema())
    list(reader.pushFilters([In((key_col,), tuple(keys))]))
    cells = 0
    orig = engine._decode_column

    def counting(blob, kind, n, *args, **kwargs):
        nonlocal cells
        cells += n
        return orig(blob, kind, n, *args, **kwargs)

    returned = 0
    engine._decode_column = counting
    try:
        for part in reader.partitions():
            returned += sum(b.num_rows for b in reader.read(part))
    finally:
        engine._decode_column = orig
    return {"sources.merge_rows_decoded": cells / len(reader.dec_kinds),
            "sources.merge_rows_returned": returned}
