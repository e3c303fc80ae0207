"""spark-submit entry point for the oroch_spark encode/decode engine.

Cluster usage (north rule: the job runs via ``spark-submit --py-files``
on multi-executor clusters):

    python3 cli.py zip                      # -> dist/oroch_spark.zip
    spark-submit --py-files dist/oroch_spark.zip cli.py encode \
        --src  /path/to/transcripts_parquet \
        --out  /path/to/encoded \
        --keys conv_id,turn_idx --text-cols text \
        --mode maponly                      # or shuffle
    spark-submit --py-files dist/oroch_spark.zip cli.py verify \
        --src /path/to/transcripts_parquet --out /path/to/encoded
    spark-submit --py-files dist/oroch_spark.zip cli.py metrics \
        --out /path/to/encoded
    spark-submit --py-files dist/oroch_spark.zip cli.py lookup \
        --src ... --out ... --key conv_id --value conv-00000042
    spark-submit --py-files dist/oroch_spark.zip cli.py range-agg \
        --src ... --out ... --key event_id --lo 500 --hi 7500 \
        --agg-col user_id

``encode`` is checkpointed: rerunning after an interruption resumes
from the per-bucket manifest (shuffle mode via
``checkpoint.encode_job``; maponly re-encodes only files without a
manifest row). ``metrics`` prints the per-partition throughput rollup
(rows, bytes in/out, codec histogram, encode wall, rows/sec) the north
rule asks the job to emit.

Local smoke run (no cluster):

    python3 cli.py encode --src ... --out ... --master "local[8]"
"""
from __future__ import annotations

import argparse
import json
import os
import sys
import zipfile


def make_zip(repo_root: str) -> str:
    """Package oroch_spark/ into dist/oroch_spark.zip for --py-files."""
    dist = os.path.join(repo_root, "dist")
    os.makedirs(dist, exist_ok=True)
    out = os.path.join(dist, "oroch_spark.zip")
    pkg = os.path.join(repo_root, "oroch_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for base, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".pyc") or "__pycache__" in base:
                    continue
                full = os.path.join(base, f)
                zf.write(full, os.path.relpath(full, repo_root))
    return out


def build_session(args):
    """Session for a command: reuse ``args.spark`` when a caller (tests,
    notebooks) passes one — then the command must not stop it."""
    ext = getattr(args, "spark", None)
    if ext is not None:
        return ext, False
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("oroch-spark-cli")
    if args.master:  # local runs; under spark-submit the conf wins
        b = b.master(args.master)
    return b.getOrCreate(), True


def cmd_encode(args) -> None:
    from oroch_spark import checkpoint, engine
    from oroch_spark.sources.table import snapshot_of_dir
    from pyspark.sql import functions as F

    spark, own = build_session(args)
    keys = args.keys.split(",")
    text_cols = args.text_cols.split(",") if args.text_cols else None
    raw_bloom = getattr(args, "bloom_cols", None)
    bloom_cols = raw_bloom.split(",") if raw_bloom else None
    raw_sketch = getattr(args, "sketch_cols", None)
    sketch_cols = raw_sketch.split(",") if raw_sketch else None
    snapshot_id = args.snapshot_id or snapshot_of_dir(args.src)

    if args.mode == "maponly":
        blocks_path = os.path.join(args.out, "blocks")
        manifest_path = os.path.join(args.out, "manifest")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        done = checkpoint._done_buckets(spark, manifest_path, snapshot_id)
        import glob
        ordinals = {f: i for i, f in enumerate(
            sorted(glob.glob(os.path.join(args.src, "*.parquet"))))}
        pending = [f for f, i in ordinals.items() if i not in done]
        if not pending:
            print(json.dumps({"resumed": True, "encoded_files": 0,
                              "skipped_files": len(done),
                              "snapshot_id": snapshot_id}))
        else:
            blocks = engine.encode_parquet_maponly(
                spark, args.src, keys, block_rows=args.block_rows,
                text_cols=text_cols, bloom_cols=bloom_cols,
                sketch_cols=sketch_cols,
                file_filter=None if not done
                else (lambda f: ordinals[f] not in done))
            blocks.persist()
            try:
                (blocks.write.partitionBy("bucket").mode("overwrite")
                       .parquet(blocks_path))
                manifest = engine.manifest_rows(blocks, snapshot_id, "cli")
                manifest.write.mode("append").parquet(manifest_path)
            finally:
                blocks.unpersist()
    else:
        df = spark.read.parquet(args.src)
        checkpoint.encode_job(
            spark, df, args.out, keys, snapshot_id,
            n_buckets=args.buckets, block_rows=args.block_rows,
            text_cols=text_cols, bloom_cols=bloom_cols,
            sketch_cols=sketch_cols,
            buckets_per_stage=args.buckets_per_stage)
    summary = (spark.read.parquet(os.path.join(args.out, "blocks"))
               .agg(F.sum("n").alias("rows"),
                    F.sum("bytes_in").alias("bytes_in"),
                    F.sum("bytes_out").alias("bytes_out"),
                    F.sum("ref_bytes").alias("ref_bytes"),
                    F.sum("wall_ms").alias("encode_wall_ms"))
               .collect()[0].asDict())
    summary["snapshot_id"] = snapshot_id
    print(json.dumps({k: (float(v) if v is not None else None)
                      if k == "encode_wall_ms" else v
                      for k, v in summary.items()}, default=int))
    if own:
        spark.stop()


def cmd_decode(args) -> None:
    from oroch_spark import engine

    spark, own = build_session(args)
    blocks = spark.read.parquet(os.path.join(args.out, "blocks"))
    import pyarrow.parquet as pq
    import glob
    src_file = sorted(glob.glob(os.path.join(args.src, "*.parquet")))[0]
    kinds = engine.arrow_column_kinds(pq.read_schema(src_file))
    dec = engine.decode_df(blocks, kinds)
    dec.write.mode("overwrite").parquet(args.dest)
    print(json.dumps({"rows": spark.read.parquet(args.dest).count()}))
    if own:
        spark.stop()


def cmd_verify(args) -> None:
    from oroch_spark import engine

    spark, own = build_session(args)
    src = spark.read.parquet(args.src)
    blocks = spark.read.parquet(os.path.join(args.out, "blocks"))
    kinds = engine.column_kinds(src.schema)
    dec = engine.decode_df(blocks, kinds).select(*[n for n, _ in kinds])
    src = src.select(*[n for n, _ in kinds])
    ok = (engine.checksum_df(src) == engine.checksum_df(dec)
          and src.count() == dec.count())
    print(json.dumps({"bit_identical": bool(ok)}))
    if own:
        spark.stop()
    if not ok:
        sys.exit(1)


def cmd_lookup(args) -> None:
    """Point lookup against the persisted blocks table: metadata-pruned
    (parquet row-group stats on key_lo/key_hi), key-column-only decode,
    matched rows fetched by index — no source re-encode."""
    from oroch_spark import engine

    spark, own = build_session(args)
    blocks = spark.read.parquet(os.path.join(args.out, "blocks"))
    import glob

    import pyarrow.parquet as pq
    src_file = args.src if args.src.endswith(".parquet") else \
        sorted(glob.glob(os.path.join(args.src, "*.parquet")))[0]
    kinds = engine.arrow_column_kinds(pq.read_schema(src_file))
    kind = dict(kinds)[args.key]
    if "," in args.value:  # IN-list form: one pass, shared block decodes
        probes = [_key_value(v, kind) for v in args.value.split(",")]
        out = engine.lookup_in(blocks, kinds, args.key, probes)
    else:
        out = engine.lookup(blocks, kinds, args.key,
                            _key_value(args.value, kind))
    rows = out.collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(json.dumps({"matches": len(rows)}))
    if own:
        spark.stop()


def _key_value(raw: str, kind: str):
    """CLI key literal: string keys stay strings, everything else is
    the engine's int64 domain (ts = epoch-micros, date = days)."""
    return raw if kind == "str" else int(raw)


def cmd_range_agg(args) -> None:
    """SUM/MIN/MAX/COUNT of --agg-col over a key range, answered from
    block metadata for interior blocks (aggregate pushdown; boundary
    blocks decode only the key and agg columns)."""
    from oroch_spark import engine

    spark, own = build_session(args)
    blocks = spark.read.parquet(os.path.join(args.out, "blocks"))
    import glob

    import pyarrow.parquet as pq
    src_file = args.src if args.src.endswith(".parquet") else \
        sorted(glob.glob(os.path.join(args.src, "*.parquet")))[0]
    kinds = engine.arrow_column_kinds(pq.read_schema(src_file))
    kind = dict(kinds)[args.key]
    lo = _key_value(args.lo, kind)
    hi = _key_value(args.hi, kind)
    row = engine.range_agg(blocks, kinds, args.key, lo, hi,
                           args.agg_col).collect()[0]
    print(json.dumps(row.asDict(), default=str))
    if own:
        spark.stop()


def cmd_scan(args) -> None:
    """Filtered scan on ANY column (not just the lead key): --eq does a
    point lookup pruned by the per-block Bloom filters (encode with
    --bloom-cols) and per-column zone stats; --lo/--hi does a range
    scan pruned by the per-column zone stats. Surviving blocks decode
    only the probe + requested columns."""
    from oroch_spark import engine

    spark, own = build_session(args)
    blocks = spark.read.parquet(os.path.join(args.out, "blocks"))
    import glob

    import pyarrow.parquet as pq
    src_file = args.src if args.src.endswith(".parquet") else \
        sorted(glob.glob(os.path.join(args.src, "*.parquet")))[0]
    kinds = engine.arrow_column_kinds(pq.read_schema(src_file))
    kind = dict(kinds)[args.col]
    columns = args.columns.split(",") if args.columns else None
    if args.eq is not None:
        out = engine.lookup_where(blocks, kinds, args.col,
                                  _key_value(args.eq, kind),
                                  columns=columns)
    else:
        if args.lo is None or args.hi is None:
            raise SystemExit("scan needs --eq or both --lo and --hi")
        out = engine.scan_where(blocks, kinds, args.col,
                                _key_value(args.lo, kind),
                                _key_value(args.hi, kind),
                                columns=columns)
    rows = out.limit(args.limit).collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    print(json.dumps({"matches": len(rows), "limit": args.limit}))
    if own:
        spark.stop()


def _blocks_and_kinds(args, spark):
    import glob

    import pyarrow.parquet as pq

    from oroch_spark import engine

    blocks = spark.read.parquet(os.path.join(args.out, "blocks"))
    src_file = args.src if args.src.endswith(".parquet") else \
        sorted(glob.glob(os.path.join(args.src, "*.parquet")))[0]
    return blocks, engine.arrow_column_kinds(pq.read_schema(src_file))


def cmd_groupby(args) -> None:
    """GROUP BY --col COUNT(*) (or DISTINCT with --distinct) pushed
    into the codec: dictionary/RLE blocks never rebuild row values.
    With --agg-col, SUM/MIN/MAX of that column per group too (Arrow
    hash group-by per block, one exchange of O(groups))."""
    from oroch_spark import engine

    spark, own = build_session(args)
    blocks, kinds = _blocks_and_kinds(args, spark)
    if args.distinct:
        out = engine.distinct_values(blocks, kinds, args.col)
    elif args.agg_col:
        out = engine.group_agg(blocks, kinds, args.col.split(","),
                               args.agg_col) \
            .orderBy("n_rows", ascending=False)
    else:
        out = engine.group_count(blocks, kinds, args.col) \
            .orderBy("n_rows", ascending=False)
    for r in out.limit(args.limit).collect():
        print(json.dumps(r.asDict(), default=str))
    if own:
        spark.stop()


def cmd_topk(args) -> None:
    """ORDER BY lead key LIMIT k decoding only the per-bucket minimal
    block prefix that provably holds the top k."""
    from oroch_spark import engine

    spark, own = build_session(args)
    blocks, kinds = _blocks_and_kinds(args, spark)
    columns = args.columns.split(",") if args.columns else None
    out = engine.topk_key(blocks, kinds, args.key, args.k,
                          ascending=args.asc, columns=columns)
    for r in out.collect():
        print(json.dumps(r.asDict(), default=str))
    if own:
        spark.stop()


def cmd_analyze(args) -> None:
    """ANALYZE TABLE at metadata speed: per-column row count, exact
    null count, global min/max from the block descriptors — no payload
    decode."""
    from oroch_spark import engine

    spark, own = build_session(args)
    blocks, kinds = _blocks_and_kinds(args, spark)
    if getattr(args, "approx_ndv", None):
        for r in engine.approx_distinct(blocks, args.approx_ndv).collect():
            print(json.dumps(r.asDict(), default=str))
    elif getattr(args, "approx_quantile", None):
        qs = [float(x) for x in args.q.split(",")]
        for r in engine.approx_quantile(blocks, args.approx_quantile,
                                        qs, kind=args.quantile_kind) \
                .collect():
            print(json.dumps(r.asDict(), default=str))
    elif getattr(args, "approx_topk", None):
        for r in engine.approx_topk(blocks, args.approx_topk, k=args.k,
                                    kind=args.topk_kind).collect():
            print(json.dumps(r.asDict(), default=str))
    else:
        for r in engine.table_stats(blocks, kinds).orderBy("col") \
                .collect():
            print(json.dumps(r.asDict(), default=str))
    if own:
        spark.stop()


def cmd_dml(args) -> None:
    """DML / maintenance verbs over a streaming-sink table:
    ``upsert --src`` (parquet of whole rows), ``delete-where --where``
    (tombstone batch per matching key), ``changes --from/--to``
    (CDC feed), ``vacuum --older-than`` (GC), ``compact``."""
    from oroch_spark.sources import datasource as ds
    from oroch_spark.sources import dml

    if args.cmd == "vacuum":   # pure filesystem: no SparkSession cost
        print(json.dumps(dml.vacuum(
            args.out, older_than_s=args.older_than,
            dry_run=args.dry_run)))
        return

    spark, own = build_session(args)
    ds.register(spark)
    try:
        if args.cmd == "upsert":
            man = dml.upsert(spark, args.out,
                             spark.read.parquet(args.src),
                             tombstone_col=args.tombstone)
            print(json.dumps(man))
        elif args.cmd == "delete-where":
            man = dml.delete_where(spark, args.out, args.where,
                                   tombstone_col=args.tombstone
                                   or "deleted")
            print(json.dumps(man))
        elif args.cmd == "changes":
            df = dml.table_changes(spark, args.out, args.from_batch,
                                   to_batch=args.to_batch,
                                   tombstone_col=args.tombstone)
            if args.dest:
                df.write.mode("overwrite").parquet(args.dest)
                print(json.dumps({"rows": spark.read.parquet(
                    args.dest).count(), "dest": args.dest}))
            else:
                for r in df.limit(args.limit).collect():
                    print(json.dumps(r.asDict(), default=str))
        elif args.cmd == "compact":
            man = ds.compact_sink(
                spark, args.out, n_buckets=args.buckets,
                tombstone_col=args.tombstone,
                retain_from_batch=args.retain_from,
                gc=not args.no_gc)
            print(json.dumps(man))
    finally:
        if own:
            spark.stop()


def cmd_metrics(args) -> None:
    spark, own = build_session(args)
    m = spark.read.parquet(os.path.join(args.out, "manifest"))
    for row in m.orderBy("bucket").collect():
        d = row.asDict()
        d["completed_at"] = str(d.get("completed_at"))
        print(json.dumps(d, default=str))
    if own:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(prog="oroch-spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    z = sub.add_parser("zip", help="build dist/oroch_spark.zip")

    def common(p):
        p.add_argument("--master", default=None)
        p.add_argument("--out", required=True)

    e = sub.add_parser("encode")
    common(e)
    e.add_argument("--src", required=True)
    e.add_argument("--keys", default="conv_id,turn_idx")
    e.add_argument("--text-cols", default="text")
    e.add_argument("--mode", default="maponly",
                   choices=["maponly", "shuffle"])
    e.add_argument("--buckets", type=int, default=128)
    e.add_argument("--block-rows", type=int, default=65536)
    e.add_argument("--buckets-per-stage", type=int, default=None)
    e.add_argument("--snapshot-id", default=None)
    e.add_argument("--bloom-cols", default=None,
                   help="comma-separated non-key columns to carry a "
                        "per-block Bloom filter for point-lookup pruning")
    e.add_argument("--sketch-cols", default=None,
                   help="comma-separated columns to carry per-block "
                        "HLL/quantile/heavy-hitter sketches (analyze "
                        "--approx-* answers from them)")

    lk = sub.add_parser("lookup")
    common(lk)
    lk.add_argument("--src", required=True,
                    help="source parquet dir (schema only)")
    lk.add_argument("--key", required=True)
    lk.add_argument("--value", required=True,
                    help="key value, or comma-separated values for a "
                         "batched IN-list lookup; int for integer-domain "
                         "keys (ts=epoch-micros, date=days), raw string for "
                         "string keys")

    ra = sub.add_parser("range-agg")
    common(ra)
    ra.add_argument("--src", required=True,
                    help="source parquet dir (schema only)")
    ra.add_argument("--key", required=True)
    ra.add_argument("--lo", required=True)
    ra.add_argument("--hi", required=True)
    ra.add_argument("--agg-col", required=True)

    sc = sub.add_parser("scan")
    common(sc)
    sc.add_argument("--src", required=True,
                    help="source parquet dir (schema only)")
    sc.add_argument("--col", required=True)
    sc.add_argument("--eq", default=None,
                    help="equality probe (Bloom + zone pruned)")
    sc.add_argument("--lo", default=None)
    sc.add_argument("--hi", default=None)
    sc.add_argument("--columns", default=None,
                    help="comma-separated projection (default: all)")
    sc.add_argument("--limit", type=int, default=100)

    gb = sub.add_parser("groupby")
    common(gb)
    gb.add_argument("--src", required=True,
                    help="source parquet dir (schema only)")
    gb.add_argument("--col", required=True)
    gb.add_argument("--distinct", action="store_true",
                    help="emit DISTINCT values instead of counts")
    gb.add_argument("--agg-col", default=None,
                    help="also SUM/MIN/MAX this integer-domain column "
                         "per group (--col may be comma-separated)")
    gb.add_argument("--limit", type=int, default=100)

    tk = sub.add_parser("topk")
    common(tk)
    tk.add_argument("--src", required=True,
                    help="source parquet dir (schema only)")
    tk.add_argument("--key", required=True)
    tk.add_argument("--k", type=int, default=10)
    tk.add_argument("--asc", action="store_true")
    tk.add_argument("--columns", default=None,
                    help="comma-separated projection (default: all)")

    an = sub.add_parser("analyze")
    common(an)
    an.add_argument("--src", required=True,
                    help="source parquet dir (schema only)")
    an.add_argument("--approx-ndv", default=None, metavar="COL",
                    help="APPROX COUNT(DISTINCT col) from HLL sketches")
    an.add_argument("--approx-quantile", default=None, metavar="COL",
                    help="approx percentiles of col from block sketches")
    an.add_argument("--q", default="0.5",
                    help="comma-separated quantiles for --approx-quantile")
    an.add_argument("--quantile-kind", default="int",
                    choices=["int", "float"])
    an.add_argument("--approx-topk", default=None, metavar="COL",
                    help="approx top-k frequent values of col")
    an.add_argument("--k", type=int, default=10)
    an.add_argument("--topk-kind", default="str", choices=["str", "int"])

    d = sub.add_parser("decode")
    common(d)
    d.add_argument("--src", required=True)
    d.add_argument("--dest", required=True)

    v = sub.add_parser("verify")
    common(v)
    v.add_argument("--src", required=True)

    m = sub.add_parser("metrics")
    common(m)

    up = sub.add_parser("upsert", help="commit whole rows as one batch")
    common(up)
    up.add_argument("--src", required=True,
                    help="parquet of rows matching the table schema")
    up.add_argument("--tombstone", default=None)

    dw = sub.add_parser("delete-where",
                        help="tombstone every key matching a predicate")
    common(dw)
    dw.add_argument("--where", required=True,
                    help="SQL predicate over the live latest-wins view")
    dw.add_argument("--tombstone", default=None)

    ch = sub.add_parser("changes", help="CDC feed between two versions")
    common(ch)
    ch.add_argument("--from", dest="from_batch", type=int, required=True)
    ch.add_argument("--to", dest="to_batch", type=int, default=None)
    ch.add_argument("--tombstone", default=None)
    ch.add_argument("--dest", default=None,
                    help="write the feed as parquet instead of printing")
    ch.add_argument("--limit", type=int, default=100)

    vc = sub.add_parser("vacuum", help="GC unreferenced files")
    common(vc)
    vc.add_argument("--older-than", type=float, default=3600.0)
    vc.add_argument("--dry-run", action="store_true")

    cp = sub.add_parser("compact", help="fold sink batches")
    common(cp)
    cp.add_argument("--buckets", type=int, default=32)
    cp.add_argument("--tombstone", default=None)
    cp.add_argument("--retain-from", type=int, default=None)
    cp.add_argument("--no-gc", action="store_true",
                    help="defer file GC to a later vacuum")

    args = ap.parse_args()
    if args.cmd == "zip":
        print(make_zip(os.path.dirname(os.path.abspath(__file__))))
    elif args.cmd == "encode":
        cmd_encode(args)
    elif args.cmd == "decode":
        cmd_decode(args)
    elif args.cmd == "verify":
        cmd_verify(args)
    elif args.cmd == "metrics":
        cmd_metrics(args)
    elif args.cmd == "lookup":
        cmd_lookup(args)
    elif args.cmd == "range-agg":
        cmd_range_agg(args)
    elif args.cmd == "scan":
        cmd_scan(args)
    elif args.cmd == "groupby":
        cmd_groupby(args)
    elif args.cmd == "topk":
        cmd_topk(args)
    elif args.cmd == "analyze":
        cmd_analyze(args)
    elif args.cmd in ("upsert", "delete-where", "changes", "vacuum",
                      "compact"):
        cmd_dml(args)


if __name__ == "__main__":
    main()
