"""spark-submit CLI for the CDC engine — the reference's ``entries/*``
analog (``entries/ingest/HarvestEntry.scala:19-47``, ``MappingEntry``,
``utils/NaraMergeUtil.scala:54-84`` main), collapsed to one driver:

    spark-submit --py-files i3s.zip -m ingestion3_spark.cli <cmd> ...
or  python -m ingestion3_spark.cli <cmd> ...   (local[*])

Commands:
  generate --out feed.parquet --events N [--base-docs N] [--seed S] [--skew]
  replay   --feed feed.parquet --table DIR [--err-dir DIR] [--batches N]
           [--minor-every K] [--compact-every K] [--expire-every K]
  stream   --feed-dir DIR --table DIR --checkpoint DIR [--err-dir DIR]
  evolve   --table DIR (--add name:type | --rename old:new | --widen name:type)
  compact  --table DIR [--min-files N] [--minor]
  report   --table DIR

Exit codes: 0 ok; 2 bad args. A replay failure raises — the scheduler
retries and the engine's exactly-once checkpoint makes the retry safe
(the reference instead emailed + System.exit(1),
``executors/HarvestExecutor.scala:137-181``).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(args):
    from ingestion3_spark.session import get_spark

    return get_spark("i3s-cli", cores=args.cores, shuffle_partitions=None)


def cmd_generate(args) -> int:
    from ingestion3_spark.cdc.generator import make_events, write_fixture

    tbl = make_events(
        args.events,
        n_base_docs=args.base_docs,
        seed=args.seed,
        n_parts=args.parts,
        max_len=args.max_len,
        skew=args.skew,
    )
    write_fixture(args.out, tbl)
    print(json.dumps({"written": args.out, "rows": tbl.num_rows}))
    return 0


def _load_or_create(spark, path: str, num_buckets: int, merge_mode: str = "cow"):
    from ingestion3_spark.cdc.replay import ReplayEngine
    from ingestion3_spark.lakehouse.table import LakeTable

    if LakeTable.exists(path):
        return LakeTable.load(spark, path)
    return ReplayEngine.create_table(spark, path, num_buckets=num_buckets,
                                     merge_mode=merge_mode)


def _err_dir(args) -> str:
    # beside the table, never inside it, where vacuum (or Iceberg's
    # remove_orphan_files) would reach it
    return args.err_dir or os.path.normpath(args.table) + "_errors"


def cmd_replay(args) -> int:
    from ingestion3_spark.cdc.replay import ReplayEngine

    spark = _spark(args)
    table = _load_or_create(spark, args.table, args.buckets, args.merge_mode)
    eng = ReplayEngine(spark, table, error_dir=_err_dir(args))
    stats = eng.replay(spark.read.parquet(args.feed), num_batches=args.batches,
                       minor_every=args.minor_every,
                       compact_every=args.compact_every,
                       expire_every=args.expire_every,
                       keep_last=args.keep_last)
    for s in stats:
        print(json.dumps(s.as_dict()))
    print(json.dumps({"rows": table.read().count(), "checkpoint": table.checkpoint()}))
    return 0


def cmd_stream(args) -> int:
    from ingestion3_spark.cdc.replay import ReplayEngine
    from ingestion3_spark.streaming.stream_replay import file_feed_stream, stream_replay

    spark = _spark(args)
    table = _load_or_create(spark, args.table, args.buckets)
    eng = ReplayEngine(spark, table, error_dir=_err_dir(args))
    stream = file_feed_stream(spark, args.feed_dir, max_files_per_trigger=args.max_files)
    q = stream_replay(eng, stream, args.checkpoint, trigger_once=not args.continuous,
                      processing_time=args.trigger_interval)
    q.awaitTermination()
    print(json.dumps({"rows": table.read().count(), "checkpoint": table.checkpoint()}))
    return 0


def cmd_evolve(args) -> int:
    """Schema-evolution metadata transactions (Iceberg ALTER TABLE analog);
    already-written files are mapped by field id on read, and the replay
    compat gate admits feeds carrying the new shape."""
    from ingestion3_spark.lakehouse.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    if args.add:
        name, type_ = args.add.split(":", 1)
        table.add_column(name, type_)
    elif args.rename:
        old, new = args.rename.split(":", 1)
        table.rename_column(old, new)
    elif args.widen:
        name, type_ = args.widen.split(":", 1)
        table.widen_column(name, type_)
    else:
        raise SystemExit("evolve: one of --add/--rename/--widen required")
    print(json.dumps({"schema_version": table.schema_version,
                      "columns": table.column_names()}))
    return 0


def cmd_compact(args) -> int:
    from ingestion3_spark.lakehouse.table import LakeTable

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    if args.minor:
        # minor: fold the MOR delta stack only (O(deltas), base untouched)
        layers = args.min_layers if args.min_layers is not None else args.min_files
        folded = table.compact_deltas(min_layers=layers)
        removed = table.vacuum()
        print(json.dumps({"folded_layers": folded, "vacuumed_files": removed}))
        return 0
    n = table.compact(min_files=args.min_files)
    removed = table.vacuum()
    print(json.dumps({"compacted_buckets": n, "vacuumed_files": removed}))
    return 0


def cmd_report(args) -> int:
    from ingestion3_spark.cdc.merge import lineage_df
    from ingestion3_spark.lakehouse.table import LakeTable
    from ingestion3_spark.operators.reports import ops_log

    spark = _spark(args)
    table = LakeTable.load(spark, args.table)
    print(json.dumps({
        "rows": table.read().count(),
        "checkpoint": table.checkpoint(),
        "schema_version": table.schema_version,
        "snapshots": len(table.snapshots()),
        "columns": table.column_names(),
    }))
    for r in ops_log(lineage_df(table)).collect():
        print(json.dumps(r.asDict()))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ingestion3_spark", description=__doc__)
    p.add_argument("--cores", default=None, help="local[N] cores (default: env/all)")
    sub = p.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("generate", help="seeded synthetic CDC feed")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, required=True)
    g.add_argument("--base-docs", type=int, default=0)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--parts", type=int, default=8)
    g.add_argument("--max-len", type=int, default=128)
    g.add_argument("--skew", action="store_true")
    g.set_defaults(fn=cmd_generate)

    r = sub.add_parser("replay", help="batch replay feed -> table")
    r.add_argument("--feed", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--err-dir", default=None,
                   help="error report root (default: <table>_errors beside the table)")
    r.add_argument("--batches", type=int, default=1)
    r.add_argument("--buckets", type=int, default=16)
    r.add_argument("--merge-mode", choices=["cow", "mor"], default="cow",
                   help="cow: rewrite touched buckets; mor: append delta files")
    r.add_argument("--minor-every", type=int, default=0,
                   help="fold MOR delta layers every K batches (0=off)")
    r.add_argument("--compact-every", type=int, default=0,
                   help="major compact every K batches (0=off)")
    r.add_argument("--expire-every", type=int, default=0,
                   help="expire old snapshots every K batches (0=off); "
                        "bounds the per-commit metadata walk at O(--keep-last)")
    r.add_argument("--keep-last", type=int, default=4,
                   help="snapshots retained by --expire-every")
    r.set_defaults(fn=cmd_replay)

    s = sub.add_parser("stream", help="streaming replay of a file-drop feed dir")
    s.add_argument("--feed-dir", required=True)
    s.add_argument("--table", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--err-dir", default=None,
                   help="error report root (default: <table>_errors beside the table)")
    s.add_argument("--buckets", type=int, default=16)
    s.add_argument("--max-files", type=int, default=None)
    s.add_argument("--continuous", action="store_true")
    s.add_argument("--trigger-interval", default=None)
    s.set_defaults(fn=cmd_stream)

    e = sub.add_parser("evolve", help="schema evolution: add/rename/widen")
    e.add_argument("--table", required=True)
    e.add_argument("--add", help="name:type, e.g. lang:string")
    e.add_argument("--rename", help="old:new")
    e.add_argument("--widen", help="name:newtype, e.g. n_tok:bigint")
    e.set_defaults(fn=cmd_evolve)

    c = sub.add_parser("compact", help="bin-pack small files + vacuum")
    c.add_argument("--table", required=True)
    c.add_argument("--min-files", type=int, default=2,
                   help="major: min files per bucket to bin-pack "
                        "(with --minor and no --min-layers, doubles as the "
                        "min delta-LAYER threshold)")
    c.add_argument("--min-layers", type=int, default=None,
                   help="minor only: min delta layers per bucket to fold "
                        "(defaults to --min-files)")
    c.add_argument("--minor", action="store_true",
                   help="fold MOR delta layers only (no base rewrite)")
    c.set_defaults(fn=cmd_compact)

    rep = sub.add_parser("report", help="table state + ops-log summary")
    rep.add_argument("--table", required=True)
    rep.set_defaults(fn=cmd_report)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
