"""Sustained multi-batch replay: does per-batch cost stay flat?

Usage: python tools/sustained_bench.py <cores> <events_parquet> <n_base> \
           <num_batches> <work_dir> [compact_every] [minor_every] [expire_every]

The north-rule metric is SUSTAINED upsert throughput at 10^10 events —
i.e. thousands of micro-batches against one ever-growing table. A
per-batch cost that creeps with snapshot count, manifest size, or delta
layering would invalidate any single-batch number, so this harness
replays one feed as N seq-range batches into ONE table and prints each
batch's wall seconds plus first-half/second-half medians. In MOR mode
(`I3S_MERGE_MODE=mor`) pass `compact_every` to fold delta layers on a
cadence, timing compactions separately — the steady-state operating mode
(delta writes O(delta); compaction amortized over the cadence).
`minor_every` additionally runs compact_deltas() (fold the delta stack
WITHOUT rewriting base — O(deltas)) on a tighter cadence, bounding the
within-window read amplification at a fraction of major-compact cost.

Prints one JSON line:
  {"mode": .., "batches": [s..], "compactions": [s..],
   "first_half_median": s, "second_half_median": s, "ratio": r,
   "rows_final": n, "events": e, "sustained_events_per_sec": thr}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ingestion3_spark.cdc.generator import make_corpus, write_fixture  # noqa: E402
from ingestion3_spark.cdc.replay import ReplayEngine  # noqa: E402
from ingestion3_spark.session import get_spark  # noqa: E402


def main() -> int:
    cores = int(sys.argv[1])
    events_path = sys.argv[2]
    n_base = int(sys.argv[3])
    num_batches = int(sys.argv[4])
    work = sys.argv[5]
    compact_every = int(sys.argv[6]) if len(sys.argv) > 6 else 0
    minor_every = int(sys.argv[7]) if len(sys.argv) > 7 else 0
    # snapshot-log retention cadence: every K batches, drop all but the
    # last 4 snapshots (+ vacuum orphans). The driver-side metadata walk —
    # _publish rewrites the WHOLE meta JSON (every snapshot + embedded
    # lineage) per commit — grows linearly in retained snapshots, the
    # 10^10 shape's thousands-of-micro-batches hazard (VERDICT r4 #5).
    expire_every = int(sys.argv[8]) if len(sys.argv) > 8 else 0
    mode = os.environ.get("I3S_MERGE_MODE", "cow")

    spark = get_spark(
        f"sustained-{cores}", cores=cores, shuffle_partitions=max(cores, 8),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.parquet.compression.codec": os.environ.get(
                "I3S_PARQUET_CODEC", "uncompressed"
            ),
        },
    )
    events = spark.read.parquet(events_path)
    n_events = events.count()

    tp = os.path.join(work, f"sustained_{cores}")
    ed = os.path.join(work, f"sustained_err_{cores}")
    shutil.rmtree(tp, ignore_errors=True)
    shutil.rmtree(ed, ignore_errors=True)
    table = ReplayEngine.create_table(spark, tp, num_buckets=64, merge_mode=mode)
    if n_base:
        base_pq = os.path.join(work, f"base_{n_base}.parquet")
        if not os.path.exists(base_pq):
            write_fixture(base_pq, make_corpus(n_base, seed=42, max_len=128))
        table.commit("append", add_files=table.write_files(spark.read.parquet(base_pq)))
    eng = ReplayEngine(spark, table, error_dir=ed)

    # same deterministic seq-range split as ReplayEngine.replay — but
    # PRE-MATERIALIZED into one parquet dir per batch. A real binlog tail
    # delivers each micro-batch's events incrementally; filtering the whole
    # feed by seq range inside the loop would re-scan all N events per
    # batch (3 wide scans x num_batches full-feed reads — measured 3-4x
    # inflation at 16 batches) and would time the harness, not the engine.
    lo_hi = events.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
    lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
    span = hi - lo + 1
    step = max(1, span // num_batches + (1 if span % num_batches else 0))
    chunks_dir = os.path.join(work, f"sustained_chunks_{cores}")
    shutil.rmtree(chunks_dir, ignore_errors=True)
    (
        events
        .withColumn("__b", ((F.col("seq") - F.lit(lo)) / F.lit(step)).cast("int"))
        .write.partitionBy("__b").parquet(chunks_dir)
    )

    batch_s: list[float] = []
    compact_s: list[float] = []
    minor_s: list[float] = []
    expire_s: list[float] = []
    # driver-side metadata overhead per batch, sampled cold: bytes of the
    # current meta JSON (rewritten whole on every commit) + the current
    # manifest, and the wall cost of a from-scratch LakeTable.load +
    # checkpoint() + live_files() — the exact walk a resuming process pays
    meta_bytes: list[int] = []
    manifest_bytes: list[int] = []
    reload_ms: list[float] = []
    n_snaps: list[int] = []
    from ingestion3_spark.lakehouse.table import LakeTable

    for b in range(num_batches):
        b_lo = lo + b * step
        if b_lo > hi:
            break
        chunk = spark.read.parquet(os.path.join(chunks_dir, f"__b={b}"))
        t0 = time.perf_counter()
        eng.replay(chunk, num_batches=1)
        batch_s.append(round(time.perf_counter() - t0, 3))
        if compact_every and (b + 1) % compact_every == 0:
            t0 = time.perf_counter()
            table.compact(min_files=2)
            compact_s.append(round(time.perf_counter() - t0, 3))
        elif minor_every and (b + 1) % minor_every == 0:
            t0 = time.perf_counter()
            table.compact_deltas()
            minor_s.append(round(time.perf_counter() - t0, 3))
        if expire_every and (b + 1) % expire_every == 0:
            t0 = time.perf_counter()
            table.expire_snapshots(keep_last=4)
            table.vacuum()
            expire_s.append(round(time.perf_counter() - t0, 3))
        meta_bytes.append(os.path.getsize(table.metadata_location))
        snap = table.current_snapshot
        manifest_bytes.append(os.path.getsize(
            os.path.join(table.path, snap.manifest_path)))
        t0 = time.perf_counter()
        t_cold = LakeTable.load(spark, tp)
        t_cold.checkpoint()
        t_cold.live_files()
        reload_ms.append(round((time.perf_counter() - t0) * 1000, 2))
        n_snaps.append(len(table.snapshots()))
        print(f"[sustained] batch={b} {batch_s[-1]}s meta={meta_bytes[-1]}B "
              f"reload={reload_ms[-1]}ms snaps={n_snaps[-1]}", flush=True)

    half = len(batch_s) // 2
    # flatness ratio needs >=4 batches: below that the warmup-skipped
    # first-half slice is empty (and silently re-including batch 0 — the
    # JIT/page-cache warmup batch — would bias the ratio), so short runs
    # report raw batch times only, no medians
    if len(batch_s) >= 4:
        # skip batch 0 in the first half: it carries JIT/page-cache warmup
        first = statistics.median(batch_s[1:half])
        second = statistics.median(batch_s[half:])
        flatness = {
            "first_half_median": round(first, 3),
            "second_half_median": round(second, 3),
            "ratio_second_over_first": round(second / first, 3),
        }
    else:
        flatness = {"flatness": f"n/a: {len(batch_s)} batches < 4"}
    total = sum(batch_s) + sum(compact_s) + sum(minor_s) + sum(expire_s)
    rows_final = table.read().count()
    print(json.dumps({
        "mode": mode,
        "cores": cores,
        "events": n_events,
        "num_batches": len(batch_s),
        "batches": batch_s,
        "compactions": compact_s,
        "compact_every": compact_every,
        "minor_compactions": minor_s,
        "minor_every": minor_every,
        "expire_every": expire_every,
        "expirations": expire_s,
        **flatness,
        "driver_overhead": {
            "meta_bytes_first": meta_bytes[0], "meta_bytes_last": meta_bytes[-1],
            "manifest_bytes_first": manifest_bytes[0],
            "manifest_bytes_last": manifest_bytes[-1],
            "reload_ms_first": reload_ms[0], "reload_ms_last": reload_ms[-1],
            "reload_ms": reload_ms,
            "meta_bytes": meta_bytes,
            "snapshots_retained_last": n_snaps[-1],
        },
        "rows_final": rows_final,
        "sustained_events_per_sec": round(n_events / total, 1),
        "total_seconds": round(total, 3),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
