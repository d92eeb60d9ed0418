"""Single CDC replay benchmark run at a given core count (subprocess unit).

Usage: python tools/replay_bench.py <cores> <events_parquet> <n_base_docs> \
           <num_batches> <work_dir> [reps]
Prints one JSON line:
  {"cores": N, "events": E, "seconds": best_s, "events_per_sec": best_thr,
   "reps": [s1, s2, ...]}

Protocol notes (virtualized-sandbox measurement hygiene): one warmup
replay (JIT + page-cache + host CPU ramp) then ``reps`` measured replays
against a fresh table each time, best-of taken — single-shot timings on
this host vary by >2x. Each parallelism level runs in its own process so
every level gets a fresh JVM (the two-cluster-size evidence protocol, see
BENCH/BASELINE.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ingestion3_spark.cdc.generator import make_corpus, write_fixture  # noqa: E402
from ingestion3_spark.cdc.replay import ReplayEngine  # noqa: E402
from ingestion3_spark.session import get_spark  # noqa: E402


def one_replay(spark, events, work, cores, n_base, num_batches, tag):
    table_path = os.path.join(work, f"corpus_{cores}_{tag}")
    err_dir = os.path.join(work, f"err_{cores}_{tag}")
    shutil.rmtree(table_path, ignore_errors=True)
    shutil.rmtree(err_dir, ignore_errors=True)
    table = ReplayEngine.create_table(
        spark, table_path,
        num_buckets=int(os.environ.get("I3S_BUCKETS", "64")),
        merge_mode=os.environ.get("I3S_MERGE_MODE", "cow"),
    )
    if n_base:
        base_pq = os.path.join(work, f"base_{n_base}.parquet")
        if not os.path.exists(base_pq):
            write_fixture(base_pq, make_corpus(n_base, seed=42, max_len=128))
        files = table.write_files(spark.read.parquet(base_pq))
        table.commit("append", add_files=files)
    eng = ReplayEngine(spark, table, error_dir=err_dir)
    t0 = time.perf_counter()
    eng.replay(events, num_batches=num_batches)
    if os.environ.get("I3S_MOR_COMPACT") == "1":
        # fold the deferred merge back into the measured window: MOR's
        # O(delta) replay writes delta layers; the rewrite that COW pays
        # inline happens here as one compaction, so the timed MOR job
        # reaches the same end state (fully-folded base files) as COW and
        # the mode comparison hides no deferred work
        table.compact(min_files=2)
    dt = time.perf_counter() - t0
    shutil.rmtree(table_path, ignore_errors=True)
    shutil.rmtree(err_dir, ignore_errors=True)
    return dt


def _start_ballast(cores: int) -> list:
    """Iso-clock protocol (env I3S_BALLAST=1): pin this process (and the
    JVM it forks) to ``cores`` CPUs and occupy every remaining CPU with a
    busy-spin so the N-level measurement runs at the same per-core clock /
    turbo state as the fully-loaded 4N level.

    Rationale: the north rule's two-cluster-size criterion compares N vs 4N
    *executors* — scaling out adds nodes and does NOT speed up the small
    cluster's cores. On a single VM, an 8-thread run on an otherwise idle
    32-vCPU host turbo-boosts ~2-3x per core relative to a 32-thread run,
    which conflates DVFS with parallel efficiency. Ballast equalizes clock
    state; it deliberately does NOT consume memory bandwidth, so the N
    level keeps a bandwidth advantage and the resulting efficiency is a
    conservative (lower-bound-leaning) estimate.
    """
    import subprocess

    total = os.cpu_count() or cores
    if os.environ.get("I3S_BALLAST") != "1" or cores >= total:
        return []
    os.sched_setaffinity(0, set(range(cores)))
    procs = []
    # self-expiring spin: if this process dies without killing its ballast
    # (crash path), orphaned spinners must not poison every later
    # measurement on the host — cap their lifetime well above any single
    # bench level's runtime
    deadline_s = int(os.environ.get("I3S_BALLAST_MAX_S", "2400"))
    spin = (
        "import time\n"
        f"end=time.monotonic()+{deadline_s}\n"
        "while time.monotonic()<end:\n"
        " for _ in range(100000): pass\n"
    )
    for c in range(cores, total):
        p = subprocess.Popen(
            ["taskset", "-c", str(c), sys.executable, "-c", spin],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )
        procs.append(p)
    return procs


def main() -> int:
    cores = int(sys.argv[1])
    events_path = sys.argv[2]
    n_base = int(sys.argv[3])
    num_batches = int(sys.argv[4])
    work = sys.argv[5]
    reps = int(sys.argv[6]) if len(sys.argv) > 6 else 3

    ballast = _start_ballast(cores)
    try:
        return _run(cores, events_path, n_base, num_batches, work, reps, ballast)
    finally:
        for p in ballast:
            p.kill()


def _run(cores, events_path, n_base, num_batches, work, reps, ballast) -> int:
    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)
    spark = get_spark(
        f"replay-bench-{cores}",
        cores=cores,
        shuffle_partitions=int(os.environ.get("I3S_SHUFFLE_PARTS", "0")) or max(cores, 8),
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            # tmpfs bench default: the synthetic token payload is uniform
            # random int32 (incompressible) — snappy costs ~1.5s CPU per
            # write for ~10% size; storage-bound deployments keep the
            # engine's snappy default (session.py)
            "spark.sql.parquet.compression.codec": os.environ.get(
                "I3S_PARQUET_CODEC", "uncompressed"
            ),
            # >0 enables sortless dynamic-partition fanout writes; 0 =
            # Spark default (sort)
            "spark.sql.maxConcurrentOutputFileWriters": os.environ.get(
                "I3S_MAX_WRITERS", "0"
            ),
            # shuffle/broadcast wire codec (STATIC conf — needs its own JVM,
            # hence an env knob here, not an ab_replay sql: key). The token
            # payload is ~50k-vocab int32s: lz4 (default) finds no matches
            # in the 2-byte-value/2-byte-zero pattern, zstd entropy-codes it
            # ~2x smaller — and exchange BYTES are the non-scaling resource
            # on this host (BENCH.md memcpy envelope ~1.2x for 8->32)
            "spark.io.compression.codec": os.environ.get("I3S_IO_CODEC", "lz4"),
        },
    )
    events = spark.read.parquet(events_path)
    n_events = events.count()

    # EQUAL-WALL-TIME warmup: this host's per-process CPU allowance ramps
    # over the first ~1-2 minutes of sustained load (BENCH.md "host CPU
    # ramp"), so a fixed warmup COUNT flatters whichever level lives
    # longer. Keep replaying until the warm budget has elapsed at BOTH
    # levels, then measure — every measured number below samples the same
    # ramp state.
    warm_s = float(os.environ.get("I3S_WARM_SECONDS", "90"))
    t_start = time.perf_counter()
    one_replay(spark, events, work, cores, n_base, num_batches, "warmup")
    w = 0
    while time.perf_counter() - t_start < warm_s:
        one_replay(spark, events, work, cores, n_base, num_batches, f"warm{w}")
        w += 1
    # parallel-ceiling jobs measured in the SAME JVM and host window as the
    # replay they normalize (see tools/ceiling_bench.py for the rationale):
    # identical scan + validation expressions + write volume, with zero
    # engine logic. Two variants:
    #   ceiling_seconds          — scan→validate→write, NO exchange: the
    #     host's perfect-scaling reference for pure columnar compute.
    #   ceiling_shuffle_seconds  — the same plan through ONE
    #     pmod(hash(key)) exchange: the minimal data movement ANY
    #     exactly-once keyed merge must perform (winner rows must
    #     co-locate by key/bucket), still with zero engine logic. This is
    #     the headline normalizer: on this VM cross-thread exchange
    #     bandwidth barely scales (memcpy envelope ~1.2x 8->32), which no
    #     engine can avoid paying while still merging by key; a real
    #     N->4N executor scale-out multiplies exchange bandwidth by ~4.
    #
    # Interleaving (round-3 protocol): replay and the two ceilings are
    # sampled ALTERNATELY, cycle by cycle, so the min of each series is
    # drawn from the same set of host windows — a throttle episode that
    # hits one series hits its neighbors in the same cycle too, instead of
    # poisoning one series' entire sample.
    do_ceiling = os.environ.get("I3S_CEILING", "1") == "1"
    ceiling = ceiling_shuffle = None
    times: list[float] = []
    ceil_times: list[float] = []
    shuf_times: list[float] = []
    if do_ceiling:
        import shutil as _sh
        import time as _tm

        from pyspark.sql import functions as F

        from ingestion3_spark.cdc import validate as _val

        out = os.path.join(work, f"ceiling_{cores}")
        # same per-row work as the engine's hot scans (cheap error
        # predicate + payload normalization, NO message structs — the
        # engine builds messages only for the errored subset, so a
        # validate_events ceiling would overstate the ceiling's work and
        # flatter the normalized efficiency)
        base_plan = _val.normalize_payload(
            events.filter(~_val.error_predicate())
        )
        shuf_plan = base_plan.repartition(F.pmod(F.xxhash64("doc_id"), F.lit(64)))

        def _ceil_once(plan) -> float:
            _sh.rmtree(out, ignore_errors=True)
            t0 = _tm.perf_counter()
            plan.write.mode("overwrite").parquet(out)
            return _tm.perf_counter() - t0

        _ceil_once(base_plan)  # warmup
        for i in range(max(reps, 2)):
            times.append(
                one_replay(spark, events, work, cores, n_base, num_batches, f"r{i}")
            )
            ceil_times.append(_ceil_once(base_plan))
            shuf_times.append(_ceil_once(shuf_plan))
        _sh.rmtree(out, ignore_errors=True)
        ceiling = round(min(ceil_times), 3)
        ceiling_shuffle = round(min(shuf_times), 3)
    else:
        times = [
            one_replay(spark, events, work, cores, n_base, num_batches, f"r{i}")
            for i in range(reps)
        ]
    best = min(times)

    print(json.dumps({
        "cores": cores,
        "events": n_events,
        "seconds": round(best, 3),
        "events_per_sec": round(n_events / best, 1),
        "reps": [round(t, 3) for t in times],
        "ceiling_seconds": ceiling,
        "ceiling_shuffle_seconds": ceiling_shuffle,
        "ceiling_reps": [round(t, 3) for t in ceil_times],
        "ceiling_shuffle_reps": [round(t, 3) for t in shuf_times],
        "ballast": bool(ballast),
        "merge_mode": os.environ.get("I3S_MERGE_MODE", "cow"),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
