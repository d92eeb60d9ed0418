"""Replay benchmark: one closed-loop run of one workload.

Usage (from the repository root):
    python3 replaybench/run.py --workload backfill_cow --seed 1 --seconds 20 --trace 0

Drives ``cdc.replay`` -> ``cdc.validate``/``cdc.dedup`` -> ``cdc.merge`` ->
``lakehouse.table`` through the public API with the shipped defaults, on
one SparkSession at ``local[min(4, nproc)]``. Only the core count, the
local dirs and the driver memory are set. Every run checks the final table
and its bookkeeping against results computed apart from the engine
(``expected.py``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "1g"  # session.py defaults to 16g; this host has 15 GB in all
MB = float(1 << 20)


def host_probe_ms() -> float:
    """Fixed single-core spin, a host-speed diagnostic (not a metric)."""
    t = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i & 7
    return (time.perf_counter() - t) * 1000.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_sizes(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for fn in files:
            full = os.path.join(root, fn)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


class Run:
    def __init__(self, w, seed: int, seconds: float, trace: bool):
        import tracing

        self.w = w
        self.rounds = w.rounds(seconds)
        self.n_timed = self.rounds * w.batches_per_round
        self.work = os.path.join(ROOT, ".bench_work", f"{w.name}-s{seed}-p{os.getpid()}")
        self.inputs = os.path.join(self.work, "inputs")
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.correct = True
        self.used_ids: set[int] = set()
        self.reused_ids: list[int] = []
        self.stats = []  # BatchStats of every committed or skipped batch
        self.ops: list[dict] = []
        self.tracer = tracing.Tracer() if trace else None
        self.counters = None

    # ------------------------------------------------------------ helpers
    def span(self, name: str, **attrs):
        from contextlib import nullcontext

        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def op(self, kind: str, fn, count: bool = True, **attrs):
        """Run one top-level operation, timed; traced runs also record its
        span and the Spark counters of the jobs it started. Isolated layer
        calls (``count=False``) are probes, not operations of the workload,
        so traced and untraced runs attempt the same operations."""
        self.attempted += count
        with self.span(kind, **attrs) as sp:
            t = time.perf_counter()
            out = fn()
            s = time.perf_counter() - t
        rec = {"kind": kind, "s": s, "span": sp if self.tracer else None}
        if self.counters is not None:
            rec["exec"] = self.counters.collect()
        self.ops.append(rec)
        return out, rec

    def batch(self, fn_name: str, timed: bool):
        df = self.spark.read.parquet(os.path.join(self.inputs, fn_name))
        stats, rec = self.op("replay.batch", lambda: self.engine.replay(df, num_batches=1)[0],
                             file=fn_name)
        rec.update(timed=timed, events_in=stats.events_in, winners=stats.changes)
        self.stats.append(stats)
        if stats.merge is not None:
            # a batch id handed out twice is the ReplayEngine._next_batch_id
            # fault: ids come from retained snapshots, which expiry drops
            if stats.batch_id in self.used_ids:
                self.failed += 1
                self.reused_ids.append(stats.batch_id)
            self.used_ids.add(stats.batch_id)
        return rec

    def maintain(self, name: str, timed: bool):
        calls = {
            "compact": lambda: self.table.compact(),
            "compact_deltas": lambda: self.table.compact_deltas(),
            "expire_snapshots": lambda: self.table.expire_snapshots(keep_last=1),
        }
        _, rec = self.op(f"table.{name}", calls[name])
        rec["timed"] = timed

    def check(self, name: str, ok: bool, fault: bool = False) -> None:
        """One checked operation. A failed check counts in ``failed``; it
        also makes the run incorrect unless it is the probe of a named
        program fault (``fault=True``), which fails on every run until the
        fault is mended."""
        self.attempted += 1
        self.checks[name] = bool(ok)
        if not ok:
            self.failed += 1
            if not fault:
                self.correct = False

    # ---------------------------------------------------------------- run
    def setup(self) -> float:
        from ingestion3_spark.cdc.replay import ReplayEngine
        from ingestion3_spark.session import get_spark

        import tracing

        w = self.w
        with self.span("session.get_spark"):
            t = time.perf_counter()
            self.spark = get_spark(
                f"replaybench-{w.name}", cores=CORES,
                extra_conf={
                    "spark.driver.memory": DRIVER_MEMORY,
                    "spark.local.dir": os.path.join(self.work, "spark-local"),
                },
            )
            self.session_s = time.perf_counter() - t
        if self.tracer:
            self.counters = tracing.ExecCounters(self.spark)
        path = os.path.join(self.work, "table")
        t = time.perf_counter()
        self.table = ReplayEngine.create_table(
            self.spark, path, merge_mode=w.merge_mode)
        base = self.spark.read.parquet(os.path.join(self.inputs, "base.parquet"))
        self.table.commit("append", add_files=self.table.write_files(base))
        self.table_path = path
        self.load_s = time.perf_counter() - t
        self.engine = ReplayEngine(
            self.spark, self.table, error_dir=os.path.join(self.work, "errors"))
        t = time.perf_counter()
        self.batch(self.manifest["files"][0], timed=False)
        for name in w.warmup_maintenance:
            self.maintain(name, timed=False)
        self.warmup_s = time.perf_counter() - t
        return self.session_s + self.load_s + self.warmup_s

    def window(self) -> None:
        files = self.manifest["files"][1:]
        before = tree_sizes(os.path.join(self.table_path, "data"))
        t = time.perf_counter()
        k = 0
        for _ in range(self.rounds):
            for _ in range(self.w.batches_per_round):
                self.batch(files[k], timed=True)
                k += 1
            for name in self.w.round_maintenance:
                self.maintain(name, timed=True)
        self.window_s = time.perf_counter() - t
        after = tree_sizes(os.path.join(self.table_path, "data"))
        self.written_bytes = sum(s for p, s in after.items() if p not in before)
        for name in self.w.closing_maintenance:
            self.maintain(name, timed=False)

    def isolated_layers(self) -> None:
        """validate and dedup as isolated calls over each timed batch's input."""
        from ingestion3_spark.cdc import dedup as dd
        from ingestion3_spark.cdc import validate as val

        for fn_name in self.manifest["files"][1:]:
            df = self.spark.read.parquet(os.path.join(self.inputs, fn_name))
            errp = val.error_predicate()
            self.op("validate.route",
                    lambda: val.validate_events(df.filter(errp))
                    .write.format("noop").mode("overwrite").save(), count=False)
            self.op("dedup.winners",
                    lambda: dd.winner_keys_packed(
                        df.filter(~errp).select("doc_id", "seq", "part", "op")).count(),
                    count=False)

    def reads(self) -> None:
        # the first, cold read of the final table collects it for the
        # correctness checks and is not timed as a scan
        self.got, _ = self.op("check.read", lambda: self.table.read().toArrow())
        # then untimed warm-up reads: the first few reads run 10-20% slower
        for kind in ["table.read.warm"] * self.w.warm_reads + ["table.read"] * self.w.reads:
            self.op(kind,
                    lambda: self.table.read().write.format("noop").mode("overwrite").save())

    def verify(self) -> None:
        from concurrent.futures import ThreadPoolExecutor

        from expected import Expected

        feed = [os.path.join(self.inputs, f) for f in self.manifest["files"]]
        # DuckDB builds the expected state while Spark reads back the table
        with ThreadPoolExecutor(max_workers=1) as pool:
            f_exp = pool.submit(Expected, os.path.join(self.inputs, "base.parquet"), feed)
            errors_df = self.engine.errors_df().count()
            snap = self.table.current_snapshot.snapshot_id
            redelivered, _ = self.op("replay.redeliver", lambda: self.engine.replay(
                self.spark.read.parquet(feed[-1]), num_batches=1)[0])
            exp = f_exp.result()
        try:
            self.check("state", exp.mismatches(self.got) == 0)
            self.check("errors_sink", errors_df == exp.errors_distinct())
            # apply_batch counts BatchStats.errors over the pending rows
            # before deduplication, so a redelivered erroring row counts once
            # per copy; the warm-up batch carries one such row on every run
            # (gen.FAULT_PROBE), so this fails on every run while that fault
            # stands
            self.check("errors_stats",
                       sum(s.errors for s in self.stats) == exp.errors_distinct(),
                       fault=True)
            self.check("checkpoint", self.table.checkpoint() == exp.checkpoint())
            net = sum(s.merge.counts["inserts"] - s.merge.counts["deletes"]
                      for s in self.stats if s.merge is not None)
            self.check("row_delta", net == self.got.num_rows - self.manifest["n_base"])
            self.check("redelivery_noop", redelivered.events_in == 0
                       and self.table.current_snapshot.snapshot_id == snap)
        finally:
            exp.close()

    def end_to_end(self, setup_s: float, rss_mb: float) -> dict:
        timed = [o for o in self.ops if o["kind"] == "replay.batch" and o.get("timed")]
        reads = [o["s"] for o in self.ops if o["kind"] == "table.read"]
        events = sum(self.manifest["events"][1:])
        payload = sum(self.manifest["payload_bytes"][1:])
        table_bytes = sum(tree_sizes(self.table_path).values())
        vals = {
            "events_per_s": (events / self.window_s, "1/s"),
            "batch_p50_s": (median([o["s"] for o in timed]), "s"),
            "scan_s": (median(reads), "s"),
            "write_amp": (self.written_bytes / payload, "ratio"),
            "table_mb": (table_bytes / MB, "MB"),
            "rss_peak_mb": (rss_mb, "MB"),
            "setup_s": (setup_s, "s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}

    def reload_ms(self) -> float:
        from ingestion3_spark.lakehouse.table import LakeTable

        out = []
        for _ in range(5):
            t = time.perf_counter()
            tbl = LakeTable.load(self.spark, self.table_path)
            tbl.checkpoint()
            tbl.live_files()
            out.append((time.perf_counter() - t) * 1000.0)
        return median(out)

    def per_layer(self, n_rows: int) -> dict:
        import tracing as tr

        T = self.tracer
        timed = [o for o in self.ops if o["kind"] == "replay.batch" and o.get("timed")]
        window = [o for o in self.ops if o.get("timed")]
        events = sum(self.manifest["events"][1:])
        mev = events / 1e6

        def med(xs):
            return median(xs) if xs else 0.0

        def kids(o, names):
            return T.descendants(o["span"], names)

        def merge_span(o):
            return kids(o, ("merge.merge_batch",))[0]

        pre_merge, idle, merge_s, merge_self, write_s, commit_ms = [], [], [], [], [], []
        rows_written, winners = 0, 0
        for o in timed:
            sp = o["span"]
            ms = merge_span(o)
            pre_merge.append(ms["start"] - sp["start"])
            merge_s.append(ms["end"] - ms["start"])
            merge_self.append(tr.self_s(T, ms, tuple(f"table.{m}" for m in tr.WRAPPED)))
            writes = kids(o, ("table.write_files", "table.write_delta_files"))
            write_s.append(tr.union_s([(c["start"], c["end"]) for c in writes],
                                      sp["start"], sp["end"]))
            rows_written += sum(c["rows"] for c in writes)
            winners += o["winners"]
            commit_ms += [(c["end"] - c["start"]) * 1000.0
                          for c in kids(o, ("table.commit",))]
            lo, hi = T.epoch_ms(sp["start"]), T.epoch_ms(sp["end"])
            busy_ms = tr.union_s(o["exec"]["job_intervals_ms"], lo, hi)
            idle.append((sp["end"] - sp["start"]) - busy_ms / 1000.0)

        def tot(f):
            return sum(o["exec"][f] for o in window)

        def of(kind):
            return [o for o in self.ops if o["kind"] == kind]

        read_ops = of("table.read")
        decoded = med([o["exec"]["inputRecords"] for o in read_ops])
        cur = self.table.current_snapshot
        live = self.table.live_files()
        referenced = {e.path for e in live} | {cur.manifest_path}
        meta_dir = os.path.join(self.table_path, "metadata")
        with open(os.path.join(meta_dir, "_current")) as f:
            current_meta = os.path.join("metadata", f.read().strip())
        referenced |= {current_meta, os.path.join("metadata", "_current")}
        orphan = sum(s for p, s in tree_sizes(self.table_path).items() if p not in referenced)
        cpu_s = tot("executorCpuTime") / 1e9
        vals = {
            "session.start_s": (self.session_s, "s"),
            "replay.pre_merge_s": (med(pre_merge), "s"),
            "replay.jobs_per_batch": (med([o["exec"]["jobs"] for o in timed]), "count"),
            "replay.tasks_per_batch": (med([o["exec"]["tasks"] for o in timed]), "count"),
            "replay.idle_s": (med(idle), "s"),
            "merge.s": (med(merge_s), "s"),
            "merge.self_s": (med(merge_self), "s"),
            "validate.route_s": (med([o["s"] for o in of("validate.route")]), "s"),
            "dedup.winners_s": (med([o["s"] for o in of("dedup.winners")]), "s"),
            "table.write_s": (med(write_s), "s"),
            "table.write_rows_per_winner": (rows_written / max(winners, 1), "ratio"),
            "table.commit_ms": (med(commit_ms), "ms"),
            "table.meta_kb": (os.path.getsize(os.path.join(self.table_path, current_meta))
                              / 1024.0, "kB"),
            "table.minor_s": (med([o["s"] for o in of("table.compact_deltas")]), "s"),
            "table.major_s": (med([o["s"] for o in of("table.compact")]), "s"),
            "table.expire_ms": (med([o["s"] * 1000.0 for o in of("table.expire_snapshots")]),
                                "ms"),
            "table.read_rows_per_row": (decoded / max(n_rows, 1), "ratio"),
            "table.live_files": (len(live), "count"),
            "table.orphan_mb": (orphan / MB, "MB"),
            "table.reload_ms": (self.reload_ms(), "ms"),
            "exec.cpu_s_per_mevent": (cpu_s / mev, "s"),
            "exec.run_over_cpu": (tot("executorRunTime") / 1000.0 / max(cpu_s, 1e-9), "ratio"),
            "exec.shuffle_write_mb_per_mevent": (tot("shuffleWriteBytes") / MB / mev, "MB"),
            "exec.shuffle_read_mb_per_mevent": (tot("shuffleReadBytes") / MB / mev, "MB"),
            "exec.input_mb_per_mevent": (tot("inputBytes") / MB / mev, "MB"),
            "exec.spill_mb": ((tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / MB, "MB"),
            "exec.gc_s": (tot("jvmGcTime") / 1000.0, "s"),
            "exec.task_skew": (med([o["exec"]["task_skew"] for o in timed]), "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        self.spark.stop()
        if proc is not None:
            gw.shutdown()
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ingestion3_spark")):
        print(f"replaybench: no ingestion3_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import pyspark  # noqa: F401  (import time counts in set-up)
    marks = {}

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"replaybench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    import_s = time.perf_counter() - T_START
    if run.tracer:
        import tracing as tr

        tr.install(run.tracer)

    probe = [host_probe_ms()]
    shutil.rmtree(run.work, ignore_errors=True)
    spans_dir = os.path.join(ROOT, ".bench_work", "spans")
    try:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), run.w.name, str(args.seed),
             str(run.n_timed), run.inputs],
            check=True,
        )
        with open(os.path.join(run.inputs, "manifest.json")) as f:
            run.manifest = json.load(f)
        marks["gen"] = time.perf_counter() - T_START
        setup_s = import_s + run.setup()
        marks["setup"] = time.perf_counter() - T_START
        try:
            run.window()
            marks["window"] = time.perf_counter() - T_START
            if run.tracer:
                run.isolated_layers()
            run.reads()
            marks["reads"] = time.perf_counter() - T_START
            jvm_pid = run.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
            rss_split = {"python": vm_hwm_mb(), "jvm": vm_hwm_mb(jvm_pid)}
            rss_mb = sum(rss_split.values())
            run.verify()
            marks["verify"] = time.perf_counter() - T_START
            if run.tracer:
                n_rows = int(run.table.read().count())
                metrics = run.per_layer(n_rows)
                os.makedirs(spans_dir, exist_ok=True)
                run.tracer.dump(os.path.join(spans_dir, f"{run.w.name}-seed{args.seed}.json"))
            else:
                metrics = run.end_to_end(setup_s, rss_mb)
        finally:
            run.stop()
            marks["stop"] = time.perf_counter() - T_START
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    probe.append(host_probe_ms())
    diag = {
        "workload": run.w.name, "seed": args.seed, "rounds": run.rounds,
        "probe_ms": probe, "rss_mb": rss_split, "checks": run.checks,
        "reused_batch_ids": run.reused_ids,
        "read_s": [round(o["s"], 4) for o in run.ops if o["kind"] == "table.read"],
        "setup": {"import_s": import_s, "session_s": run.session_s,
                  "base_load_s": run.load_s, "warmup_s": run.warmup_s},
        "window_s": run.window_s, "marks": marks, "total_s": time.perf_counter() - T_START,
    }
    print("replaybench-diag " + json.dumps(diag))
    print(json.dumps({
        "correct": run.correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
