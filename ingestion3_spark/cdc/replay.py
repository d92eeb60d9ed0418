"""Replay engine: checkpointed, batched, exactly-once CDC replay.

The pipeline per batch (SURVEY.md §7.1.3):

  read events (seq > checkpoint)          -- resumable tail
   -> validate/normalize (vectorized)     -- messages column, n_tok recompute
   -> route errors to error table         -- bad event never kills the batch
   -> last-(seq,part)-wins dedup per doc  -- exactly-once core
   -> MERGE INTO LakeTable                -- bucket-pruned copy-on-write
   -> commit {data + checkpoint + lineage} atomically

Crash/resume: a batch whose commit did not land is invisible; re-running it
reads the same checkpoint and produces the same state (idempotent). A batch
whose commit landed is skipped entirely by the seq > checkpoint filter.
This replaces the reference's ad-hoc resumability (directory-timestamp
snapshots + full-output overwrite, ``dataStorage/InputHelper.scala:29-69``,
``utils/NaraMergeUtil.scala:173-236``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestion3_spark.cdc import dedup as dd
from ingestion3_spark.cdc import validate as val
from ingestion3_spark.cdc.merge import MergeResult, merge_batch
from ingestion3_spark.lakehouse.adapter import TableAdapter
from ingestion3_spark.lakehouse.table import BROADCAST_WINNERS_MAX, Field, LakeTable
from ingestion3_spark.session import local_frame

CORPUS_FIELDS = [
    Field(1, "doc_id", "string"),
    Field(2, "tokens", "array<int>"),
    Field(3, "n_tok", "int"),
    Field(4, "source", "string"),
]

# Error-sink columns as written (``batch_id`` is the partition column), so
# reads of the sink pass a schema and start no inference job.
_ERR_COLS = (
    ("part", "int"), ("seq", "bigint"), ("doc_id", "string"), ("op", "string"),
    ("messages", val.MESSAGE_SCHEMA),
)
_ERR_SCHEMA = ", ".join(f"{c} {t}" for c, t in _ERR_COLS)


@dataclass
class BatchStats:
    """A batch's new deliveries, distinct erroring ``(part, seq)`` and
    winners; ``merge`` is None when nothing new came, and nothing commits."""

    batch_id: int
    events_in: int
    errors: int
    changes: int
    merge: MergeResult | None

    def as_dict(self) -> dict:
        d = {
            "batch_id": self.batch_id,
            "events_in": self.events_in,
            "errors": self.errors,
            "changes": self.changes,
        }
        if self.merge:
            d.update(self.merge.counts)
        return d


@dataclass
class ReplayEngine:
    spark: SparkSession
    # the adapter seam (lakehouse/adapter.py): everything the engine calls
    # on the table, with the real-Iceberg binding documented per call;
    # LakeTable is the sandbox implementation
    table: TableAdapter
    # the error report's root (a deployment path, outside the table, where
    # maintenance never reaches); every batch routes its errors here
    error_dir: str

    @staticmethod
    def create_table(
        spark: SparkSession, path: str, num_buckets: int = 16, merge_mode: str = "cow"
    ) -> LakeTable:
        return LakeTable.create(
            spark, path, CORPUS_FIELDS, num_buckets=num_buckets, merge_mode=merge_mode
        )

    # ------------------------------------------------------------- one batch
    def apply_batch(self, events: DataFrame, batch_id: int) -> BatchStats:
        """Single-batch application, structured for scaling (round-2 design).

        Job budget and shape (the scale discipline — every Spark action is
        a full job, and every serial job is Amdahl time 4x cores cannot
        divide):

        * phase 1 (CONCURRENT jobs): winner selection — shuffle only
          ``(doc_id, seq, part, op)`` packed into one BIGINT over the clean
          rows, persist the ~|keys| winner set, return per-bucket counts —
          overlapped with error routing (wide scan -> tiny
          batch-partitioned write + pruned count-back) and the
          column-pruned per-part offsets aggregation. The batch totals
          come from aggregates these jobs run anyway: ``events_in`` is the
          sum of the offsets job's per-part counts, the clean count the
          sum of the winner aggregate's per-key counts, and the errors
          are the difference.
        * phase 2 (two CONCURRENT jobs): the narrow classify agg and the
          data write. The write late-materializes the wide payload:
          source scan ⋈ broadcast(winner keys) — the wide token arrays
          flow map-side from parquet into the single bucketed write
          shuffle and are never spilled or shuffled for dedup.
        * phase 3: one atomic commit (data + checkpoint + lineage),
          folding in the error-routing counts via its future.

        Feed order: a batch whose least new ``(seq, part)`` lies below the
        checkpoint's greatest raises ``ValueError`` and commits nothing —
        COW would apply it over the later row, MOR would or would not
        depending on whether a compaction dropped the base's ``(seq, part)``.

        Wide-payload bytes shuffled per batch: |winners| rows, not |events|
        (round-1's wide dedup shuffle + DISK_ONLY spill was the scaling
        bottleneck — memory-bandwidth-bound, flat past ~8 cores). Concurrent
        winner selection beat routing errors first (16.07 s vs 16.45 s) and
        optimistic winners over unvalidated rows (18.54 s) in the round-4
        interleaved A/B (BENCH.md "Round-4 saturation check").

        ``BatchStats.errors`` is the committed lineage's error total,
        distinct ``(part, seq)`` as ``errors_df`` counts them.
        """
        from concurrent import futures

        from pyspark.storagelevel import StorageLevel

        self.check_compat(events)
        ckpt = self.table.checkpoint()
        pending = dd.drop_applied(events, ckpt)
        key = self.table.key_column
        # payload columns come from the TABLE's current schema (schema
        # evolution: added/renamed columns flow once the metadata
        # transaction has been applied)
        payload = [c for c in self.table.column_names() if c != key]
        # Routing runs on the CHEAP error predicate (no per-row message
        # structs on the 10^7-row scans); full messages are built only for
        # the errored subset inside _route_errors — property-tested equal
        # to has_error(validate_events(df)).
        clean = pending.filter(~val.error_predicate())
        winners = None
        try:
            with futures.ThreadPoolExecutor(max_workers=2) as pool:
                # offsets job: Catalyst prunes this scan to the (part, seq)
                # parquet column chunks — token arrays are never decoded
                # for checkpoint bookkeeping
                f_offsets = pool.submit(
                    lambda: pending.groupBy("part")
                    .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"),
                         F.count(F.lit(1)).alias("n"))
                    .collect()
                )
                # winners over the clean rows (the wide scan re-evaluates
                # the error predicate); the error-routing job runs in a
                # parallel thread and its per-part counts join the atomic
                # commit via the future
                f_err = pool.submit(self._route_errors, pending, batch_id)
                winners = (
                    dd.winner_keys_packed(clean.select(key, "seq", "part", "op"), key=key)
                    .withColumn("__bucket", self.table.bucket_expr())
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                bucket_rows = (
                    winners.groupBy("__bucket")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("_n").alias("n_clean"))
                    .collect()
                )
                offset_rows = f_offsets.result()
                if not offset_rows:
                    # fully-redelivered/empty batch: nothing to commit
                    return BatchStats(batch_id, 0, 0, 0, None)
                least = min((int(r["lo"]), int(r["part"])) for r in offset_rows)
                if ckpt and least < max((s, p) for p, s in ckpt.items()):
                    raise ValueError(f"batch {batch_id} orders before the applied "
                                     f"checkpoint {ckpt}: least (seq, part) {least}")
                touched = {int(r["__bucket"]) for r in bucket_rows}
                n_winners = sum(int(r["n"]) for r in bucket_rows)
                events_in = sum(int(r["n"]) for r in offset_rows)
                n_clean = sum(int(r["n_clean"]) for r in bucket_rows)
                new_ckpt = dict(ckpt)
                for r in offset_rows:
                    p = int(r["part"])
                    new_ckpt[p] = max(int(r["hi"]), new_ckpt.get(p, -1))

                # late materialization: recover the winners' wide payload by
                # broadcast-joining the winners' packed (seq, part, op) —
                # ``dd.packed_order``, guard included — back to the scan.
                # The feed's (part, seq)-uniqueness contract (exact byte-
                # identical redeliveries only) makes this single-long
                # equi-join exact: rows matching a winner's packed value
                # are that winner's delivery or its redeliveries, nothing
                # else. One 8-byte column per broadcast map entry (the
                # driver-side build of a multi-million-entry map is SERIAL
                # time), and the probe side is a LongHashedRelation — no
                # per-row xxhash64, no post-filter. Surviving rows per key
                # are byte-identical duplicates, so a plain dropDuplicates
                # — a |winners|-row First aggregation — finishes the dedup
                # deterministically (measured 2.3x cheaper than a wide
                # max_by, which runs in ObjectHashAggregate). Beyond
                # BROADCAST_WINNERS_MAX: shuffle join on the narrow keys
                # (at 10^10-event scale, pair with a bucketed base layout).
                bcast = n_winners <= BROADCAST_WINNERS_MAX
                # payload normalization (n_tok recompute, delete-nulling)
                # WITHOUT message construction: every row surviving the
                # exact winner join is clean by construction (winners are
                # selected from clean rows and (part, seq) is unique), so
                # the messages array would be dead weight on this scan
                rows = val.normalize_payload(clean, tuple(payload)).select(
                    key, "op", *payload, "seq", "part"
                )
                if bcast:
                    # the packed-long match is exact ONLY under the feed's
                    # (part, seq)-uniqueness contract; a violating feed
                    # would attach a foreign key's payload to the winner.
                    # I3S_DEBUG=1 re-verifies the key per joined row (one
                    # extra broadcast string column + an assert_true) —
                    # off on the hot path, on in tests/test_poison_and_errors.py.
                    debug = os.environ.get("I3S_DEBUG", "0") == "1"
                    wk = F.broadcast(winners.select(
                        "_pk", *([F.col(key).alias("_wkey")] if debug else [])
                    ))
                    delta = rows.withColumn("_pk", dd.packed_order()).join(wk, "_pk").drop("_pk")
                    if debug:
                        # folded into a KEPT column (same trick as
                        # packed_order's domain guard) — a dropped assert
                        # column would be pruned unevaluated by Catalyst
                        delta = delta.withColumn(
                            "seq",
                            F.col("seq") + F.coalesce(
                                F.assert_true(
                                    F.col(key) == F.col("_wkey"),
                                    F.lit("packed (seq,part) collision: "
                                          "joined payload key != winner key "
                                          "— feed violates (part, seq) "
                                          "uniqueness"),
                                ).cast("long"),
                                F.lit(0),
                            ),
                        ).drop("_wkey")
                else:
                    delta = rows.join(winners.select(key, "seq", "part"), [key, "seq", "part"])
                # one exchange: repartition by the WRITE's own bucket column
                # first, then dedup on (bucket, key) — hashpartitioning
                # ([__bucket]) is a subset of the dedup's clustering keys,
                # so Catalyst inserts NO second exchange, and the bucketed
                # write takes the fanout path (~2 bucket values per task)
                # instead of its own full exchange of the wide payload. The
                # (bucket, key) groups equal the key groups because
                # bucket = f(key).
                changes = (
                    delta.withColumn("__bucket", self.table.bucket_expr())
                    .repartition(F.col("__bucket"))
                    .dropDuplicates(["__bucket", key])
                    .drop("__bucket")
                )

                result = merge_batch(
                    self.table,
                    changes,
                    winners,
                    batch_id=batch_id,
                    checkpoint=new_ckpt,
                    touched=touched,
                    broadcast_winners=bcast,
                    errors=f_err,
                    clean_count=n_clean,
                    n_winners=n_winners,
                )
            errors = sum(r["errors"] for r in result.lineage)
            return BatchStats(batch_id, events_in, errors, n_winners, result)
        finally:
            if winners is not None:
                winners.unpersist()

    def _route_errors(self, pending: DataFrame, batch_id: int) -> dict[int, int]:
        """Error-table write (MessageCollector report analog) + per-part
        counts for lineage, ``{part: n}``. At-least-once — counts and
        ``errors_df`` dedup by (part, seq). The write is
        partitioned by ``batch_id`` so the count-back read prunes to THIS
        batch's files (O(batch errors), not O(all errors ever written)).
        An observation on the write's own input tells whether this attempt
        routed any error; only then is the partition read back."""
        from pyspark.sql import Observation

        errp = val.error_predicate()
        obs = Observation()
        err_path = self._err_path()
        (
            val.validate_events(
                pending.observe(obs, F.sum(errp.cast("long")).alias("n_err")).filter(errp)
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                *(F.col(c).cast(t).alias(c) for c, t in _ERR_COLS),
            )
            .write.mode("append")
            .partitionBy("batch_id")
            .parquet(err_path)
        )
        if int(obs.get["n_err"] or 0) == 0:
            return {}
        # this batch's partition only: listing the sink root would be
        # O(batches) per batch
        rows = (
            self.spark.read.schema(_ERR_SCHEMA)
            .parquet(os.path.join(err_path, f"batch_id={batch_id}"))
            .dropDuplicates(["part", "seq"])
            .groupBy("part").agg(F.count("*").alias("n"))
            .collect()
        )
        return {int(r["part"]): int(r["n"]) for r in rows}

    # ------------------------------------------------------------ full replay
    def replay(
        self,
        events: DataFrame,
        num_batches: int = 1,
        batch_id_start: int | None = None,
        minor_every: int = 0,
        compact_every: int = 0,
        expire_every: int = 0,
        keep_last: int = 4,
    ) -> list[BatchStats]:
        """Split the feed into seq-range micro-batches and apply in order.

        Deterministic boundaries: equal seq ranges over [min, max]. With
        ``num_batches=1`` this is one atomic replay (and the boundary scan
        is skipped entirely); larger values exercise multi-batch
        checkpoint/resume.

        ``minor_every``/``compact_every`` run table maintenance on a
        batch cadence inside the replay loop — at 10^10 events a replay
        IS thousands of micro-batches, and without folds the MOR
        reconcile read degrades linearly in accumulated delta layers
        (measured: BENCH.md "Sustained multi-batch replay"; folding every
        4 batches inside a 16-batch major window was 1.66x end-to-end).
        A major compact wins any batch where both cadences land. Each
        maintenance commit carries the checkpoint forward, so a crash
        between a batch and its fold resumes exactly-once as usual.
        """
        if num_batches <= 1:
            bid = batch_id_start if batch_id_start is not None else self._next_batch_id()
            return [self.apply_batch(events, batch_id=bid)]
        lo_hi = events.agg(F.min("seq").alias("lo"), F.max("seq").alias("hi")).collect()[0]
        if lo_hi["lo"] is None:
            return []
        lo, hi = int(lo_hi["lo"]), int(lo_hi["hi"])
        span = hi - lo + 1
        step = max(1, span // num_batches + (1 if span % num_batches else 0))
        out = []
        bid = batch_id_start if batch_id_start is not None else self._next_batch_id()
        for b in range(num_batches):
            b_lo, b_hi = lo + b * step, min(lo + (b + 1) * step - 1, hi)
            if b_lo > hi:
                break
            chunk = events.filter((F.col("seq") >= b_lo) & (F.col("seq") <= b_hi))
            out.append(self.apply_batch(chunk, batch_id=bid))
            bid += 1
            if compact_every and (b + 1) % compact_every == 0:
                self.table.compact(min_files=2)
            elif minor_every and (b + 1) % minor_every == 0:
                self.table.compact_deltas()
            if expire_every and (b + 1) % expire_every == 0:
                # retention cadence: the driver-side metadata walk is
                # O(retained snapshots) per commit (every publish rewrites
                # the whole meta JSON, so unbounded retention is O(batches²)
                # total bytes over a 10^10-scale replay). Expiring on a
                # cadence bounds it at O(keep_last); exactly-once is
                # unaffected — the checkpoint lives in the CURRENT snapshot
                # (Iceberg binding: CALL system.expire_snapshots).
                self.table.expire_snapshots(keep_last=max(keep_last, 1))
        return out

    def check_compat(self, events: DataFrame) -> None:
        """Hard schema-compatibility gate before any merge.

        The reference only WARNS on structural mismatch
        (``harvesters/Harvester.scala`` validateSchema); replaying an
        incompatible feed into a lake table must fail fast instead. Every
        table payload column must be present in the feed (after any applied
        rename/add metadata transaction) with a compatible type.
        """
        have = dict(events.dtypes)
        missing = [c for c in self.table.column_names() if c not in have and c != self.table.key_column]
        if self.table.key_column not in have:
            raise ValueError(f"feed lacks key column {self.table.key_column!r}")
        if missing:
            raise ValueError(
                f"feed is missing table columns {missing} — apply the schema "
                f"evolution (add/rename) on the table before replaying, or fix the feed"
            )

    def _next_batch_id(self) -> int:
        # every commit carries the highest batch id so far forward (as it
        # does the checkpoint), so expiry cannot make an id come round again
        snaps = self.table.snapshots()
        last = snaps[-1].last_batch_id if snaps else None
        return 0 if last is None else last + 1

    def _err_path(self) -> str:
        """Error sink directory, partitioned by ``batch_id``. Named
        ``errors_v2`` because an earlier layout wrote ``batch_id`` as a DATA
        column into ``errors/``; mixing the two in one parquet root makes
        partition inference clash with the embedded column."""
        return os.path.join(self.error_dir, "errors_v2")

    def errors_df(self) -> DataFrame:
        """Error-table reader.

        The error sink is an append-only parquet written BEFORE the merge
        commit, so a crash between error-write and commit leaves duplicate
        rows on retry (at-least-once diagnostics — observed under SIGKILL).
        Reads therefore dedup on the unique delivery key (part, seq).
        """
        schema = "batch_id bigint, " + _ERR_SCHEMA
        if not os.path.exists(self._err_path()):
            return local_frame(self.spark, [], schema)
        return (
            self.spark.read.schema(schema).parquet(self._err_path())
            .select("batch_id", *(c for c, _ in _ERR_COLS))
            .dropDuplicates(["part", "seq"])
        )
