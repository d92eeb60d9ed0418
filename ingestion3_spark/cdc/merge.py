"""Key-partitioned MERGE INTO the LakeTable (bucket-pruned, narrow-shuffle).

Distributed replacement for the reference's collect-and-broadcast merge
(``utils/NaraMergeUtil.scala:54-320``): where the reference collects delta
ids to the driver and filters base with a closure UDF (correct only because
delta << base), this merge is joins against the NARROW winner-key set
produced by ``dedup.winner_keys_packed`` —

  classify: winners LEFT JOIN base-keys    -> insert/update/delete/invalid_delete
  apply:    base ANTI JOIN winner-keys ∪ late-materialized upserts

The wide token payload never enters the winner aggregate: ``changes`` is
built by the caller as a (broadcast) join of the winner keys back to the
columnar source scan, partitioned by the table's bucket column. Only buckets containing delta keys are read and
rewritten (manifest-level file pruning), so merge cost scales with |delta| +
|touched buckets|, not |base|. Classification and the data write are
INDEPENDENT Spark jobs and run concurrently (FAIR scheduler) — per-batch
wall time is max(classify, write), not their sum. Lineage counts per
event-feed partition and the new checkpoint are committed atomically with
the data (MergeLogs analog, ``NaraMergeUtil.scala:12-39,242-307``).
"""

from __future__ import annotations

from concurrent import futures
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ingestion3_spark.lakehouse.adapter import TableAdapter
from ingestion3_spark.lakehouse.table import LakeTable, Snapshot
from ingestion3_spark.session import local_frame

ACTIONS = ("inserts", "updates", "deletes", "invalid_deletes")
LINEAGE_COLS = ["batch_id", "part", *ACTIONS, "dedup_dropped", "errors"]


def _totals(lineage) -> dict:
    """Per-action totals over lineage rows."""
    return {a: sum(r[a] for r in lineage) for a in ACTIONS}


@dataclass
class MergeResult:
    snapshot: Snapshot
    lineage: list[dict]
    rows_before: int
    rows_after: int

    @property
    def counts(self) -> dict:
        return _totals(self.lineage)


def merge_batch(
    table: TableAdapter,
    changes: DataFrame,
    winners: DataFrame,
    batch_id: int,
    checkpoint: dict[int, int],
    touched: set[int],
    broadcast_winners: bool,
    errors: futures.Future,
    clean_count: int,
    n_winners: int,
) -> MergeResult:
    """Apply deduped per-key changes to the table in one transaction.

    ``changes``: one (wide) row per doc_id with columns ``(doc_id, op,
    <payload...>, seq, part)`` — already deduped by the caller and
    hash-partitioned on the table's bucket column, which the writes reuse.
    ``winners``: the PERSISTED narrow winner keys ``(doc_id, seq, part, op,
    __bucket)`` — reused for classification, the base anti-join, and bucket
    pruning without recomputing anything wide. ``broadcast_winners``: False
    when the winner set is too big to broadcast, which takes the COW
    shuffle-join fallback.

    The batch's counts are taken as given, not recounted: ``errors`` is the
    in-flight error-routing job, resolving to ``{part: distinct (part, seq)
    errors}``, whose counts land in the same atomic commit; it is awaited
    only after the write jobs are submitted, so error routing overlaps the
    merge write. ``clean_count`` (clean deliveries) and ``n_winners`` come
    from the caller's winner aggregate: classification must cover exactly
    ``n_winners`` keys, and ``clean_count - n_winners`` is the batch's
    ``dedup_dropped``. Op classification recomputes insert-vs-update
    against actual base state (an 'insert' of an existing key is an update
    and vice versa, mirroring upsert semantics,
    ``NaraMergeUtil.scala:246-264``).
    """
    key = table.key_column
    data_cols = table.column_names()
    mor = table.merge_mode == "mor"

    def classify_job() -> list:
        # narrow columns only: winner keys vs live base keys (token arrays
        # never decoded — live_keys prunes to the key column)
        base_keys = table.live_keys(buckets=touched).withColumn(
            "_matched", F.lit(True)
        )
        return (
            winners.select(key, "part", "op")
            .join(base_keys, key, "left")
            .withColumn(
                "action",
                F.when((F.col("op") == "delete") & F.col("_matched").isNotNull(), "deletes")
                .when(F.col("op") == "delete", "invalid_deletes")
                .when(F.col("_matched").isNotNull(), "updates")
                .otherwise("inserts"),
            )
            .groupBy("part")
            .agg(*(F.sum(F.when(F.col("action") == a, 1).otherwise(0)).alias(a)
                   for a in ACTIONS))
            .collect()
        )

    rows_before_total = -1 if mor else sum(e.rows for e in table.live_files())

    def write_job():
        if not touched:
            return []
        if mor:
            # merge-on-read: append the deduped changes (upserts + delete
            # tombstones) as delta files — O(delta) write, no base rewrite.
            # ``changes`` arrives partitioned by ``__bucket`` (replay.py's
            # dedup exchange), so the fanout write (key_partitioned=True)
            # sees a few bucket values per task and pays no exchange of
            # its own.
            return table.write_delta_files(
                changes.select(*data_cols, "op", "seq", "part"),
                key_partitioned=True,
            )
        # copy-on-write: base rows not touched by delta ∪ upsert payloads.
        upserts = changes.filter(F.col("op") != "delete").select(*data_cols)
        base = table.read(buckets=touched)
        if broadcast_winners:
            # SPLIT write (round-3 scale design): base survivors take a
            # map-side broadcast anti-join and a fanout write with NO
            # exchange at all. Base-scan tasks are bucket-aligned (each
            # parquet file belongs to exactly one bucket dir), so the
            # dynamic-partition writer sees ~1 partition value per task and
            # the fanout sort penalty (the reason the r2 whole-union fanout
            # lost) vanishes. The upserts — O(delta) wide rows — arrive
            # already bucket-partitioned by replay.py's dedup exchange, so
            # their fanout write pays no second exchange either. At
            # 10^10-row scale this is the difference between shuffling the
            # TABLE and shuffling the DELTA per merge.
            with futures.ThreadPoolExecutor(max_workers=2) as wpool:
                f_base = wpool.submit(
                    lambda: table.write_files(
                        base.select(*data_cols).join(
                            F.broadcast(winners.select(key)), key, "left_anti"
                        ),
                        key_partitioned=True,
                    )
                )
                f_ups = wpool.submit(
                    lambda: table.write_files(upserts, key_partitioned=True)
                )
                return f_base.result() + f_ups.result()
        # winner sets too big to broadcast: broadcasting a multi-million-
        # entry STRING key set builds a large hash map single-threaded on
        # the driver (measured 2-4x slower than a shuffled hash join of the
        # base against the narrow persisted winners), so anti-join by
        # shuffle and write the union through one co-locating exchange.
        # Fanout (key_partitioned=True) measured SLOWER for the union
        # despite saving an exchange — a union task holds MANY buckets, so
        # Spark's dynamic-partition write locally sorts every task's rows
        # (maxConcurrentOutputFileWriters=0 default) and ~900 small files
        # add writer overhead; the single repartition("__bucket") exchange
        # is cheaper there (+9s vs +3s at 32 cores).
        new_data = (
            base.select(*data_cols)
            .join(winners.select(key).hint("shuffle_hash"), key, "left_anti")
            .unionByName(upserts)
        )
        return table.write_files(new_data)

    # classification and the data write are independent — run them as
    # concurrent Spark jobs; commit happens only after both and the error
    # job have landed.
    with futures.ThreadPoolExecutor(max_workers=2) as pool:
        f_classify = pool.submit(classify_job)
        f_write = pool.submit(write_job)
        agg = f_classify.result()
        new_files = f_write.result()

    lineage: dict[int, dict] = {}

    def row(part: int) -> dict:
        return lineage.setdefault(part, {"batch_id": batch_id, "part": part,
                                         **dict.fromkeys(LINEAGE_COLS[2:], 0)})

    for r in agg:
        row(-1 if r["part"] is None else int(r["part"])).update(
            {a: int(r[a]) for a in ACTIONS})
    counts = _totals(lineage.values())
    post = sum(counts.values())
    if post != n_winners:
        raise AssertionError(
            f"classification covered {post} winners, expected {n_winners}"
        )
    for part, n in errors.result().items():
        row(part)["errors"] += n
    if clean_count - post:
        # dedup_dropped = clean deliveries minus surviving changes —
        # derived from already-collected counts, no extra Spark job
        row(-1)["dedup_dropped"] += clean_count - post

    touched_files = (
        [] if mor else [e for e in table.live_files() if e.bucket in touched]
    )
    snap = table.commit(
        operation="merge-delta" if mor else "merge",
        add_files=new_files,
        remove_paths={e.path for e in touched_files},
        checkpoint=checkpoint,
        batch_id=batch_id,
        lineage=list(lineage.values()),
        summary=counts,
    )
    if mor:
        # physical file rows include superseded versions + tombstones, so
        # the COW count invariant does not apply; the oracle-equality tests
        # and compaction (which re-establishes exact file counts) are the
        # MOR correctness gates
        rows_after_total = -1
    else:
        rows_after_total = sum(e.rows for e in table.live_files())
        # count reconciliation invariant (NaraMergeUtil.scala:188,284)
        expected = rows_before_total + counts["inserts"] - counts["deletes"]
        if rows_after_total != expected:
            raise AssertionError(
                f"merge reconciliation failed: before={rows_before_total} "
                f"+ins={counts['inserts']} -del={counts['deletes']} "
                f"expected={expected} got={rows_after_total}"
            )
    return MergeResult(snap, list(lineage.values()), rows_before_total, rows_after_total)


def lineage_df(table: LakeTable, spark=None) -> DataFrame:
    """All committed lineage rows as a DataFrame (ops-log analog,
    ``NaraMergeUtil.scala:310-314``)."""
    spark = spark or table.spark
    rows = []
    for s in table.snapshots():
        rows.extend(s.lineage)
    schema = ("batch_id long, part int, inserts long, updates long, deletes long, "
              "invalid_deletes long, dedup_dropped long, errors long")
    return local_frame(spark, [[r[c] for c in LINEAGE_COLS] for r in rows], schema)
