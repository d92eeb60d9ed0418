"""Exactly-once / last-event-wins dedup kernels.

Deterministic upgrade of the reference's ``dropDuplicates("id")`` (arbitrary
winner, ``utils/NaraMergeUtil.scala:129-135``): the winner per doc_id is the
event with the greatest ``(seq, part)`` — a total order because ``(part,
seq)`` is unique and seq is strictly increasing per part.

Scale design: one ``groupBy(key).agg(max(packed (seq, part, op)))`` over the
narrow key columns, rather than a row_number window. A window has NO
map-side combine — all events of a hot doc_id meet in one reducer (the skew
the north_rule calls out). ``max`` is a partial aggregate: each map task
pre-reduces its local events per key, so a doc_id with 10^6 updates in a
batch ships ~#map-tasks rows, not 10^6, and pre-dedup salting is
unnecessary (measured slower on a Zipf feed, BENCH.md "Skew"). Only the
narrow ``(key, seq, part, op)`` columns enter the shuffle; the replay
engine recovers the wide payload afterwards by joining the winners back to
the source scan (late materialization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ingestion3_spark.session import local_frame

# packed winner-key bit layout: [ seq:42 | part:16 | op:4 ] — max() over this
# long IS lexicographic max over (seq, part), with op riding in the low bits
# (ties only between exact duplicate deliveries, where op is identical too).
PACK_SEQ_MAX = 1 << 42   # 4.4e12 — covers the 10^10-event contract
PACK_PART_MAX = 1 << 16

_OP_CODE = {"delete": 0, "update": 1, "insert": 2}


def packed_order(seq_col: str = "seq", part_col: str = "part", op_col: str = "op"):
    """(seq, part, op) packed into one BIGINT, with a per-row domain guard
    (seq < 2^42, 0 <= part < 2^16) that raises on contract violations."""
    opc = (
        F.when(F.col(op_col) == "insert", 2)
        .when(F.col(op_col) == "update", 1)
        .when(F.col(op_col) == "delete", 0)
    )
    ok = (
        (F.col(seq_col) >= 0) & (F.col(seq_col) < F.lit(PACK_SEQ_MAX))
        & (F.col(part_col) >= 0) & (F.col(part_col) < F.lit(PACK_PART_MAX))
    )
    guard = F.coalesce(
        F.assert_true(ok, F.lit("seq/part outside packed-order domain "
                                "(seq < 2^42, part < 2^16)")).cast("long"),
        F.lit(0),
    )
    return (
        F.shiftleft(F.col(seq_col).cast("long"), 20)
        + F.shiftleft(F.col(part_col).cast("long"), 4)
        + opc
        + guard
    )


def unpack_order(pk):
    """(seq, part, op) columns back out of a packed BIGINT."""
    seq = F.shiftright(pk, 20).alias("seq")
    part = F.shiftright(pk, 4).bitwiseAND(F.lit((1 << 16) - 1)).cast("int").alias("part")
    op = (
        F.when(pk.bitwiseAND(F.lit(15)) == 2, "insert")
        .when(pk.bitwiseAND(F.lit(15)) == 1, "update")
        .otherwise("delete")
        .alias("op")
    )
    return seq, part, op


def winner_keys_packed(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Narrow winner selection as ONE primitive-long ``max()``.

    ``max_by(struct, struct)`` is a TypedImperativeAggregate and runs in
    ObjectHashAggregate with a sort-based fallback — measured 3.4x slower
    than this form and scaling ~1.5x from 8->32 cores. Packing the order
    into a single BIGINT keeps the whole aggregation inside
    whole-stage-codegen HashAggregateExec (mutable primitive buffer,
    map-side partial agg). Unknown ops pack to a NULL key (the op CASE has
    no otherwise), and a NULL surviving ``max()`` would unpack to a phantom
    delete with NULL (seq, part) — so NULL packed keys are dropped here.
    Given unvalidated rows, a doc whose every event has an unknown op then
    simply has no winner, which is correct: validation routes all of its
    events to the error table.

    Returns ``(key, seq, part, op, _pk, _n)`` — one row per key: the
    winner, its ``packed_order`` value ``_pk`` (the replay matches scan
    rows against it to recover the winner's payload) and ``_n``, the
    key's rows that took part (a ``count`` in the same codegen
    aggregate; summed over the clean rows it is the batch's clean count).
    """
    pk = packed_order().alias("_pk")
    narrow = df.select(key, pk).filter(F.col("_pk").isNotNull())
    agg = narrow.groupBy(key).agg(F.max("_pk").alias("_pk"), F.count(F.lit(1)).alias("_n"))
    return agg.select(key, *unpack_order(F.col("_pk")), "_pk", "_n")


def drop_applied(df: DataFrame, checkpoint: dict[int, int]) -> DataFrame:
    """Idempotent re-delivery guard: drop events at-or-below the committed
    per-part offset (resume semantics; OAI resumption-token analog,
    ``harvesters/oai/OaiMultiPageResponseBuilder.scala:32-120``).

    Broadcast hash join against the tiny checkpoint table — never a
    driver-side ``collect`` of event ids (the reference's scalability
    ceiling, ``NaraMergeUtil.scala:140-146``), and never a literal
    ``create_map`` lookup, whose per-row probe is linear in the number of
    parts where the hash join's is O(1).

    The build side is a driver-local ``LocalTableScan`` (``local_frame``),
    not a Python RDD: every query that reads ``pending`` builds its own
    broadcast, and a batch runs four (offsets, winners, error routing and
    the late-materialization write). Over a ``Scan ExistingRDD`` each
    build was a Spark job that started Python workers on every core and
    took seconds of executor time to read a handful of rows.
    """
    if not checkpoint:
        return df
    ckpt = local_frame(
        df.sparkSession,
        [(int(p), int(s)) for p, s in checkpoint.items()],
        "part int, _applied_seq long",
    )
    return (
        df.join(F.broadcast(ckpt), "part", "left")
        .filter(F.col("_applied_seq").isNull() | (F.col("seq") > F.col("_applied_seq")))
        .drop("_applied_seq")
    )
