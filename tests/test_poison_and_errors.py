"""Regression tests for pathological batches and error-sink layout.

Covers the round-3 hardening (ADVICE r2):
- a poison batch (every event fails validation) must commit its checkpoint
  and route all events to the error table without touching the winner
  observation (AQE empty-relation / CollectMetrics crash);
- a doc whose every event carries an unknown op must NOT be phantom-deleted
  (NULL packed winner key);
- NULL ops are error-routed, not dropped;
- ``BatchStats.errors``, the lineage and ``errors_df`` count a redelivered
  erroring event once;
- a batch that orders before the applied checkpoint raises and commits
  nothing.
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from ingestion3_spark.cdc.generator import make_corpus, make_events
from ingestion3_spark.cdc.oracle import diff_states, replay_oracle, table_state
from ingestion3_spark.cdc.replay import ReplayEngine


def _spark_df(spark, tbl: pa.Table):
    return spark.createDataFrame(tbl.to_pandas())


def _seed_table(spark, path, base: pa.Table, num_buckets=4, merge_mode="cow"):
    table = ReplayEngine.create_table(spark, path, num_buckets=num_buckets,
                                      merge_mode=merge_mode)
    files = table.write_files(_spark_df(spark, base))
    table.commit("append", add_files=files)
    return table


def _poison_feed(n=50, n_parts=2) -> pa.Table:
    """Every event errors: insert/update with null tokens."""
    return pa.table(
        {
            "seq": pa.array(range(1, n + 1), pa.int64()),
            "part": pa.array([i % n_parts for i in range(n)], pa.int32()),
            "op": pa.array(["insert" if i % 2 else "update" for i in range(n)]),
            "doc_id": pa.array([f"doc{i % 10:08d}" for i in range(n)]),
            "tokens": pa.array([None] * n, pa.list_(pa.int32())),
            "n_tok": pa.array([None] * n, pa.int32()),
            "source": pa.array(["s3"] * n),
        }
    )


def test_poison_batch_all_errors(spark, tmp_table_path, tmp_path):
    """Non-empty batch where EVERY event fails validation: the batch must
    commit (checkpoint advances so errors are not reprocessed), all events
    land in the error table, and the base state is untouched."""
    base = make_corpus(30, seed=11, max_len=16)
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.apply_batch(_spark_df(spark, _poison_feed(50)), batch_id=0)
    assert stats.events_in == 50
    assert stats.errors == 50
    assert stats.changes == 0
    assert eng.errors_df().count() == 50
    # checkpoint advanced: redelivery of the same poison feed is a no-op
    ckpt = table.checkpoint()
    assert ckpt and max(ckpt.values()) == 50
    stats2 = eng.apply_batch(_spark_df(spark, _poison_feed(50)), batch_id=1)
    assert stats2.events_in == 0 and stats2.errors == 0
    # base untouched
    assert not diff_states(
        replay_oracle(base, _poison_feed(50)),
        table_state([r.asDict() for r in table.read().collect()]),
    )


def test_unknown_op_doc_not_phantom_deleted(spark, tmp_table_path, tmp_path):
    """A doc whose only event has an unknown op packs to a NULL winner key.
    Its event is error-routed, and the doc's live base row must survive,
    NOT be unpacked into a phantom delete."""
    base = make_corpus(20, seed=14, max_len=16)
    tok = pa.array([[1, 2, 3]] * 3, pa.list_(pa.int32()))
    feed = pa.table(
        {
            "seq": pa.array([1, 2, 3], pa.int64()),
            "part": pa.array([0, 0, 0], pa.int32()),
            # doc-00000000: only a bogus-op event; doc-00000001: normal update
            "op": pa.array(["bogus", "update", "update"]),
            "doc_id": pa.array(["doc-00000000", "doc-00000001", "doc-00000002"]),
            "tokens": tok,
            "n_tok": pa.array([3, 3, 3], pa.int32()),
            "source": pa.array(["s1", "s1", "s1"]),
        }
    )
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.apply_batch(_spark_df(spark, feed), batch_id=0)
    assert stats.errors == 1
    state = table_state([r.asDict() for r in table.read().collect()])
    # the bogus-op doc keeps its base row; the two updates applied
    assert "doc-00000000" in state
    assert state["doc-00000001"] == ((1, 2, 3), 3, "s1")
    assert state["doc-00000002"] == ((1, 2, 3), 3, "s1")


def test_null_op_routes_to_errors_not_dropped(spark, tmp_table_path, tmp_path):
    """NULL op must classify as an unknown-op ERROR (round-3 advisory): the
    old three-valued error_predicate() made filter(pred) and filter(~pred)
    BOTH drop the row — it vanished silently while the checkpoint advanced
    past its seq, and clean_count overcounted. Now the predicate is
    NULL-definite: the row lands in the error table, the event/error
    counters reconcile, and the doc's base row is untouched."""
    base = make_corpus(20, seed=17, max_len=16)
    tok = pa.array([[5, 6], None, [7, 8]], pa.list_(pa.int32()))
    feed = pa.table(
        {
            "seq": pa.array([1, 2, 3], pa.int64()),
            "part": pa.array([0, 0, 0], pa.int32()),
            # doc 0: NULL op WITH payload; doc 1: NULL op, no payload;
            # doc 2: normal update
            "op": pa.array([None, None, "update"], pa.string()),
            "doc_id": pa.array(["doc-00000000", "doc-00000001", "doc-00000002"]),
            "tokens": tok,
            "n_tok": pa.array([2, None, 2], pa.int32()),
            "source": pa.array(["s1", None, "s1"]),
        }
    )
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.apply_batch(_spark_df(spark, feed), batch_id=0)
    assert stats.events_in == 3
    assert stats.errors == 2, "NULL-op rows must be error-routed, not dropped"
    err = eng.errors_df()
    assert err.count() == 2
    state = table_state([r.asDict() for r in table.read().collect()])
    assert "doc-00000000" in state  # base row survives the NULL-op event
    assert "doc-00000001" in state
    assert state["doc-00000002"] == ((7, 8), 2, "s1")


def test_redelivered_error_counts_once(spark, tmp_table_path, tmp_path):
    """An erroring insert delivered twice in one batch (same part and seq)
    is one error: BatchStats, the committed lineage and the error table
    all count distinct (part, seq)."""
    from ingestion3_spark.cdc.merge import lineage_df

    base = make_corpus(20, seed=19, max_len=16)
    feed = pa.table(
        {
            "seq": pa.array([1, 2, 2, 3], pa.int64()),
            "part": pa.array([0, 0, 0, 0], pa.int32()),
            # seq 2 is an insert with no tokens, delivered twice
            "op": pa.array(["update", "insert", "insert", "update"]),
            "doc_id": pa.array(
                ["doc-00000001", "doc-new", "doc-new", "doc-00000002"]),
            "tokens": pa.array([[1], None, None, [2]], pa.list_(pa.int32())),
            "n_tok": pa.array([1, None, None, 1], pa.int32()),
            "source": pa.array(["s1", "s1", "s1", "s1"]),
        }
    )
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.apply_batch(_spark_df(spark, feed), batch_id=0)
    assert stats.events_in == 4 and stats.changes == 2
    lineage_errors = lineage_df(table).agg({"errors": "sum"}).collect()[0][0]
    assert stats.errors == eng.errors_df().count() == lineage_errors == 1
    assert not diff_states(
        replay_oracle(base, feed),
        table_state([r.asDict() for r in table.read().collect()]),
    )


def test_replay_with_debug_key_verification(
    spark, tmp_table_path, tmp_path, monkeypatch
):
    """I3S_DEBUG=1 re-verifies, per late-materialized row, that the payload
    joined via the packed (seq, part) long belongs to the winner's key —
    the defensive check the packed-key fast path dropped (round-3 advisory).
    A contract-abiding feed must replay to the exact oracle state with the
    assertion enabled."""
    monkeypatch.setenv("I3S_DEBUG", "1")
    base = make_corpus(100, seed=23, max_len=32)
    events = make_events(800, n_base_docs=100, seed=23, n_parts=4, max_len=32)
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    expected = replay_oracle(base, events)
    actual = table_state([r.asDict() for r in table.read().collect()])
    assert not diff_states(expected, actual)


def test_error_count_back_reads_only_its_batch(spark, tmp_table_path, tmp_path, monkeypatch):
    """Each batch's error count-back reads its own ``batch_id=<id>``
    partition of the sink, never the sink root: listing every partition
    ever written would cost O(batches) per batch."""
    import os

    from pyspark.sql import DataFrameReader

    read_paths = []
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        read_paths.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    base = make_corpus(20, seed=19, max_len=16)
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    root = eng._err_path()
    for bid in (0, 1):
        feed = pa.table(
            {
                "seq": pa.array([2 * bid + 1, 2 * bid + 2], pa.int64()),
                "part": pa.array([0, 0], pa.int32()),
                # the insert with no tokens errors
                "op": pa.array(["update", "insert"]),
                "doc_id": pa.array(["doc-00000001", f"doc-new-{bid}"]),
                "tokens": pa.array([[bid], None], pa.list_(pa.int32())),
                "n_tok": pa.array([1, None], pa.int32()),
                "source": pa.array(["s1", "s1"]),
            }
        )
        assert eng.apply_batch(_spark_df(spark, feed), batch_id=bid).errors == 1
    assert [p for p in read_paths if p.startswith(root)] == [
        os.path.join(root, "batch_id=0"), os.path.join(root, "batch_id=1")]
    assert eng.errors_df().count() == 2


_EVENT_SCHEMA = ("seq long, part int, op string, doc_id string, tokens array<int>, "
                 "n_tok int, source string")


def _rows_df(spark, rows):
    return spark.createDataFrame(rows, _EVENT_SCHEMA)


def _feed_counts(rows) -> dict:
    """Batch totals computed from the feed rows alone: every row is new."""
    bad = [r for r in rows if r[2] not in ("insert", "update", "delete")
           or (r[2] != "delete" and r[4] is None)]
    clean = [r for r in rows if r not in bad]
    winners = {r[3] for r in clean}
    return {
        "events_in": len(rows),
        # routed errors count once per (part, seq)
        "errors": len({(r[1], r[0]) for r in bad}),
        "changes": len(winners),
        "dedup_dropped": len(clean) - len(winners),
    }


def test_batch_accounting_from_the_feed(spark, tmp_table_path, tmp_path):
    """events_in, errors, changes and the lineage's dedup_dropped equal
    counts made from the feed, on an empty, a mixed, a fully redelivered
    and a poison batch. The mixed batch holds an erroring row delivered
    twice, a clean row delivered twice and a key updated twice."""
    from ingestion3_spark.cdc.merge import lineage_df

    base = make_corpus(20, seed=29, max_len=16)
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    mixed = [
        (1, 0, "update", "doc-00000001", [1], 1, "s1"),
        (2, 0, "insert", "doc-new", None, None, "s1"),  # errors, twice
        (2, 0, "insert", "doc-new", None, None, "s1"),
        (3, 1, "update", "doc-00000002", [2], 1, "s1"),  # clean, twice
        (3, 1, "update", "doc-00000002", [2], 1, "s1"),
        (4, 1, "update", "doc-00000001", [3], 1, "s1"),  # doc 1 again
        (5, 0, "delete", "doc-00000004", None, None, None),
        (6, 1, "bogus", "doc-00000005", [4], 1, "s1"),
    ]
    poison = [(7 + i, i % 2, "insert", f"doc-p{i}", None, None, "s1") for i in range(5)]
    zero = {"events_in": 0, "errors": 0, "changes": 0, "dedup_dropped": 0}
    batches = [([], zero), (mixed, _feed_counts(mixed)),
               (mixed, zero), (poison, _feed_counts(poison))]
    dropped = 0
    for bid, (rows, want) in enumerate(batches):
        n_snaps = len(table.snapshots())
        stats = eng.apply_batch(_rows_df(spark, rows), batch_id=bid)
        got_dropped = sum(r["dedup_dropped"] for r in stats.merge.lineage) if stats.merge else 0
        got = {"events_in": stats.events_in, "errors": stats.errors,
               "changes": stats.changes, "dedup_dropped": got_dropped}
        assert got == want, (bid, got, want)
        # a batch with nothing new commits nothing
        assert len(table.snapshots()) == n_snaps + (1 if want["events_in"] else 0)
        dropped += want["dedup_dropped"]
    assert dropped == 2  # the clean redelivery and doc 1's earlier update
    assert lineage_df(table).agg({"dedup_dropped": "sum"}).collect()[0][0] == dropped
    assert table.checkpoint() == {0: 11, 1: 10}
    feed = pa.table({
        "seq": pa.array([r[0] for r in mixed + poison], pa.int64()),
        "part": pa.array([r[1] for r in mixed + poison], pa.int32()),
        "op": [r[2] for r in mixed + poison],
        "doc_id": [r[3] for r in mixed + poison],
        "tokens": pa.array([r[4] for r in mixed + poison], pa.list_(pa.int32())),
        "source": [r[6] for r in mixed + poison],
    })
    assert not diff_states(
        replay_oracle(base, feed),
        table_state([r.asDict() for r in table.read().collect()]),
    )


def _table_record(table):
    return (table.checkpoint(), len(table.snapshots()),
            sorted(e.path for e in table.live_files()))


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_packed_domain_guard_raises_and_commits_nothing(spark, tmp_path, merge_mode):
    """(seq, part) packs into one long only while 0 <= part < 2^16 and
    0 <= seq < 2^42: a clean row outside that domain makes apply_batch
    raise before anything is committed."""
    base = make_corpus(10, seed=31, max_len=16)
    table = _seed_table(spark, str(tmp_path / "t"), base, merge_mode=merge_mode)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.apply_batch(_rows_df(spark, [(5, 0, "update", "doc-00000001", [1], 1, "s1")]), 0)
    before = _table_record(table)
    for bad in [(6, 2 ** 16, "update", "doc-00000002", [2], 1, "s1"),
                (-1, 1, "update", "doc-00000003", [3], 1, "s1")]:
        with pytest.raises(Exception, match="packed-order domain"):
            eng.apply_batch(_rows_df(spark, [bad]), batch_id=1)
        assert _table_record(table) == before


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_batch_ordering_before_the_checkpoint_raises(spark, tmp_path, merge_mode):
    """The truth order is global (seq, part). Batch 2's (seq 50, part 1)
    update of a key orders before batch 1's (seq 100, part 0) update of it,
    although it is new on part 1. It must raise and commit nothing: COW
    would overwrite the key with it, and MOR after a major compact (base
    rows carry no (seq, part)) would too."""
    base = make_corpus(10, seed=37, max_len=16)
    table = _seed_table(spark, str(tmp_path / "t"), base, merge_mode=merge_mode)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.apply_batch(_rows_df(spark, [(100, 0, "update", "doc-00000001", [1], 1, "s1"),
                                     (1, 1, "update", "doc-00000002", [2], 1, "s1")]), 0)
    if merge_mode == "mor":
        table.compact()
        assert all(e.kind == "base" for e in table.live_files())
    before = _table_record(table)
    with pytest.raises(ValueError, match="orders before the applied checkpoint"):
        eng.apply_batch(_rows_df(spark, [(50, 1, "update", "doc-00000001", [3], 1, "s1")]), 1)
    assert _table_record(table) == before
    state = table_state([r.asDict() for r in table.read().collect()])
    assert state["doc-00000001"] == ((1,), 1, "s1")
