"""End-to-end replay-oracle tests (SURVEY.md §5 item 2-3).

Engine final state must equal the pure-Python dict replay, including exact
int32 token-array equality per doc_id, under the adversarial feed
(duplicates, invalid deletes, out-of-order, update-after-delete, bad
n_tok, null-token errors).
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from ingestion3_spark.cdc.generator import make_corpus, make_events
from ingestion3_spark.cdc.oracle import diff_states, replay_oracle, table_state
from ingestion3_spark.cdc.replay import ReplayEngine
from ingestion3_spark.lakehouse.table import LakeTable


def _spark_df(spark, tbl: pa.Table):
    return spark.createDataFrame(tbl.to_pandas())


def _seed_table(spark, path, base: pa.Table, num_buckets=8) -> LakeTable:
    table = ReplayEngine.create_table(spark, path, num_buckets=num_buckets)
    files = table.write_files(_spark_df(spark, base))
    table.commit("append", add_files=files, summary={"rows": base.num_rows})
    return table


def _assert_state_matches(table, expected):
    actual = table_state([r.asDict() for r in table.read().collect()])
    diffs = diff_states(expected, actual)
    assert not diffs, diffs
    assert len(actual) == len(expected)


@pytest.fixture(scope="module")
def fixtures():
    base = make_corpus(400, seed=42, max_len=64)
    events = make_events(4000, n_base_docs=400, seed=42, n_parts=4, max_len=64)
    return base, events


def test_single_batch_replay_matches_oracle(spark, tmp_table_path, tmp_path, fixtures):
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.replay(_spark_df(spark, events), num_batches=1)
    assert len(stats) == 1
    expected = replay_oracle(base, events)
    _assert_state_matches(table, expected)
    # error rows were routed, not dropped silently
    assert stats[0].errors > 0
    assert eng.errors_df().count() == stats[0].errors


def test_multi_batch_replay_matches_oracle(spark, tmp_table_path, tmp_path, fixtures):
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=5)
    _assert_state_matches(table, replay_oracle(base, events))
    # checkpoint covers every part's max seq
    ckpt = table.checkpoint()
    assert set(ckpt) == set(range(4))


def test_redelivery_is_idempotent(spark, tmp_table_path, tmp_path, fixtures):
    """Re-running the whole feed (at-least-once delivery) changes nothing."""
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    snap_before = table.current_snapshot.snapshot_id
    state_before = table_state([r.asDict() for r in table.read().collect()])
    # full redelivery
    stats = eng.replay(_spark_df(spark, events), num_batches=2)
    assert all(s.changes == 0 for s in stats)
    state_after = table_state([r.asDict() for r in table.read().collect()])
    assert state_before == state_after
    # and state still matches oracle
    assert not diff_states(replay_oracle(base, events), state_after)


def test_resume_from_checkpoint(spark, tmp_table_path, tmp_path, fixtures):
    """Apply a prefix, then hand the FULL feed to a fresh engine (restart):
    overlap is skipped, suffix applied, final state matches oracle."""
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    df = _spark_df(spark, events)
    mid = 2000
    eng.apply_batch(df.filter(f"seq <= {mid}"), batch_id=0)

    # simulated restart: new engine object over reloaded table
    table2 = LakeTable.load(spark, tmp_table_path)
    eng2 = ReplayEngine(spark, table2, error_dir=str(tmp_path / "err"))
    eng2.replay(df, num_batches=3)
    _assert_state_matches(table2, replay_oracle(base, events))


def test_empty_base_bootstrap(spark, tmp_table_path, tmp_path):
    """Replay into an empty table (pure bootstrap: all inserts)."""
    events = make_events(1000, n_base_docs=0, seed=7, n_parts=2, max_len=32)
    table = ReplayEngine.create_table(spark, tmp_table_path, num_buckets=4)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    _assert_state_matches(table, replay_oracle(None, events))


def test_skewed_feed(spark, tmp_table_path, tmp_path):
    """Zipf hot-key feed: the partial winner aggregate handles hot keys."""
    base = make_corpus(200, seed=3, max_len=32)
    events = make_events(3000, n_base_docs=200, seed=3, n_parts=4, max_len=32, skew=True)
    table = _seed_table(spark, tmp_table_path, base, num_buckets=4)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    _assert_state_matches(table, replay_oracle(base, events))


def test_lineage_reconciliation(spark, tmp_table_path, tmp_path, fixtures):
    """rows(after) == rows(before) + inserts - deletes, per batch and total."""
    base, events = fixtures
    table = _seed_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.replay(_spark_df(spark, events), num_batches=3)
    for s in stats:
        assert s.merge.rows_after == (
            s.merge.rows_before + s.merge.counts["inserts"] - s.merge.counts["deletes"]
        )
    # invalid deletes were classified, not applied
    assert sum(s.merge.counts["invalid_deletes"] for s in stats) > 0


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_non_broadcast_fallback_matches_oracle(
    spark, tmp_table_path, tmp_path, fixtures, monkeypatch, merge_mode
):
    """Winner sets above BROADCAST_WINNERS_MAX take the shuffle-join
    late materialization and, on COW, the single-exchange union write."""
    from ingestion3_spark.cdc import replay

    monkeypatch.setattr(replay, "BROADCAST_WINNERS_MAX", 0)
    seen = []
    merge_batch = replay.merge_batch

    def spy(*args, **kwargs):
        seen.append(kwargs["broadcast_winners"])
        return merge_batch(*args, **kwargs)

    monkeypatch.setattr(replay, "merge_batch", spy)
    base, events = fixtures
    table = ReplayEngine.create_table(
        spark, tmp_table_path, num_buckets=8, merge_mode=merge_mode)
    table.commit("append", add_files=table.write_files(_spark_df(spark, base)))
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.replay(_spark_df(spark, events), num_batches=2)
    assert seen == [False, False]
    assert sum(s.merge.counts["invalid_deletes"] for s in stats) > 0
    # superseded and redelivered events were dropped by deduplication
    assert sum(r["dedup_dropped"] for s in stats for r in s.merge.lineage) > 0
    _assert_state_matches(table, replay_oracle(base, events))


def test_batch_ids_increase_across_expiry(spark, tmp_table_path, tmp_path):
    """Batch ids survive maintenance + aggressive expiry: after a compaction
    and expire_snapshots(keep_last=1) only a batch-less maintenance
    snapshot is retained, yet the next batch (also after a reload) must not
    reuse an id."""
    base = make_corpus(100, seed=9, max_len=16)
    events = make_events(900, n_base_docs=100, seed=9, n_parts=2, max_len=16)
    table = _seed_table(spark, tmp_table_path, base, num_buckets=4)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    df = _spark_df(spark, events)
    ids = []
    for lo, hi in ((0, 300), (300, 600)):
        ids += [s.batch_id for s in eng.replay(
            df.filter(f"seq > {lo} and seq <= {hi}"), num_batches=1)]
        assert table.compact() > 0
        table.expire_snapshots(keep_last=1)
        assert table.snapshots()[-1].batch_id is None
    table2 = LakeTable.load(spark, tmp_table_path)
    eng2 = ReplayEngine(spark, table2, error_dir=str(tmp_path / "err"))
    ids += [s.batch_id for s in eng2.replay(df, num_batches=1)]
    assert ids == sorted(set(ids)), ids
    _assert_state_matches(table2, replay_oracle(base, events))
