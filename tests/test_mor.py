"""Merge-on-read (MOR) table mode: delta-file merges + reconciling reads.

Same oracle-equality bar as the COW e2e suite — the final reconciled state
must equal the dict replay including token arrays — plus MOR-specific
contracts: merges never rewrite base files, compaction folds delta layers
back to base, and reads after compaction equal reads before.
"""

from __future__ import annotations

import re

import pyarrow as pa
import pytest

from ingestion3_spark.cdc.generator import make_corpus, make_events
from ingestion3_spark.cdc.oracle import diff_states, replay_oracle, table_state
from ingestion3_spark.cdc.replay import ReplayEngine


def _spark_df(spark, tbl: pa.Table):
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark.createDataFrame(tbl.to_pandas())


def _mor_table(spark, path, base=None):
    table = ReplayEngine.create_table(spark, path, num_buckets=4, merge_mode="mor")
    if base is not None:
        files = table.write_files(_spark_df(spark, base))
        table.commit("append", add_files=files)
    return table


def _state(table):
    return table_state([r.asDict() for r in table.read().collect()])


@pytest.fixture(scope="module")
def fixtures():
    base = make_corpus(300, seed=5, max_len=48)
    events = make_events(3000, n_base_docs=300, seed=5, n_parts=4, max_len=48)
    return base, events


def test_mor_single_batch_matches_oracle(spark, tmp_table_path, tmp_path, fixtures):
    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    base_paths = {e.path for e in table.live_files()}
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.replay(_spark_df(spark, events), num_batches=1)
    assert stats[0].errors > 0
    assert not diff_states(replay_oracle(base, events), _state(table))
    # merge appended deltas, never rewrote base
    live = table.live_files()
    assert base_paths <= {e.path for e in live}
    assert any(e.kind == "delta" for e in live)
    assert table.current_snapshot.operation == "merge-delta"


def test_mor_multi_batch_and_redelivery(spark, tmp_table_path, tmp_path, fixtures):
    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=3)
    expected = replay_oracle(base, events)
    assert not diff_states(expected, _state(table))
    snap = table.current_snapshot.snapshot_id
    # full redelivery is a no-op (exactly-once via checkpoint)
    stats = eng.replay(_spark_df(spark, events), num_batches=2)
    assert all(s.changes == 0 for s in stats)
    assert table.current_snapshot.snapshot_id == snap
    assert not diff_states(expected, _state(table))


def test_mor_compaction_folds_deltas(spark, tmp_table_path, tmp_path, fixtures):
    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=2)
    expected = _state(table)
    n = table.compact(min_files=2)
    assert n > 0
    assert all(e.kind == "base" for e in table.live_files())
    assert not diff_states(expected, _state(table))
    # post-compaction file rows are exact again: live rows == state size
    assert sum(e.rows for e in table.live_files()) == len(expected)
    # further replay on top of the compacted base still matches the oracle
    more = make_events(1000, n_base_docs=300, seed=6, n_parts=4, max_len=48,
                       start_seq=100_000)
    eng.replay(_spark_df(spark, more), num_batches=1)
    both = pa.concat_tables([events, more])
    assert not diff_states(replay_oracle(base, both), _state(table))


def test_mor_minor_compact_folds_delta_stack(spark, tmp_table_path, tmp_path, fixtures):
    """compact_deltas() folds K delta layers into ONE without touching any
    base file: read-equality before/after, base paths identical, exactly one
    delta layer (one file per bucket — the write repartitions the winning
    rows by ``__bucket``), checkpoint carried forward, and further replay
    plus a later major compact still match the dict-replay oracle."""
    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=3)
    expected = _state(table)
    ckpt = table.checkpoint()
    base_paths = {e.path for e in table.live_files() if e.kind == "base"}
    layers_before = {e.batch_dir for e in table.live_files() if e.kind == "delta"}
    assert len(layers_before) >= 2

    assert table.compact_deltas() == len(layers_before)
    live = table.live_files()
    assert {e.path for e in live if e.kind == "base"} == base_paths
    deltas = [e for e in live if e.kind == "delta"]
    assert len({e.batch_dir for e in deltas}) == 1
    by_bucket = {}
    for e in deltas:
        by_bucket.setdefault(e.bucket, []).append(e)
    assert all(len(es) == 1 for es in by_bucket.values())
    assert table.checkpoint() == ckpt
    assert table.current_snapshot.operation == "replace-deltas"
    assert not diff_states(expected, _state(table))

    # a second fold is a no-op (single layer left)
    assert table.compact_deltas() == 0
    # replay continues on the folded stack; major compact still exact
    more = make_events(1000, n_base_docs=300, seed=9, n_parts=4, max_len=48,
                       start_seq=200_000)
    eng.replay(_spark_df(spark, more), num_batches=1)
    both = pa.concat_tables([events, more])
    assert not diff_states(replay_oracle(base, both), _state(table))
    assert table.compact(min_files=2) > 0
    assert not diff_states(replay_oracle(base, both), _state(table))


def test_mor_replay_with_maintenance_cadence(spark, tmp_table_path, tmp_path, fixtures):
    """replay(minor_every=2, compact_every=4) runs folds inside the loop:
    final state still matches the dict-replay oracle, the layer count is
    bounded by the cadence, and the checkpoint survives every maintenance
    commit (exactly-once on a full redelivery)."""
    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=4, minor_every=2,
               compact_every=4)
    assert not diff_states(replay_oracle(base, events), _state(table))
    # batch 4 ended on the major cadence: fully folded back to base
    assert all(e.kind == "base" for e in table.live_files())
    ops = [s.operation for s in table.snapshots()]
    assert "replace-deltas" in ops and "replace" in ops
    # redelivery after maintenance commits is still a no-op
    stats = eng.replay(_spark_df(spark, events), num_batches=2)
    assert all(s.changes == 0 for s in stats)


_EVENT_SCHEMA = ("seq long, part int, op string, doc_id string, tokens array<int>, "
                 "n_tok int, source string")


# (seq, part, op, doc_id, tokens, n_tok, source) rows, one list per delta layer
_FOLD_INPUTS = (
    # a delete of a base row next to an update, in two layers
    [[(1, 0, "delete", "doc-00000003", None, None, None)],
     [(2, 0, "update", "doc-00000005", [7, 7], 2, "cc")]],
    # a base key updated, deleted and re-inserted across three layers, and
    # another base key deleted only in the middle one
    [[(1, 0, "update", "doc-00000005", [7, 7], 2, "cc")],
     [(2, 0, "delete", "doc-00000005", None, None, None),
      (3, 1, "delete", "doc-00000003", None, None, None)],
     [(4, 0, "insert", "doc-00000005", [9], 1, "wiki")]],
)


def test_mor_minor_compact_keeps_tombstones(spark, tmp_path):
    """A delete of a BASE row must survive the fold as a tombstone: the
    base file still holds the old row, so dropping the delete during minor
    compaction would resurrect it on the next read. Each key folds to its
    latest (seq, part) change, the state equals the dict-replay oracle,
    and the fold runs the narrow codegen winner aggregate, never a wide
    ``max_by`` (ObjectHashAggregate or its sort fallback)."""
    base = make_corpus(20, seed=11, max_len=16)
    for i, layers in enumerate(_FOLD_INPUTS):
        _fold_and_check(spark, str(tmp_path / f"t{i}"), base, layers)


def _fold_and_check(spark, path, base, layers):
    from ingestion3_spark.lakehouse.table import _SYS

    table = _mor_table(spark, path, base)
    eng = ReplayEngine(spark, table, error_dir=path + "_errors")
    for bid, rows in enumerate(layers):
        eng.apply_batch(spark.createDataFrame(rows, _EVENT_SCHEMA), batch_id=bid)
    plans = []
    write = table.write_delta_files

    def spy(df, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return write(df, **kw)

    table.write_delta_files = spy
    assert table.compact_deltas() == len(layers)
    assert len(plans) == 1
    assert not re.search(r"ObjectHashAggregate|SortAggregate|max_by", plans[0])

    events = [r for rows in layers for r in rows]
    latest = {}
    for r in sorted(events):
        latest[r[3]] = r
    folded = [e for e in table.live_files() if e.kind == "delta"]
    assert len({e.batch_dir for e in folded}) == 1
    got = {
        r["doc_id"]: (r["__op"], r["__seq"], r["__part"], r["tokens"])
        for r in table._union_scan(folded, extra=_SYS).collect()
    }
    # tombstones are still materialized as delta rows
    assert got == {k: (r[2], r[0], r[1], r[4]) for k, r in latest.items()}
    feed = pa.table({
        "seq": pa.array([r[0] for r in events], pa.int64()),
        "part": pa.array([r[1] for r in events], pa.int32()),
        "op": [r[2] for r in events],
        "doc_id": [r[3] for r in events],
        "tokens": pa.array([r[4] for r in events], pa.list_(pa.int32())),
        "source": [r[6] for r in events],
    })
    state = _state(table)
    assert not diff_states(replay_oracle(base, feed), state)
    assert "doc-00000003" not in state and len(state) == 20 - 1


def test_mor_insert_delete_insert_one_key(spark, tmp_table_path, tmp_path):
    table = _mor_table(spark, tmp_table_path)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    rows = [
        (1, 0, "insert", "doc-x", [1, 2], 2, "cc"),
        (2, 0, "delete", "doc-x", None, None, None),
        (3, 0, "insert", "doc-x", [9], 1, "wiki"),
        (4, 0, "delete", "doc-y", None, None, None),  # invalid delete
    ]
    import datetime as dt
    df = spark.createDataFrame(
        [r + (dt.datetime(2026, 1, 1),) for r in rows],
        "seq long, part int, op string, doc_id string, tokens array<int>, "
        "n_tok int, source string, ts timestamp",
    )
    stats = eng.replay(df, num_batches=4)
    state = _state(table)
    assert list(state) == ["doc-x"]
    assert list(state["doc-x"][0]) == [9]
    inv = sum(s.merge.counts["invalid_deletes"] for s in stats if s.merge)
    assert inv == 1


def test_mor_resume_from_checkpoint(spark, tmp_table_path, tmp_path, fixtures):
    """Restart mid-replay under MOR (the headline bench mode): apply a
    prefix, reload the table fresh, hand the FULL feed to a new engine —
    overlap skipped via the snapshot checkpoint, suffix applied, final
    reconciled state matches the dict-replay oracle."""
    from ingestion3_spark.lakehouse.table import LakeTable

    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    df = _spark_df(spark, events)
    eng.apply_batch(df.filter("seq <= 1500"), batch_id=0)

    table2 = LakeTable.load(spark, tmp_table_path)
    assert table2.merge_mode == "mor"
    eng2 = ReplayEngine(spark, table2, error_dir=str(tmp_path / "err"))
    eng2.replay(df, num_batches=3)
    assert not diff_states(replay_oracle(base, events), _state(table2))


def test_mor_resume_across_compaction(spark, tmp_table_path, tmp_path, fixtures):
    """A compaction between crash and resume must not lose the checkpoint:
    its snapshot carries the offsets forward, so the resumed full feed
    skips the already-applied prefix instead of re-applying it."""
    from ingestion3_spark.lakehouse.table import LakeTable

    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    df = _spark_df(spark, events)
    eng.apply_batch(df.filter("seq <= 1500"), batch_id=0)
    ckpt_before = table.checkpoint()
    assert ckpt_before  # non-trivial offsets applied before the crash
    assert table.compact(min_files=2) > 0
    assert table.checkpoint() == ckpt_before  # offsets survive the compact

    table2 = LakeTable.load(spark, tmp_table_path)
    eng2 = ReplayEngine(spark, table2, error_dir=str(tmp_path / "err"))
    eng2.replay(df, num_batches=2)
    assert not diff_states(replay_oracle(base, events), _state(table2))


def _shuffle_exchanges(plan: str) -> list[str]:
    return re.findall(r"(?<!Broadcast)Exchange \w+", plan)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_mor_read_broadcast_anti_join_and_compact_one_exchange(
    spark, tmp_table_path, tmp_path, fixtures
):
    """The read contract over one delta layer: the base side is map-only
    (no shuffle exchange anywhere in the plan), the delta key set is the
    build side of a broadcast left-anti join. compact() reads through that
    plan, so its rewrite's repartition("__bucket") is the ONE shuffle it
    runs, and it leaves one file per bucket."""
    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=1)
    assert len({e.batch_dir for e in table.live_files() if e.kind == "delta"}) == 1

    plan = _plan(table.read())
    assert _shuffle_exchanges(plan) == [], plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan
    assert "BroadcastExchange" in plan
    assert "SortAggregate" not in plan and "max_by" not in plan
    expected = _state(table)

    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    sc.setJobGroup("compact-probe", "compact")
    try:
        assert table.compact(min_files=2) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    stages = {
        sid for jid in sc.statusTracker().getJobIdsForGroup("compact-probe")
        for sid in sc.statusTracker().getJobInfo(jid).stageIds
    }
    empty = sc._jvm.java.util.ArrayList()
    quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    shuffle_stages = set()
    for sid in stages:
        attempts = store.stageData(sid, False, empty, False, quantiles)
        for k in range(attempts.size()):
            if attempts.apply(k).shuffleWriteBytes() > 0:
                shuffle_stages.add(sid)
    assert len(shuffle_stages) == 1, shuffle_stages
    by_bucket = {}
    for e in table.live_files():
        by_bucket.setdefault(e.bucket, []).append(e)
    assert all(e.kind == "base" for e in table.live_files())
    assert all(len(es) == 1 for es in by_bucket.values())
    assert not diff_states(expected, _state(table))


@pytest.mark.parametrize("layers", [1, 3])
def test_mor_read_matches_oracle_broadcast_and_shuffle(
    spark, tmp_table_path, tmp_path, fixtures, monkeypatch, layers
):
    """Reads over one delta layer and over three unfolded layers (deletes
    and re-inserts of base and new keys across layers) equal the dict
    replay, both with the broadcast limit and with it at 0, where the
    anti-join and the multi-layer join-back shuffle instead. live_keys
    takes the same plan and equals the state's keys. Building either
    DataFrame starts no Spark job: every scan gets the stored schema."""
    from ingestion3_spark.lakehouse import table as lt

    base, events = fixtures
    table = _mor_table(spark, tmp_table_path, base)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    eng.replay(_spark_df(spark, events), num_batches=layers)
    assert len({e.batch_dir for e in table.live_files() if e.kind == "delta"}) == layers
    expected = replay_oracle(base, events)

    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup())
    df, keys = table.read(), table.live_keys()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(sc.statusTracker().getJobIdsForGroup()) == before

    assert not diff_states(expected, table_state([r.asDict() for r in df.collect()]))
    assert sorted(r[0] for r in keys.collect()) == sorted(expected)

    monkeypatch.setattr(lt, "BROADCAST_WINNERS_MAX", 0)
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = table.read()
        assert "BroadcastExchange" not in _plan(df)
        assert not diff_states(expected, table_state([r.asDict() for r in df.collect()]))
        assert sorted(r[0] for r in table.live_keys().collect()) == sorted(expected)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
