"""Schema evolution mid-replay: add / rename / widen (SURVEY.md §5 item 4).

The LakeTable applies evolution as metadata-only transactions (field-id
mapping); old data files are mapped on read. The replay engine's compat
gate hard-fails a feed that does not match the evolved schema (upgrade of
the reference's warn-only ``Harvester.validateSchema``).
"""

from __future__ import annotations

import pyarrow as pa
import pytest

from ingestion3_spark.cdc.generator import make_corpus, make_events
from ingestion3_spark.cdc.replay import ReplayEngine
from ingestion3_spark.lakehouse.table import LakeTable


def _df(spark, tbl: pa.Table):
    return spark.createDataFrame(tbl.to_pandas())


def _with_lang(events: pa.Table, lang: str) -> pa.Table:
    col = pa.array([None if op == "delete" else lang for op in events["op"].to_pylist()])
    return events.append_column("lang", col)


@pytest.fixture()
def seeded(spark, tmp_table_path, tmp_path):
    table = ReplayEngine.create_table(spark, tmp_table_path, num_buckets=4)
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    ev1 = make_events(800, n_base_docs=0, seed=21, n_parts=2, max_len=16,
                      null_tokens_rate=0.0)
    eng.replay(_df(spark, ev1), num_batches=1)
    return table, eng


def test_add_column_mid_replay(spark, seeded):
    table, eng = seeded
    rows_v1 = table.read().count()
    table.add_column("lang", "string")
    # old rows read back with null lang
    assert table.read().filter("lang is null").count() == rows_v1

    ev2 = _with_lang(
        make_events(800, n_base_docs=500, seed=22, n_parts=2, max_len=16,
                    start_seq=10_001, null_tokens_rate=0.0),
        "en",
    )
    eng.replay(_df(spark, ev2), num_batches=1)
    got = table.read()
    assert "lang" in got.columns
    assert got.filter("lang = 'en'").count() > 0
    assert got.filter("lang is null").count() > 0  # untouched v1 rows


def test_rename_column(spark, seeded):
    table, eng = seeded
    src_counts = {
        r["source"]: r["n"]
        for r in table.read().groupBy("source").count().withColumnRenamed("count", "n").collect()
    }
    table.rename_column("source", "provenance")
    got = table.read()
    assert "provenance" in got.columns and "source" not in got.columns
    # values preserved through the field-id mapping
    prov_counts = {
        r["provenance"]: r["n"]
        for r in got.groupBy("provenance").count().withColumnRenamed("count", "n").collect()
    }
    assert prov_counts == src_counts

    # feed still using the OLD name is rejected by the compat gate
    ev_old = make_events(100, n_base_docs=100, seed=23, n_parts=2, max_len=16,
                         start_seq=20_001)
    with pytest.raises(ValueError, match="provenance"):
        eng.apply_batch(_df(spark, ev_old), batch_id=99)

    # renamed feed replays fine
    ev_new = _df(spark, make_events(400, n_base_docs=100, seed=24, n_parts=2,
                                    max_len=16, start_seq=30_001,
                                    null_tokens_rate=0.0)
                 ).withColumnRenamed("source", "provenance")
    eng.replay(ev_new, num_batches=1)
    assert table.read().filter("provenance is not null").count() > 0


def test_widen_n_tok(spark, seeded):
    table, eng = seeded
    before = {r["doc_id"]: r["n_tok"] for r in table.read().collect()}
    table.widen_column("n_tok", "bigint")
    got = table.read()
    assert dict(got.dtypes)["n_tok"] == "bigint"
    after = {r["doc_id"]: r["n_tok"] for r in got.collect()}
    assert after == before

    # int32-typed feed still merges (cast on write), new files store bigint
    ev = make_events(400, n_base_docs=400, seed=25, n_parts=2, max_len=16,
                     start_seq=40_001, null_tokens_rate=0.0)
    eng.replay(_df(spark, ev), num_batches=1)
    got2 = table.read()
    assert dict(got2.dtypes)["n_tok"] == "bigint"
    assert got2.filter("n_tok != size(tokens)").count() == 0


def test_illegal_widen_rejected(spark, seeded):
    table, _ = seeded
    with pytest.raises(ValueError, match="illegal promotion"):
        table.widen_column("n_tok", "string")


def test_snapshot_log_records_evolution(spark, seeded):
    table, _ = seeded
    table.add_column("lang", "string")
    ops = [s.operation for s in table.snapshots()]
    assert any(op.startswith("evolve-schema[add:lang]") for op in ops)


def test_add_column_mid_replay_mor_with_deltas(spark, tmp_table_path, tmp_path):
    """Evolution on a MOR table while un-compacted delta layers from the
    OLD schema version are live: the reconciling read must map v1 base and
    v1 delta files to the evolved schema (null new column), new-version
    deltas carry real values, and a compaction across the version mix
    folds to one base file per bucket without losing either."""
    table = ReplayEngine.create_table(
        spark, tmp_table_path, num_buckets=4, merge_mode="mor"
    )
    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    ev1 = make_events(800, n_base_docs=0, seed=31, n_parts=2, max_len=16,
                      null_tokens_rate=0.0)
    eng.replay(_df(spark, ev1), num_batches=1)
    assert any(e.kind == "delta" for e in table.live_files())  # v1 deltas live

    table.add_column("lang", "string")
    assert table.read().filter("lang is not null").count() == 0

    ev2 = _with_lang(
        make_events(800, n_base_docs=400, seed=32, n_parts=2, max_len=16,
                    start_seq=10_001, null_tokens_rate=0.0),
        "de",
    )
    eng.replay(_df(spark, ev2), num_batches=1)
    got = table.read()
    n_de = got.filter("lang = 'de'").count()
    n_null = got.filter("lang is null").count()
    assert n_de > 0 and n_null > 0
    total = got.count()

    # compaction folds the v1/v2 mix; state and lang values survive
    assert table.compact(min_files=2) > 0
    assert all(e.kind == "base" for e in table.live_files())
    after = table.read()
    assert after.count() == total
    assert after.filter("lang = 'de'").count() == n_de
    assert after.filter("lang is null").count() == n_null


def test_evolve_publishes_schema_and_log_entry_once(spark, seeded, monkeypatch):
    """A schema change is ONE metadata version carrying both the new
    schema and its ``evolve-schema`` snapshot: a crash at any later
    publish cannot leave the schema advanced with no log entry."""
    table, _ = seeded
    version = table._meta["version"]
    publishes = []
    orig = LakeTable._publish

    def crash_after_first(self, new_meta):
        publishes.append(new_meta["version"])
        if len(publishes) > 1:
            raise RuntimeError("crash before the second metadata publish")
        orig(self, new_meta)

    monkeypatch.setattr(LakeTable, "_publish", crash_after_first)
    try:
        table.add_column("lang", "string")
    except RuntimeError:
        pass
    monkeypatch.undo()
    assert publishes == [version + 1]
    reloaded = LakeTable.load(spark, table.path)
    assert reloaded.schema_version == 2
    assert reloaded.snapshots()[-1].operation == "evolve-schema[add:lang]"
    assert reloaded.current_snapshot.summary == {"schema_version": 2}
