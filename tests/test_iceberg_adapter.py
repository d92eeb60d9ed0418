"""Pin every statement the IcebergAdapter dry-run renders.

The binding table in lakehouse/adapter.py documents WHAT each
TableAdapter member maps to on a real Iceberg catalog; lakehouse/
iceberg.py renders the exact SQL/DDL. These tests hold the rendered text
to the documented binding so the two cannot drift apart — the most a
jar-less sandbox can prove about the production path, and enough that a
deployment with the iceberg-spark-runtime jar runs exactly the reviewed
statements (dry_run=False swaps raise-with-statement for spark.sql).
"""

from __future__ import annotations

import json

import pytest

from ingestion3_spark.lakehouse.adapter import TableAdapter
from ingestion3_spark.lakehouse.iceberg import IcebergAdapter, IcebergUnavailable


def _ad(**kw) -> IcebergAdapter:
    return IcebergAdapter(spark=None, **kw)


def test_protocol_conformance():
    # the runtime Protocol check: every member the engine dereferences
    # (pinned by the AST test in test_lakehouse.py) exists here too
    assert isinstance(_ad(), TableAdapter)


def test_create_ddl_pins_layout_and_modes():
    ddl = _ad().create_ddl()
    assert "USING iceberg" in ddl
    assert "PARTITIONED BY (bucket(64, doc_id))" in ddl
    assert "'format-version' = '2'" in ddl
    assert "'write.merge.mode' = 'copy-on-write'" in ddl
    assert "'cdc.key-column' = 'doc_id'" in ddl
    # mor flips all three write-mode properties to merge-on-read
    mor = _ad(merge_mode="mor").create_ddl()
    for prop in ("write.merge.mode", "write.update.mode", "write.delete.mode"):
        assert f"'{prop}' = 'merge-on-read'" in mor
    # engine-side pre-partitioning relies on hash distribution at write
    assert "'write.distribution-mode' = 'hash'" in ddl


def test_merge_into_has_all_three_when_branches_in_order():
    sql = _ad().merge_into_sql("changes")
    assert sql.startswith("MERGE INTO lake.cdc.corpus t")
    assert "USING changes s" in sql
    assert "ON t.doc_id = s.doc_id" in sql
    i_del = sql.index("WHEN MATCHED AND s.op = 'delete' THEN DELETE")
    i_upd = sql.index("WHEN MATCHED THEN UPDATE SET")
    i_ins = sql.index("WHEN NOT MATCHED AND s.op != 'delete'")
    # branch order matters: the guarded delete must precede the bare
    # matched-update or deletes would be swallowed by UPDATE SET
    assert i_del < i_upd < i_ins
    # UPDATE SET never assigns the merge key
    upd = sql[i_upd:i_ins]
    assert "t.doc_id = s.doc_id" not in upd
    assert "t.tokens = s.tokens" in upd and "t.source = s.source" in upd
    # INSERT covers every column
    assert "INSERT (doc_id, tokens, n_tok, source)" in sql
    assert "VALUES (s.doc_id, s.tokens, s.n_tok, s.source)" in sql


def test_schema_evolution_ddl_and_column_tracking():
    ad = _ad()
    ad.add_column("lang", "string")
    ad.rename_column("source", "provider")
    ad.widen_column("n_tok", "bigint")
    assert ad.statements == [
        "ALTER TABLE lake.cdc.corpus ADD COLUMN lang STRING",
        "ALTER TABLE lake.cdc.corpus RENAME COLUMN source TO provider",
        "ALTER TABLE lake.cdc.corpus ALTER COLUMN n_tok TYPE BIGINT",
    ]
    assert ad.column_names() == ["doc_id", "tokens", "n_tok", "provider", "lang"]
    # the evolved schema flows into the next MERGE's branches
    sql = ad.merge_into_sql()
    assert "INSERT (doc_id, tokens, n_tok, provider, lang)" in sql


def test_bucket_expr_is_the_partition_transform(spark):
    col = IcebergAdapter(spark).bucket_expr()
    assert "bucket(64, doc_id)" in str(col)
    assert "bucket(64, other)" in str(IcebergAdapter(spark).bucket_expr("other"))


def test_checkpoint_reads_snapshot_summary_and_fails_loudly():
    ad = _ad()
    sql = ad.snapshots_sql()
    # the current lineage only, in the order its snapshots became current
    assert "FROM lake.cdc.corpus.history h" in sql
    assert "JOIN lake.cdc.corpus.snapshots s ON h.snapshot_id = s.snapshot_id" in sql
    assert "WHERE h.is_current_ancestor" in sql
    assert "ORDER BY h.made_current_at" in sql
    with pytest.raises(IcebergUnavailable) as e:
        ad.checkpoint()
    # the raise carries the statement so a mis-wired deployment is debuggable
    assert "is_current_ancestor" in str(e.value)
    assert ad.statements == [sql]


def test_scan_sql_time_travel_and_bucket_pruning():
    ad = _ad()
    with pytest.raises(IcebergUnavailable):
        ad.read(snapshot_id=42, buckets={3, 1})
    scan = ad.statements[-1]
    assert "FROM lake.cdc.corpus VERSION AS OF 42" in scan
    # partition-transform predicate => manifest-level bucket pruning
    assert "WHERE lake.system.bucket(64, doc_id) IN (1, 3)" in scan
    with pytest.raises(IcebergUnavailable):
        ad.live_keys(buckets={0})
    assert ad.statements[-1].startswith("SELECT doc_id FROM")


def test_live_files_reads_files_metadata_table():
    ad = _ad()
    sql = ad.live_files_sql()
    assert "FROM lake.cdc.corpus.files" in sql
    assert "partition.doc_id_bucket" in sql and "record_count" in sql
    with pytest.raises(IcebergUnavailable):
        ad.live_files()


def test_commit_renders_merge_plus_summary_properties():
    ad = _ad()
    with pytest.raises(IcebergUnavailable):
        ad.commit(
            "upsert", source_view="batch_7",
            checkpoint={0: 17, 3: 9}, batch_id="b7",
            lineage=[{"changes": 12}],
        )
    stmt = ad.statements[-1]
    head, merge = stmt.split("\n", 1)
    # the summary properties attach to the SAME snapshot the MERGE makes
    assert head.startswith("-- CommitMetadata.withCommitProperties(")
    props = json.loads(head[head.index("(") + 1:head.rindex(")")])
    assert json.loads(props["cdc.offsets"]) == {"0": 17, "3": 9}
    assert props["cdc.batch-id"] == "b7"
    assert json.loads(props["cdc.lineage"]) == [{"changes": 12}]
    assert merge.startswith("MERGE INTO lake.cdc.corpus")
    assert "USING batch_7 s" in merge


def test_maintenance_procedures():
    ad = _ad()
    ad.compact(min_files=4)
    ad.compact_deltas(min_layers=3)
    ad.expire_snapshots(keep_last=5)
    major, minor, expire = ad.statements
    assert "CALL lake.system.rewrite_data_files(" in major
    assert "'min-input-files', '4'" in major
    # minor folds ONLY the delete/delta stack — data files untouched
    assert "CALL lake.system.rewrite_position_delete_files(" in minor
    assert "'min-input-files', '3'" in minor
    assert "CALL lake.system.expire_snapshots(" in expire
    assert "retain_last => 5" in expire


def test_write_paths_are_documented_unexecutable():
    # both write members collapse into the atomic MERGE; calling them is a
    # wiring error and says so
    with pytest.raises(IcebergUnavailable, match="MERGE INTO"):
        _ad().write_files(None)
    with pytest.raises(IcebergUnavailable, match="merge-on-read"):
        _ad().write_delta_files(None)


def test_rejects_unknown_merge_mode():
    with pytest.raises(ValueError):
        _ad(merge_mode="overwrite")


class _Rows:
    """What ``_need`` returns on a live catalog, reduced to ``collect``."""

    def __init__(self, rows):
        self.rows = rows

    def collect(self):
        return self.rows


class _Spark:
    def __init__(self):
        self.sql_run = []

    def sql(self, text):
        self.sql_run.append(text)


def _log(ad) -> list[dict]:
    return [
        {"snapshot_id": 1, "parent_id": None, "operation": "overwrite",
         "summary": ad.commit_properties(checkpoint={0: 5}, batch_id=6)},
        {"snapshot_id": 2, "parent_id": 1, "operation": "overwrite",
         "summary": ad.commit_properties(checkpoint={0: 9}, batch_id=7, last_batch_id=6)},
        # rewrite_data_files: a snapshot the engine did not write
        {"snapshot_id": 3, "parent_id": 2, "operation": "replace", "summary": {}},
    ]


def test_snapshots_parse_batch_ids_and_next_id_advances():
    """Batch ids come back as ints, ``last_batch_id`` is carried past a
    maintenance snapshot, so the engine's next id follows the last one
    instead of restarting at 0."""
    from ingestion3_spark.cdc.replay import ReplayEngine

    ad = _ad()
    ad._need = lambda sql, what: _Rows(_log(ad))
    snaps = ad.snapshots()
    assert [s.batch_id for s in snaps] == [6, 7, None]
    assert [s.last_batch_id for s in snaps] == [6, 7, 7]
    assert snaps[1].checkpoint == {0: 9}
    assert ReplayEngine(spark=None, table=ad, error_dir="errors")._next_batch_id() == 8


def test_checkpoint_survives_a_maintenance_snapshot():
    """The newest snapshot is a ``rewrite_data_files`` commit with no
    ``cdc.offsets``; the checkpoint comes from the newest one that has
    them, so resume does not restart at seq 0."""
    ad = _ad()
    ad._need = lambda sql, what: _Rows(_log(ad))
    assert ad.checkpoint() == {0: 9}
    ad._need = lambda sql, what: _Rows(_log(ad)[2:])
    assert ad.checkpoint() == {}


def test_commit_carries_last_batch_id_forward():
    assert _ad().commit_properties(batch_id=8, last_batch_id=7)["cdc.last-batch-id"] == "8"
    props = _ad().commit_properties(checkpoint={0: 1}, last_batch_id=7)
    assert props["cdc.last-batch-id"] == "7" and "cdc.batch-id" not in props
    # a live commit reads the log first and attaches the carried id
    ad = IcebergAdapter(spark=_Spark(), dry_run=False)
    ad._need = lambda sql, what: _Rows(_log(ad))
    ad.commit("merge", source_view="changes", checkpoint={0: 12})
    head = ad.statements[-1].split("\n", 1)[0]
    props = json.loads(head[head.index("(") + 1:head.rindex(")")])
    assert props["cdc.last-batch-id"] == "7"
    assert ad.spark.sql_run == [ad.merge_into_sql("changes")]


def test_live_files_builds_manifest_entries():
    ad = _ad()
    ad._need = lambda sql, what: _Rows([
        {"file_path": "s3://lake/t/data/doc_id_bucket=3/a.parquet", "bucket": 3,
         "record_count": 10, "content": 0},
        {"file_path": "s3://lake/t/data/doc_id_bucket=3/d.parquet", "bucket": 3,
         "record_count": 2, "content": 2},
    ])
    files = ad.live_files()
    assert [(e.bucket, e.rows, e.kind) for e in files] == [(3, 10, "base"), (3, 2, "delta")]
    assert files[0].batch_dir == "s3://lake/t/data/doc_id_bucket=3"
