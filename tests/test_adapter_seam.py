"""Second TableAdapter implementation, driven by the UNMODIFIED engine.

The seam claim (lakehouse/adapter.py) is that ReplayEngine + cdc.merge
depend only on the TableAdapter contract — so a real Iceberg binding is
one adapter away. The static AST test (test_lakehouse.py) proves no
undeclared member is dereferenced; this file proves the contract is
SUFFICIENT by running a full replay against a from-scratch in-memory
implementation (pandas-backed "files", dict snapshot log) and holding it
to the same dict-replay-oracle bar as LakeTable. Test-only by design —
it is deliberately driver-side and unscalable; its value is proving the
engine/table boundary, not storing data.
"""

from __future__ import annotations

import threading
import uuid

import pandas as pd
from pyspark.sql import functions as F

from ingestion3_spark.cdc.generator import make_corpus, make_events
from ingestion3_spark.cdc.oracle import diff_states, replay_oracle, table_state
from ingestion3_spark.cdc.replay import ReplayEngine
from ingestion3_spark.lakehouse.adapter import TableAdapter
from ingestion3_spark.lakehouse.table import Field, FileEntry, Snapshot

FIELDS = [
    Field(1, "doc_id", "string"),
    Field(2, "tokens", "array<int>"),
    Field(3, "n_tok", "int"),
    Field(4, "source", "string"),
]


class MemTable:
    """Minimal in-memory TableAdapter: one pandas DataFrame per 'file'."""

    merge_mode = "cow"

    def __init__(self, spark, num_buckets: int = 4):
        self._spark = spark
        self.num_buckets = num_buckets
        self.key_column = "doc_id"
        self._files: dict[str, tuple[FileEntry, pd.DataFrame]] = {}
        self._snaps: list[Snapshot] = []
        self._lock = threading.Lock()

    # --- identity / layout ---------------------------------------------
    @property
    def spark(self):
        return self._spark

    def column_names(self):
        return [f.name for f in FIELDS]

    def bucket_expr(self, col=None):
        c = F.col(col or self.key_column)
        return F.pmod(F.xxhash64(c.cast("string")), F.lit(self.num_buckets)).cast("int")

    # --- transaction log -------------------------------------------------
    def checkpoint(self):
        if not self._snaps:
            return {}
        return {int(k): int(v) for k, v in self._snaps[-1].checkpoint.items()}

    def snapshots(self):
        return list(self._snaps)

    def live_files(self, snapshot_id=None):
        snaps = self._snaps if snapshot_id is None else [
            s for s in self._snaps if s.snapshot_id <= snapshot_id
        ]
        if not snaps:
            return []
        live = set(snaps[-1].summary["__live"])
        return [self._files[p][0] for p in live]

    # --- scan -------------------------------------------------------------
    def _ddl(self):
        return ", ".join(f"`{f.name}` {f.type}" for f in FIELDS)

    def read(self, buckets=None, snapshot_id=None, **_kw):
        ents = self.live_files(snapshot_id)
        if buckets is not None:
            ents = [e for e in ents if e.bucket in buckets]
        if not ents:
            return self._spark.createDataFrame([], schema=self._ddl())
        pdf = pd.concat([self._files[e.path][1] for e in ents], ignore_index=True)
        return self._spark.createDataFrame(pdf, schema=self._ddl())

    def live_keys(self, buckets=None):
        return self.read(buckets=buckets).select(self.key_column)

    # --- write + atomic commit ---------------------------------------------
    def write_files(self, df, **_kw):
        cols = [F.col(f.name).cast(f.type).alias(f.name) for f in FIELDS]
        pdf = df.select(*cols, self.bucket_expr().alias("__bucket")).toPandas()
        out = []
        for bucket, group in pdf.groupby("__bucket"):
            path = f"mem://{uuid.uuid4().hex[:12]}/b={int(bucket)}"
            entry = FileEntry(path, int(bucket), len(group), 1, path, "base")
            with self._lock:
                self._files[path] = (entry, group.drop(columns="__bucket"))
            out.append(entry)
        return out

    def write_delta_files(self, df, **_kw):  # pragma: no cover - cow-only table
        raise NotImplementedError("MemTable is copy-on-write only")

    def commit(self, operation, add_files=None, remove_paths=None,
               checkpoint=None, batch_id=None, lineage=None, summary=None):
        with self._lock:
            live = set(self._snaps[-1].summary["__live"]) if self._snaps else set()
            live -= set(remove_paths or ())
            live |= {e.path for e in (add_files or [])}
            ckpt = dict(self._snaps[-1].checkpoint) if self._snaps else {}
            for k, v in (checkpoint or {}).items():
                ckpt[str(k)] = int(v)
            last = self._snaps[-1].last_batch_id if self._snaps else None
            ids = [i for i in (batch_id, last) if i is not None]
            snap = Snapshot(
                snapshot_id=len(self._snaps) + 1,
                parent_id=self._snaps[-1].snapshot_id if self._snaps else None,
                operation=operation,
                manifest_path="",
                summary={**(summary or {}), "__live": sorted(live)},
                checkpoint=ckpt,
                batch_id=batch_id,
                lineage=lineage or [],
                last_batch_id=max(ids, default=None),
            )
            self._snaps.append(snap)
            return snap

    # --- schema evolution / maintenance (not exercised here) ---------------
    def add_column(self, name, type_):  # pragma: no cover
        raise NotImplementedError

    def rename_column(self, old, new):  # pragma: no cover
        raise NotImplementedError

    def widen_column(self, name, new_type):  # pragma: no cover
        raise NotImplementedError

    def compact(self, min_files: int = 2) -> int:
        return 0

    def compact_deltas(self, min_layers: int = 2) -> int:
        return 0

    def expire_snapshots(self, keep_last: int = 2) -> None:
        # retention: drop all but the last K snapshots; files only live in
        # the latest summary's __live set, so no orphan tracking needed
        with self._lock:
            self._snaps = self._snaps[-max(keep_last, 1):]


def _spark_df(spark, tbl):
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark.createDataFrame(tbl.to_pandas())


def test_engine_replays_against_second_adapter(spark, tmp_path):
    base = make_corpus(200, seed=6, max_len=32)
    events = make_events(2500, n_base_docs=200, seed=6, n_parts=4, max_len=32)

    table = MemTable(spark, num_buckets=4)
    assert isinstance(table, TableAdapter)
    table.commit("append", add_files=table.write_files(_spark_df(spark, base)))

    eng = ReplayEngine(spark, table, error_dir=str(tmp_path / "err"))
    stats = eng.replay(_spark_df(spark, events), num_batches=2)
    assert sum(s.changes for s in stats) > 0

    expected = replay_oracle(base, events)
    actual = table_state([r.asDict() for r in table.read().collect()])
    assert not diff_states(expected, actual)

    # exactly-once on the second adapter too: full redelivery is a no-op
    snap = table.snapshots()[-1].snapshot_id
    stats2 = eng.replay(_spark_df(spark, events), num_batches=1)
    assert all(s.changes == 0 for s in stats2)
    assert table.snapshots()[-1].snapshot_id == snap
    assert not diff_states(expected, table_state(
        [r.asDict() for r in table.read().collect()]))
