"""IcebergAdapter — the real-lakehouse binding of the TableAdapter seam,
expressed as exact Spark SQL / DDL statement generation.

This sandbox has no Iceberg runtime jar, so the adapter cannot be
*executed* here — but every statement a production binding would issue is
generated verbatim and pinned by tests (tests/test_iceberg_adapter.py),
closing the "paper-only binding" gap jar-free: the binding table in
``lakehouse/adapter.py`` documents WHAT each member maps to; this module
is the HOW, character for character.

Execution model (cluster deployment):

* ``dry_run=True`` (the only mode that works in this sandbox): every
  member renders its SQL, appends it to ``self.statements``, and — for
  members whose *result* is required to continue (scans, checkpoint) —
  raises :class:`IcebergUnavailable` with the rendered statement in the
  message, so a mis-wired deployment fails loudly, never silently.
* ``dry_run=False``: the same statements go through ``spark.sql(...)``
  against a configured Iceberg catalog (``spark.sql.catalog.<name>`` +
  the iceberg-spark-runtime jar on the classpath).

One deliberate asymmetry with LakeTable: ``write_files`` + ``commit``
collapse into a single atomic ``MERGE INTO`` (:meth:`merge_into_sql`) —
Iceberg plans the touched-file rewrite (COW) or delete-file append (MOR)
itself, and the engine's checkpoint/lineage ride along as snapshot
summary properties. Attaching summary properties to the MERGE's snapshot
is a JVM-side call (``org.apache.iceberg.spark.CommitMetadata
.withCommitProperties(props, callable)``), not SQL — ``commit`` renders
the property map and documents that wrapper rather than pretending a SQL
statement exists for it.

Reference provenance: replaces the reference's non-atomic full-rewrite
merge + side-file manifests (``utils/NaraMergeUtil.scala:178-236``,
``dataStorage/OutputHelper.scala:47-73``) with one transactional MERGE.
"""

from __future__ import annotations

import json
import posixpath
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession

    from ingestion3_spark.lakehouse.table import FileEntry, Snapshot


class IcebergUnavailable(RuntimeError):
    """Raised when a member that needs a live Iceberg catalog runs in
    dry-run mode (no iceberg-spark-runtime jar in this sandbox)."""


# write.merge.mode table property values per TableAdapter merge_mode
_MERGE_MODE_PROP = {"cow": "copy-on-write", "mor": "merge-on-read"}


class IcebergAdapter:
    """TableAdapter implementation that binds the CDC engine to an Apache
    Iceberg table through a Spark catalog.

    ``identifier`` is the three-part catalog name (``catalog.db.table``);
    ``source_view`` is the temp-view name the engine registers its
    winner-deduped change batch under before calling :meth:`commit`
    (MERGE requires at most ONE source row per target key — the engine's
    deterministic last-event-wins winner selection, ``cdc/dedup.py``,
    guarantees that precondition).
    """

    def __init__(
        self,
        spark: "SparkSession",
        identifier: str = "lake.cdc.corpus",
        key_column: str = "doc_id",
        num_buckets: int = 64,
        merge_mode: str = "cow",
        columns: tuple[tuple[str, str], ...] = (
            ("doc_id", "string"),
            ("tokens", "array<int>"),
            ("n_tok", "int"),
            ("source", "string"),
        ),
        dry_run: bool = True,
    ):
        if merge_mode not in _MERGE_MODE_PROP:
            raise ValueError(f"merge_mode must be cow|mor, got {merge_mode!r}")
        self._spark = spark
        self.identifier = identifier
        self.key_column = key_column
        self.num_buckets = num_buckets
        self.merge_mode = merge_mode
        self._columns = list(columns)
        self.dry_run = dry_run
        #: every statement this adapter rendered, in issue order
        self.statements: list[str] = []

    # -- statement plumbing ---------------------------------------------------
    def _issue(self, sql: str) -> "DataFrame | None":
        self.statements.append(sql)
        if self.dry_run:
            return None
        return self._spark.sql(sql)

    def _need(self, sql: str, what: str) -> "DataFrame":
        """Issue a statement whose RESULT the engine needs to proceed."""
        res = self._issue(sql)
        if res is None:
            raise IcebergUnavailable(
                f"{what} requires a live Iceberg catalog; would run:\n{sql}"
            )
        return res

    @property
    def catalog(self) -> str:
        return self.identifier.split(".", 1)[0]

    # -- identity / layout ----------------------------------------------------
    @property
    def spark(self) -> "SparkSession":
        return self._spark

    def column_names(self) -> list[str]:
        return [name for name, _ in self._columns]

    def bucket_expr(self, col: str | None = None) -> "Column":
        """Iceberg's public bucket-transform UDF: engine-side
        pre-partitioning on ``system.bucket(N, key)`` lines up rows with
        the table's ``bucket(N, key)`` partition spec so the MERGE write
        needs no second exchange. (Column construction is lazy — only
        *executing* it needs the jar, so the engine can build its plans
        identically in both modes.)"""
        c = col or self.key_column
        return F.expr(f"{self.catalog}.system.bucket({self.num_buckets}, {c})")

    # -- DDL --------------------------------------------------------------------
    def create_ddl(self) -> str:
        cols = ",\n  ".join(f"{n} {t.upper()}" for n, t in self._columns)
        return (
            f"CREATE TABLE {self.identifier} (\n  {cols}\n)\n"
            f"USING iceberg\n"
            f"PARTITIONED BY (bucket({self.num_buckets}, {self.key_column}))\n"
            f"TBLPROPERTIES (\n"
            f"  'format-version' = '2',\n"
            f"  'write.merge.mode' = '{_MERGE_MODE_PROP[self.merge_mode]}',\n"
            f"  'write.update.mode' = '{_MERGE_MODE_PROP[self.merge_mode]}',\n"
            f"  'write.delete.mode' = '{_MERGE_MODE_PROP[self.merge_mode]}',\n"
            f"  'write.distribution-mode' = 'hash',\n"
            f"  'cdc.key-column' = '{self.key_column}'\n"
            f")"
        )

    def create(self) -> "IcebergAdapter":
        self._issue(self.create_ddl())
        return self

    # -- transaction log --------------------------------------------------------
    def checkpoint(self) -> dict[int, int]:
        """Per-partition applied offsets from the newest snapshot in the
        current lineage that carries ``cdc.offsets`` — the engine wrote
        them there at commit time, so MERGE + checkpoint are one atomic
        unit (what the reference's side files, ``OutputHelper.scala:62-73``,
        cannot give). Maintenance snapshots (``rewrite_data_files``,
        ``rewrite_position_delete_files``) carry no offsets and are
        skipped, so resume never falls back to seq 0 after them."""
        for snap in reversed(self.snapshots()):
            if "cdc.offsets" in snap.summary:
                return snap.checkpoint
        return {}

    def snapshots_sql(self) -> str:
        """The current table lineage in commit order: ``.history`` marks
        the snapshots that are ancestors of the current one (rolled-back
        branches are not) and orders them by when each became current."""
        return (
            f"SELECT s.snapshot_id, s.parent_id, s.operation, s.summary\n"
            f"FROM {self.identifier}.history h\n"
            f"JOIN {self.identifier}.snapshots s ON h.snapshot_id = s.snapshot_id\n"
            f"WHERE h.is_current_ancestor\n"
            f"ORDER BY h.made_current_at"
        )

    def snapshots(self) -> list["Snapshot"]:
        """The current lineage's snapshots with the engine's summary
        properties parsed. ``last_batch_id`` is the commit's carried-forward
        ``cdc.last-batch-id``, or the highest id seen so far in the log for
        snapshots the engine did not write (maintenance procedures)."""
        from ingestion3_spark.lakehouse.table import Snapshot

        def opt_int(v):
            return None if v is None else int(v)

        rows = self._need(self.snapshots_sql(), "snapshot log read").collect()
        out, last = [], None
        for r in rows:
            summary = dict(r["summary"] or {})
            batch_id = opt_int(summary.get("cdc.batch-id"))
            ids = [i for i in (last, batch_id, opt_int(summary.get("cdc.last-batch-id")))
                   if i is not None]
            last = max(ids, default=None)
            out.append(Snapshot(
                snapshot_id=r["snapshot_id"], parent_id=r["parent_id"],
                operation=r["operation"], manifest_path="",
                summary=summary,
                checkpoint={
                    int(k): int(v)
                    for k, v in json.loads(summary.get("cdc.offsets", "{}")).items()
                },
                batch_id=batch_id,
                lineage=json.loads(summary.get("cdc.lineage", "[]")),
                last_batch_id=last,
            ))
        return out

    # -- scan ---------------------------------------------------------------------
    def _scan_sql(self, select: str, snapshot_id: int | None,
                  buckets: "set[int] | None") -> str:
        version = (
            f" VERSION AS OF {snapshot_id}" if snapshot_id is not None else ""
        )
        where = ""
        if buckets is not None:
            in_list = ", ".join(str(b) for b in sorted(buckets))
            # partition-transform predicate: Iceberg prunes manifests to
            # exactly these bucket partitions — the scan never opens other
            # buckets' files (the engine's touched-bucket pruning)
            where = (
                f"\nWHERE {self.catalog}.system.bucket("
                f"{self.num_buckets}, {self.key_column}) IN ({in_list})"
            )
        return f"SELECT {select} FROM {self.identifier}{version}{where}"

    def read(
        self,
        snapshot_id: int | None = None,
        buckets: "set[int] | None" = None,
    ) -> "DataFrame":
        """Snapshot scan (time travel via ``VERSION AS OF``); MOR deltas
        apply through Iceberg's own positional/equality-delete read path,
        the scan-time step LakeTable's ``_scan`` anti-join mirrors."""
        return self._need(
            self._scan_sql("*", snapshot_id, buckets), "table scan"
        )

    def live_keys(self, buckets: "set[int] | None" = None) -> "DataFrame":
        # key-only projection: column pruning reaches the parquet footers,
        # token arrays never decode (the merge's insert-vs-update classify)
        return self._need(
            self._scan_sql(self.key_column, None, buckets), "key scan"
        )

    def live_files_sql(self) -> str:
        return (
            f"SELECT file_path, partition.{self.key_column}_bucket AS bucket,\n"
            f"       record_count, content\n"
            f"FROM {self.identifier}.files"
        )

    def live_files(self, snapshot_id: int | None = None) -> list["FileEntry"]:
        from ingestion3_spark.lakehouse.table import FileEntry

        rows = self._need(self.live_files_sql(), "files metadata read").collect()
        return [
            FileEntry(
                path=r["file_path"], bucket=int(r["bucket"]),
                rows=int(r["record_count"]), schema_version=0,
                batch_dir=posixpath.dirname(r["file_path"]),
                # Iceberg content codes: 0=data, 1=position deletes,
                # 2=equality deletes — both delete kinds are delta layers
                kind="base" if r["content"] == 0 else "delta",
            )
            for r in rows
        ]

    # -- write + atomic commit -------------------------------------------------
    def merge_into_sql(self, source_view: str = "changes") -> str:
        """The whole upsert as ONE statement — all three WHEN branches:

        * matched delete  -> DELETE (valid delete of a live key)
        * matched upsert  -> UPDATE SET * (last-event-wins replacement)
        * unmatched non-delete -> INSERT * (new key; a delete aimed at a
          key that is not live matches NO branch and is a no-op here —
          the engine classifies it as an invalid delete in lineage
          BEFORE the merge, same as ``cdc/merge.py``)

        Precondition (Iceberg enforces it with a runtime error, the
        engine guarantees it): at most one source row per target key —
        winner selection ran upstream.
        """
        t, s = "t", "s"
        set_cols = ", ".join(
            f"{t}.{n} = {s}.{n}" for n, _ in self._columns if n != self.key_column
        )
        ins_cols = ", ".join(n for n, _ in self._columns)
        ins_vals = ", ".join(f"{s}.{n}" for n, _ in self._columns)
        return (
            f"MERGE INTO {self.identifier} {t}\n"
            f"USING {source_view} {s}\n"
            f"ON {t}.{self.key_column} = {s}.{self.key_column}\n"
            f"WHEN MATCHED AND {s}.op = 'delete' THEN DELETE\n"
            f"WHEN MATCHED THEN UPDATE SET {set_cols}\n"
            f"WHEN NOT MATCHED AND {s}.op != 'delete'\n"
            f"  THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        )

    def write_files(self, df: "DataFrame", **kwargs) -> list["FileEntry"]:
        """Not a separate step on Iceberg: the MERGE writes the files.
        Kept for Protocol completeness; the engine's Iceberg path calls
        :meth:`commit` with the change batch directly."""
        raise IcebergUnavailable(
            "IcebergAdapter folds write_files into the atomic MERGE INTO "
            "(see merge_into_sql); register the change batch as a temp view "
            "and call commit(...)"
        )

    def write_delta_files(self, df: "DataFrame", **kwargs) -> list["FileEntry"]:
        """Same collapse as write_files: with write.merge.mode =
        merge-on-read the SAME MERGE INTO writes equality/position delete
        files + new data files instead of rewriting touched data files."""
        raise IcebergUnavailable(
            "MOR delta writes are the same MERGE INTO under "
            "write.merge.mode=merge-on-read; call commit(...)"
        )

    def commit_properties(
        self,
        checkpoint: dict[int, int] | None = None,
        batch_id: int | None = None,
        lineage: list | None = None,
        last_batch_id: int | None = None,
    ) -> dict[str, str]:
        """Snapshot summary properties carrying the engine's exactly-once
        state — attached to the SAME snapshot the MERGE creates.
        ``cdc.last-batch-id`` carries the highest batch id committed so far
        forward (``last_batch_id`` is the previous snapshot's), so snapshot
        expiry never hands an id out again."""
        props = {}
        if checkpoint is not None:
            props["cdc.offsets"] = json.dumps(
                {str(k): int(v) for k, v in checkpoint.items()}, sort_keys=True
            )
        if batch_id is not None:
            props["cdc.batch-id"] = str(batch_id)
        ids = [i for i in (batch_id, last_batch_id) if i is not None]
        if ids:
            props["cdc.last-batch-id"] = str(max(ids))
        if lineage is not None:
            props["cdc.lineage"] = json.dumps(lineage, sort_keys=True)
        return props

    def commit(self, operation: str, source_view: str = "changes",
               **kwargs) -> "Snapshot":
        """One atomic MERGE with summary properties.

        In a JVM deployment the property attachment is::

            org.apache.iceberg.spark.CommitMetadata.withCommitProperties(
                props, () -> spark.sql(mergeSql), RuntimeException.class)

        — a Java-API wrapper, not SQL, so dry-run records the MERGE text
        plus a comment line carrying the rendered property map.
        """
        # dry-run cannot read the log, so it carries no earlier id forward
        snaps = [] if self.dry_run else self.snapshots()
        props = self.commit_properties(
            checkpoint=kwargs.get("checkpoint"),
            batch_id=kwargs.get("batch_id"),
            lineage=kwargs.get("lineage"),
            last_batch_id=snaps[-1].last_batch_id if snaps else None,
        )
        sql = self.merge_into_sql(source_view)
        self.statements.append(
            f"-- CommitMetadata.withCommitProperties({json.dumps(props, sort_keys=True)})\n{sql}"
        )
        if self.dry_run:
            raise IcebergUnavailable(
                f"MERGE commit requires a live Iceberg catalog; would run:\n{sql}"
            )
        self._spark.sql(sql)  # pragma: no cover - needs iceberg jar
        return self.snapshots()[-1]  # pragma: no cover

    # -- schema evolution (metadata-only transactions) ---------------------------
    def add_column(self, name: str, type_: str) -> None:
        self._columns.append((name, type_))
        self._issue(
            f"ALTER TABLE {self.identifier} ADD COLUMN {name} {type_.upper()}"
        )

    def rename_column(self, old: str, new: str) -> None:
        self._columns = [
            (new if n == old else n, t) for n, t in self._columns
        ]
        self._issue(
            f"ALTER TABLE {self.identifier} RENAME COLUMN {old} TO {new}"
        )

    def widen_column(self, name: str, new_type: str) -> None:
        self._columns = [
            (n, new_type if n == name else t) for n, t in self._columns
        ]
        self._issue(
            f"ALTER TABLE {self.identifier} ALTER COLUMN {name} "
            f"TYPE {new_type.upper()}"
        )

    # -- maintenance ---------------------------------------------------------------
    def compact(self, min_files: int = 2) -> int:
        """Major compaction: bin-pack every bucket's data files."""
        self._issue(
            f"CALL {self.catalog}.system.rewrite_data_files(\n"
            f"  table => '{self.identifier}',\n"
            f"  options => map('min-input-files', '{min_files}')\n)"
        )
        return 0

    def compact_deltas(self, min_layers: int = 2) -> int:
        """Minor compaction: fold the delete-file (delta) stack WITHOUT
        rewriting data files — bounds MOR read amplification between
        majors, exactly LakeTable.compact_deltas' contract."""
        self._issue(
            f"CALL {self.catalog}.system.rewrite_position_delete_files(\n"
            f"  table => '{self.identifier}',\n"
            f"  options => map('min-input-files', '{min_layers}')\n)"
        )
        return 0

    def expire_snapshots(self, keep_last: int = 2) -> None:
        self._issue(
            f"CALL {self.catalog}.system.expire_snapshots(\n"
            f"  table => '{self.identifier}', retain_last => {keep_last}\n)"
        )
