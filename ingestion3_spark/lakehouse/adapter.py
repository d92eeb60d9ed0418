"""Table-adapter seam: the contract the CDC engine requires of its table.

``ReplayEngine`` / ``cdc.merge`` never depend on LakeTable internals — only
on the operations below. This Protocol makes that seam explicit so the
engine can bind to a REAL lakehouse table (Apache Iceberg via a Spark
catalog) by implementing one small adapter, with the sandbox's
``LakeTable`` (lakehouse/table.py) as the jar-less reference
implementation. ``tests/test_lakehouse.py`` asserts LakeTable satisfies
the Protocol.

Iceberg binding, per member (how each call maps onto a real Iceberg
catalog — the cluster deployment this sandbox cannot run, no Iceberg jar):

========================  ====================================================
Member                    Iceberg binding
========================  ====================================================
``create``/``load``       ``CREATE TABLE ... USING iceberg PARTITIONED BY
                          (bucket(N, doc_id))`` / catalog ``loadTable``;
                          ``merge_mode`` -> table property
                          ``write.merge.mode = copy-on-write|merge-on-read``.
``spark``                 the bound SparkSession — an Iceberg adapter holds
                          the session whose catalog the table is registered
                          on (used only as a fallback to build tiny
                          driver-side frames, e.g. the lineage report).
``key_column``            table property (e.g. ``cdc.key-column``); Iceberg
``merge_mode``            ``write.merge.mode``; ``num_buckets`` from the
``num_buckets``           partition spec's bucket transform.
``column_names``          ``table.schema()`` field names (field-id based,
                          exactly like LakeTable's Field.id mapping).
``bucket_expr``           ``system.bucket(N, key)`` — Iceberg's public
                          bucket transform UDF — so engine-side
                          pre-partitioning lines up with the table's layout
                          and the write needs no extra exchange.
``checkpoint``            snapshot summary properties: the engine embeds
                          per-partition applied offsets in each commit's
                          summary (``snapshot.summary()['cdc.offsets']``);
                          read back from the current snapshot. This is the
                          exactly-once join of MERGE + checkpoint that side
                          files (reference ``OutputHelper.scala:62-73``)
                          cannot give.
``snapshots``             ``table.snapshots()`` / the ``.snapshots``
                          metadata table (batch lineage = summary props).
``read``                  snapshot scan: ``spark.read.format('iceberg')
                          .option('snapshot-id', ...)``; bucket pruning via
                          a ``system.bucket`` predicate; MOR deltas apply
                          through Iceberg's own positional/equality-delete
                          read path, the scan-time step LakeTable's
                          broadcast anti-join (``_scan``) mirrors.
``live_keys``             the same snapshot scan projected to the key
                          column only (column pruning reaches the parquet
                          footer, token arrays never decode) — used by the
                          merge's insert-vs-update classification.
``live_files``            the ``.files`` metadata table (per-file bucket /
                          row-count / content kind); used for bucket-level
                          pruning decisions and lineage row counts.
``write_delta_files``     the MOR half of MERGE: Iceberg writes equality/
                          position delete files + new data files instead of
                          rewriting touched data files — the engine's
                          explicit delta layer maps onto that path.
``write_files``+``commit``  a single ``MERGE INTO t USING changes ON
                          t.key = changes.key WHEN MATCHED [AND op =
                          'delete'] THEN DELETE / UPDATE SET * WHEN NOT
                          MATCHED THEN INSERT *`` — Iceberg plans the
                          touched-file rewrite (COW) or delete-file append
                          (MOR) itself; the engine's two-step
                          write-then-commit collapses into the one atomic
                          MERGE, with offsets/lineage attached via
                          ``snapshot summary`` properties (CommitMetadata).
``add_column``            ``ALTER TABLE t ADD COLUMN`` /
``rename_column``         ``RENAME COLUMN`` / ``ALTER COLUMN TYPE`` —
``widen_column``          Iceberg metadata-only transactions with the same
                          field-id semantics LakeTable implements.
``compact``               ``CALL system.rewrite_data_files(t)`` (plus
                          ``rewrite_position_delete_files`` for MOR).
``compact_deltas``        ``CALL system.rewrite_position_delete_files(t)``
                          alone — minor compaction: fold the delta/delete
                          stack without rewriting data files, bounding MOR
                          read amplification between full rewrites.
``expire_snapshots``      ``CALL system.expire_snapshots(t, retain_last =>
                          K)`` — retention cadence bounding the metadata
                          walk at O(K); at 10^10 events a replay is
                          thousands of commits, and unbounded snapshot
                          retention makes every publish O(history).
========================  ====================================================

Reference provenance: the contract replaces the reference's non-atomic
full-rewrite merge + side-file manifests (``utils/NaraMergeUtil.scala:
131,181``, ``dataStorage/OutputHelper.scala:47-73``).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Protocol, runtime_checkable

if TYPE_CHECKING:
    from pyspark.sql import Column, DataFrame, SparkSession

    from ingestion3_spark.lakehouse.table import FileEntry, Snapshot


@runtime_checkable
class TableAdapter(Protocol):
    """What the CDC engine needs from a table (see module doc for the
    Iceberg binding of each member)."""

    # --- identity / layout -------------------------------------------------
    @property
    def spark(self) -> "SparkSession": ...

    @property
    def key_column(self) -> str: ...

    @property
    def merge_mode(self) -> str: ...

    @property
    def num_buckets(self) -> int: ...

    def column_names(self) -> list[str]: ...

    def bucket_expr(self, col: str | None = None) -> "Column": ...

    # --- transaction log ---------------------------------------------------
    def checkpoint(self) -> dict[int, int]: ...

    def snapshots(self) -> list["Snapshot"]: ...

    # --- scan --------------------------------------------------------------
    def read(
        self,
        snapshot_id: int | None = None,
        buckets: set[int] | None = None,
    ) -> "DataFrame": ...

    def live_keys(self, buckets: set[int] | None = None) -> "DataFrame": ...

    def live_files(
        self, snapshot_id: int | None = None
    ) -> list["FileEntry"]: ...

    # --- write + atomic commit ----------------------------------------------
    def write_files(self, df: "DataFrame", **kwargs) -> list["FileEntry"]: ...

    def write_delta_files(
        self, df: "DataFrame", **kwargs
    ) -> list["FileEntry"]: ...

    def commit(self, operation: str, **kwargs) -> "Snapshot": ...

    # --- schema evolution (metadata-only transactions) -----------------------
    def add_column(self, name: str, type_: str) -> None: ...

    def rename_column(self, old: str, new: str) -> None: ...

    def widen_column(self, name: str, new_type: str) -> None: ...

    # --- maintenance ---------------------------------------------------------
    def compact(self, min_files: int = 2) -> int: ...

    def compact_deltas(self, min_layers: int = 2) -> int: ...

    def expire_snapshots(self, keep_last: int = 2) -> None: ...
