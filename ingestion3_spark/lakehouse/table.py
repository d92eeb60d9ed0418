"""Iceberg-style snapshot table over parquet ("LakeTable").

The target environment has no Iceberg runtime jar, so the engine ships its
own minimal Iceberg-like table format with the four properties the CDC
engine needs (SURVEY.md §7.1):

* **atomic snapshot commits** — data files are written first, then a new
  metadata version is published with a single atomic ``os.replace`` of the
  ``_current`` pointer. A crash mid-merge leaves the previous snapshot
  intact (replaces the reference's full-output ``SaveMode.Overwrite``
  strategy, ``utils/NaraMergeUtil.scala:131,181``).
* **exactly-once checkpointing** — per-partition applied offsets and
  lineage/metrics rows are embedded in the snapshot commit itself, so the
  MERGE, the checkpoint, and the ops-log land in ONE atomic transaction
  (the reference's ``_MANIFEST``/``_SUMMARY`` side files,
  ``dataStorage/OutputHelper.scala:62-73``, are not transactional).
* **bucket partitioning + file pruning** — data is laid out as
  ``bucket(num_buckets, doc_id)`` directories; a MERGE only reads and
  rewrites the buckets its delta touches (copy-on-write at bucket/file
  granularity). The manifest carries per-file row counts and bucket ids.
* **schema evolution by field-id** — add / rename / widen are metadata
  transactions; old data files are mapped to the current schema on read
  (rename via field-id indirection, widen via cast, add via null fill) —
  the engine's replacement for the reference's retcon remapping
  (``mappers/providers/JsonRetconMapping.scala:30-100``).

On a real cluster the same engine API binds to actual Iceberg
(``MERGE INTO`` + ``ALTER TABLE``); this module is the sandbox/local
implementation of the contract. Scale notes: snapshots store file lists in
per-snapshot manifest JSONs (not inline in table metadata), and reads use
explicit file lists grouped by write-batch so Spark's parquet reader sees
one listing per batch directory with partition-column (``__bucket``)
pruning.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from concurrent import futures
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ingestion3_spark.cdc import dedup as dd
from ingestion3_spark.session import local_frame

FORMAT_VERSION = 1

# Narrow key sets up to this many rows are broadcast; larger ones take a
# shuffle join. The one limit for the engine: the replay's winner set
# (cdc/replay.py) and the MOR read's delta key set (``_scan``).
BROADCAST_WINNERS_MAX = 10_000_000

# the change envelope that delta files carry next to the payload columns
_SYS_TYPES = {"__op": "string", "__seq": "bigint", "__part": "int"}
_SYS = tuple(_SYS_TYPES)

# type widening lattice (Iceberg-compatible promotions)
_WIDEN_OK = {
    ("int", "bigint"),
    ("float", "double"),
    ("array<int>", "array<bigint>"),
}


@dataclass
class Field:
    id: int
    name: str
    type: str  # spark sql ddl type string, e.g. "string", "array<int>"

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type}

    @staticmethod
    def from_json(d: dict) -> "Field":
        return Field(d["id"], d["name"], d["type"])


@dataclass
class FileEntry:
    path: str  # relative to table root
    bucket: int
    rows: int
    schema_version: int
    batch_dir: str  # relative dir the file was written under
    kind: str = "base"  # base = fully-merged rows | delta = MOR row-level changes

    def to_json(self) -> dict:
        return {
            "path": self.path,
            "bucket": self.bucket,
            "rows": self.rows,
            "schema_version": self.schema_version,
            "batch_dir": self.batch_dir,
            "kind": self.kind,
        }

    @staticmethod
    def from_json(d: dict) -> "FileEntry":
        return FileEntry(d["path"], d["bucket"], d["rows"], d["schema_version"],
                         d["batch_dir"], d.get("kind", "base"))


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str  # append | merge | delete | replace | evolve-schema
    manifest_path: str  # relative path of the manifest json listing live files
    summary: dict = field(default_factory=dict)
    checkpoint: dict = field(default_factory=dict)  # {part(str): applied_seq(int)}
    batch_id: int | None = None
    lineage: list = field(default_factory=list)  # list of per-part metric dicts
    # the highest batch id committed so far, carried forward like the
    # checkpoint so that snapshot expiry never hands out an id again
    last_batch_id: int | None = None

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "operation": self.operation,
            "manifest_path": self.manifest_path,
            "summary": self.summary,
            "checkpoint": self.checkpoint,
            "batch_id": self.batch_id,
            "lineage": self.lineage,
            "last_batch_id": self.last_batch_id,
        }

    @staticmethod
    def from_json(d: dict) -> "Snapshot":
        return Snapshot(
            d["snapshot_id"], d["parent_id"], d["operation"], d["manifest_path"],
            d.get("summary", {}), d.get("checkpoint", {}), d.get("batch_id"),
            d.get("lineage", []), d.get("last_batch_id", d.get("batch_id")),
        )


def _atomic_write(path: str, text: str) -> None:
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class CommitConflict(RuntimeError):
    """Another writer advanced the table between our read and our commit."""


class LakeTable:
    """A snapshot-isolated, bucket-partitioned parquet table."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.meta_dir = os.path.join(self.path, "metadata")
        self.data_dir = os.path.join(self.path, "data")
        self._meta: dict = {}
        self._load_meta()

    # ---------------------------------------------------------------- create
    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: list[Field],
        num_buckets: int = 16,
        key_column: str = "doc_id",
        merge_mode: str = "cow",
    ) -> "LakeTable":
        if merge_mode not in ("cow", "mor"):
            raise ValueError(f"merge_mode must be 'cow' or 'mor', got {merge_mode!r}")
        path = os.path.abspath(path)
        meta_dir = os.path.join(path, "metadata")
        if os.path.exists(os.path.join(meta_dir, "_current")):
            raise FileExistsError(f"table already exists at {path}")
        os.makedirs(meta_dir, exist_ok=True)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        meta = {
            "format_version": FORMAT_VERSION,
            "table_uuid": uuid.uuid4().hex,
            "key_column": key_column,
            "num_buckets": num_buckets,
            "schema_version": 1,
            # field-id based schemas; per-version physical name/type mapping
            "schemas": {"1": [f.to_json() for f in schema]},
            "current_snapshot_id": None,
            "snapshots": [],
            "version": 1,
            "last_field_id": max(f.id for f in schema),
            # cow: merges rewrite touched buckets in place (read = plain scan)
            # mor: merges append row-level delta files (read = reconcile by
            #      last (seq, part) per key; compact() folds deltas to base)
            "merge_mode": merge_mode,
        }
        _atomic_write(os.path.join(meta_dir, "v1.metadata.json"), json.dumps(meta, indent=1))
        _atomic_write(os.path.join(meta_dir, "_current"), "v1.metadata.json")
        return LakeTable(spark, path)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "LakeTable":
        return LakeTable(spark, path)

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), "metadata", "_current"))

    def _load_meta(self) -> None:
        with open(os.path.join(self.meta_dir, "_current")) as f:
            current = f.read().strip()
        with open(os.path.join(self.meta_dir, current)) as f:
            self._meta = json.load(f)
        self._current_file = current

    # ------------------------------------------------------------ properties
    @property
    def metadata_location(self) -> str:
        """Path of the metadata JSON this handle last loaded or published
        (Iceberg's ``metadata_location``)."""
        return os.path.join(self.meta_dir, self._current_file)

    @property
    def key_column(self) -> str:
        return self._meta["key_column"]

    @property
    def merge_mode(self) -> str:
        return self._meta.get("merge_mode", "cow")

    @property
    def num_buckets(self) -> int:
        return self._meta["num_buckets"]

    @property
    def schema_version(self) -> int:
        return self._meta["schema_version"]

    def fields(self, version: int | None = None) -> list[Field]:
        v = str(version or self.schema_version)
        return [Field.from_json(d) for d in self._meta["schemas"][v]]

    def column_names(self) -> list[str]:
        return [f.name for f in self.fields()]

    @property
    def current_snapshot(self) -> Snapshot | None:
        sid = self._meta["current_snapshot_id"]
        if sid is None:
            return None
        for s in self._meta["snapshots"]:
            if s["snapshot_id"] == sid:
                return Snapshot.from_json(s)
        raise RuntimeError(f"current snapshot {sid} missing from log")

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot.from_json(s) for s in self._meta["snapshots"]]

    def checkpoint(self) -> dict[int, int]:
        """Per-part applied sequence numbers as of the current snapshot."""
        snap = self.current_snapshot
        if snap is None:
            return {}
        return {int(k): int(v) for k, v in snap.checkpoint.items()}

    def live_files(self, snapshot_id: int | None = None) -> list[FileEntry]:
        snap = self.current_snapshot if snapshot_id is None else next(
            s for s in self.snapshots() if s.snapshot_id == snapshot_id
        )
        if snap is None:
            return []
        with open(os.path.join(self.path, snap.manifest_path)) as f:
            return [FileEntry.from_json(d) for d in json.load(f)["files"]]

    # ---------------------------------------------------------------- bucket
    def bucket_expr(self, col: str | None = None):
        """Deterministic bucket id for a key value: pmod(xxhash64(key), N).

        The same expression partitions both the table layout and every
        merge shuffle, so delta and base co-locate without extra exchange.
        """
        c = F.col(col or self.key_column)
        return F.pmod(F.xxhash64(c.cast("string")), F.lit(self.num_buckets)).cast("int")

    # ----------------------------------------------------------------- write
    def write_files(self, df: DataFrame, key_partitioned: bool = False) -> list[FileEntry]:
        """Write df (current-schema columns) as bucket-partitioned parquet.

        Returns manifest entries; does NOT commit. Default: the df is
        repartitioned by bucket so each shuffle partition writes exactly
        one bucket dir (one file per bucket). ``key_partitioned=True`` is
        the fanout-writer path (Iceberg's fanout write analog): the caller
        guarantees the df is already exchange-partitioned on the key or on
        ``__bucket`` itself (the replay's per-key dedup output), so the
        co-locating repartition is SKIPPED and each task writes the bucket
        dirs its keys hash into — one less full materialization of the wide
        payload in the merge's critical path, at the cost of up-to
        tasks-per-bucket files (bounded by compact()).
        """
        return self._write(df, (), "batch", "base", key_partitioned)

    def write_delta_files(self, df: DataFrame, key_partitioned: bool = False) -> list[FileEntry]:
        """MOR: write row-level changes (upserts + delete tombstones) as
        bucket-partitioned delta files; does NOT rewrite any base file.

        ``df`` carries the payload columns plus the change envelope
        ``(op, seq, part)``; these persist in the files as ``__op/__seq/
        __part`` — the reconciling read resolves each key to its
        max-(__seq, __part) row and drops deletes. Write volume is O(delta),
        vs O(touched buckets) for COW — the only viable shape when a batch's
        keys spray across every bucket of a 10^10-row table.
        """
        return self._write(df, _SYS, "delta", "delta", key_partitioned)

    def _write(
        self, df: DataFrame, envelope: tuple[str, ...], prefix: str, kind: str,
        key_partitioned: bool,
    ) -> list[FileEntry]:
        """The one writer body: cast to the declared schema (feeds written
        before a widen, e.g. int n_tok into a bigint column, land with the
        table's type), add the ``envelope`` columns from their unprefixed
        names, write under a fresh ``data/<prefix>-*`` dir partitioned by
        ``__bucket`` and return the written files' manifest entries."""
        sv = self.schema_version
        cols = [F.col(f.name).cast(f.type).alias(f.name) for f in self.fields(sv)]
        cols += [F.col(c[2:]).cast(_SYS_TYPES[c]).alias(c) for c in envelope]
        batch_rel = os.path.join("data", f"{prefix}-{uuid.uuid4().hex[:12]}")
        out_dir = os.path.join(self.path, batch_rel)
        out = df.select(*cols, self.bucket_expr().alias("__bucket"))
        if not key_partitioned:
            out = out.repartition("__bucket")
        out.write.partitionBy("__bucket").mode("error").parquet(out_dir)
        paths: list[str] = []
        for root, _dirs, files in os.walk(out_dir):
            paths.extend(
                os.path.join(root, fn) for fn in files if fn.endswith(".parquet")
            )

        # footer reads release the GIL (pyarrow IO); a fanout write can
        # leave O(tasks x buckets) files, so serial driver-side metadata
        # reads would be Amdahl time — parallelize them
        def entry(full: str) -> FileEntry:
            rel = os.path.relpath(full, self.path)
            bucket_part = [p for p in rel.split(os.sep) if p.startswith("__bucket=")]
            bucket = int(bucket_part[0].split("=")[1]) if bucket_part else -1
            rows = pq.read_metadata(full).num_rows
            return FileEntry(rel, bucket, rows, sv, batch_rel, kind)

        if len(paths) <= 4:
            return [entry(p) for p in paths]
        with futures.ThreadPoolExecutor(max_workers=16) as pool:
            return list(pool.map(entry, paths))

    # ---------------------------------------------------------------- commit
    def commit(
        self,
        operation: str,
        add_files: list[FileEntry] | None = None,
        remove_paths: set[str] | None = None,
        checkpoint: dict[int, int] | None = None,
        batch_id: int | None = None,
        lineage: list[dict] | None = None,
        summary: dict | None = None,
        meta_update: dict | None = None,
    ) -> Snapshot:
        """Publish a new snapshot atomically (optimistic, single pointer swap).

        ``meta_update`` lands table-metadata changes (a schema version) in
        the same metadata version as the snapshot."""
        prev = self.current_snapshot
        live = {e.path: e for e in (self.live_files() if prev else [])}
        for p in remove_paths or set():
            live.pop(p, None)
        for e in add_files or []:
            live[e.path] = e
        sid = (prev.snapshot_id + 1) if prev else 1
        manifest_rel = os.path.join("metadata", f"snap-{sid}-{uuid.uuid4().hex[:8]}.json")
        _atomic_write(
            os.path.join(self.path, manifest_rel),
            json.dumps({"files": [e.to_json() for e in live.values()]}),
        )
        # carry forward the checkpoint, merging in any new offsets
        ckpt = dict(prev.checkpoint) if prev else {}
        for k, v in (checkpoint or {}).items():
            ckpt[str(k)] = int(v)
        ids = [i for i in (batch_id, prev.last_batch_id if prev else None) if i is not None]
        snap = Snapshot(
            snapshot_id=sid,
            parent_id=prev.snapshot_id if prev else None,
            operation=operation,
            manifest_path=manifest_rel,
            summary=summary or {},
            checkpoint=ckpt,
            batch_id=batch_id,
            lineage=lineage or [],
            last_batch_id=max(ids, default=None),
        )
        new_meta = {**self._meta, **(meta_update or {})}
        new_meta["snapshots"] = self._meta["snapshots"] + [snap.to_json()]
        new_meta["current_snapshot_id"] = sid
        new_meta["version"] = self._meta["version"] + 1
        self._publish(new_meta)
        return snap

    def _publish(self, new_meta: dict) -> None:
        """Optimistic-concurrency publish: re-check the pointer, then swap."""
        with open(os.path.join(self.meta_dir, "_current")) as f:
            if f.read().strip() != self._current_file:
                raise CommitConflict(f"table {self.path} advanced concurrently")
        fname = f"v{new_meta['version']}.metadata.json"
        _atomic_write(os.path.join(self.meta_dir, fname), json.dumps(new_meta, indent=1))
        _atomic_write(os.path.join(self.meta_dir, "_current"), fname)
        self._meta = new_meta
        self._current_file = fname

    # ------------------------------------------------------------------ read
    def read(
        self,
        buckets: set[int] | None = None,
        snapshot_id: int | None = None,
        with_bucket_col: bool = False,
    ) -> DataFrame:
        """Read live data mapped to the current schema.

        ``buckets`` prunes at the manifest level (only matching files are
        listed) AND via the ``__bucket`` partition column, so a merge that
        touches 3 of 1024 buckets reads 3/1024ths of the data. MOR tables
        apply their delta layer at scan time (see ``_scan``).
        """
        cols = self.column_names() + (["__bucket"] if with_bucket_col else [])
        return self._scan(cols, buckets, snapshot_id)

    def live_keys(self, buckets: set[int] | None = None) -> DataFrame:
        """Live key set (one column): the read's plan on the narrow
        columns, so token arrays are never decoded and the merge's
        insert-vs-update classification stays cheap even with delta layers
        present."""
        return self._scan([self.key_column], buckets)

    def _scan(
        self, cols: list[str], buckets: set[int] | None = None, snapshot_id: int | None = None
    ) -> DataFrame:
        """Live rows projected to ``cols``.

        MOR applies the delta layer the way Iceberg applies equality
        deletes: base rows whose key any delta row names are dropped by a
        left-anti join against the NARROW delta key set, and the latest
        delta row per key (``_latest_deltas``) is added back unless it is
        a delete. Base files hold one row per key (written by the load or
        by compaction), so the base side is map-only: the table is never
        shuffled to read it. The delta key set is broadcast when the
        manifest's delta row count fits ``BROADCAST_WINNERS_MAX``, else
        the anti-join shuffles.
        """
        files = self.live_files(snapshot_id)
        if buckets is not None:
            files = [e for e in files if e.bucket in buckets]
        if not files:
            types = {f.name: f.type for f in self.fields()} | {"__bucket": "int"}
            return local_frame(self.spark, [], ", ".join(f"`{c}` {types[c]}" for c in cols))
        key = self.key_column
        base_files = [e for e in files if e.kind == "base"]
        delta_files = [e for e in files if e.kind == "delta"]
        base = self._union_scan(base_files) if base_files else None
        if not delta_files:
            return base.select(*cols)
        live = (
            self._latest_deltas(delta_files, key_only=cols == [key])
            .filter(F.col("__op") != "delete")
            .select(*cols)
        )
        if base is None:
            return live
        # the raw scan's keys: a map-only build side (duplicates are harmless
        # to an anti-join), where the winners' keys would need a shuffle
        delta_keys = self._union_scan(delta_files).select(key)
        bcast = sum(e.rows for e in delta_files) <= BROADCAST_WINNERS_MAX
        return (
            base.join(F.broadcast(delta_keys) if bcast else delta_keys, key, "left_anti")
            .select(*cols)
            .unionByName(live)
        )

    def _latest_deltas(self, delta_files: list[FileEntry], key_only: bool = False) -> DataFrame:
        """The latest ``(__seq, __part)`` delta row per key with its change
        envelope ``__op/__seq/__part``, delete tombstones kept: what the
        read applies over the base and what the fold writes back.

        One delta layer (one ``write_delta_files`` call) holds one row per
        key by construction (the merge writes deduplicated changes, the
        fold one row per key) and is read as is. Two or more pick the
        winner with the replay's narrow packed-long ``max``
        (``dd.winner_keys_packed``) over the delta files only; unless only
        the keys are wanted, the winners join back to the delta rows (late
        materialization, as in ``apply_batch``), broadcast when the delta
        row count fits ``BROADCAST_WINNERS_MAX``.
        """
        key = self.key_column
        deltas = self._union_scan(delta_files, extra=_SYS)
        if len({e.batch_dir for e in delta_files}) == 1:
            return deltas.select(key, *_SYS) if key_only else deltas
        latest = dd.winner_keys_packed(
            deltas.select(key, *(F.col(c).alias(c[2:]) for c in _SYS)), key=key
        ).select(key, *(F.col(c[2:]).alias(c) for c in _SYS))
        if key_only:
            return latest
        narrow = latest.drop("__op")
        bcast = sum(e.rows for e in delta_files) <= BROADCAST_WINNERS_MAX
        return deltas.join(F.broadcast(narrow) if bcast else narrow, [key, "__seq", "__part"])

    def _union_scan(self, files: list[FileEntry], extra: tuple[str, ...] = ()) -> DataFrame:
        """Scan ``files`` mapped to the current schema, plus ``__bucket``
        and the ``extra`` delta envelope columns. One parquet listing per
        (schema version, batch dir), each given the schema the table
        already stores, so building the scan starts no inference job."""
        cur_fields = self.fields()
        groups: dict[tuple[int, str], list[FileEntry]] = {}
        for e in files:
            groups.setdefault((e.schema_version, e.batch_dir), []).append(e)
        parts: list[DataFrame] = []
        for (sv, batch_dir), entries in sorted(groups.items()):
            ddl = ", ".join(
                [f"`{f.name}` {f.type}" for f in self.fields(sv)]
                + [f"`{c}` {_SYS_TYPES[c]}" for c in extra]
                + ["`__bucket` int"]
            )
            df = (
                self.spark.read.schema(ddl)
                .option("basePath", os.path.join(self.path, batch_dir))
                .parquet(*(os.path.join(self.path, e.path) for e in entries))
            )
            parts.append(self._map_to_current(df, sv, cur_fields, extra))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _map_to_current(
        self,
        df: DataFrame,
        from_version: int,
        cur_fields: list[Field],
        extra: tuple[str, ...] = (),
    ) -> DataFrame:
        """Field-id mapping: rename, cast (widen), null-fill added columns."""
        old = {f.id: f for f in self.fields(from_version)}
        cols = []
        for f in cur_fields:
            o = old.get(f.id)
            if o is None:
                cols.append(F.lit(None).cast(f.type).alias(f.name))
            elif o.type != f.type:
                cols.append(F.col(o.name).cast(f.type).alias(f.name))
            else:
                cols.append(F.col(o.name).alias(f.name))
        cols.append(F.col("__bucket"))
        cols.extend(F.col(c) for c in extra)
        return df.select(*cols)

    # ------------------------------------------------------- schema evolution
    def add_column(self, name: str, type_: str) -> None:
        fields = self.fields()
        if any(f.name == name for f in fields):
            raise ValueError(f"column {name} already exists")
        new_id = self._meta["last_field_id"] + 1
        fields.append(Field(new_id, name, type_))
        self._evolve(fields, last_field_id=new_id, op=f"add:{name}")

    def rename_column(self, old: str, new: str) -> None:
        fields = self.fields()
        if not any(f.name == old for f in fields):
            raise ValueError(f"no column {old}")
        if any(f.name == new for f in fields):
            raise ValueError(f"column {new} already exists")
        for f in fields:
            if f.name == old:
                f.name = new
        self._evolve(fields, op=f"rename:{old}->{new}")

    def widen_column(self, name: str, new_type: str) -> None:
        fields = self.fields()
        f = next((x for x in fields if x.name == name), None)
        if f is None:
            raise ValueError(f"no column {name}")
        if f.type != new_type and (f.type, new_type) not in _WIDEN_OK:
            raise ValueError(f"illegal promotion {f.type} -> {new_type}")
        f.type = new_type
        self._evolve(fields, op=f"widen:{name}->{new_type}")

    def _evolve(self, new_fields: list[Field], last_field_id: int | None = None, op: str = "") -> None:
        # a metadata-only transaction: the new schema and its snapshot-log
        # entry publish as ONE metadata version, so a crash cannot advance
        # the schema without the log recording it
        nv = self.schema_version + 1
        update = {
            "schemas": {**self._meta["schemas"], str(nv): [f.to_json() for f in new_fields]},
            "schema_version": nv,
        }
        if last_field_id is not None:
            update["last_field_id"] = last_field_id
        self.commit(f"evolve-schema[{op}]", summary={"schema_version": nv}, meta_update=update)

    # ------------------------------------------------------------ maintenance
    def compact(self, min_files: int = 2) -> int:
        """Rewrite buckets fragmented across > min_files files into one file
        each (Iceberg rewrite_data_files analog). Merges only touch whole
        buckets so fragmentation comes from repeated appends; compaction
        keeps the per-bucket file count — and thus scan fan-out — bounded.
        Returns the number of buckets compacted."""
        by_bucket: dict[int, list[FileEntry]] = {}
        for e in self.live_files():
            by_bucket.setdefault(e.bucket, []).append(e)
        frag = {b: es for b, es in by_bucket.items() if len(es) >= min_files}
        if not frag:
            return 0
        # MOR: the read keeps the base side map-only, so the rewrite's
        # repartition("__bucket") is the one wide exchange (one file per
        # bucket)
        new_files = self.write_files(self.read(buckets=set(frag)))
        self.commit(
            "replace",
            add_files=new_files,
            remove_paths={e.path for es in frag.values() for e in es},
            summary={"compacted_buckets": len(frag)},
        )
        return len(frag)

    def compact_deltas(self, min_layers: int = 2) -> int:
        """Minor compaction: fold ALL live delta layers into ONE reconciled
        delta layer WITHOUT rewriting any base file (the Iceberg analog is
        rewriting delete/delta files, vs ``compact()``'s
        rewrite_data_files).

        Why it exists: the MOR read resolves K delta layers per key, so
        within a major-compaction window read cost grows with K
        (measured — BENCH.md "Sustained multi-batch replay": 4.5s→17.2s
        across one 8-batch window). ``compact()`` bounds K but rewrites
        every touched base bucket — O(table) at 10^10 rows. Folding is
        O(sum of deltas): the read's own resolver (``_latest_deltas``)
        picks each key's max-(__seq, __part) change within the delta stack
        only, KEEPING delete tombstones — the base still holds the masked
        row, so dropping the tombstone would resurrect it (the same rule
        as Iceberg deletes surviving until their data file is rewritten).
        The winner keeps its original (__seq, __part), so ordering against
        any future delta layer stays exact. Only the narrow packed keys
        enter the winner aggregate's shuffle; the one wide exchange is the
        write's ``repartition("__bucket")`` of the winning rows, which
        leaves one file per bucket.

        Returns the number of delta layers folded (0 = nothing to do).
        """
        delta_files = [e for e in self.live_files() if e.kind == "delta"]
        layers = {e.batch_dir for e in delta_files}
        if len(layers) < min_layers:
            return 0
        folded = self._latest_deltas(delta_files).withColumnsRenamed({c: c[2:] for c in _SYS})
        new_files = self.write_delta_files(folded)
        self.commit(
            "replace-deltas",
            add_files=new_files,
            remove_paths={e.path for e in delta_files},
            summary={"folded_layers": len(layers)},
        )
        return len(layers)

    def vacuum(self) -> int:
        """Delete data files not referenced by ANY snapshot manifest (orphans)."""
        referenced: set[str] = set()
        for snap in self.snapshots():
            with open(os.path.join(self.path, snap.manifest_path)) as f:
                for d in json.load(f)["files"]:
                    referenced.add(d["path"])
        removed = 0
        for root, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(root, fn)
                rel = os.path.relpath(full, self.path)
                if fn.endswith(".parquet") and rel not in referenced:
                    os.remove(full)
                    removed += 1
        # drop now-empty dirs
        for root, dirs, files in os.walk(self.data_dir, topdown=False):
            if root != self.data_dir and not dirs and not files:
                shutil.rmtree(root, ignore_errors=True)
        return removed

    def expire_snapshots(self, keep_last: int = 2) -> None:
        snaps = self._meta["snapshots"]
        if len(snaps) <= keep_last:
            return
        new_meta = dict(self._meta)
        new_meta["snapshots"] = snaps[-keep_last:]
        new_meta["version"] = self._meta["version"] + 1
        self._publish(new_meta)
