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
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FORMAT_VERSION = 1

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
    def write_files(
        self,
        df: DataFrame,
        schema_version: int | None = None,
        key_partitioned: bool = False,
    ) -> list[FileEntry]:
        """Write df (current-schema columns) as bucket-partitioned parquet.

        Returns manifest entries; does NOT commit. Default: the df is
        repartitioned by bucket so each shuffle partition writes exactly
        one bucket dir (one file per bucket). ``key_partitioned=True`` is
        the fanout-writer path (Iceberg's fanout write analog): the caller
        guarantees the df is already exchange-partitioned on the key or on
        ``__bucket`` itself (per-key dedup output; bucket-aligned
        reconcile), so the co-locating repartition is
        SKIPPED and each task writes the bucket dirs its keys hash into —
        one less full materialization of the wide payload in the merge's
        critical path, at the cost of up-to tasks-per-bucket files (bounded
        by compact()).
        """
        sv = schema_version or self.schema_version
        # cast to the declared schema: feeds written before a widen (e.g.
        # int n_tok into a bigint column) land with the table's type
        cols = [F.col(f.name).cast(f.type).alias(f.name) for f in self.fields(sv)]
        batch_rel = os.path.join("data", f"batch-{uuid.uuid4().hex[:12]}")
        out_dir = os.path.join(self.path, batch_rel)
        out = df.select(*cols).withColumn("__bucket", self.bucket_expr())
        if not key_partitioned:
            out = out.repartition("__bucket")
        (
            out.write.partitionBy("__bucket")
            .mode("error")
            .parquet(out_dir)
        )
        return self._scan_batch_dir(batch_rel, sv)

    def write_delta_files(
        self,
        df: DataFrame,
        schema_version: int | None = None,
        key_partitioned: bool = False,
    ) -> list[FileEntry]:
        """MOR: write row-level changes (upserts + delete tombstones) as
        bucket-partitioned delta files; does NOT rewrite any base file.

        ``df`` carries the payload columns plus the change envelope
        ``(op, seq, part)``; these persist in the files as ``__op/__seq/
        __part`` — the reconciling read resolves each key to its
        max-(__seq, __part) row and drops deletes. Write volume is O(delta),
        vs O(touched buckets) for COW — the only viable shape when a batch's
        keys spray across every bucket of a 10^10-row table.
        """
        sv = schema_version or self.schema_version
        cols = [F.col(f.name).cast(f.type).alias(f.name) for f in self.fields(sv)]
        cols += [
            F.col("op").cast("string").alias("__op"),
            F.col("seq").cast("long").alias("__seq"),
            F.col("part").cast("int").alias("__part"),
        ]
        batch_rel = os.path.join("data", f"delta-{uuid.uuid4().hex[:12]}")
        out_dir = os.path.join(self.path, batch_rel)
        out = df.select(*cols, self.bucket_expr(self.key_column).alias("__bucket"))
        if not key_partitioned:
            out = out.repartition("__bucket")
        (
            out.write.partitionBy("__bucket")
            .mode("error")
            .parquet(out_dir)
        )
        return self._scan_batch_dir(batch_rel, sv, kind="delta")

    def _scan_batch_dir(self, batch_rel: str, schema_version: int, kind: str = "base") -> list[FileEntry]:
        from concurrent import futures as _fut

        out_dir = os.path.join(self.path, batch_rel)
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
            return FileEntry(rel, bucket, rows, schema_version, batch_rel, kind)

        if len(paths) <= 4:
            return [entry(p) for p in paths]
        with _fut.ThreadPoolExecutor(max_workers=16) as pool:
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
    ) -> Snapshot:
        """Publish a new snapshot atomically (optimistic, single pointer swap)."""
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
        new_meta = dict(self._meta)
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
        bucket_aligned: bool = False,
    ) -> DataFrame:
        """Read live data mapped to the current schema.

        ``buckets`` prunes at the manifest level (only matching files are
        listed) AND via the ``__bucket`` partition column, so a merge that
        touches 3 of 1024 buckets reads 3/1024ths of the data.

        ``bucket_aligned=True`` makes the MOR reconcile exchange on
        ``__bucket`` instead of the key (see ``_reconcile``) so the output
        is physically partitioned one-bucket-per-task — callers that
        rewrite the result into the table's bucket layout (compaction)
        can then skip their own co-locating exchange entirely.
        """
        files = self.live_files(snapshot_id)
        if buckets is not None:
            files = [e for e in files if e.bucket in buckets]
        cur_fields = self.fields()
        if not files:
            ddl = ", ".join(f"`{f.name}` {f.type}" for f in cur_fields)
            if with_bucket_col:
                ddl += ", `__bucket` int"
            return self.spark.createDataFrame([], schema=ddl)

        base_files = [e for e in files if e.kind == "base"]
        delta_files = [e for e in files if e.kind == "delta"]
        if not delta_files:
            out = self._union_scan(base_files, cur_fields)
        else:
            out = self._reconcile(
                base_files, delta_files, cur_fields, bucket_aligned=bucket_aligned
            )
        if not with_bucket_col:
            out = out.drop("__bucket")
        return out

    def _union_scan(
        self, files: list[FileEntry], cur_fields: list[Field], extra: tuple[str, ...] = ()
    ) -> DataFrame:
        # group by (schema_version, batch_dir): one parquet listing per batch
        groups: dict[tuple[int, str], list[FileEntry]] = {}
        for e in files:
            groups.setdefault((e.schema_version, e.batch_dir), []).append(e)
        parts: list[DataFrame] = []
        for (sv, batch_dir), entries in sorted(groups.items()):
            base = os.path.join(self.path, batch_dir)
            paths = [os.path.join(self.path, e.path) for e in entries]
            df = self.spark.read.option("basePath", base).parquet(*paths)
            df = self._map_to_current(df, sv, cur_fields, extra)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _reconcile(
        self,
        base_files: list[FileEntry],
        delta_files: list[FileEntry],
        cur_fields: list[Field],
        bucket_aligned: bool = False,
    ) -> DataFrame:
        """MOR read: resolve each key to its latest (__seq, __part) row
        across base (treated as seq -1) and all delta layers, dropping
        delete tombstones. One hash aggregation on the key — partial
        aggregation bounds shuffle rows by distinct keys per map task, and
        bucket pruning applies before the scan, so reconciliation cost
        follows the buckets actually read.

        ``bucket_aligned=True``: exchange on ``__bucket`` (the table's own
        layout hash, a pure function of the key) and group by
        ``(__bucket, key)`` — hash-clustering on a subset of the grouping
        keys satisfies the aggregation's distribution, so the planner adds
        NO second exchange, and the output leaves each bucket whole inside
        one task. Compaction pairs this with the fanout write
        (``write_files(key_partitioned=True)``) to rewrite the table with
        ONE wide-payload shuffle instead of two — at 10^10 rows the
        reconcile+rewrite is the entire compaction cost. Key-skew is
        unchanged (a hot key maps to one reducer either way); bucket
        counts must scale with table size (BENCH.md) for task balance."""
        key = self.key_column
        payload = [f.name for f in cur_fields if f.name != key]
        SYS = ("__op", "__seq", "__part")
        parts = [self._union_scan(delta_files, cur_fields, extra=SYS)]
        if base_files:
            parts.append(
                self._union_scan(base_files, cur_fields)
                .withColumn("__op", F.lit("upsert"))
                .withColumn("__seq", F.lit(-1).cast("long"))
                .withColumn("__part", F.lit(-1).cast("int"))
            )
        allr = parts[0]
        for p in parts[1:]:
            allr = allr.unionByName(p)
        if bucket_aligned:
            w = (
                allr.repartition("__bucket")
                .groupBy("__bucket", key)
                .agg(
                    F.max_by(
                        F.struct(*payload, "__op"), F.struct("__seq", "__part")
                    ).alias("__w")
                )
            )
            return w.filter(F.col("__w.__op") != "delete").select(
                key,
                *[F.col(f"__w.{c}").alias(c) for c in payload],
                "__bucket",
            )
        w = allr.groupBy(key).agg(
            F.max_by(
                F.struct(*payload, "__bucket", "__op"), F.struct("__seq", "__part")
            ).alias("__w")
        )
        return w.filter(F.col("__w.__op") != "delete").select(
            key,
            *[F.col(f"__w.{c}").alias(c) for c in payload],
            F.col("__w.__bucket").alias("__bucket"),
        )

    def live_keys(self, buckets: set[int] | None = None) -> DataFrame:
        """Live key set (one column). For MOR tables this reconciles on the
        NARROW columns only — token arrays are never decoded, so the merge's
        insert-vs-update classification stays cheap even with delta layers
        present."""
        key = self.key_column
        files = self.live_files()
        if buckets is not None:
            files = [e for e in files if e.bucket in buckets]
        cur_fields = self.fields()
        key_type = next(f.type for f in cur_fields if f.name == key)
        if not files:
            return self.spark.createDataFrame([], schema=f"`{key}` {key_type}")
        base_files = [e for e in files if e.kind == "base"]
        delta_files = [e for e in files if e.kind == "delta"]
        if not delta_files:
            return self._union_scan(base_files, cur_fields).select(key)
        parts = [
            self._union_scan(delta_files, cur_fields, extra=("__op", "__seq", "__part"))
            .select(key, "__op", "__seq", "__part")
        ]
        if base_files:
            parts.append(
                self._union_scan(base_files, cur_fields).select(
                    F.col(key),
                    F.lit("upsert").alias("__op"),
                    F.lit(-1).cast("long").alias("__seq"),
                    F.lit(-1).cast("int").alias("__part"),
                )
            )
        allr = parts[0]
        for p in parts[1:]:
            allr = allr.unionByName(p)
        w = allr.groupBy(key).agg(
            F.max_by("__op", F.struct("__seq", "__part")).alias("__op")
        )
        return w.filter(F.col("__op") != "delete").select(key)

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
        new_meta = dict(self._meta)
        nv = self.schema_version + 1
        schemas = dict(self._meta["schemas"])
        schemas[str(nv)] = [f.to_json() for f in new_fields]
        new_meta["schemas"] = schemas
        new_meta["schema_version"] = nv
        if last_field_id is not None:
            new_meta["last_field_id"] = last_field_id
        new_meta["version"] = self._meta["version"] + 1
        self._publish(new_meta)
        # schema changes are metadata-only transactions; record in snapshot log
        self.commit(operation=f"evolve-schema[{op}]", summary={"schema_version": nv})

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
        # MOR fold: the bucket-aligned reconcile leaves each bucket whole
        # inside one task, so the rewrite skips its co-locating exchange —
        # one wide-payload shuffle for the whole compaction instead of two
        # (reconcile-by-key + repartition-by-bucket). Still one file per
        # bucket: a bucket's rows never span tasks. Pure-base compaction
        # (COW fragmentation) keeps the single write exchange — its scan
        # partitions don't align with buckets.
        has_delta = any(e.kind == "delta" for es in frag.values() for e in es)
        df = self.read(buckets=set(frag), bucket_aligned=has_delta)
        new_files = self.write_files(df, key_partitioned=has_delta)
        self.commit(
            "replace",
            add_files=new_files,
            remove_paths={e.path for es in frag.values() for e in es},
            summary={"compacted_buckets": len(frag)},
        )
        return len(frag)

    def compact_deltas(self, min_layers: int = 2) -> int:
        """Minor compaction: fold ALL live delta layers into ONE reconciled
        delta layer per bucket WITHOUT rewriting any base file (the Iceberg
        analog is rewriting delete/delta files, vs ``compact()``'s
        rewrite_data_files).

        Why it exists: the MOR reconciling read merges base + K delta
        layers, so within a major-compaction window read cost grows with K
        (measured — BENCH.md "Sustained multi-batch replay": 4.5s→17.2s
        across one 8-batch window). ``compact()`` bounds K but rewrites
        every touched base bucket — O(table) at 10^10 rows. Folding is
        O(sum of deltas): resolve each key to its max-(__seq, __part)
        change within the delta stack only, KEEPING delete tombstones —
        the base still holds the masked row, so dropping the tombstone
        would resurrect it (the same rule as Iceberg deletes surviving
        until their data file is rewritten). The winner keeps its original
        (__seq, __part), so ordering against the base (seq -1) and any
        future delta layer stays exact. One exchange total: the reconcile
        clusters on ``__bucket`` and the fanout writer reuses that
        partitioning (same trick as ``_reconcile(bucket_aligned=True)``).

        Returns the number of delta layers folded (0 = nothing to do).
        """
        delta_files = [e for e in self.live_files() if e.kind == "delta"]
        layers = {e.batch_dir for e in delta_files}
        if len(layers) < min_layers:
            return 0
        cur_fields = self.fields()
        key = self.key_column
        payload = [f.name for f in cur_fields if f.name != key]
        allr = self._union_scan(
            delta_files, cur_fields, extra=("__op", "__seq", "__part")
        )
        w = (
            allr.repartition("__bucket")
            .groupBy("__bucket", key)
            .agg(
                F.max_by(
                    F.struct(*payload, "__op", "__seq", "__part"),
                    F.struct("__seq", "__part"),
                ).alias("__w")
            )
        )
        folded = w.select(
            key,
            *[F.col(f"__w.{c}").alias(c) for c in payload],
            F.col("__w.__op").alias("op"),
            F.col("__w.__seq").alias("seq"),
            F.col("__w.__part").alias("part"),
        )
        new_files = self.write_delta_files(folded, key_partitioned=True)
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
