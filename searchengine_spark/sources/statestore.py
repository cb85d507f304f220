"""Snapshot-versioned table store — the engine's durable state layer.

Production design is Iceberg: each crawl round commits one snapshot per
state table (`docs`, `frontier`, `hosts`, `seen`, `metrics`), and resume
= read the last committed snapshot (SURVEY.md §7.1; the reference's
equivalents are the append-only KeyValueDB files + in-RAM hashes,
KeyValueDB.hpp:68-504, rebuilt on restart).

The sandbox image ships no Iceberg jars, so this module provides the
same commit semantics on plain parquet: a table is a directory of
immutable snapshot subdirs ``v000001/``, ``v000002/`` … plus a
``_latest`` pointer file written atomically (write temp + rename).
A crash between snapshot write and pointer rename leaves the previous
snapshot live — same all-or-nothing visibility as an Iceberg commit.

A commit with `partition_by` hash-distributes its rows on the partition
columns before the write (Iceberg's default distribution mode for
partitioned tables), so a snapshot holds one file per partition value
rather than one per input split and value: the crawl frontier's 16
`storage_bucket=` directories get 16 files a round, not hundreds.
Unpartitioned commits write their input's layout unchanged.

Appends are FAST-appends: a new version writes only its delta files
plus a file-list manifest referencing the base version's data dirs —
O(delta) per commit, exactly Iceberg's append shape (new data files +
a manifest entry, never a rewrite). `compact()` folds a long chain
into one materialized snapshot (Iceberg's rewrite_data_files); the
crawl driver triggers it by chain length inside the round transaction.
Snapshot retention never removes a version dir that a retained
file-list manifest still references.

`TableStore.iceberg` detects whether the Iceberg runtime is on the
classpath — the port point for swapping this module's mechanics for
real Iceberg commits (same semantic contract, pinned by
tests/test_iceberg.py's backend-contract suite, whose Iceberg variant
un-skips the moment jars appear). Nothing else in the engine would
know the difference.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _writer(df: DataFrame, partition_by: list[str] | None):
    """A partitioned commit clusters rows by their partition key first
    (Iceberg's default `write.distribution-mode=hash`): a `rebalance`
    on the key puts each partition value in one task, so the snapshot
    holds one file per value instead of one per input split per value,
    and AQE splits a value only past the advisory partition size.
    Unpartitioned commits keep their input layout (index `postings`
    relies on its range-sorted order)."""
    if not partition_by:
        return df.write
    return df.hint("rebalance", *partition_by).write.partitionBy(*partition_by)


class TableStore:
    """Directory-per-table snapshot store with atomic pointer commits."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self.iceberg = _iceberg_available(spark)

    # -- snapshot bookkeeping -------------------------------------------------

    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_latest")

    def latest_version(self, table: str) -> int:
        p = self._pointer(table)
        if not os.path.exists(p):
            return 0
        with open(p) as f:
            return json.load(f)["version"]

    def exists(self, table: str) -> bool:
        return self.latest_version(table) > 0

    def pointer_meta(self, table: str) -> dict:
        """The `meta` dict recorded with the table's latest commit
        (Iceberg: snapshot summary properties). Empty dict when the
        table has no snapshot or the commit carried no meta — callers
        use this for index bookkeeping (e.g. `indexed_round`)."""
        p = self._pointer(table)
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return json.load(f).get("meta") or {}

    def snapshot_path(self, table: str, version: int | None = None) -> str:
        v = version if version is not None else self.latest_version(table)
        return os.path.join(self._tdir(table), f"v{v:06d}")

    # -- read / commit ---------------------------------------------------------

    def _files_manifest(self, table: str, version: int) -> list[str] | None:
        """A fast-append snapshot is a FILE-LIST manifest (relative data
        dirs composing it) instead of materialized data; None for a
        materialized (overwrite/compacted) snapshot."""
        p = os.path.join(self.snapshot_path(table, version), "_files.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _data_dirs(self, table: str, version: int) -> list[str]:
        rel = self._files_manifest(table, version)
        if rel is None:
            return [self.snapshot_path(table, version)]
        return [os.path.join(self.root, r) for r in rel]

    def chain_length(self, table: str, version: int | None = None) -> int:
        """Number of data dirs composing a snapshot (1 = materialized)."""
        v = version if version is not None else self.latest_version(table)
        rel = self._files_manifest(table, v)
        return 1 if rel is None else len(rel)

    def _stored_schema(self, table: str, version: int) -> StructType | None:
        """Schema persisted with the commit (Iceberg keeps it in table
        metadata; here a `_schema.json` beside the snapshot). None for
        snapshots written before schemas were persisted — read() then
        falls back to parquet inference."""
        p = os.path.join(self.snapshot_path(table, version), "_schema.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return StructType.fromJson(json.load(f))

    def read(self, table: str, version: int | None = None) -> DataFrame:
        v = version if version is not None else self.latest_version(table)
        if v == 0:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        # the persisted schema (not inference) is authoritative: a
        # ZERO-ROW partitioned snapshot has no part files at all (just
        # _SUCCESS), so inference would fail even though the commit is
        # perfectly valid — e.g. a crawl round that robots-gates or
        # dedups every candidate empties the frontier, and the next
        # round must still be able to read it
        schema = self._stored_schema(table, v)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*self._data_dirs(table, v))

    def commit(
        self,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        meta: dict | None = None,
        base_version: int | None = None,
    ) -> int:
        """Write df as the next snapshot and atomically advance the pointer.

        mode='overwrite'  — snapshot is exactly df (MERGE results).
        mode='append'     — FAST-append (Iceberg-style): ONLY the delta
                            is written; the snapshot is a file-list
                            manifest = base's data dirs + the new delta
                            dir — O(delta) per commit, never a table
                            rewrite. base_version pins the append base
                            (a manifest-pinned version, so a re-run
                            after a crash never appends on top of a
                            torn round's orphan snapshot); default =
                            latest. Long chains are folded by
                            `compact()` (the crawl driver triggers it
                            by chain length, inside the round's
                            manifest transaction).
                            Unpartitioned tables only: a partitioned
                            chain would be one multi-root parquet load
                            that cannot resolve its partition columns,
                            so it is refused before anything is written.
        """
        if mode == "append" and partition_by:
            raise ValueError(
                f"append to table {table!r} with partition_by={partition_by}: "
                "fast-append supports unpartitioned tables only; commit a "
                "partitioned table with mode='overwrite'"
            )
        os.makedirs(self._tdir(table), exist_ok=True)
        prev = self.latest_version(table)
        nxt = prev + 1
        out = self.snapshot_path(table, nxt)
        tmp = out + ".tmp-" + uuid.uuid4().hex[:8]

        # persist the commit's schema in READ shape (partition columns
        # last, the order parquet inference yields) so read() can load
        # a zero-row partitioned snapshot — which has no part files to
        # infer from — without changing column order for any snapshot
        # that does have data
        fields = list(df.schema.fields)
        if partition_by:
            fields = [f for f in fields if f.name not in partition_by] + [
                next(f for f in fields if f.name == p) for p in partition_by
            ]
        stored_schema = StructType(fields)

        base = base_version if base_version is not None else prev
        if mode == "append" and base > 0:
            # schema pin: a fast-append snapshot is read as ONE multi-dir
            # parquet load without mergeSchema, so a delta whose columns
            # drifted from the base would silently drop or null columns
            # depending on which file Spark infers from. Fail loudly
            # instead (migration = compact with explicit column fill,
            # then append).
            # pin (name, type) pairs, not names alone: a delta whose
            # columns keep their names but drift in type (int vs bigint)
            # would fast-append fine and then surface as silent coercion
            # or a read error far from the offending commit (the
            # snapshot is one multi-dir load without mergeSchema)
            base_schema = self._stored_schema(table, base)
            if base_schema is None:
                base_schema = self.spark.read.parquet(
                    *self._data_dirs(table, base)
                ).schema
            base_cols = sorted(
                (f.name, f.dataType.simpleString()) for f in base_schema.fields
            )
            delta_cols = sorted(
                (f.name, f.dataType.simpleString()) for f in df.schema.fields
            )
            if base_cols != delta_cols:
                raise ValueError(
                    f"append schema drift on table {table!r}: base v{base} "
                    f"has columns {base_cols}, delta has "
                    f"{delta_cols}; compact-with-migration first"
                )
            # write delta + file-list manifest into tmp, then one rename
            delta_rel = os.path.join(table, f"v{nxt:06d}", "delta")
            _writer(df, partition_by).mode("overwrite").parquet(
                os.path.join(tmp, "delta")
            )
            has_rows = any(
                name.endswith(".parquet")
                for _, _, names in os.walk(os.path.join(tmp, "delta"))
                for name in names
            )
            base_rel = self._files_manifest(table, base)
            if base_rel is None:
                base_rel = [os.path.relpath(self.snapshot_path(table, base), self.root)]
            files = base_rel + ([delta_rel] if has_rows else [])
            with open(os.path.join(tmp, "_files.json"), "w") as f:
                json.dump(files, f)
        else:
            _writer(df, partition_by).mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_schema.json"), "w") as f:
            json.dump(stored_schema.jsonValue(), f)
        os.rename(tmp, out)

        ptr_tmp = self._pointer(table) + ".tmp-" + uuid.uuid4().hex[:8]
        with open(ptr_tmp, "w") as f:
            json.dump(
                {
                    "version": nxt,
                    "committed_at": time.time(),
                    "mode": mode,
                    "meta": meta or {},
                },
                f,
            )
        os.replace(ptr_tmp, self._pointer(table))
        # retain a bounded history (resume needs latest only; keep 3) —
        # but never (a) a version dir whose data a retained file-list
        # manifest still references (append chains point into older
        # versions' delta dirs until a compaction folds them), nor
        # (b) the version the current _round_manifest pins for this
        # table: 3+ consecutive crashed round attempts advance the
        # pointer past keep-3 while resume still reads the pinned
        # version — deleting it would turn the next resume into a
        # FileNotFoundError.
        keep: set[int] = set(range(max(1, nxt - 2), nxt + 1))
        man = self.read_manifest()
        pinned = (man or {}).get("versions", {}).get(table)
        if pinned:
            keep.add(int(pinned))
        referenced: set[str] = set()
        for v in keep:
            for r in self._files_manifest(table, v) or []:
                parts = r.split(os.sep)
                if len(parts) >= 2 and parts[0] == table:
                    referenced.add(parts[1])
        for old in range(1, nxt - 2):
            if old in keep or f"v{old:06d}" in referenced:
                continue
            p = self.snapshot_path(table, old)
            if os.path.exists(p):
                shutil.rmtree(p, ignore_errors=True)
        return nxt

    def compact(self, table: str, version: int | None = None) -> int:
        """Fold an append chain into one materialized snapshot (the
        Iceberg rewrite-data-files action). Returns the new version;
        callers inside a round transaction record IT in the round
        manifest so the next append chains from length 1. Crash-safe:
        an interrupted compaction leaves an unreferenced orphan."""
        df = self.read(table, version)
        return self.commit(table, df, mode="overwrite")

    # -- round manifest ----------------------------------------------------------
    #
    # A crawl round commits SEVERAL tables; per-table pointers alone are
    # atomic per table but not across them (a crash mid-commit leaves a
    # mixed state: docs at round r, frontier at r-1 — resume would then
    # re-append round r's docs). The manifest is the cross-table commit
    # point: written (atomically) only after every table of the round
    # committed, recording the exact version of each. Readers that pin
    # to manifest versions never observe a torn round — orphan snapshot
    # versions from a crashed attempt are simply never referenced
    # (Iceberg's multi-table transaction played on plain parquet).

    # -- store-pinned crawl config -------------------------------------------
    #
    # Shard assignment, bloom geometry and politeness are baked into the
    # persisted state (seen.shard, bloom bitmaps, frontier shards); a
    # resume under a DIFFERENT config silently mis-routes bloom probes
    # and re-admits seen URLs (exactness violation — caught live in
    # round-3 verification when a --resume defaulted to other n_shards).
    # The config is therefore written once at seed time and re-read on
    # resume.

    def _config_path(self) -> str:
        return os.path.join(self.root, "_crawl_config")

    def write_config(self, cfg: dict) -> None:
        tmp = self._config_path() + ".tmp-" + uuid.uuid4().hex[:8]
        with open(tmp, "w") as f:
            json.dump(cfg, f)
        os.replace(tmp, self._config_path())

    def read_config(self) -> dict | None:
        p = self._config_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _manifest_path(self) -> str:
        return os.path.join(self.root, "_round_manifest")

    def read_manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def commit_manifest(self, round_no: int, versions: dict[str, int]) -> None:
        tmp = self._manifest_path() + ".tmp-" + uuid.uuid4().hex[:8]
        with open(tmp, "w") as f:
            json.dump(
                {
                    "round": round_no,
                    "versions": versions,
                    "committed_at": time.time(),
                },
                f,
            )
        os.replace(tmp, self._manifest_path())

    def history(self, table: str) -> list[int]:
        d = self._tdir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(name[1:]) for name in os.listdir(d) if name.startswith("v")
        )
