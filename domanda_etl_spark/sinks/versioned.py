"""Versioned parquet sink — the reference's sink surface (S4-S9,
SURVEY.md §2.1) re-expressed as table versions instead of SQL snapshots.

The reference hand-rolls atomicity against Postgres: CTAS backup ->
TRUNCATE -> row-wise INSERT -> verification read -> restore-from-backup on
failure, keep newest 3 backups (reference etl/loader.py:159-348). With a
versioned table all of that collapses into: every write lands in a fresh
`_s{n}` segment directory, a manifest pointer flips atomically (os.replace)
only after the write fully succeeds, `restore` is a pointer flip to an older
version, and retention vacuums segments no retained version references.
Delta Lake provides exactly this on a real lake; this implementation is
dependency-free (Delta is not installed here) with the same operator
surface.

Single-writer semantics (matching the reference's advisory-lock discipline,
etl/loader.py:169-174).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class _VersionLog:
    """The version log both table classes share: `_manifest.json` holds
    `current`, `next_id`, `next_seg` and one entry per retained version
    (`id`, `ts`, `op`, plus the segment references under `_REFS`).
    Subclasses supply how a segment is written, which segments an entry
    references (`_segments`) and how a version is read (`read`)."""

    MAX_VERSIONS = 3  # reference MAX_BACKUPS = 3 (etl/loader.py:324)
    _REFS: str

    def __init__(self, path: str, max_versions: int | None = None):
        self.path = path
        self.max_versions = max_versions or self.MAX_VERSIONS
        os.makedirs(path, exist_ok=True)

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "_manifest.json")

    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"current": None, "next_id": 0, "next_seg": 0, "versions": []}
        with open(self._manifest_path) as f:
            m = json.load(f)
        legacy = [e["id"] for e in m.get("versions", []) if self._REFS not in e]
        if legacy:
            # pre-segment-manifest layout (per-version _v{N} dirs): refuse
            # loudly instead of failing with a bare KeyError deep in read()
            raise ValueError(
                f"{self.path}: manifest versions {legacy} use the legacy "
                f"per-version layout (no '{self._REFS}' entry). Re-materialize "
                "the table by reading the _v{N} parquet directly and "
                "overwrite() into a fresh table."
            )
        return m

    def _write_manifest(self, manifest: dict) -> None:
        # atomic pointer flip: the table's "current" version changes only
        # when this replace succeeds (the reference needs backup+TRUNCATE+
        # restore to approximate this)
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix="_manifest", suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path)

    def _sdir(self, segment: int) -> str:
        return os.path.join(self.path, f"_s{segment}")

    def _entry(self, m: dict, version: int | None = None) -> dict:
        """Manifest entry of `version` (default: the current version)."""
        v = m["current"] if version is None else version
        if v is None:
            raise FileNotFoundError(f"{self.path}: empty table")
        for e in m["versions"]:
            if e["id"] == v:
                return e
        raise FileNotFoundError(f"{self.path}: version {v} vacuumed or unknown")

    def _commit(self, m: dict, op: str, refs, **extra) -> int:
        """Publish a new current version and apply S8 retention in ONE
        manifest replace: keep the newest `max_versions` versions (the new
        one is the newest, so current is never dropped), then vacuum the
        segment directories only dropped versions referenced (a segment
        shared with a retained version survives — this is what makes
        O(delta) appends safe to vacuum). Directories are removed only
        after the replace, so a crash mid-vacuum leaves orphan directories,
        never a listed version whose files are gone."""
        v = m["next_id"]
        m["versions"].append(
            {"id": v, "ts": time.time(), "op": op, self._REFS: refs, **extra}
        )
        m["current"], m["next_id"] = v, v + 1
        kept = sorted(m["versions"], key=lambda e: e["id"])[-self.max_versions:]
        live = {s for e in kept for s in self._segments(e)}
        dead = {s for e in m["versions"] for s in self._segments(e)} - live
        m["versions"] = kept
        self._write_manifest(m)
        for s in dead:
            shutil.rmtree(self._sdir(s), ignore_errors=True)
        return v

    def history(self) -> list[dict]:
        """S6/DESCRIBE HISTORY — retained versions, newest first."""
        return sorted(self._read_manifest()["versions"], key=lambda e: -e["id"])

    def restore(self, spark: SparkSession, version: int | None = None) -> int:
        """S7 restore-from-backup: flip the pointer to `version` (default:
        newest version before current — the reference's 'latest backup').
        Verifies the restored version is readable and row-counted, the
        reference's count check (etl/loader.py:290-298)."""
        m = self._read_manifest()
        if version is None:
            older = [e["id"] for e in m["versions"] if e["id"] < (m["current"] or 0)]
            if not older:
                raise FileNotFoundError(f"{self.path}: no prior version to restore")
            version = max(older)
        # verification read BEFORE the pointer flip (S7; raises if the
        # version was vacuumed) — a plain statement, not an assert, so
        # `python -O` cannot strip the read
        self.read(spark, version).count()
        m["current"] = version
        self._write_manifest(m)
        return version


class VersionedTable(_VersionLog):
    _REFS = "segments"

    def _segments(self, entry: dict) -> list[int]:
        return entry["segments"]

    def _publish(self, df: DataFrame, op: str, stack: bool = False) -> int:
        """Write `df` as one fresh segment and commit it as a version whose
        segments are that segment alone, or — with `stack` — the current
        version's segments plus it. On ANY write failure the pointer never
        moves — the reference's restore-on-failure path
        (etl/loader.py:233-238) is unnecessary by construction."""
        m = self._read_manifest()
        seg = m.get("next_seg", 0)
        df.write.mode("overwrite").parquet(self._sdir(seg))
        m["next_seg"] = seg + 1
        prev = self._entry(m)["segments"] if stack and m["current"] is not None else []
        return self._commit(m, op, [*prev, seg])

    # ---------------- write paths ----------------------------------------
    def overwrite(self, df: DataFrame) -> int:
        """S5 truncate-and-load: full refresh as a new version."""
        return self._publish(df, "overwrite")

    def append(self, df: DataFrame) -> int:
        """S4 batch insert, O(delta) not O(table): ONLY the appended rows are
        written (a fresh segment directory); the new version's manifest entry
        references the previous version's segments plus the new one —
        Delta-style copy-on-write at the FILE-SET level, so appending N rows
        to a 100 TB table costs N rows of IO, not a full rewrite."""
        return self._publish(df, "append", stack=True)

    def compact(self, spark: SparkSession, target_partitions: int | None = None) -> int:
        """OPTIMIZE / small-file compaction: after many O(delta) appends the
        current version references many small segments; rewrite it into one
        bin-packed segment and publish as a new version. Older versions keep
        referencing the original segments (time travel intact) until
        retention vacuums them. At 100 TB this runs per-partition on a
        write_partitioned layout, not table-wide."""
        df = self.read(spark)
        if target_partitions is not None:
            df = df.coalesce(target_partitions)
        return self._publish(df, "compact")

    def merge_upsert(
        self, spark: SparkSession, updates: DataFrame, keys: list[str]
    ) -> int:
        """MERGE INTO semantics (Delta's upsert, the idiomatic form of the
        reference's delete-then-insert refresh): rows matching `keys` are
        replaced by the update, unmatched updates are inserted, everything
        else is carried over. Publishes ONE new version atomically.

        Scale note: parquet copy-on-write makes a full-table merge O(table)
        — inherent without deletion vectors. At 100 TB you restrict the
        rewrite to affected partitions (write_partitioned layout + a
        partition-pruned read) or use a format with merge-on-read. The
        operator surface here is the same either way."""
        try:
            current = self.read(spark)
        except FileNotFoundError:
            return self.overwrite(updates)
        kept = current.join(updates.select(*keys).distinct(), keys, "left_anti")
        return self._publish(kept.unionByName(updates, allowMissingColumns=True), "merge")

    def delete_where(self, spark: SparkSession, condition) -> int:
        """Targeted row deletion (GDPR / right-to-be-forgotten): publishes a
        new version containing only the survivors. On the unpartitioned
        table this is an O(table) rewrite — the honest copy-on-write cost;
        PartitionedVersionedTable.delete_keys restricts it to affected
        partitions. Pre-delete versions remain restorable until retention
        vacuums them (the compliance window is `max_versions` deep —
        tighten retention when deletion must become durable)."""
        return self._publish(self.read(spark).filter(~condition), "delete")

    # ---------------- read / verification --------------------------------
    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        segments = self._entry(self._read_manifest(), version)["segments"]
        # mergeSchema: appended segments may carry evolved schemas (the old
        # unionByName(allowMissingColumns=True) semantics, now at scan time)
        return spark.read.option("mergeSchema", "true").parquet(
            *[self._sdir(s) for s in segments]
        )

    def verify_write(self, spark: SparkSession, predicates: dict[str, object]) -> bool:
        """S9 post-write verification read: point query on equality
        predicates, >= 1 row expected (reference etl/loader.py:68-89)."""
        df = self.read(spark)
        cond = F.lit(True)
        for c, v in predicates.items():
            cond = cond & (F.col(c).eqNullSafe(F.lit(v)))
        return df.filter(cond).limit(1).count() > 0


class PartitionedVersionedTable(_VersionLog):
    """VersionedTable with PARTITION-LEVEL copy-on-write — the shape that
    makes MERGE O(affected partitions) instead of O(table) at 100 TB.

    Each version's manifest maps partition value -> list of segment ids;
    a segment is one hive-layout write (`_s{n}/<col>=<value>/...`). An
    append adds per-partition references for only the partitions present
    in the delta; a merge rewrites ONLY the partitions the update batch
    touches and carries every other partition's references over untouched
    (zero IO — machine-checked in tests/test_sinks.py). This is the
    deletion-vector-free equivalent of Delta/Hudi partition-scoped
    merge-on-write, same discipline as the reference's per-table refresh
    (etl/loader.py:197-238) applied per partition.

    Partition values round-trip as STRINGS (hive directory semantics
    without type inference) — cast on read if a typed column is needed.
    """

    _REFS = "parts"

    def __init__(self, path: str, partition_col: str, max_versions: int | None = None):
        self.partition_col = partition_col
        super().__init__(path, max_versions)

    def _segments(self, entry: dict) -> list[int]:
        return [s for segs in entry["parts"].values() for s in segs]

    # -- write paths -------------------------------------------------------
    def _write_segment(self, df: DataFrame, m: dict) -> tuple[int, list[str]]:
        seg = m.get("next_seg", 0)
        df.write.mode("overwrite").partitionBy(self.partition_col).parquet(
            self._sdir(seg)
        )
        # persist the table schema in the manifest (Delta-log style) so a
        # version with ZERO partitions — every row deleted, or an empty
        # load — still reads back as a TYPED empty frame (r12 audit)
        m["schema"] = df.schema.json()
        m["next_seg"] = seg + 1
        prefix = f"{self.partition_col}="
        parts = [
            d[len(prefix):]
            for d in os.listdir(self._sdir(seg))
            if d.startswith(prefix)
        ]
        return seg, parts

    def _commit(self, m: dict, op: str, parts: dict[str, list[int]]) -> int:
        # schema is pinned PER VERSION (Delta-log style): m["schema"] holds
        # the latest write's schema at commit time, so each entry records
        # the schema in force when it was published — merge_upsert with
        # allowMissingColumns=True may evolve it between versions, and
        # read(version=old) must type its empty-frame path with THAT
        # version's schema, not the latest write's (ADVICE r12)
        return super()._commit(m, op, parts, schema=m.get("schema"))

    def overwrite(self, df: DataFrame) -> int:
        m = self._read_manifest()
        seg, parts = self._write_segment(df, m)
        return self._commit(m, "overwrite", {p: [seg] for p in parts})

    def append(self, df: DataFrame) -> int:
        """O(delta): writes only the new rows; partitions absent from the
        delta keep their previous segment references verbatim."""
        m = self._read_manifest()
        seg, parts = self._write_segment(df, m)
        merged: dict[str, list[int]] = {}
        if m["current"] is not None:
            merged = {k: list(v) for k, v in self._entry(m)["parts"].items()}
        for p in parts:
            merged.setdefault(p, []).append(seg)
        return self._commit(m, "append", merged)

    def merge_upsert(self, spark: SparkSession, updates: DataFrame, keys: list[str]) -> int:
        """MERGE that rewrites ONLY the partitions present in `updates`.
        The affected-partition list is a bounded collect (distinct
        partition values of the delta — partition-count scale, never row
        scale). Untouched partitions: zero IO, references carried over.

        CONTRACT — merge identity is `keys` WITHIN a partition: the
        anti-join that retires old rows runs only over the partitions the
        delta touches. A key whose partition value CHANGES between the
        stored row and the update is an insert into the new partition; the
        stored row in the old partition is untouched (it is not read).
        Callers whose partition column is not functionally determined by
        the merge keys must either include the partition column in `keys`
        and treat moves as insert+explicit-delete, or use `overwrite`.
        This is the standard partition-scoped copy-on-write trade: exact
        cross-partition retirement would require scanning every partition
        of the table on every merge, which is precisely what this sink
        exists to avoid at 100 TB."""
        m = self._read_manifest()
        if m["current"] is None:
            return self.overwrite(updates)
        # Pin the delta to ONE evaluation: `updates` may be nondeterministic
        # (dropDuplicates, sample, shuffle-order-dependent picks), and this
        # method reads it three times — the affected-partition collect, the
        # anti-join, and the written union. Without materialization those
        # three reads can see DIFFERENT rows, committing an inconsistent
        # version (e.g. retiring a key in one partition while writing it
        # into another). localCheckpoint is O(delta), which merge already is.
        updates = updates.localCheckpoint(eager=True)
        pc = self.partition_col
        affected = [
            str(r[pc])
            for r in updates.select(F.col(pc).cast("string")).distinct().collect()
        ]
        prev = self._entry(m)["parts"]
        touched = [p for p in affected if p in prev]
        if touched:
            current_slice = self._read_parts(spark, {p: prev[p] for p in touched})
            kept = current_slice.join(updates.select(*keys).distinct(), keys, "left_anti")
            merged_rows = kept.unionByName(updates, allowMissingColumns=True)
        else:
            merged_rows = updates
        seg, written_parts = self._write_segment(merged_rows, m)
        new_parts = {k: list(v) for k, v in prev.items() if k not in set(affected)}
        for p in written_parts:
            new_parts[p] = [seg]
        return self._commit(m, "merge", new_parts)

    def delete_keys(self, spark: SparkSession, deletes: DataFrame, keys: list[str]) -> int:
        """Targeted deletion (GDPR / right-to-be-forgotten) with
        partition-level copy-on-write: rewrites ONLY the partitions the
        delete feed names, carrying every other partition's references
        over untouched (zero IO), and publishes one new version.

        CONTRACT — `deletes` must carry the partition column (CDC delete
        feeds do): exactly the (key, partition) pairs in the feed are
        retired; the same key's rows in partitions the feed does not name
        are untouched — the same partition-scoped discipline as
        merge_upsert, and the property that keeps a delete O(affected
        partitions) at 100 TB. A partition whose every row is deleted
        disappears from the new version (its directory simply is not
        rewritten). Pre-delete versions remain restorable until retention
        vacuums them; tighten `max_versions` when deletion must become
        durable."""
        m = self._read_manifest()
        prev = self._entry(m)["parts"]  # raises on an empty table
        # same single-evaluation pinning as merge_upsert: the partition
        # collect and the anti-join must see identical delete rows
        deletes = deletes.localCheckpoint(eager=True)
        pc = self.partition_col
        affected = [
            str(r[pc])
            for r in deletes.select(F.col(pc).cast("string")).distinct().collect()
        ]
        touched = [p for p in affected if p in prev]
        new_parts = {k: list(v) for k, v in prev.items() if k not in set(touched)}
        if touched:
            current_slice = self._read_parts(spark, {p: prev[p] for p in touched})
            join_cols = list(keys) if pc in keys else [*keys, pc]
            pairs = deletes.select(
                *[F.col(k) for k in keys if k != pc],
                F.col(pc).cast("string").alias(pc),
            ).distinct()
            kept = current_slice.join(pairs, join_cols, "left_anti")
            seg, written_parts = self._write_segment(kept, m)
            for p in written_parts:
                new_parts[p] = [seg]
        return self._commit(m, "delete", new_parts)

    # -- read --------------------------------------------------------------
    def _read_parts(self, spark: SparkSession, parts: dict[str, list[int]]) -> DataFrame:
        pc = self.partition_col
        out: DataFrame | None = None
        for val, segs in sorted(parts.items()):
            paths = [os.path.join(self._sdir(s), f"{pc}={val}") for s in segs]
            piece = (
                spark.read.option("mergeSchema", "true")
                .parquet(*paths)
                .withColumn(pc, F.lit(val))
            )
            out = piece if out is None else out.unionByName(piece, allowMissingColumns=True)
        if out is None:
            raise FileNotFoundError(f"{self.path}: no partitions to read")
        return out

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        partitions: list[str] | None = None,
    ) -> DataFrame:
        """`partitions` prunes at the MANIFEST level: only the requested
        partitions' files are ever listed or opened.

        Empty-result contract: a version with ZERO live partitions (every
        row deleted, or an empty load), and equally a `partitions` filter
        that matches none of the version's live partitions, returns a TYPED
        empty DataFrame — partition pruning to nothing is an ordinary empty
        result, not an error. The schema comes from the requested version's
        manifest entry (pinned at commit time, so schema evolution between
        versions reads back faithfully); table-level schema is the fallback
        for pre-r13 manifests. FileNotFoundError is reserved for a table
        with no versions at all or a vacuumed/unknown version id."""
        m = self._read_manifest()
        entry = self._entry(m, version)
        parts = entry["parts"]
        if partitions is not None:
            parts = {p: parts[p] for p in partitions if p in parts}
        schema_json = entry.get("schema") or m.get("schema")
        if not parts and schema_json:
            # zero live partitions (all deleted / empty load / pruned to
            # nothing): a typed empty frame, not FileNotFoundError
            from pyspark.sql.types import StringType, StructField, StructType

            stored = StructType.fromJson(json.loads(schema_json))
            # partition values round-trip as strings (class contract)
            schema = StructType(
                [
                    StructField(f.name, StringType(), True)
                    if f.name == self.partition_col
                    else f
                    for f in stored.fields
                ]
            )
            return spark.createDataFrame([], schema)
        return self._read_parts(spark, parts)


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Date/key-partitioned lake layout (hive-style directories). This is
    what turns the reference's 12h-lookback predicate (S3) into a partition
    PRUNE at 100 TB: a filter on the partition column skips directories
    entirely (PartitionFilters in the scan, verified in tests) instead of
    reading and discarding rows."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S11 — the reference's declared-but-unimplemented CSV sink
    (etl/extractor.py:29, SURVEY.md Q8)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)
