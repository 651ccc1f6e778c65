"""From-scratch snapshot-isolated table format on plain parquet —
the Iceberg TABLE-FORMAT mechanic (immutable data files + atomic
metadata commits) rebuilt on public APIs only.

Why this exists: the reference executes real Delta MERGE/DDL against
a metastore (01_Metadata_Sync.py:59-65, pmc.py:164-175); this repo's
Iceberg execution is jar-blocked offline (tests/test_iceberg.py
probes and documents the coordinates).  `ParquetCatalog` (tables.py)
gives the PIPELINE its audit/manifest persistence but mutates files
in place, so concurrent readers can observe torn tables and there is
no time travel.  This module supplies the missing semantic — the
part of Iceberg the engine actually *relies on* for correctness at
scale — as executed, tested code:

* **Immutable data files.**  Every write lands new parquet files
  under a fresh UUID staging dir; nothing is ever modified.
* **Atomic commits.**  A commit writes one *manifest file* (the
  files it ADDED plus partition-value tombstones for what it
  logically REMOVED) and then one *manifest list* naming every
  manifest file visible in the new snapshot.  The manifest list is
  published with an atomic hard-link CAS (`os.link` to a name that
  encodes the sequence number) — readers see the previous snapshot
  or the new one, never a torn state, and two racing writers cannot
  overwrite each other's snapshot.  This is the Hadoop-catalog
  discipline Iceberg uses when no metastore is available: the
  link IS the commit point.
* **Snapshot isolation / time travel.**  `read(name, snapshot=s)`
  resolves the file set of snapshot `s` exactly as it was; a reader
  that resolved its file list before a later overwrite keeps reading
  those files untouched (until `vacuum` expires them).
* **O(touched) commit cost.**  Unchanged manifest files are
  referenced by name in the new manifest list, never rewritten —
  the same reuse trick as Iceberg's manifest-list layer.  At 10^12
  docs a commit writes metadata proportional to the files it touched
  plus one line per existing manifest file, not to table size.
* **Manifest-layer partition pruning.**  File↔partition-value
  mapping lives in the manifests, so `read(..., partition_filter=)`
  plans a scan over only the matching files — file skipping before
  Spark ever lists a directory, which is what makes a 10^12-doc
  table queryable without a full listing.
* **Vacuum.**  `vacuum(keep_last=k)` deletes data/manifest files
  unreferenced by the last k snapshots — Iceberg's
  `expire_snapshots`, the only deleting operation in the format.
* **Row-level deletes, merge-on-read.**  `delete_rows(keys, cols)`
  commits an Iceberg-v2-style EQUALITY DELETE file; reads apply it
  via a broadcast anti-join gated on the strict data-file-seq <
  delete-seq comparison (re-inserts resurrect).  At 10^12 docs a
  takedown list cannot afford copy-on-write.
* **Compaction.**  `rewrite_data_files` bin-packs small files (one
  per partition value, split at max_rows_per_file) and materializes
  pending deletes in one replace-commit — the maintenance pass that
  bounds file count and keeps read-time delete joins empty under
  many small commits.

Partition handling: the writer duplicates the partition column into
`__pv` and writes with `partitionBy("__pv")`, so the directory name
encodes the value (hive-escaped) while the data files keep EVERY
original column — explicit-file-list reads therefore need no
basePath reconstruction and lose nothing.  Rows-per-file comes from
parquet footers (pyarrow), mirroring the file-level stats Iceberg
keeps in its manifests.

Concurrency: readers are unlimited and lock-free; writers use
optimistic concurrency — appends compose with any parent (delta
manifests), while content-replacing commits (overwrite, MERGE)
validate their expected parent and publish via a hard-link CAS, so a
racing commit surfaces as CommitConflict (re-read and retry, the
Iceberg loop) instead of a lost update.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


_UNSET = object()  # "no expected-parent validation" sentinel


class CommitConflict(Exception):
    """Another writer committed since this operation read the table.

    Raised by content-replacing commits (overwrite_partitions,
    merge_upsert) whose result was computed against a snapshot that
    is no longer current — publishing it would silently drop the
    concurrent commit's changes.  The caller re-reads and retries
    (Iceberg's optimistic-concurrency loop).  Plain appends never
    conflict: their delta manifest stacks on whatever the latest
    snapshot is."""


def _footer_min_max(meta) -> dict:
    """Per-file column min/max from the parquet footer (aggregated
    over row groups) — the file-level stats Iceberg keeps in its
    manifests for scan planning.  Only JSON-native scalar types
    (int/float/str) are recorded; other types simply carry no stats
    and are never pruned on (conservative)."""
    out: dict[str, list] = {}
    seen: dict[str, int] = {}
    for rg in range(meta.num_row_groups):
        row_group = meta.row_group(rg)
        for c in range(row_group.num_columns):
            col = row_group.column(c)
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if not isinstance(lo, (int, float, str)) or isinstance(
                lo, bool
            ):
                continue
            name = col.path_in_schema
            seen[name] = seen.get(name, 0) + 1
            if name in out:
                prev = out[name]
                out[name] = [min(prev[0], lo), max(prev[1], hi)]
            else:
                out[name] = [lo, hi]
    # a column missing stats in ANY row group has an unknown true
    # range — dropping it keeps pruning sound (never skip a file that
    # might match)
    return {
        k: v for k, v in out.items() if seen[k] == meta.num_row_groups
    }


def _latest_per_key(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Newest row per key, ``order_cols`` descending (deterministic
    when the last order col is unique per key — callers pass a
    content hash as the tie-break, like tables.latest_per_url)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class SnapshotTable:
    """One snapshot-isolated table rooted at ``<root>/<name>``."""

    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        # absolute+normalized: the equality-delete path→seq dim joins
        # against _metadata.file_path (always an absolute URI), so a
        # relative/denormalized root would miss every file and the
        # fail-open fallback would silently disable deletes
        # (code-review r4c finding #1)
        self.dir = os.path.abspath(os.path.join(root, name))
        self.data_dir = os.path.join(self.dir, "data")
        self.meta_dir = os.path.join(self.dir, "_meta")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)

    # ------------------------------------------------------------- metadata

    def _snapshot_files(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.meta_dir) if f.startswith("s-")
        )

    def current_snapshot(self) -> int | None:
        snaps = self._snapshot_files()
        if not snaps:
            return None
        return int(snaps[-1][2:-5])

    def snapshots(self) -> list[dict]:
        """Commit history, oldest first (the `<t>.snapshots` analog)."""
        out = []
        for f in self._snapshot_files():
            with open(os.path.join(self.meta_dir, f)) as fh:
                out.append(json.load(fh))
        return out

    def _load_snapshot(self, seq: int) -> dict:
        path = os.path.join(self.meta_dir, f"s-{seq:010d}.json")
        if not os.path.exists(path):
            raise ValueError(
                f"snapshot {seq} does not exist (vacuumed or never "
                f"committed); available: "
                f"{[int(s[2:-5]) for s in self._snapshot_files()]}"
            )
        with open(path) as fh:
            return json.load(fh)

    def _resolve(self, seq: int) -> tuple[list[dict], dict]:
        """Data-file entries visible in snapshot ``seq`` (compat
        shim over :meth:`_resolve_full`)."""
        entries, _dels, snap = self._resolve_full(seq)
        return entries, snap

    def _resolve_full(
        self, seq: int
    ) -> tuple[list[dict], list[dict], dict]:
        """(data entries, equality-delete entries, snapshot) visible
        in snapshot ``seq``.

        Manifest files are applied in commit order; a manifest's
        partition tombstones hide matching DATA entries from every
        EARLIER manifest (exactly Iceberg's overwrite semantics:
        logical delete by partition predicate, physical files
        untouched).  Equality-delete entries are never tombstoned —
        their applicability is governed purely by the strict
        sequence-number comparison at read time (a delete can only
        kill rows from data files with a smaller ``seq``), so a
        partition overwrite naturally outruns every earlier delete."""
        snap = self._load_snapshot(seq)
        entries: list[dict] = []
        del_entries: list[dict] = []
        for mf in snap["manifests"]:
            with open(os.path.join(self.meta_dir, mf)) as fh:
                man = json.load(fh)
            dels = man.get("deletes")
            if dels:
                col, values = dels["part_col"], set(dels["values"])
                entries = [
                    e
                    for e in entries
                    if not (
                        e["partition"] is not None
                        and e["partition"].get("col") == col
                        and e["partition"]["value"] in values
                    )
                ]
            entries.extend(man["files"])
            del_entries.extend(man.get("eq_deletes") or [])
        return entries, del_entries, snap

    # ----------------------------------------------------------- data write

    def _write_data(
        self, df: DataFrame, part_col: str | None,
        max_records: int | None = None,
    ) -> list[dict]:
        """Write immutable data files for one commit; return manifest
        entries [{path, partition, rows, bytes}] with footer stats."""
        staging = f"b-{uuid.uuid4().hex}"
        out = os.path.join(self.data_dir, staging)
        if part_col is not None:
            from pyspark.sql import functions as F

            w = df.withColumn(
                "__pv", F.col(part_col).cast("string")
            ).write.partitionBy("__pv")
            if max_records:
                w = w.option("maxRecordsPerFile", max_records)
            w.parquet(out)
        else:
            w = df.write
            if max_records:
                w = w.option("maxRecordsPerFile", max_records)
            w.parquet(out)
        entries = []
        for dirpath, _dirs, files in os.walk(out):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.dir)
                partition = None
                if part_col is not None:
                    pv = os.path.basename(dirpath)
                    assert pv.startswith("__pv="), pv
                    raw = unquote(pv[len("__pv=") :])
                    partition = {
                        "col": part_col,
                        "value": None if raw == _HIVE_NULL else raw,
                    }
                meta = pq.ParquetFile(full).metadata
                entries.append(
                    {
                        "path": rel,
                        "partition": partition,
                        "rows": meta.num_rows,
                        "bytes": os.path.getsize(full),
                        "stats": _footer_min_max(meta),
                    }
                )
        entries.sort(key=lambda e: e["path"])
        return entries

    def _publish(self, snap: dict, seq: int) -> None:
        """Atomically publish a snapshot file via hard-link CAS:
        ``os.link(tmp, final)`` fails with FileExistsError if another
        writer already claimed this sequence number, so two racing
        commits can never overwrite each other's snapshot — the loser
        surfaces as a CommitConflict instead of a lost update.  A
        crash before the link leaves only an unread .tmp-* file."""
        tmp = os.path.join(self.meta_dir, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(snap, fh)
        final = os.path.join(self.meta_dir, f"s-{seq:010d}.json")
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"snapshot {seq} was committed by another writer"
            ) from None
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _commit(
        self,
        operation: str,
        added: list[dict],
        deletes: dict | None,
        schema_json: str,
        expected_parent=_UNSET,
        eq_deletes: list[dict] | None = None,
        replace: bool = False,
    ) -> int:
        """Write one manifest file, then atomically publish the new
        manifest list (the commit point — a crash before it leaves
        the table at the previous snapshot with only unreferenced
        staging files on disk, which ``vacuum`` later removes).

        ``expected_parent`` (pass the snapshot the operation READ):
        content-replacing commits validate that the table has not
        advanced since — if it has, their computed content is stale
        and publishing would drop the concurrent commit, so they
        raise CommitConflict for the caller to retry.  The default
        (unset) skips validation — correct for appends, whose delta
        manifest composes with any parent; an append that loses the
        sequence-number CAS therefore RETRIES against the new parent
        automatically (its manifest file is parent-independent), so
        plain appends genuinely never surface a conflict.

        Every file entry is stamped with the commit's TRUE sequence
        number (``"seq"``) — the fact equality-delete applicability
        keys on (a delete kills only rows from files with a strictly
        SMALLER seq).  A retried append commits at a later seq than
        its first attempt, so the manifest is rewritten per attempt
        (the stale attempt's manifest is unlinked; a crash leaves at
        most one orphan for vacuum's grace window)."""
        mf_name = None
        for _attempt in range(50):
            cur = self.current_snapshot()
            if expected_parent is not _UNSET and cur != expected_parent:
                raise CommitConflict(
                    f"table advanced to snapshot {cur} since this "
                    f"operation read snapshot {expected_parent}; "
                    "re-read and retry"
                )
            prev_manifests: list[str] = (
                self._load_snapshot(cur)["manifests"]
                if cur is not None
                else []
            )
            seq = 0 if cur is None else cur + 1
            if mf_name is not None:  # stale attempt: wrong seq stamps
                try:
                    os.unlink(os.path.join(self.meta_dir, mf_name))
                except OSError:
                    pass
            mf_name = f"m-{seq:010d}-{uuid.uuid4().hex}.json"
            with open(os.path.join(self.meta_dir, mf_name), "w") as fh:
                json.dump(
                    {
                        "files": [e | {"seq": seq} for e in added],
                        "eq_deletes": [
                            e | {"seq": seq} for e in (eq_deletes or [])
                        ],
                        "deletes": deletes,
                    },
                    fh,
                )
            snap = {
                "seq": seq,
                "operation": operation,
                "parent": cur,
                "manifests": (
                    [mf_name] if replace else prev_manifests + [mf_name]
                ),
                "schema": schema_json,
                "added_files": len(added),
                "added_rows": sum(e["rows"] for e in added),
            }
            try:
                self._publish(snap, seq)
                return seq
            except CommitConflict:
                if expected_parent is not _UNSET:
                    raise  # content-replacing: caller must recompute
                continue  # append: stack on the new parent and retry
        raise CommitConflict(
            "append lost the publish race 50 times in a row"
        )

    # ------------------------------------------------------------ operators

    def _evolved_schema(self, df: DataFrame) -> str:
        """Iceberg-style additive schema evolution: a write may ADD
        nullable columns; existing columns must keep their type.  The
        snapshot records the union schema (old field order first), so
        reads over pre-evolution files null-fill the new columns (the
        explicit-schema parquet reader does this natively) — no file
        is ever rewritten for a schema change.  Type changes and
        non-nullable additions raise: silent widening is how a
        10^12-doc table corrupts quietly."""
        cur = self.current_snapshot()
        if cur is None:
            return df.schema.json()
        old = T.StructType.fromJson(
            json.loads(self._load_snapshot(cur)["schema"])
        )
        new_by_name = {f.name: f for f in df.schema.fields}
        for f in old.fields:
            g = new_by_name.get(f.name)
            if g is not None and g.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change column {f.name!r}: "
                    f"{f.dataType.simpleString()} -> "
                    f"{g.dataType.simpleString()}"
                )
        old_names = {f.name for f in old.fields}
        added = [f for f in df.schema.fields if f.name not in old_names]
        for f in added:
            if not f.nullable:
                raise ValueError(
                    f"new column {f.name!r} must be nullable (existing "
                    "files have no values for it)"
                )
        return T.StructType(list(old.fields) + added).json()

    def append(self, df: DataFrame, part_col: str | None = None) -> int:
        schema = self._evolved_schema(df)
        added = self._write_data(df, part_col)
        return self._commit("append", added, None, schema)

    def overwrite_partitions(
        self, df: DataFrame, part_col: str, expected_parent=_UNSET
    ) -> int:
        """Dynamic partition overwrite: replace exactly the partition
        values present in ``df`` — older files of those partitions
        become invisible via tombstones (and reclaimable by vacuum),
        all other partitions' files are untouched AND unrewritten.

        Content-replacing, so it validates optimistically: the
        expected parent defaults to the snapshot current at entry
        (callers that computed ``df`` from an earlier read — e.g.
        merge_upsert — pass that snapshot instead), and the commit
        raises CommitConflict if the table advanced past it."""
        if expected_parent is _UNSET:
            expected_parent = self.current_snapshot()
        self._require_partitioning(expected_parent, part_col)
        schema = self._evolved_schema(df)
        added = self._write_data(df, part_col)
        values = sorted(
            {e["partition"]["value"] for e in added},
            key=lambda v: (v is None, v),
        )
        deletes = {"part_col": part_col, "values": values}
        return self._commit(
            "overwrite_partitions", added, deletes, schema,
            expected_parent=expected_parent,
        )

    def _require_partitioning(
        self, seq: int | None, part_col: str
    ) -> None:
        """Overwrite/MERGE semantics (partition tombstones, pruned
        merge reads) are only sound when every live file carries the
        SAME partition column — a mixed table would silently exempt
        unpartitioned or differently-partitioned files from
        tombstones and from the merge's current-rows read.  Refuse
        loudly instead (code-review r4 finding #5)."""
        if seq is None:
            return
        for e in self._resolve(seq)[0]:
            p = e["partition"]
            if p is None or p["col"] != part_col:
                have = "unpartitioned" if p is None else repr(p["col"])
                raise ValueError(
                    f"table has live files with {have} partitioning; "
                    f"partition-level operations on {part_col!r} would "
                    "silently miss them"
                )

    def merge_upsert(
        self,
        updates: DataFrame,
        key_cols: list[str],
        order_cols: list[str],
        part_col: str,
    ) -> int:
        """Kept for SCALING.md "Snapshot table format" (MERGE cost).

        Executed conditional MERGE as one atomic snapshot commit:
        ``WHEN MATCHED AND s.order > t.order UPDATE SET *`` /
        ``WHEN NOT MATCHED INSERT *`` (the reference's
        01_Metadata_Sync.py:59-65 rule, MERGE_INTO_SQL in tables.py).

        Only the partitions present in the update batch are re-read —
        via the manifest-pruned ``read``, so the scan receives exactly
        those partitions' files — merged latest-wins per key
        (``order_cols`` descending, which subsumes the monotonic
        guard: a stale matched row simply loses the window), and
        republished.  Untouched partitions' data files AND manifest
        files are reused by name.  Requires ``part_col`` to be a pure
        function of the key (url-hash bucketing satisfies this), the
        same constraint as tables.merge_upsert_pages.

        Unlike the in-place dynamic-overwrite merge
        (tables.merge_upsert_pages), a crash mid-merge here leaves
        the table at the PRE-merge snapshot — the commit is the
        manifest-list rename, after every data file is written.

        The distinct-partitions collect is bounded by partition
        cardinality (= the bucket count at scale), the manifest
        granularity the pipeline already tracks."""
        base = self.current_snapshot()
        merged_new = _latest_per_key(updates, key_cols, order_cols)
        if base is None:
            return self.overwrite_partitions(
                merged_new, part_col, expected_parent=None
            )
        self._require_partitioning(base, part_col)
        touched = sorted(
            (r[0] for r in updates.select(part_col).distinct().collect()),
            key=lambda v: (v is None, str(v)),
        )
        current = self.read(
            snapshot=base, partition_filter={part_col: touched}
        )
        # allowMissingColumns: after additive schema evolution an
        # old-shape update batch (or one introducing the new column)
        # must still merge — missing columns null-fill on either side,
        # matching the format's read-time semantics
        merged = _latest_per_key(
            current.unionByName(updates, allowMissingColumns=True),
            key_cols,
            order_cols,
        )
        # merged was computed against `base`: a commit that landed
        # since would be silently dropped by publishing it, so the
        # overwrite validates against base (CommitConflict -> retry)
        return self.overwrite_partitions(
            merged, part_col, expected_parent=base
        )

    def read(
        self,
        snapshot: int | None = None,
        partition_filter: dict[str, list] | None = None,
        range_filter: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """DataFrame over one snapshot's exact file set (latest by
        default).  ``partition_filter={"col": [v, ...]}`` prunes at
        the MANIFEST layer: non-matching files never reach the scan.
        ``range_filter={"col": (lo, hi)}`` additionally skips files
        whose footer min/max (recorded in the manifest at write time)
        cannot overlap [lo, hi] — Iceberg's stats-based file skipping;
        files without stats for the column are conservatively kept.
        Pruning is metadata-only: the caller still applies the actual
        row predicate (pruning narrows I/O, never semantics).

        Merge-on-read: if the snapshot carries equality-delete files
        (see :meth:`delete_rows`), matching rows are filtered out here
        via a broadcast anti-join — Iceberg v2's read-time delete
        application.  A delete only kills rows from data files with a
        strictly SMALLER commit sequence number, so re-inserting a
        deleted key later resurrects it.  Snapshots without applicable
        deletes take the exact same plan as before (no extra join)."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("table has no snapshots")
        seq = cur if snapshot is None else snapshot
        entries, del_entries, snap = self._resolve_full(seq)
        if partition_filter:
            (col, values), = partition_filter.items()
            wanted = {None if v is None else str(v) for v in values}
            for e in entries:
                p = e["partition"]
                if p is None or p["col"] != col:
                    have = "unpartitioned" if p is None else repr(p["col"])
                    raise ValueError(
                        f"partition_filter on {col!r} but the snapshot "
                        f"has {have} files — pruning would silently "
                        "drop them; read without partition_filter"
                    )
            entries = [
                e
                for e in entries
                if e["partition"]["value"] in wanted
            ]
        if range_filter:
            for col, (lo, hi) in range_filter.items():
                entries = [
                    e
                    for e in entries
                    if (s := e.get("stats", {}).get(col)) is None
                    or ((hi is None or s[0] <= hi) and (lo is None or s[1] >= lo))
                ]
        schema = T.StructType.fromJson(json.loads(snap["schema"]))
        if not entries:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.dir, e["path"]) for e in entries]
        df = self.spark.read.schema(schema).parquet(*paths)
        min_seq = min(e.get("seq", 0) for e in entries)
        applicable = [
            d for d in del_entries if d.get("seq", 0) > min_seq
        ]
        if applicable:
            df = self._apply_eq_deletes(df, entries, applicable)
        return df

    def _apply_eq_deletes(
        self,
        df: DataFrame,
        entries: list[dict],
        del_entries: list[dict],
    ) -> DataFrame:
        """Filter out rows matched by equality-delete files: one
        broadcast LEFT ANTI join per distinct key-column set, with the
        strict-sequence condition ``delete.seq > data-file.seq``.

        The per-row data-file seq comes from a broadcast path→seq dim
        joined on ``_metadata.file_path`` (Spark's hidden file
        metadata column, URI-normalized to an absolute path) — no
        per-row Python, no extra scan.  Delete files are the SMALL
        side by design (takedown/GDPR key lists;
        ``rewrite_data_files`` folds them away), so every added join
        is a broadcast."""
        from pyspark.sql import functions as F

        path_seq = [
            (os.path.join(self.dir, e["path"]), e.get("seq", 0))
            for e in entries
        ]
        dim = self.spark.createDataFrame(
            path_seq, "__apath string, __fseq long"
        )
        df = (
            df.withColumn(
                "__apath",
                F.regexp_replace(
                    F.col("_metadata.file_path"),
                    "^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/",
                ),
            )
            .join(F.broadcast(dim), "__apath", "left")
            # the dim covers every scanned file by construction, so a
            # URI-normalization miss IS a bug — and it must fail
            # LOUDLY, not open: treating an unmatched row as
            # newest-possible would mean NO delete applies to it,
            # silently resurrecting taken-down / GDPR-deleted rows
            # (ADVICE r4). raise_error keeps plan construction
            # action-free and aborts the read at execution time.
            .withColumn(
                "__fseq",
                F.when(
                    F.col("__fseq").isNull(),
                    F.raise_error(
                        F.concat(
                            F.lit(
                                "snaptable: equality-delete file-seq "
                                "resolution missed scanned file "
                            ),
                            F.col("__apath"),
                            F.lit(
                                " — URI normalization regression; "
                                "refusing to read rather than skip "
                                "its deletes"
                            ),
                        )
                    ).cast("long"),
                ).otherwise(F.col("__fseq")),
            )
        )
        by_keys: dict[tuple[str, ...], list[dict]] = {}
        for d in del_entries:
            by_keys.setdefault(tuple(d["key_cols"]), []).append(d)
        for key_cols, dels in sorted(by_keys.items()):
            parts = [
                self.spark.read.parquet(
                    os.path.join(self.dir, d["path"])
                )
                .select(*key_cols)
                .withColumn("__dseq", F.lit(d.get("seq", 0)))
                for d in dels
            ]
            ddf = parts[0]
            for p in parts[1:]:
                ddf = ddf.unionByName(p)
            ddf = ddf.alias("__del")
            cond = F.col("__del.__dseq") > F.col("__dat.__fseq")
            for k in key_cols:
                cond = cond & F.col(f"__dat.{k}").eqNullSafe(
                    F.col(f"__del.{k}")
                )
            df = df.alias("__dat").join(
                F.broadcast(ddf), cond, "left_anti"
            )
        return df.drop("__apath", "__fseq")

    def file_count(self) -> int:
        return len(self._resolve(self.current_snapshot())[0])

    def delete_rows(
        self, keys_df: DataFrame, key_cols: list[str]
    ) -> int:
        """Row-level delete, merge-on-read — Iceberg v2's EQUALITY
        DELETE file.  Writes the distinct key tuples as a small
        parquet delete file and commits; no data file is rewritten
        (at 10^12 docs a takedown/GDPR list cannot afford copy-on-
        write).  Reads apply the deletes via broadcast anti-join
        (:meth:`_apply_eq_deletes`); ``rewrite_data_files`` later
        materializes them away.

        Applicability is by strict sequence number: the delete kills
        matching rows only in data files committed BEFORE it, so a
        subsequent re-insert of the same key is visible.  Like an
        append, the commit composes with any parent (deleting key K
        concurrently with an insert of K linearizes as
        insert-then-delete), so it retries through CAS races rather
        than raising CommitConflict."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("cannot delete from an empty table")
        snap = self._load_snapshot(cur)
        table_schema = T.StructType.fromJson(json.loads(snap["schema"]))
        by_name = {f.name: f for f in table_schema.fields}
        for k in key_cols:
            f = by_name.get(k)
            if f is None:
                raise ValueError(
                    f"delete key column {k!r} not in table schema"
                )
            g = dict(
                (x.name, x) for x in keys_df.schema.fields
            ).get(k)
            if g is None or g.dataType != f.dataType:
                raise ValueError(
                    f"delete key column {k!r} must match the table "
                    f"type {f.dataType.simpleString()}"
                )
        keys = keys_df.select(*key_cols).distinct().coalesce(1)
        dentries = [
            e | {"key_cols": list(key_cols)}
            for e in self._write_data(keys, None)
        ]
        return self._commit(
            "delete_rows", [], None, snap["schema"],
            eq_deletes=dentries,
        )

    def rewrite_data_files(
        self,
        max_rows_per_file: int = 512_000,
        part_col: str | None = None,
    ) -> dict:
        """Bin-pack compaction — Iceberg's ``rewrite_data_files``:
        rewrite the CURRENT snapshot's content into right-sized files
        (one commit, ``replace``-style manifest list of length 1) and
        MATERIALIZE pending equality deletes (the new files carry the
        new commit's seq, so no earlier delete applies to them; the
        delete files themselves drop out of the manifest chain and
        become vacuum-reclaimable).  This is the maintenance pass that
        keeps a 10^12-doc table's file count bounded under many small
        commits and keeps the read-time delete joins empty.

        Partitioned tables repartition BY the partition column so
        each value's rows land in one task (one file per value, split
        at ``max_rows_per_file`` by the writer); ``part_col`` is
        inferred when every live file agrees.  Content-replacing, so
        a concurrent commit surfaces as CommitConflict (coarser than
        Iceberg's per-file conflict detection — documented trade)."""
        import math

        base = self.current_snapshot()
        if base is None:
            raise ValueError("table has no snapshots")
        entries, del_entries, snap = self._resolve_full(base)
        if part_col is None:
            pcols = {
                e["partition"]["col"] if e["partition"] else None
                for e in entries
            }
            if len(pcols) > 1:
                raise ValueError(
                    "mixed partitioning; pass part_col explicitly to "
                    "heal the layout"
                )
            part_col = pcols.pop() if pcols else None
        files_before = len(entries)
        df = self.read(snapshot=base)
        from pyspark.sql import functions as F

        if part_col is not None:
            df = df.repartition(F.col(part_col))
        else:
            total = sum(e["rows"] for e in entries)
            df = df.repartition(
                max(1, math.ceil(total / max_rows_per_file))
            )
        added = self._write_data(df, part_col, max_records=max_rows_per_file)
        seq = self._commit(
            "rewrite_data_files", added, None, snap["schema"],
            expected_parent=base, replace=True,
        )
        return {
            "snapshot": seq,
            "files_before": files_before,
            "files_after": len(added),
            "delete_files_materialized": len(del_entries),
            "rows": sum(e["rows"] for e in added),
        }

    def delete_file_count(self) -> int:
        return len(self._resolve_full(self.current_snapshot())[1])

    def compact_manifests(self) -> int:
        """Fold the current snapshot's resolved entries into ONE
        manifest file and commit — Iceberg's ``rewrite_manifests``.
        Metadata-only: zero data files move.  This is what bounds
        snapshot-resolution cost over a long commit history: the new
        snapshot's list has length 1 (tombstone-shadowed entries are
        gone), while older snapshots keep their original chains until
        ``vacuum`` expires them.  Entries keep their ORIGINAL commit
        seq stamps (delete applicability must not shift); equality-
        delete entries ride along, minus dangling ones no live data
        file is old enough to be affected by (Iceberg's dangling-
        delete drop)."""
        cur = self.current_snapshot()
        if cur is None:
            raise ValueError("table has no snapshots")
        entries, del_entries, snap = self._resolve_full(cur)
        min_seq = min(
            (e.get("seq", 0) for e in entries), default=0
        )
        live_dels = [
            d for d in del_entries if d.get("seq", 0) > min_seq
        ]
        seq = cur + 1
        mf_name = f"m-{seq:010d}-{uuid.uuid4().hex}.json"
        with open(os.path.join(self.meta_dir, mf_name), "w") as fh:
            json.dump(
                {
                    "files": entries,
                    "eq_deletes": live_dels,
                    "deletes": None,
                },
                fh,
            )
        new_snap = {
            "seq": seq,
            "operation": "compact_manifests",
            "parent": cur,
            "manifests": [mf_name],
            "schema": snap["schema"],
            "added_files": 0,
            "added_rows": 0,
        }
        self._publish(new_snap, seq)  # CAS: racing commit -> conflict
        return seq

    def vacuum(
        self, keep_last: int = 1, orphan_grace_seconds: float = 86400.0
    ) -> dict:
        """Expire all but the last ``keep_last`` snapshots and delete
        every data/manifest file they alone referenced.  Time travel
        to an expired snapshot then raises (documented contract).

        Files referenced by NO snapshot at all (orphans) are a
        different case: they may be a concurrent writer's staged-but-
        not-yet-published commit, so they are only deleted when older
        than ``orphan_grace_seconds`` (Iceberg's remove_orphan_files
        ``older_than`` discipline — code-review r4 finding #2: an
        ungraced vacuum could delete an in-flight commit's files and
        let its subsequent publish reference deleted data).

        Per-file mtime alone is not enough: a multi-file write that
        OUTLIVES the grace window has early files older than grace
        while the writer is still appending (ADVICE r4, surfaced via
        ``jobs/maintain_table.py --grace``). So an orphan is only
        deletable when its whole containing directory has been quiet
        for the grace period — the newest mtime across the dir and
        its entries — which makes any finite grace safe against a
        still-active writer; grace then only needs to cover the gap
        between a writer's LAST staged file and its publish (commit
        is a single rename, so seconds — the 86400 s default is
        conservative; values below ~60 s are for tests on quiesced
        tables only, and ``jobs/maintain_table.py`` enforces that
        floor for operators)."""
        import time as _time

        if keep_last < 1:
            raise ValueError(
                "keep_last must be >= 1 (the current snapshot can "
                "never be expired)"
            )
        snaps = self._snapshot_files()
        n_expired = max(0, len(snaps) - keep_last)
        keep = snaps[-keep_last:]
        keep_seqs = [int(s[2:-5]) for s in keep]
        live_files: set[str] = set()
        live_manifests: set[str] = set()
        for seq in keep_seqs:
            entries, dels, snap = self._resolve_full(seq)
            live_files.update(e["path"] for e in entries)
            live_files.update(d["path"] for d in dels)
            live_manifests.update(snap["manifests"])
        # everything any snapshot (kept or expired) ever referenced is
        # known-published; files outside that set are possibly
        # in-flight and get the grace period
        published_files: set[str] = set()
        published_manifests: set[str] = set()
        for s in snaps:
            seq = int(s[2:-5])
            try:
                entries, dels, snap = self._resolve_full(seq)
            except (OSError, ValueError, KeyError):
                # an EXPIRED snapshot whose manifests a previous
                # crashed vacuum already removed: skip — its files are
                # either gone or unreferenced (and then grace-guarded)
                # (code-review r4c finding #2: raising here would
                # brick every future vacuum)
                continue
            published_files.update(e["path"] for e in entries)
            published_files.update(d["path"] for d in dels)
            published_manifests.update(snap["manifests"])
        now = _time.time()
        _dir_quiet_at: dict[str, float] = {}

        def _dir_newest(d: str) -> float:
            """Newest mtime across a directory and its entries — the
            'writer still active here' signal (see docstring)."""
            if d not in _dir_quiet_at:
                try:
                    newest = os.path.getmtime(d)
                    for e in os.listdir(d):
                        try:
                            m = os.path.getmtime(os.path.join(d, e))
                            if m > newest:
                                newest = m
                        except OSError:
                            pass
                except OSError:
                    newest = 0.0
                _dir_quiet_at[d] = newest
            return _dir_quiet_at[d]

        def _deletable(rel: str, full: str, published: set[str]) -> bool:
            if rel in published:
                return True  # expired-snapshot file: safe, was published
            if now - os.path.getmtime(full) <= orphan_grace_seconds:
                return False
            # a concurrent multi-file writer updates its staging dir
            # with every new file: while the dir is "hot", none of its
            # orphans are deletable even if individually old
            return (
                now - _dir_newest(os.path.dirname(full))
                > orphan_grace_seconds
            )

        # expired SNAPSHOT files go first: a crash mid-vacuum then
        # leaves manifests/data unreferenced by any remaining
        # snapshot — reclaimed as grace-guarded orphans by the next
        # vacuum — instead of kept snapshot files pointing at
        # already-deleted manifests (code-review r4c finding #2)
        for s in snaps[:n_expired]:
            os.remove(os.path.join(self.meta_dir, s))
        deleted = 0
        for dirpath, _dirs, files in os.walk(self.data_dir):
            for fn in files:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.dir)
                if rel not in live_files and _deletable(
                    rel, full, published_files
                ):
                    os.remove(full)
                    deleted += 1
        for fn in os.listdir(self.meta_dir):
            if fn.startswith("m-") and fn not in live_manifests:
                full = os.path.join(self.meta_dir, fn)
                if _deletable(fn, full, published_manifests):
                    os.remove(full)
        # drop now-empty staging dirs so the data tree stays walkable
        # (grace-guarded too: a racing writer's staging dir can be
        # momentarily empty between mkdir and its first file)
        for dirpath, dirs, files in list(os.walk(self.data_dir, topdown=False)):
            if (
                dirpath != self.data_dir
                and not dirs
                and not files
                and now - os.path.getmtime(dirpath) > orphan_grace_seconds
            ):
                shutil.rmtree(dirpath, ignore_errors=True)
        return {
            "snapshots_expired": n_expired,
            "files_deleted": deleted,
        }
