"""Partition-level checkpoint manifest: the resume/idempotency engine.

The reference resumes row-level: a PENDING/DOWNLOADED status column
plus a left-anti join of metadata against the target table
(03_Curate_Articles.py:64-65, pmc.py:150-151). That anti-join is
O(rows) and does not survive 10^12 rows (SURVEY.md §4), so we promote
the frontier to *bucket* granularity: the manifest holds <= n_buckets
rows per stage, the anti-join becomes a driver-side set difference,
and the pages table is only ever filtered by a pushed-down
``bucket_id IN (...)`` predicate (partition pruning on the Iceberg
bucket spec).

The manifest is deliberately driver-side end to end (pyarrow
read/append, no Spark jobs): it is metadata bookkeeping of bounded
size, and each distributed job costs hundreds of ms of scheduling —
the reference pays that with per-micro-batch MERGEs into its
watermark table (pmc.py:170-175); we don't.

Crash safety: status rows are append-only (latest updated_at wins);
a bucket is DONE only after its output partition is fully rewritten,
and rewrites are idempotent (dynamic partition overwrite), so a
kill at any point re-runs at most the in-flight buckets.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq

from .tables import ParquetCatalog

PA_SCHEMA = pa.schema(
    [
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("bucket_id", pa.int32()),
        ("status", pa.string()),
        ("attempt", pa.int32()),
        ("updated_at", pa.timestamp("us", tz="UTC")),
        # strictly-increasing per manifest: the latest-wins tiebreaker
        # when two marks land in the same microsecond
        ("seq", pa.int64()),
    ]
)


PENDING, RUNNING, DONE, ERROR = "PENDING", "RUNNING", "DONE", "ERROR"


class Manifest:
    """State is keyed by (stage, bucket_id): one pipeline can run
    several stages (filter, dedup, ...) over the same buckets without
    a later stage's DONE shadowing an earlier stage's status. Rows
    are append-only; latest (updated_at, seq) wins — seq is a
    strictly-increasing per-manifest counter so two marks written in
    the same microsecond still order deterministically."""

    def __init__(self, catalog: ParquetCatalog):
        self.catalog = catalog
        self._state_cache: dict[tuple[str, int], tuple[str, int, str]] | None = None
        self._max_seq = 0

    @property
    def _dir(self) -> str:
        return self.catalog.path("manifest")

    def _read_state(self) -> dict[tuple[str, int], tuple[str, int, str]]:
        """(stage, bucket_id) -> (status, attempt, run_id), latest row
        per key. Bounded: <= n_stages * n_buckets * attempts rows total
        — fully driver-side by design (never row-level)."""
        if self._state_cache is not None:
            return self._state_cache
        files = sorted(glob.glob(f"{self._dir}/*.parquet"))
        if not files:
            self._state_cache = {}
            return self._state_cache
        table = pa.concat_tables(
            [pq.read_table(f) for f in files], promote_options="default"
        )
        pdf = table.to_pandas()
        if "seq" not in pdf.columns:  # pre-seq manifest files
            pdf["seq"] = 0
        pdf["seq"] = pdf["seq"].fillna(0).astype("int64")
        pdf = pdf.sort_values(["updated_at", "seq", "attempt"])
        state: dict[tuple[str, int], tuple[str, int, str]] = {}
        for r in pdf.itertuples(index=False):
            state[(str(r.stage), int(r.bucket_id))] = (
                r.status, int(r.attempt), str(r.run_id),
            )
        self._max_seq = int(pdf["seq"].max()) if len(pdf) else 0
        self._state_cache = state
        return state

    def pending_buckets(
        self,
        n_buckets: int,
        stage: str = "filter",
        max_attempts: int | None = None,
    ) -> list[int]:
        """Buckets still needing work. ``max_attempts`` (opt-in)
        quarantines poison buckets: one that deterministically fails
        keeps its ERROR mark and is retried only while its attempt
        count stays under the cap, instead of forever on every resume
        (code-review r4c11 finding #6 — the attempt counter was
        recorded but never consulted). Quarantined buckets stay
        visible via status()/attempts() for operator triage; the
        default (None) keeps unbounded retries, the pre-existing
        semantics."""
        state = self._read_state()
        out = []
        for b in range(n_buckets):
            st, att, _r = state.get((stage, b), (PENDING, 0, ""))
            if st == DONE:
                continue
            if (
                max_attempts is not None
                and st == ERROR
                and att >= max_attempts
            ):
                continue  # quarantined poison bucket
            out.append(b)
        return out

    def attempts(self, stage: str, bucket_id: int) -> int:
        return self._read_state().get(
            (stage, int(bucket_id)), (PENDING, 0, "")
        )[1]

    def status(self, stage: str, bucket_id: int) -> str:
        return self._read_state().get((stage, int(bucket_id)), (PENDING, 0, ""))[0]

    def run_of(self, stage: str, bucket_id: int) -> str | None:
        """run_id of the latest mark for (stage, bucket) — the hook
        that lets a later stage consume exactly the table rows the
        completing run produced (e.g. dup_pairs filtered to the run
        that finished the candidate stage, never stale pairs from an
        earlier run/config — ADVICE r2)."""
        row = self._read_state().get((stage, int(bucket_id)))
        return row[2] if row else None

    def mark(self, run_id: str, stage: str, bucket_ids: list[int], status: str) -> None:
        if not bucket_ids:
            return
        state = self._read_state()
        now = datetime.fromtimestamp(time.time(), tz=timezone.utc)
        rows = []
        for b in bucket_ids:
            self._max_seq += 1
            rows.append(
                {
                    "run_id": run_id,
                    "stage": stage,
                    "bucket_id": int(b),
                    "status": status,
                    "attempt": state.get((stage, int(b)), ("", 0, ""))[1]
                    + (1 if status == RUNNING else 0),
                    "updated_at": now,
                    "seq": self._max_seq,
                }
            )
        os.makedirs(self._dir, exist_ok=True)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=PA_SCHEMA),
            f"{self._dir}/part-{uuid.uuid4().hex}.parquet",
        )
        cache = dict(state)
        for r in rows:
            cache[(r["stage"], r["bucket_id"])] = (
                r["status"], r["attempt"], r["run_id"],
            )
        self._state_cache = cache

    def guard_schema(self, stage: str, cols: list[str], n_buckets: int) -> None:
        """Refuse to RESUME a stage across an output-schema change
        (ADVICE r3: DECISION_COLS grew by quality_prob, so resuming a
        pre-change run would mix bucket files with inconsistent
        schemas — readers unioning bucket dirs without mergeSchema
        break). Records the column list alongside the manifest on the
        first run; a mismatch with any bucket already DONE raises
        (operator must restart the stage or read with mergeSchema);
        with nothing DONE yet the record is simply updated."""
        marker = os.path.join(self._dir, f"_{stage}_schema.txt")
        recorded = None
        if os.path.exists(marker):
            with open(marker) as fh:
                recorded = fh.read().split("\n")
        if recorded is not None and recorded != list(cols):
            done = [
                b for b in range(n_buckets)
                if self.status(stage, b) == DONE
            ]
            if done:
                raise ValueError(
                    f"stage '{stage}' output schema changed "
                    f"({len(recorded)} -> {len(cols)} cols: "
                    f"{sorted(set(cols) ^ set(recorded))}) but buckets "
                    f"{done[:8]}{'...' if len(done) > 8 else ''} are "
                    "already DONE with the old schema — restart the "
                    "stage (delete its manifest marks + output) or read "
                    "with mergeSchema; refusing a mixed-schema table"
                )
        os.makedirs(self._dir, exist_ok=True)
        # atomic: a crash mid-write would leave a truncated column
        # list and force a spurious schema-changed restart on the
        # next resume (code-review r4c11 finding #2)
        tmp = marker + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(cols))
        os.replace(tmp, marker)
