"""Table layer: Iceberg-first DDL with a parquet fallback.

The production target is Apache Iceberg (BASELINE.json north_rule):
tables are declared with the DDL below and written via
``df.writeTo(...)``/``MERGE INTO``. This sandbox image has no Iceberg
runtime jars (import-gated per the build constraints), so the same
API is served by a parquet-directory catalog with
dynamic-partition-overwrite standing in for Iceberg's idempotent
partition-level replace. The abstraction mirrors the reference's
UC_Table lazy DDL-bootstrap convention
(python/biomed_genai/config.py:157-185) without Unity Catalog.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# Authoritative Iceberg DDL (applied verbatim when an Iceberg catalog
# is configured; documentation otherwise). Kept for the north-star
# Iceberg table format; tests/test_iceberg.py parse-validates it. bucket(url) partitioning =
# the url-hash bucket scheme; decisions/audit partition on bucket_id.
ICEBERG_DDL: dict[str, str] = {
    "pages": """
        CREATE TABLE IF NOT EXISTS {ns}.pages (
            url STRING, warc_ts TIMESTAMP, html BINARY,
            text STRING, lang STRING)
        USING iceberg
        PARTITIONED BY (bucket({n_buckets}, url))
        TBLPROPERTIES ('format-version'='2', 'write.merge.mode'='merge-on-read')
    """,
    "decisions": """
        CREATE TABLE IF NOT EXISTS {ns}.decisions (
            url STRING, bucket_id INT, warc_ts TIMESTAMP,
            text STRING, title STRING, extract_err STRING,
            langid STRING, langid_conf DOUBLE, perplexity DOUBLE,
            n_words BIGINT, n_chars BIGINT,
            keep BOOLEAN, drop_reasons ARRAY<STRING>,
            scrubbed_text STRING, pii_found BOOLEAN,
            run_id STRING)
        USING iceberg PARTITIONED BY (bucket_id)
    """,
    "audit": """
        CREATE TABLE IF NOT EXISTS {ns}.audit (
            run_id STRING, stage STRING, bucket_id INT,
            n_docs BIGINT, n_kept BIGINT, n_pii BIGINT,
            avg_perplexity DOUBLE, avg_langid_conf DOUBLE,
            reason_counts MAP<STRING,BIGINT>, processed_at TIMESTAMP)
        USING iceberg
    """,
    "manifest": """
        CREATE TABLE IF NOT EXISTS {ns}.manifest (
            run_id STRING, stage STRING, bucket_id INT,
            status STRING, attempt INT, updated_at TIMESTAMP)
        USING iceberg
    """,
}


import pyarrow as _pa

HISTORY_PA_SCHEMA = _pa.schema(
    [
        ("table_name", _pa.string()),
        ("snapshot_id", _pa.int64()),
        ("operation", _pa.string()),
        ("detail", _pa.string()),
        ("committed_at", _pa.timestamp("us", tz="UTC")),
    ]
)


def iceberg_available(spark: SparkSession) -> bool:
    """Kept for the Iceberg DDL path (the north-star table format).

    True iff the Iceberg runtime is actually on the JVM classpath.
    The attribute-walk form (`spark._jvm.org.apache.iceberg.Table`)
    NEVER raises — py4j hands back a JavaPackage stub for missing
    classes — so the probe must force class loading (code-review
    r4c3 finding #4)."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.Table"
        )
        return True
    except Exception:
        return False


class ParquetCatalog:
    """Directory-of-parquet catalog with the subset of table ops the
    pipeline needs: append, partition-overwrite, read."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return f"{self.root}/{name}.parquet"

    def exists(self, name: str) -> bool:
        p = self.path(name)
        return os.path.isdir(p) and any(
            f.endswith(".parquet")
            or f == "_SUCCESS"
            # partitioned layout: <col>=<value>/ dirs, no root files
            or ("=" in f and os.path.isdir(os.path.join(p, f)))
            for f in os.listdir(p)
        )

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def append(self, df: DataFrame, name: str, part_col: str | None = None) -> None:
        w = df.write.mode("append")
        if part_col is not None:
            w = w.partitionBy(part_col)
        w.parquet(self.path(name))
        self._log_snapshot(name, "append", part_col or "")

    def _log_snapshot(self, name: str, operation: str, detail: str) -> None:
        """Append one commit row to the catalog's snapshot log — the
        parquet-fallback mirror of Iceberg's `<table>.snapshots`
        metadata table (reference S15: DESCRIBE HISTORY version
        discovery, 02_Articles_Ingest.py:96 / config.py:187-189).
        Driver-side pyarrow; no Spark job."""
        import time
        import uuid
        from datetime import datetime, timezone

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = f"{self.root}/_history"
        os.makedirs(d, exist_ok=True)
        row = {
            "table_name": name,
            "snapshot_id": time.monotonic_ns(),
            "operation": operation,
            "detail": detail,
            "committed_at": datetime.now(timezone.utc),
        }
        pq.write_table(
            pa.Table.from_pylist([row], schema=HISTORY_PA_SCHEMA),
            f"{d}/part-{uuid.uuid4().hex}.parquet",
        )

    def history(self, name: str) -> list[dict]:
        """Commit log of one table, newest first (snapshot_id is a
        per-process monotonic clock; committed_at breaks cross-process
        ties). The Iceberg analog is `SELECT * FROM <t>.snapshots`."""
        import glob as _glob

        import pyarrow.parquet as pq

        files = sorted(_glob.glob(f"{self.root}/_history/*.parquet"))
        rows: list[dict] = []
        for f in files:
            rows.extend(pq.read_table(f).to_pylist())
        rows = [r for r in rows if r["table_name"] == name]
        rows.sort(key=lambda r: (r["committed_at"], r["snapshot_id"]), reverse=True)
        return rows

    def append_rows(self, rows: list[dict], schema: "pa.Schema", name: str) -> None:
        """Driver-side append of a SMALL row set (manifest marks,
        collected audit rows) as one parquet file via pyarrow —
        metadata bookkeeping must not spin up distributed jobs
        (several hundred ms of scheduling each; they dominate the
        fixed cost of small runs and add up across resume cycles)."""
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.path(name)
        os.makedirs(path, exist_ok=True)
        table = pa.Table.from_pylist(rows, schema=schema)
        pq.write_table(table, f"{path}/part-{uuid.uuid4().hex}.parquet")

    def drop_partitions(self, name: str, part_col: str, values: list) -> None:
        """Remove whole partitions (Iceberg: DELETE WHERE part_col IN
        (...) / REPLACE PARTITIONS; parquet fallback: rm the partition
        dirs). Needed when a partition's NEW content may be EMPTY:
        dynamic overwrite only replaces partitions that appear in the
        written frame, so an all-rows-dropped bucket would otherwise
        retain its previous files."""
        import shutil

        base = self.path(name)
        for v in values:
            shutil.rmtree(f"{base}/{part_col}={v}", ignore_errors=True)
        self._log_snapshot(name, "drop_partitions", f"{part_col}:{len(values)}")

    def overwrite_partitions(self, df: DataFrame, name: str, part_col: str) -> None:
        """Idempotent per-partition replace — Iceberg's
        overwritePartitions(); parquet dynamic partition overwrite
        here (spark.sql.sources.partitionOverwriteMode=dynamic)."""
        (
            df.write.mode("overwrite")
            .partitionBy(part_col)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(self.path(name))
        )
        self._log_snapshot(name, "overwrite_partitions", part_col)

    def _file_stats(self, name: str) -> dict[str, tuple[int, int]]:
        """(n_files, bytes) per partition dir ('' = unpartitioned
        root), from a driver-side walk — footer metadata only, no
        Spark job. On a real catalog this is the manifest/file-list
        metadata query."""
        base = self.path(name)
        stats: dict[str, tuple[int, int]] = {}
        for dirpath, _dirs, files in os.walk(base):
            pf = [f for f in files if f.endswith(".parquet")]
            if not pf:
                continue
            rel = os.path.relpath(dirpath, base)
            key = "" if rel == "." else rel
            n = sum(
                os.path.getsize(os.path.join(dirpath, f)) for f in pf
            )
            stats[key] = (len(pf), n)
        return stats

    def compact(self, name: str, part_col: str | None = None) -> dict:
        """Kept for SCALING.md "Layout & retrieval" (small-file
        compaction).

        Small-file compaction — the Iceberg rewrite_data_files /
        Delta OPTIMIZE analog for the parquet catalog. Every append
        and streaming micro-batch leaves one-or-more files; at 10^12
        docs a day of micro-batches is millions of tiny files whose
        open/footer cost dominates the scan. Bin-pack each fragmented
        partition (>= 2 files AND under 128 MiB total) back to one
        file; an unpartitioned table gets ceil(bytes/128 MiB) files.

        Only fragmented partitions are rewritten (dynamic partition
        overwrite — untouched partitions keep their exact files, same
        guarantee the MERGE path relies on); an unpartitioned table
        rewrites atomically via a tmp-dir swap. Data is rewritten
        byte-identically (no re-sort here; combine with zorder_write
        when re-clustering is wanted). Returns {files_before,
        files_after, partitions_rewritten, rows}."""
        import math
        import shutil
        import uuid

        from pyspark.sql import functions as F

        target_bytes = 128 << 20
        base = self.path(name)
        before = self._file_stats(name)
        files_before = sum(n for n, _ in before.values())
        rows = self.read(name).count()

        if part_col is None:
            total = sum(b for _, b in before.values())
            n_out = max(1, math.ceil(total / target_bytes))
            if files_before <= n_out:
                return {
                    "files_before": files_before,
                    "files_after": files_before,
                    "partitions_rewritten": 0,
                    "rows": rows,
                }
            tmp = f"{base}._compact_{uuid.uuid4().hex}"
            self.read(name).coalesce(n_out).write.mode("overwrite").parquet(tmp)
            n_new = self.spark.read.parquet(tmp).count()
            if n_new != rows:  # never swap in a bad rewrite
                shutil.rmtree(tmp, ignore_errors=True)
                raise RuntimeError(f"compact row mismatch: {rows} -> {n_new}")
            old = f"{base}._old_{uuid.uuid4().hex}"
            os.rename(base, old)
            os.rename(tmp, base)
            shutil.rmtree(old, ignore_errors=True)
            self._log_snapshot(name, "compact", f"files:{files_before}->{n_out}")
            after = sum(n for n, _ in self._file_stats(name).values())
            return {
                "files_before": files_before,
                "files_after": after,
                "partitions_rewritten": 1,
                "rows": rows,
            }

        # partitioned: rewrite only fragmented partitions
        frag: list[str] = []
        for key, (n, b) in before.items():
            # fragmented = several files that together still fit one
            # target file; bigger partitions are left to a ranged
            # rewrite (zorder_write) rather than a blind coalesce
            if key and n >= 2 and b < target_bytes:
                frag.append(key)
        if not frag:
            return {
                "files_before": files_before,
                "files_after": files_before,
                "partitions_rewritten": 0,
                "rows": rows,
            }
        # partition dir names are <part_col>=<value>
        values = [k.split("=", 1)[1] for k in frag if k.startswith(f"{part_col}=")]
        df = self.read(name)
        vtype = dict(df.dtypes)[part_col]
        # the hive null sentinel is a DIRECTORY name, not a value:
        # int()-ing it crashed compaction of any table with a
        # fragmented null partition (code-review r4c3 finding #6)
        has_null = "__HIVE_DEFAULT_PARTITION__" in values
        values = [v for v in values if v != "__HIVE_DEFAULT_PARTITION__"]
        lit_vals = [int(v) for v in values] if vtype in (
            "int", "bigint", "smallint", "tinyint"
        ) else values
        pred = F.col(part_col).isin(lit_vals)
        if has_null:
            pred = pred | F.col(part_col).isNull()
        sel = df.filter(pred)
        # one output file per fragmented partition (they are small by
        # selection); the shuffle key is the partition itself
        (
            sel.repartition(F.col(part_col))
            .write.mode("overwrite")
            .partitionBy(part_col)
            .option("partitionOverwriteMode", "dynamic")
            .parquet(base)
        )
        n_new = self.read(name).count()
        if n_new != rows:
            raise RuntimeError(f"compact row mismatch: {rows} -> {n_new}")
        self._log_snapshot(name, "compact", f"partitions:{len(values)}")
        after = sum(n for n, _ in self._file_stats(name).values())
        return {
            "files_before": files_before,
            "files_after": after,
            "partitions_rewritten": len(values),
            "rows": rows,
        }


def latest_per_url(pages: DataFrame, cluster_col: str | None = None) -> DataFrame:
    """Monotonic upsert semantics as a batch operator: keep the newest
    crawl of each url (ties broken deterministically by html hash).

    This is the reference's conditional MERGE
    (whenMatchedUpdateAll(condition='src.LastUpdated > tgt.LastUpdated'),
    databricks/retriever/pubmed_wf/01_Metadata_Sync.py:59-65) expressed
    as a window-dedup over the batch; with an Iceberg catalog the same
    rule runs as MERGE INTO ... WHEN MATCHED AND s.warc_ts > t.warc_ts.
    At scale this is one shuffle on url — the same shuffle MERGE would
    pay — and AQE handles any residual partition imbalance.

    ``cluster_col``: a column that is a PURE FUNCTION of url (e.g.
    the pipeline's url-hash bucket_id). When given, the window
    partitions by (cluster_col, url) — semantically identical groups
    — so an input already hash-partitioned on cluster_col satisfies
    the window's clustering requirement and NO exchange is inserted
    (HashPartitioning on a subset of the clustering keys satisfies
    ClusteredDistribution). run_filter uses this to run the whole
    filter pipeline with a single shuffle end-to-end.
    """
    keys = ([cluster_col] if cluster_col else []) + ["url"]
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("warc_ts").desc(), F.md5(F.col("html")).desc())
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# Kept with ICEBERG_DDL: the Iceberg upsert, parse-validated by
# tests/test_iceberg.py.
MERGE_INTO_SQL = """
MERGE INTO {ns}.pages t
USING updates s
ON t.url = s.url
WHEN MATCHED AND s.warc_ts > t.warc_ts THEN UPDATE SET *
WHEN NOT MATCHED THEN INSERT *
"""


def merge_upsert_pages(
    catalog: "ParquetCatalog",
    updates: DataFrame,
    name: str = "pages",
    n_buckets: int = 64,
) -> None:
    """Kept for SCALING.md "Snapshot table format" (MERGE cost baseline).

    Keyed monotonic upsert into a url-hash-bucketed catalog table —
    the batch equivalent of MERGE_INTO_SQL for the parquet fallback.

    Per-BUCKET merge (VERDICT r1 #5): only the bucket partitions that
    appear in the update batch are read back, merged (newest row per
    url wins) and dynamically overwritten; every other bucket's files
    are untouched (asserted by tests/test_tables.py). With an Iceberg
    catalog the same statement is one MERGE INTO with merge-on-read
    positional deletes; the bucket spec makes the two storage layouts
    equivalent at the partition level.

    The distinct-buckets collect is a bounded driver-side job
    (<= n_buckets rows), the same granularity the manifest tracks.

    Reference parity: whenMatchedUpdateAll(condition='src.LastUpdated
    > tgt.LastUpdated') + insertAll (01_Metadata_Sync.py:59-65).
    """
    from .partitioning import with_bucket

    upd = with_bucket(updates, n_buckets)
    if upd.isEmpty():
        # a zero-row overwrite would create a _SUCCESS-only dir that
        # exists() reports as a table but read() cannot infer a
        # schema from — poisoning every later merge (code-review
        # r4c3 finding #5)
        return
    if not catalog.exists(name):
        catalog.overwrite_partitions(latest_per_url(upd), name, "bucket_id")
        return
    affected = sorted(
        r["bucket_id"] for r in upd.select("bucket_id").distinct().collect()
    )
    current = catalog.read(name).filter(F.col("bucket_id").isin(affected))
    merged = latest_per_url(current.unionByName(upd))
    catalog.overwrite_partitions(merged, name, "bucket_id")
