"""SparkSession factory tuned for the quality-filter workload.

Local-mode knobs follow the public Spark tuning guidance: shuffle
partitions ~ cores, AQE on (runtime coalesce + skew-join), Arrow on
for every pandas-UDF stage. On a real cluster the same builder is
used by ``jobs/run_filter.py`` via spark-submit; only master/memory
come from the environment.

AQE also sizes the plans that fill a ``persist()``: Spark's default
(``canChangeCachedPlanOutputPartitioning=false``) keeps a cached
plan's final stage at the full ``spark.sql.shuffle.partitions``, and
every later scan of that cache, including a pandas UDF over it, then
runs one task per partition. A Python task costs ~0.2 CPU-s of worker
overhead however few rows it holds (the worker re-reads its zip
imports' directories on every task), so an empty partition that
reaches a Python stage is not free.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "webfilter",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` drives both ``local[N]`` and the shuffle-partition
    default; at cluster scale shuffle partitions are instead sized to
    ~2-3x total executor cores (set explicitly via ``extra_conf``).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        # 4 waves per stage, not 1: the post-shuffle stage carries the
        # Arrow-UDF work, and with partitions == cores a single
        # straggler idles every other core for the whole stage tail
        # (this was the round-1 scaling-efficiency loss). AQE's
        # coalescing merges the partitions of a small shuffle back
        # down, but only where it is allowed to: a repartition with
        # an explicit count is never coalesced (run_filter hashes on
        # the column alone for this reason), and a plan that fills a
        # persist() is coalesced only with the cached-plan setting
        # below.
        shuffle_partitions = max(4 * cores, 16)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # coalesce the final stage of a plan that fills a persist()
        # too (off by default; see the module docstring): near-dedup's
        # caches feed the MinHash UDF
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches amortize the JVM<->Python hop for the
        # scoring UDFs; each batch is a few MB of text
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # input splits sized for task balance, not 128MB bandwidth
        # chunks: the scan stage feeds the url-window shuffle, and a
        # 400MB corpus must not collapse into 3-4 splits when 8-32
        # cores are available (maxPartitionBytes is per-SPLIT, so
        # this only adds tasks, never breaks row groups)
        .config("spark.sql.files.maxPartitionBytes", "16m")
        # dynamic partition overwrite = per-bucket idempotent rewrite
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("WEBFILTER_DRIVER_MEM", default_driver_mem()),
        )
        # staged rule projections (webfilter.rules.with_heuristics)
        # materialize the token array once; CollapseProject would
        # re-inline it into every consumer (~15x re-evaluation of
        # split(trim(text)) per row) — measured 1.6-2x on the rules+
        # scrub stages
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.CollapseProject",
        )
    )
    # shuffle/spill scratch on tmpfs when it is actually BIG enough:
    # this sandbox has one virtual disk, which would serialize
    # shuffle I/O and mask compute scaling; on a real cluster each
    # executor has local SSDs. /dev/shm exists on every Linux host
    # including 64MB-default Docker containers, where pointing
    # shuffles at it dies with ENOSPC — so the redirect is gated on
    # free tmpfs space (>= 8 GiB) and the dir is per-uid so a second
    # user does not hit the first user's ownership (code-review r4c9
    # finding #3). WEBFILTER_NO_SHM=1 opts out entirely.
    if os.path.isdir("/dev/shm") and not os.environ.get("WEBFILTER_NO_SHM"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 << 30:
                builder = builder.config(
                    "spark.local.dir",
                    f"/dev/shm/spark-local-{os.getuid()}",
                )
        except OSError:
            pass
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def default_driver_mem() -> str:
    """Half of physical RAM, capped at 48g: a local-mode driver runs
    every task, and the Python workers and Arrow buffers need the
    other half. A fixed 48g lets the heap grow past what a small host
    has."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(ram // 2, 48 << 30) >> 20}m"


def package_zip(dst_dir) -> Path:
    """Zip this source checkout's webfilter/*.py into
    ``dst_dir/webfilter_pkg.zip`` and return its path. Every entry has
    a PINNED timestamp, so any two zips of the same tree are
    byte-identical: Spark accepts a re-add of the same filename iff
    the contents match."""
    import zipfile

    pkg_root = Path(__file__).resolve().parent.parent
    archive = Path(dst_dir) / "webfilter_pkg.zip"
    with zipfile.ZipFile(archive, "w", zipfile.ZIP_DEFLATED) as zf:
        for f in sorted((pkg_root / "webfilter").rglob("*.py")):
            zi = zipfile.ZipInfo(
                str(f.relative_to(pkg_root)), date_time=(2020, 1, 1, 0, 0, 0)
            )
            zf.writestr(zi, f.read_bytes())
    return archive


def ship_package(spark: SparkSession) -> None:
    """addPyFile the webfilter package so executor python workers can
    unpickle UDF kernels regardless of how the driver was launched
    (spark-submit --py-files, source checkout, or embedding).

    The staging dir is removed at interpreter exit, not here: the
    context serves the zip to workers for as long as it lives."""
    import atexit
    import shutil
    import tempfile

    import logging

    if not (Path(__file__).resolve().parent / "__init__.py").exists():
        return  # running from a zip already shipped via --py-files
    # per-process staging dir: a fixed shared path raced concurrent
    # drivers (one ships a mid-rewrite zip) and failed cross-user on
    # ownership (code-review r4c9 finding #4). __spark_entry__
    # delegates here so there is exactly one shipper (r4c10
    # findings #5/#9).
    zdir = Path(tempfile.mkdtemp(prefix="webfilter_pyfiles_"))
    atexit.register(shutil.rmtree, zdir, ignore_errors=True)
    archive = package_zip(zdir)
    try:
        spark.sparkContext.addPyFile(str(archive))
    except Exception as e:
        # a re-add of identical bytes succeeds silently; different
        # bytes under the same name mean webfilter/*.py changed under
        # this live context, and executors would go on running the
        # stale zip until tasks fail much later — refuse NOW
        if "does not match contents" in str(e):
            raise RuntimeError(
                "the webfilter package changed since this SparkContext "
                "first shipped it; restart the Spark session (spark.stop() "
                "and get_spark again) to ship the new code"
            ) from e
        # anything else must be visible NOW, not later as a
        # ModuleNotFoundError on an executor (finding #5)
        logging.getLogger(__name__).warning(
            "addPyFile(%s) failed: %s", archive, e
        )
