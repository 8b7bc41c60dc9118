"""SparkSession factory with scale-aware defaults.

Settings chosen for the CDC workload (large shuffles keyed on ``url``,
Arrow-batched pandas UDFs, AQE for skew):

- AQE on (runtime coalesce + skew-join splitting),
- shuffle partitions sized to parallelism (overridable),
- Arrow enabled for pandas UDF transfer,
- parquet pushdown on (default, made explicit for documentation).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import zipimport

from pyspark.sql import SparkSession


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor python workers (the local-mode analog of
    ``spark-submit --py-files pkg.zip`` the north_rule deploys with)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), "adsimportpipeline_spark_pyfiles")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir),
                                   os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(zip_path)


def forget_zip_importers() -> None:
    """Drop every ``zipimport.zipimporter`` from ``sys.path_importer_cache``
    of the calling process; ``sys.path`` and ``sys.modules`` stay as they are.

    Called once per Python task on the workers.  At the start of every task
    PySpark's worker runs ``importlib.invalidate_caches()``
    (``pyspark/worker_util.py``, from ``setup_spark_files``), and on CPython
    3.11 that makes every cached zip importer re-read its archive's whole
    central directory in pure Python.  A worker that ran this package's UDFs
    held 19 of them: 12 over ``pyspark.zip`` (1,328 entries each), 2 over
    the spark-core jar (5,359 each), 3 over the shipped package zip and 2
    over py4j's — ~26.8 k entries parsed, 120–230 ms per task on 4 vCPUs.
    With the importers gone the next task's ``invalidate_caches`` finds
    none: on a ``local[1]`` probe, consecutive one-partition tasks of one
    reused worker ran 195–260 ms apart before and 40–75 ms after, the same
    gap as tasks that import nothing from a zip.  CPython 3.13 made this
    lazy: its
    ``zipimporter.invalidate_caches`` only drops the cached directory, and
    ``_get_files`` re-reads it on the next lookup, once per archive.

    Safe because modules already imported keep their own loaders; a later
    import through one of those paths builds a fresh importer from
    zipimport's cached directory (no re-read); and none of the archives
    changes during a worker's life — not ``pyspark.zip``, not the jar, not
    the package zip :func:`_ship_package` adds once per SparkContext.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def ensure_shipped(spark: SparkSession) -> SparkSession:
    """Idempotently ship the package into an externally-created session
    (e.g. the verification driver's) so pandas UDFs resolve on workers."""
    marker = "adsimportpipeline.shipped"
    try:
        if spark.conf.get(marker, None) != "true":
            _ship_package(spark)
            spark.conf.set(marker, "true")
    except Exception:
        pass
    return spark


def get_spark(
    app_name: str = "adsimportpipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    # shuffle/spill dirs on tmpfs when available: local-mode shuffle over a
    # virtio disk serializes concurrent writers and inverts core scaling; on
    # a real cluster this is the node-local NVMe. Falls back to the default
    # temp dir when /dev/shm is absent.
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # INT96 (Spark's legacy default) carries NO parquet min/max
        # statistics, which kills both the lake's manifest column metrics
        # and scan-side row-group skipping on warc_ts; TIMESTAMP_MICROS is
        # the modern encoding every reader understands
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # zstd over default snappy: html payloads compress ~3-5x better, and
        # on a memory-bandwidth-bound node (or tmpfs scratch) every written /
        # re-read byte is bus traffic — trading decompression ALU (which
        # scales with cores) for bandwidth (which doesn't) is the right side
        # of the exchange at every cluster size
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # throughput collector for a batch engine: G1's concurrent mark /
        # refinement threads compete with the (few) worker cores and its
        # region management costs more at this heap churn (shuffle + parquet
        # encode).  Measured on the replay: better steady walls at every
        # core count, ~2x better cold first-run at 4 cores, and a
        # consistently higher N->4N scaling ratio.  Cluster deployments set
        # the same flag via spark.executor.extraJavaOptions.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # PySpark's per-call origin capture (pyspark/errors/utils.py
        # _with_origin) wraps every functions.* call in py4j round trips:
        # look up the active session, read a conf, capture the Python call
        # stack, set and clear a JVM origin.  On 4 vCPUs 200 F.col + F.lit
        # pairs took 350-640 ms with it and 130-220 ms without, and a warm
        # incremental apply_batch of 300 events made 1,119-1,152 py4j round
        # trips with it and 633-760 without.  Cost: a failing DataFrame
        # operation's error context no longer names the Python call site.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _ship_package(spark)
    return spark
