"""Session construction and tuning.

Two situations:
  * We own the session (bench.py, tests, CLI): build it with `get_spark()`.
  * The driver owns the session (`__spark_entry__.entry/queries`): we may only
    set *runtime-settable* SQL confs.

`tune()` is the one place package confs are applied, in both situations.  It
runs again on every table load, so it holds only what the package needs
everywhere, and only what Spark would not set by itself.  `get_spark` adds
what must be fixed before the JVM starts (master, heap, UI) and the
broadcast-join threshold of the sessions it builds: a starting value that a
caller may change, which `tune()` would reset.  Split sizing is Spark's own:
a file scan packs `min(maxPartitionBytes, max(openCostInBytes, bytes/cores))`
per task, so small tables stay one split and a backlog of many small stream
files packs into about one task per core.  AQE (partition coalescing,
skew-join splitting) is on by Spark's default, so a static
`spark.sql.shuffle.partitions` only needs to be an upper bound.  All
timestamps are UTC so results are independent of cluster timezone.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

# Runtime-settable confs applied to any session we touch.  Keys must all be
# modifiable after session start, and each value must differ from Spark's
# default (tests/test_streaming.py checks both).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # The driver testdata stores events.ts as parquet TIMESTAMP(NANOS), which
    # Spark's reader rejects; read as long and convert (sources/catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}

# Spark's checkpoint file manager over the Hadoop FileSystem API (see tune()).
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)

_SHIPPED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of the driver's
    working directory (Python UDF closures reference it by module name).

    Zips the package once per process and registers it with addPyFile --
    the same mechanism a spark-submit --py-files deployment would use on a
    real cluster.
    """
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(tempfile.gettempdir(), "ssq_spark_pkg.zip")
    if not _SHIPPED:  # rebuild once per process so edits are never stale
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            os.path.basename(pkg_dir), os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # already registered in this context
    _SHIPPED.add(app_id)


def tune(spark: SparkSession, shuffle_partitions: int | None = None) -> SparkSession:
    """Apply this package's runtime confs to any session, owned or not
    (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not recognized / locked down -> keep going
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        if spark.sparkContext.master.startswith("local"):
            # Split sizing stays Spark's here too: its rule already keeps a
            # small table one split and packs a backlog of small stream files
            # into about one task per core, where a fixed small cap would make
            # each file its own task.
            # Checkpoint commits (offset/commit logs, state-store deltas) go
            # through Spark's FileSystem-based manager.  The default
            # FileContext one on file:// checks link status on every rename
            # and creates files with an explicit permission; without a
            # native libhadoop each of those forks `readlink` or `chmod`, so
            # a stateful micro-batch spawned hundreds of processes and its
            # state commit dominated the batch.  On a local disk rename is
            # atomic (POSIX), so the FileSystem rename is safe.  LOCAL ONLY:
            # a cluster keeps Spark's default manager for its object stores.
            # Not done, measured: fs.file.impl=RawLocalFileSystem saves a bit
            # more but breaks the RocksDB state store (its file manager casts
            # the local FS to LocalFileSystem), and as a runtime conf it only
            # takes effect with fs.file.impl.disable.cache=true, which makes
            # every getFileSystem call build a new instance.
            spark.conf.set("spark.sql.streaming.checkpointFileManagerClass", FS_CHECKPOINT_MANAGER)
    except Exception:
        pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "sparkstreaming-quickstart-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a tuned local session.

    Honors SPARK_GRAFT_CPUS for core count (bench contract) and
    SPARK_DRIVER_MEMORY for the heap (default: half of physical RAM, 1g-32g).
    On a real cluster, drop `master` and submit normally; every conf here is
    still appropriate.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    driver_memory = os.environ.get("SPARK_DRIVER_MEMORY", f"{max(1, min(32, ram_gb // 2))}g")
    spark = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return tune(spark, shuffle_partitions)
