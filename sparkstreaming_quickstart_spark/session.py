"""Session construction and tuning.

Two situations:
  * We own the session (bench.py, tests, CLI): build it with `get_spark()`.
  * The driver owns the session (`__spark_entry__.entry/queries`): we may only
    set *runtime-settable* SQL confs.

`tune()` is the one place package confs are applied, in both situations.  It
runs again on every table load, so it holds only what the package needs
everywhere, and only what Spark would not set by itself.  `get_spark` adds
what must be fixed before the JVM starts (master, heap, UI) and one starting
value of the sessions it builds, the broadcast-join threshold: a value a
caller may change, which `tune()` must not reset.

The shuffle partition count is one policy for batch shuffles and state
stores (one per partition, fixed at a query's first checkpoint) alike: on a
local master `tune()` sets it to the session's cores unless someone set it.
A cluster keeps Spark's default or the operator's setting, since executors
may not have registered when `tune()` runs.  AQE (partition coalescing,
skew-join splitting) is on by Spark's default, so for batch shuffles the
count only needs to be an upper bound.  Split sizing is Spark's own: a file
scan packs `min(maxPartitionBytes, max(openCostInBytes, bytes/cores))` per
task, so small tables stay one split and a backlog of many small stream
files packs into about one task per core.  All timestamps are UTC so
results are independent of cluster timezone.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
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
_JARRED: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors regardless of the driver's
    working directory: the batch queries' Python UDF and mapInPandas
    closures reference it by module name.  The streaming ingest path needs
    none of it, since its Avro decode runs in the JVM (`add_package_jar`).

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


def add_package_jar(spark: SparkSession) -> None:
    """Make the package's Java classes (`jvm/*.java`) loadable on the driver
    and on executors.

    Compiles the sources once per source hash and Java version into a jar
    under the temp dir, with `javac` from the running JVM's `java.home` and
    that JVM's own class path (Spark's and Avro's jars), and registers it
    with `ADD JAR` once per application.  Every call also points the calling
    thread's context class loader at the session's jar loader, as `ADD JAR`
    does for the thread that runs it, so py4j finds the classes from any
    thread.  A JVM without `javac` (a JRE) is a RuntimeError naming the
    missing compiler.
    """
    jvm = spark.sparkContext._jvm
    app_id = spark.sparkContext.applicationId
    if app_id not in _JARRED:
        props = jvm.java.lang.System
        java_home, version = props.getProperty("java.home"), props.getProperty("java.version")
        src_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
        sources = sorted(os.path.join(src_dir, f) for f in os.listdir(src_dir) if f.endswith(".java"))
        digest = hashlib.sha1(version.encode())
        for src in sources:
            with open(src, "rb") as fh:
                digest.update(os.path.basename(src).encode() + b"\0" + fh.read())
        jar = os.path.join(tempfile.gettempdir(), f"ssq-jvm-{digest.hexdigest()[:16]}.jar")
        if not os.path.exists(jar):
            javac = os.path.join(java_home, "bin", "javac")
            if not os.access(javac, os.X_OK):
                raise RuntimeError(f"no Java compiler at {javac}: the package's JVM classes need a JDK, not a JRE")
            with tempfile.TemporaryDirectory(prefix="ssq-javac-") as classes:
                done = subprocess.run(
                    [javac, "-nowarn", "-d", classes, "-cp", props.getProperty("java.class.path"), *sources],
                    capture_output=True,
                    text=True,
                )
                if done.returncode:
                    raise RuntimeError(f"javac failed on {src_dir}:\n{done.stderr}")
                tmp = f"{jar}.{os.getpid()}.tmp"
                with zipfile.ZipFile(tmp, "w") as zf:
                    for root, _dirs, files in os.walk(classes):
                        for f in files:
                            full = os.path.join(root, f)
                            zf.write(full, os.path.relpath(full, classes))
            os.replace(tmp, jar)
        spark.sql(f"ADD JAR '{jar}'")
        _JARRED.add(app_id)
    jvm.java.lang.Thread.currentThread().setContextClassLoader(spark._jsparkSession.sharedState().jarClassLoader())


def tune(spark: SparkSession) -> SparkSession:
    """Apply this package's runtime confs to any session, owned or not
    (idempotent)."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not recognized / locked down -> keep going
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
            # One shuffle partition (and so one state store) per core, unless
            # a caller or the session builder set the count: `getAll` holds
            # only the keys someone set, not Spark's default of 200.
            if "spark.sql.shuffle.partitions" not in spark.conf.getAll:
                spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    except Exception:
        pass
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "sparkstreaming-quickstart-spark",
    master: str | None = None,
) -> SparkSession:
    """Build a tuned local session.

    Honors SPARK_GRAFT_CPUS for the core count of the default master (bench
    contract) and SPARK_DRIVER_MEMORY for the heap (default: half of
    physical RAM, 1g-32g).  `tune()` sets the shuffle partition count to the
    session's cores.  On a real cluster, drop `master` and submit normally;
    every conf here is still appropriate.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
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
    return tune(spark)
