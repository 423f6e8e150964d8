"""SparkSession construction and runtime-conf hygiene.

Two entry points:

- :func:`get_session` — build a tuned local session (tests, bench).
- :func:`ensure_runtime_confs` — idempotently apply the runtime-settable
  confs this engine needs to a session *someone else* built (the
  correctness driver passes us its own session), and ship the package
  to its Python workers when they could not import it otherwise.

Scale posture: the static confs below are sized for ``local[N]`` but the
same knobs are the ones that matter on a 1000-executor cluster — AQE for
runtime re-planning / skew-join splitting, shuffle partitions ~ cores,
Arrow for the (rare) pandas-UDF path.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import weakref
import zipfile

from pyspark.sql import SparkSession

#: The directory that holds this package.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Staging dirs created by :func:`staging_dir`, reaped at interpreter
#: exit.  Module-level so every plan module shares one registration.
_STAGING_DIRS: list[str] = []


def _reap_staging() -> None:
    for d in _STAGING_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap_staging)


def staging_dir(prefix: str) -> str:
    """``tempfile.mkdtemp`` with process-exit cleanup.

    Plans that write intermediate files (bucketed table versions,
    compaction targets, streaming checkpoints, BM25 query staging) use
    a fresh mkdtemp per invocation so concurrent sessions never share
    staging — but a returned DataFrame may lazily read the staged
    files, so the dir cannot be removed inside the plan call.  The
    atexit reaper bounds the leak at process lifetime instead of
    leaving it solely to OS tmp reaping (r08 advice: a long sweep
    invoking warehouse_time_travel repeatedly accumulated version
    trees in /tmp for the machine lifetime)."""
    d = tempfile.mkdtemp(prefix=prefix)
    _STAGING_DIRS.append(d)
    return d

#: Confs that are runtime-settable (spark.sql.*) and required for
#: correctness on the driver's tables. Applied defensively by every
#: query entry point, because the driver owns the session it hands us.
RUNTIME_CONFS: dict[str, str] = {
    # The driver's events table stores TIMESTAMP(NANOS) parquet, which
    # Spark cannot map to TimestampType; read as epoch-nanos LongType.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # DuckDB timestamps are UTC-naive; pin the session so timestamp ↔
    # string conversions agree with the oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow transfer for pandas UDFs / toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Streaming state (dedup keys, session windows) in RocksDB: state
    # size bounded by local disk instead of executor heap — the only
    # viable store when watermark-retained state reaches 100 TB-scale
    # cardinalities. No-op for batch queries.
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


#: SparkContexts :func:`_ship_package` has already looked at.
_SHIP_CHECKED: weakref.WeakSet = weakref.WeakSet()


def _ship_package(spark: SparkSession) -> None:
    """Once per SparkContext: unless its workers can import the package
    already — the session sets its own ``spark.executorEnv.PYTHONPATH``
    (as :func:`get_session` does), or the JVM runs from the package's
    parent directory, the cwd its Python workers inherit — add a zip of
    the package with ``addPyFile``.  Without it every Python UDF query
    of a session built elsewhere fails with ``ModuleNotFoundError``."""
    sc = spark.sparkContext
    if sc in _SHIP_CHECKED:
        return
    _SHIP_CHECKED.add(sc)
    if (spark.conf.get("spark.executorEnv.PYTHONPATH", None) is not None
            or sc._jvm.System.getProperty("user.dir") == _PACKAGE_PARENT):
        return
    package = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(staging_dir("ksds-pyfiles-"),
                        os.path.basename(package) + ".zip")
    with zipfile.ZipFile(path, "w") as archive:
        for root, dirs, files in os.walk(package):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                if name.endswith(".py"):
                    full = os.path.join(root, name)
                    archive.write(full, os.path.relpath(full, _PACKAGE_PARENT))
    sc.addPyFile(path)


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply :data:`RUNTIME_CONFS` to an existing session (idempotent),
    and ship the package to its workers if they need it
    (:func:`_ship_package`)."""
    _ship_package(spark)
    for key, value in RUNTIME_CONFS.items():
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            # A conf may be non-settable in exotic deployments; queries
            # that depend on it will raise a clearer error themselves.
            pass
    return spark


def default_parallelism() -> int:
    """Worker-thread count: $SPARK_GRAFT_CPUS, else the machine's CPUs."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env and env.isdigit() and int(env) > 0:
        return int(env)
    return os.cpu_count() or 4


def get_session(app_name: str = "kinesis_s3_data_shipper_spark", *,
                cpus: int | None = None,
                extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a tuned local SparkSession."""
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        # Shuffle partitions ≈ cores for local mode; on a real cluster
        # AQE coalesces from a higher initial number instead.
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache (static conf, default 100 entries): the
        # vector queries carry wide codegen'd expressions (unrolled
        # 64-dim dots, 512-term LSH sign folds) whose janino compiles
        # cost seconds. A mixed workload of ~40 queries × several
        # stages overflows 100 entries, and every eviction re-pays the
        # compile — measured 2× on the whole bench (67.8s → 34.1s at
        # sf0.1). Any long-lived session serving many distinct queries
        # wants this raised; memory cost is just class metadata.
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        # Python workers fork from worker_daemon, which stops every task
        # re-reading each zip archive on the worker path; the package
        # directory goes on the workers' PYTHONPATH so the daemon and
        # the UDF modules import whatever the JVM's cwd is.
        .config("spark.python.daemon.module",
                "kinesis_s3_data_shipper_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    for key, value in (extra_confs or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
