"""SparkSession factory.

Restates the reference's session config (SURVEY.md §2.6 C6;
`nifi_spark_kafka_product_view_platform.py:6-12`,
`..._v2.py:17-25`: local master, graceful shutdown, explicit shuffle
width, warehouse dir + Hive support) with a scale-aware posture:

- AQE on (runtime partition coalescing, skew-join splitting) instead of
  the reference's fixed `shuffle.partitions=2` — at 100 TB the shuffle
  width must adapt per stage, not be hardcoded.
- Session timezone pinned to UTC so event-time semantics are
  deterministic across hosts (the reference leaned on LEGACY parser +
  host-local time; SURVEY.md §4.1 flags this as a crutch to drop).
- Arrow enabled for the Python boundary (Pandas UDFs in the extension
  operators are Arrow-batched, never row-at-a-time).
- Streaming checkpoints written through `FileSystem` create + rename
  (`FileSystemBasedCheckpointFileManager`), not Spark's default
  `FileContext` manager.  Without the native Hadoop library, the local
  FS's `FileContext.rename` resolves links on source and destination
  by starting a `readlink` process each time; offset, commit, source
  and sink logs and every state-store delta file paid several of those
  per trigger.  Measured on 4 cores, one `perfbench` stream run
  (backlog drains plus a trickle of `run_product_view_job`, when that
  job still ran two queries)
  started 5,501 `readlink` processes, each forked from the driver
  JVM, and 5 with this manager, none on checkpoint paths; summed
  state-store commit fell from ~370 to ~70 ms per trickle trigger
  (PERF.md, "Per-trigger file-system overhead").  Spark's checkpoint
  checksums still wrap the manager, and on `file:` the FileContext
  no-overwrite rename is itself stat-then-rename, so the guarantee is
  unchanged.
- File-source listing jobs sized to the cores
  (`parallelPartitionDiscovery.parallelism` = cpus, like the shuffle
  width).  A read of more than 32 paths lists them in a Spark job, one
  task per path by default: the stream's 200-file backfill triggers
  re-resolved their files in 200-task jobs, and `getBatch` averaged
  0.6-0.7 s a backfill trigger against 0.11-0.13 s with 4 tasks.
  Reads of 32 paths or fewer list on the driver and are unaffected.
- Python data source filter pushdown on
  (`spark.sql.python.filterPushdown.enabled`, off by default in Spark
  4.1) for every session, so query functions never set it.
- No console progress bars (`spark.ui.showConsoleProgress=false`).
  Otherwise a plain script's stderr carries `[Stage 0:> ...]` bars
  that bury its warnings and errors; progress stays readable from
  `statusTracker()` and each stream's `lastProgress`.

Every default here is a plain builder conf; `extra_conf` overrides any
of them, e.g. the FileContext checkpoint manager on HDFS or object
stores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """`SPARK_GRAFT_CPUS` if set, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_session(
    app_name: str = "spark_device_stream",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    hive: bool = False,
    warehouse_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Mirrors the reference's builder (v1:6-12) but with adaptive
    execution; `spark.streaming.stopGracefullyOnShutdown` is kept
    verbatim (v1:10).  `hive=True` + `warehouse_dir` reproduce the v2
    warehouse session (v2:22-24: spark.sql.warehouse.dir +
    enableHiveSupport) for persistent `saveAsTable`/DDL.
    `extra_conf` is applied last, so it overrides every default set
    here (see the module docstring for why each is set).
    """
    cpus = default_parallelism()
    # Driver-side Python runner processes (Python data source planning /
    # streaming-source initialization) build their sys.path from the
    # JVM's inherited PYTHONPATH, not from addPyFile — so the package
    # parent must be on PYTHONPATH BEFORE the JVM launches, or a driver
    # running from a foreign cwd loses every python-datasource stream.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    pythonpath_modified = pkg_parent not in existing.split(os.pathsep)
    if pythonpath_modified:
        os.environ["PYTHONPATH"] = (
            pkg_parent + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.streaming.stopGracefullyOnShutdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    if hive:
        builder = builder.enableHiveSupport()
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        # restore the process env (round-16 review: the prepend must
        # not leak into every later unrelated subprocess of the host
        # application) — the JVM captured its copy at launch, which is
        # the only consumer that needed it
        if pythonpath_modified:
            if existing:
                os.environ["PYTHONPATH"] = existing
            else:
                os.environ.pop("PYTHONPATH", None)
    spark.sparkContext.setLogLevel("WARN")
    ensure_workers_importable(spark)
    return spark


_SHIPPED_APPS: set[str] = set()


def ensure_workers_importable(spark: SparkSession) -> None:
    """Make this package importable inside PYTHON WORKERS regardless of
    the driver's working directory.

    Pandas UDFs / mapInPandas / applyInPandas / UDTFs / Python data
    sources are pickled BY REFERENCE: the worker re-imports
    `spark_nifi_kafka_connected_device_stream_spark.<module>` to find
    the function.  Workers inherit PYTHONPATH from the JVM launch, not
    the driver's later sys.path edits — so a driver that imported this
    package via an absolute path from some other cwd (exactly what the
    correctness harness does with `__spark_entry__.py`) gets a worker
    ImportError on every Python-boundary operator.  Shipping the
    package once per application via `addPyFile` (a zip built from the
    installed sources) closes the gap for ANY session, local or
    cluster — the same mechanism used to deploy application eggs."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED_APPS:
        return
    import hashlib
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        for fname in files:
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                sources.append((os.path.relpath(full, parent), full))
    sources.sort()
    # content-addressed zip name + atomic rename (round-16 review):
    # the old pid-named exists-check could ship a STALE zip after the
    # sources changed (PID reuse / same process after an edit), a
    # truncated one from a crashed build, or a foreign file planted at
    # a predictable path — workers would then run different code than
    # the driver with no error
    h = hashlib.md5()
    for rel, full in sources:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zpath = os.path.join(
        tempfile.gettempdir(), f"spark_graft_pkg_{h.hexdigest()}.zip"
    )
    if not os.path.exists(zpath):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        try:
            with zipfile.ZipFile(tmp, "w") as z:
                for rel, full in sources:
                    z.write(full, rel)
            os.replace(tmp, zpath)  # atomic: readers never see a partial zip
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)
    sc.addPyFile(zpath)
    _SHIPPED_APPS.add(app)
