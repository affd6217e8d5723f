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
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.streaming.stopGracefullyOnShutdown", "true")
        .config("spark.ui.enabled", "false")
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
