"""Parquet catalog over the testdata star schema.

The reference reads columnar parquet at rest (HDFS sink,
`nifi_spark_kafka_product_view_platform_v2.py:84-89`; Hive external
table over the same dir, `dag_file.py:71-80`).  Here the same pattern:
schema-on-read parquet scans, one per table, with Catalyst handling
column pruning and predicate pushdown — a `spark.read.parquet` scan is
the 100 TB-scale path (vectorized reader, partition pruning, pushed
filters), so nothing custom is needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Per-session memo: load_table keeps one analyzed plan per (session
# tz, table path).  A DataFrame is an immutable logical plan, so reuse
# within one session is safe; it skips the parquet footer/schema
# capture (~0.1-0.25 s and one Spark job per read.parquet call) that
# otherwise repeats for every query in a multi-query session.
#
# The memo is a dict stored on the SparkSession Python object, so it
# lives and dies with its session and nothing has to evict it.  A
# `spark.newSession()` sibling has its own conf, ANSI flag and temp-view
# namespace, and a stopped-then-rebuilt session is a new object, so
# neither can be served another session's plan.  The session timezone
# is in the key because the events plan embeds it in its wall-time
# correction (tests flip tz mid-session).
#
# Each entry also stores the listing fingerprint of the table path: a
# cached plan captures the FILE LISTING at analysis time, so an
# in-session rewrite of the same path (the skew/stress tooling does
# this) would otherwise fail with FAILED_READ_FILE.FILE_NOT_EXIST or
# silently read stale rows.  The fingerprint is a fresh walk on every
# call, with no TTL: the walk costs about 15 us on a single-file table
# and about 18 ms at 1,000 files, against about 1.8 ms of py4j for a
# warm hit, and any time-based reuse of it would serve a rewrite nested
# below the top directory stale until it expired.


def session_memo(spark: SparkSession) -> dict:
    """The per-session memo dict of `spark`, created on first use."""
    memo = getattr(spark, "_graft_memo", None)
    if memo is None:
        memo = spark._graft_memo = {}
    return memo


def listing_fingerprint(path: str) -> str:
    """Change-detection key for a parquet path: dir mtime alone misses
    same-second rewrites on coarse (1s) mtime filesystems, so fold in
    the recursive file count, total byte size, the MAX per-file mtime,
    and a digest of the sorted relative file names — a Spark overwrite
    mints fresh UUID part-file names, so even a same-second rewrite
    that happens to preserve count and bytes (deterministic
    regeneration) perturbs the name digest.  A memoized plan captures
    the file LISTING at analysis time, which is exactly what this key
    invalidates."""
    import hashlib

    if not os.path.exists(path):
        return "missing"
    mtime = os.path.getmtime(path)
    if os.path.isfile(path):
        return f"{mtime}:1:{os.path.getsize(path)}"
    nfiles, total, max_mtime = 0, 0, 0.0
    names = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            nfiles += 1
            fp = os.path.join(root, f)
            names.append(os.path.relpath(fp, path))
            try:
                total += os.path.getsize(fp)
                max_mtime = max(max_mtime, os.path.getmtime(fp))
            except OSError:
                pass
    digest = hashlib.md5("\n".join(sorted(names)).encode()).hexdigest()[:12]
    return f"{mtime}:{nfiles}:{total}:{max_mtime}:{digest}"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain `read.parquet` so filters/projections in the
    downstream plan push into the scan (check with plans.scan_info).

    `events.ts` has shipped in several parquet physical layouts across
    fixture generations (TIMESTAMP(NANOS), plain TIMESTAMP(MICROS)/ntz,
    instant TIMESTAMP).  All are normalized to the same two-column
    contract:

      * `ts_us`  — the ORIGINAL stored epoch micros (bigint), for
        operators that output absolute times as numbers,
      * `ts`     — TimestampType whose *wall-time* rendering equals the
        stored value in ANY session timezone (the
        `to_utc_timestamp(..., session_tz)` shift cancels the session
        offset that rendering adds back), so formatted-string outputs
        stay engine-portable — verified under Asia/Kolkata in
        tests/test_timezone_robustness.py."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    memo = session_memo(spark)
    key = (spark.conf.get("spark.sql.session.timeZone"), os.path.abspath(path))
    fp = listing_fingerprint(path)
    hit = memo.get(key)
    if hit is not None and hit[0] == fp:
        return hit[1]
    df = _read_table(spark, path, name)
    # a missing path never gets here: the read raises the clean
    # PATH_NOT_FOUND callers probe for, on every call
    memo[key] = (fp, df)
    return df


def _read_table(spark: SparkSession, path: str, name: str) -> DataFrame:
    """One uncached scan, with the events normalisation of load_table."""
    if name != "events":
        return spark.read.parquet(path)
    # save/restore: the flag is consulted at read() time (schema capture),
    # not at execution, so scoping it here keeps later parquet reads in
    # the same session from silently seeing TIMESTAMP(NANOS) as bigint
    flag = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(flag, None)
    spark.conf.set(flag, "true")
    try:
        df = spark.read.parquet(path)
    finally:
        spark.conf.unset(flag) if prev is None else spark.conf.set(flag, prev)
    ts_dtype = dict(df.dtypes).get("ts")
    tz = spark.conf.get("spark.sql.session.timeZone")
    # ts_us: the ORIGINAL stored epoch micros, for operators that
    # output absolute times as numbers (the shifted `ts` instant is
    # wall-time-correct but its unix_micros moves with session tz)
    if ts_dtype == "bigint":
        # TIMESTAMP(NANOS) fixture read as raw nanos via nanosAsLong
        df = df.withColumn("ts_us", F.expr("ts div 1000"))
    elif ts_dtype == "timestamp_ntz":
        # TIMESTAMP(MICROS) isAdjustedToUTC=false fixture: the wall
        # time IS the stored value; pure wall arithmetic (no session-tz
        # involvement, so no DST edge) recovers the epoch micros
        df = df.withColumn(
            "ts_us",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ),
        )
    elif ts_dtype == "timestamp":
        # instant (isAdjustedToUTC=true) fixture: already epoch micros
        df = df.withColumn("ts_us", F.unix_micros(F.col("ts")))
    else:
        return df
    return df.withColumn(
        "ts", F.to_utc_timestamp(F.timestamp_micros(F.col("ts_us")), tz)
    )


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can be written in SQL (the
    reference drives config through `spark.sql` too, v1:37)."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
