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


# Analyzed-plan cache: (applicationId, session, session tz, abs
# sf_dir, table, listing fingerprint) -> DataFrame.  A DataFrame is an
# immutable logical plan, so reuse within one session is safe — this
# skips the parquet footer/schema capture (~0.1-0.25s and one Spark job
# per read.parquet call) that otherwise repeats for EVERY query in a
# multi-query session (the driver runs ~90).  A fresh session
# (spark.newSession()) misses the cache and pays that job again per
# table.  Keyed by applicationId so a stopped/rebuilt session can't
# serve stale plans, and by session timezone because the events plan
# embeds the tz in its wall-time correction (tests flip tz
# mid-session); failed reads (bad path) are never cached, so
# missing-path errors still surface per call.
#
# Bounded LRU (round-17 review): under heavy spark.newSession() churn,
# per-sibling entries previously accumulated for the application's
# lifetime.  A collected-session weakref CANNOT be the eviction signal
# here — every cached DataFrame strongly references its session
# (df.sparkSession), so the cache itself pins the session object and
# the weakref would never die.  Instead the cache is a plain LRU
# capped at _PLAN_CACHE_MAX entries (recent sessions × tables fit
# comfortably; an evicted entry just re-pays one ~0.1-0.25 s schema
# capture), which also releases the pinned session objects of cold
# siblings so they CAN be collected.
_PLAN_CACHE: dict[tuple[str, str, str, str, str], DataFrame] = {}
_PLAN_CACHE_MAX = 128


def _cache_put(key: tuple, df: DataFrame) -> None:
    """LRU insert: evict the least-recently-used entries once the cap
    is reached (the superseded/app-level evictions in load_table handle
    correctness; this one only bounds growth)."""
    while len(_PLAN_CACHE) >= _PLAN_CACHE_MAX:
        del _PLAN_CACHE[next(iter(_PLAN_CACHE))]
    _PLAN_CACHE[key] = df


# Fingerprint memo (ADVICE r12): the full recursive walk + name digest
# ran on EVERY load_table call — including cache hits — so per-call
# overhead scaled with the parquet file count, and a driver session
# makes hundreds of load_table calls per run.  Memoize per path behind
# a cheap stat pre-check plus a short TTL: reuse while the top dir AND
# its direct children's (mtime_ns, ino, size) are unchanged AND the
# entry is young.  Any direct rewrite of the dir (Spark overwrite
# mints new part files + _SUCCESS in the top dir, bumping its mtime)
# invalidates instantly; a nested rewrite touching only a partition
# subdirectory (top dir untouched) bumps that CHILD dir's mtime, which
# the one-scandir child signature catches (ADVICE r13 — the top-stat-
# only pre-check reintroduced exactly the staleness class the
# recursive walk existed to close).  The TTL bounds staleness for
# rewrites deeper than one level; `invalidate_fingerprint(path)` is
# the explicit hook for rewrite tooling that can't wait it out.
_FP_MEMO: dict[str, tuple[float, tuple, str]] = {}
_FP_TTL_S = 5.0


def invalidate_fingerprint(path: str | None = None) -> None:
    """Drop the fingerprint memo for `path` (or all paths) so the next
    load_table re-walks the listing immediately.  Fixture-rewrite
    tooling calls this after an in-place rewrite instead of sleeping
    out the TTL."""
    if path is None:
        _FP_MEMO.clear()
    else:
        _FP_MEMO.pop(os.path.abspath(path), None)


def _stat_signature(path: str) -> tuple | None:
    """(mtime_ns, ino, size) of the dir plus each DIRECT child — one
    non-recursive scandir, cheap at any file count that matters here."""
    try:
        st = os.stat(path)
        sig = [(st.st_mtime_ns, st.st_ino, st.st_size)]
        if os.path.isdir(path):
            with os.scandir(path) as it:
                for entry in sorted(it, key=lambda e: e.name):
                    try:
                        est = entry.stat()
                        sig.append((entry.name, est.st_mtime_ns, est.st_ino, est.st_size))
                    except OSError:
                        sig.append((entry.name, -1, -1, -1))
        return tuple(sig)
    except OSError:
        return None


def _listing_fingerprint(path: str) -> str:
    import time

    path = os.path.abspath(path)  # memo key must match invalidate_fingerprint's
    sig = _stat_signature(path)
    if sig is None:
        _FP_MEMO.pop(path, None)
        return "missing"
    now = time.monotonic()
    hit = _FP_MEMO.get(path)
    if hit is not None and hit[1] == sig and now - hit[0] < _FP_TTL_S:
        return hit[2]
    fp = _listing_fingerprint_walk(path)
    _FP_MEMO[path] = (now, sig, fp)
    return fp


def _listing_fingerprint_walk(path: str) -> str:
    """Change-detection key for a parquet path: dir mtime alone misses
    same-second rewrites on coarse (1s) mtime filesystems, so fold in
    the recursive file count, total byte size, the MAX per-file mtime,
    and a digest of the sorted relative file names — a Spark overwrite
    mints fresh UUID part-file names, so even a same-second rewrite
    that happens to preserve count and bytes (deterministic
    regeneration) perturbs the name digest.  The walk touches only
    fixture/tooling-scale dirs (this cache exists for the multi-query
    driver and the in-session rewrite tooling); a cached plan still
    captures the file LISTING at analysis time, which is exactly what
    this key invalidates."""
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
    # the listing fingerprint (mtime + file count + bytes) is part of
    # the key: a cached plan captures the FILE LISTING at analysis
    # time, so an in-session rewrite of the same path (the skew/stress
    # tooling does this) would otherwise fail with
    # FAILED_READ_FILE.FILE_NOT_EXIST — or silently read stale rows.
    # A missing path is never cached: the read below still raises the
    # clean PATH_NOT_FOUND callers probe for.
    # id(spark) distinguishes spark.newSession() siblings: they share
    # an applicationId but have their own session state (conf, ANSI
    # flag, temp-view namespace), and a DataFrame cached from one
    # session executes under ITS conf, not the caller's (round-16
    # review).  id() reuse requires the old session to be collected,
    # at which point replacing its entry is exactly right.
    key = (
        spark.sparkContext.applicationId,
        id(spark),
        spark.conf.get("spark.sql.session.timeZone"),
        os.path.abspath(sf_dir),
        name,
        _listing_fingerprint(path),
    )
    cached = _PLAN_CACHE.get(key)
    if cached is not None:
        # refresh LRU recency so an active session's tables stay warm
        _PLAN_CACHE[key] = _PLAN_CACHE.pop(key)
        return cached
    # evict entries from previous applications, and SUPERSEDED
    # fingerprints of this same (app, session, tz, dir, table) —
    # repeated in-session fixture rewrites must replace their old
    # entries, not accumulate them
    for k in [
        k for k in _PLAN_CACHE if k[0] != key[0] or (k[:5] == key[:5] and k != key)
    ]:
        del _PLAN_CACHE[k]
    if name != "events":
        df = spark.read.parquet(path)
        _cache_put(key, df)
        return df
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
        _cache_put(key, df)
        return df
    df = df.withColumn(
        "ts", F.to_utc_timestamp(F.timestamp_micros(F.col("ts_us")), tz)
    )
    _cache_put(key, df)
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can be written in SQL (the
    reference drives config through `spark.sql` too, v1:37)."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
