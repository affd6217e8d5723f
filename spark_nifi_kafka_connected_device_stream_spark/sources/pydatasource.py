"""Custom Python Data Source (Spark 4 `pyspark.sql.datasource`) —
the connector tier WITHOUT JVM code.

The reference ingests its device registry / event firehose through
NiFi + Kafka (`Active_Users_Pipeline.xml`, v1:22-27); in a
Spark-native engine a bespoke feed becomes a first-class
`spark.read.format(...)` source instead of an external staging
pipeline.  This module ships two:

- `DeviceRegistryDataSource` ("device_registry"): a BATCH source for
  a deterministic synthetic device-registry table.  It demonstrates
  the three things a production connector must get right at scale:

  * **partition planning** — `partitions()` splits the id range into
    `n_partitions` `InputPartition`s, so the scan parallelizes across
    executors exactly like a parquet read;
  * **filter pushdown** — `pushFilters()` absorbs `EqualTo(region)` /
    `In(region)` predicates so pruned partitions never generate the
    dropped rows (Python-side analogue of parquet's PushedFilters:
    the source skips work, Spark re-applies the predicate anyway so
    over-accepting is impossible to get wrong silently);
  * **engine-portable determinism** — every field derives from
    md5(device_id) nibbles, the registry-wide hashing idiom, so a
    DuckDB oracle can rebuild the identical table from
    generate_series and the scan is VALUE-CHECKED cross-engine
    (`device_registry_models` in operators; no other custom
    connector here gets that level of verification).

- `DeviceEventsDataSource` ("device_events"): a MICROBATCH STREAMING
  source (`DataSourceStreamReader`): offsets are plain row counts,
  `latestOffset` advances to `total_events`, `partitions(start, end)`
  splits each offset range, and replaying any (start, end) range is
  deterministic — which is precisely the property Structured
  Streaming needs from a source for exactly-once (offset ranges are
  re-read on recovery, so a source that generates different rows on
  replay breaks the contract).

Fields (shared by generator, oracle, and tests):
  u16       = int(md5(str(device_id))[:4], 16)
  region    = REGIONS[u16 % 5]
  model     = MODELS[(u16 // 5) % 4]
  firmware  = 1 + u16 % 9
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    In,
    InputPartition,
    WriterCommitMessage,
)

from ..session import ensure_workers_importable

REGIONS = ("na", "eu", "apac", "latam", "mea")
MODELS = ("m100", "m200", "m300", "m400")

REGISTRY_SCHEMA = "device_id bigint, region string, model string, firmware int"
EVENTS_SCHEMA = "event_id bigint, device_id bigint, value_cents bigint"


def _u16(device_id: int) -> int:
    return int(hashlib.md5(str(device_id).encode()).hexdigest()[:4], 16)


def registry_row(device_id: int) -> tuple[int, str, str, int]:
    u = _u16(device_id)
    return (device_id, REGIONS[u % 5], MODELS[(u // 5) % 4], 1 + u % 9)


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _RegistryReader(DataSourceReader):
    def __init__(self, options):
        self.n_devices = int(options.get("n_devices", 1000))
        self.n_partitions = int(options.get("n_partitions", 8))
        self.regions: set[str] | None = None  # pushdown state

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        # ABSORBED filters are final: Spark only re-applies filters this
        # method YIELDS back, so multiple absorbed region predicates
        # must INTERSECT (conjunction), never overwrite — an overwrite
        # returned rows the earlier filter had already excluded
        # (confirmed against PySpark 4.1: .filter(region='eu')
        # .filter(region in ('na','latam')) must return 0 rows).
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("region",):
                new = {f.value}
            elif isinstance(f, In) and f.attribute == ("region",):
                new = set(f.value)
            else:
                # anything else is the engine's job — yield it back
                yield f
                continue
            self.regions = new if self.regions is None else (self.regions & new)

    def partitions(self) -> Sequence[InputPartition]:
        n, p = self.n_devices, self.n_partitions
        bounds = [n * i // p for i in range(p + 1)]
        return [_RangePartition(a, b) for a, b in zip(bounds, bounds[1:]) if a < b]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            row = registry_row(i)
            # pushdown honored at generation time: filtered regions
            # never materialize.  Spark does NOT re-apply absorbed
            # filters — this check IS the filter.
            if self.regions is None or row[1] in self.regions:
                yield row


class DeviceRegistryDataSource(DataSource):
    """spark.read.format("device_registry")
    .option("n_devices", N).option("n_partitions", P).load()"""

    @classmethod
    def name(cls) -> str:
        return "device_registry"

    def schema(self) -> str:
        return REGISTRY_SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return _RegistryReader(self.options)


def event_row(event_id: int) -> tuple[int, int, int]:
    u = _u16(event_id)
    return (event_id, u % 100, (u * 7) % 10_000)


class _EventsStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.total = int(options.get("total_events", 100))
        self.batch = int(options.get("events_per_batch", 40))
        self.n_partitions = int(options.get("n_partitions", 4))
        # restart safety: a RESTARTED query builds a FRESH reader and
        # calls latestOffset() on it BEFORE any partitions(start, ...)
        # call can reveal the checkpointed position — a cursor reborn at
        # 0 would then report latest < committed, that regressed latest
        # is written to the offset WAL as the batch end, and the NEXT
        # batch re-emits [latest, checkpoint) as duplicates.  A real
        # broker-backed source never has this problem (the broker owns
        # the high watermark); this synthetic feed's watermark lives in
        # the reader, so to survive restarts it must be persisted OUT of
        # the reader: `cursor_path` names a side file the cursor is
        # written through (atomic rename).  Without the option the
        # source is exactly-once only WITHIN one query run — documented
        # first-trigger gap, asserted by tests.
        # OWNERSHIP (ADVICE r12): a cursor_path is owned by ONE live
        # query at a time — it is keyed only by the path the caller
        # passes, so two CONCURRENT queries sharing a file would
        # mutually advance one watermark and silently interleave
        # offsets.  Each reader stamps its own id into the file on
        # write; once this reader has claimed the file, finding a
        # FOREIGN stamp on the next write means another live reader is
        # interleaving — fail loudly instead.  A clean restart (old
        # reader dead, new reader takes over) is the legitimate
        # takeover: the new reader's FIRST write claims the file
        # without complaint.  Reusing a stale cursor file with a FRESH
        # checkpoint is safe-by-construction (partitions() receives
        # start=0 from the new checkpoint and the first batch covers
        # [0, cursor+batch] — a large first batch, never a gap), but
        # point different queries at different files.
        # Detection lag (ADVICE r13): the claim check is read-then-
        # os.replace, not atomic — reader A can read its own stamp,
        # reader B write, then A's replace clobber B's claim, so each
        # conflicting write surfaces only on the OTHER writer's NEXT
        # persist: at least one batch's offsets interleave silently
        # before the loud failure, and a perfectly alternating
        # schedule delays detection by one batch each time.  Accepted
        # for fail-loudly semantics (the failure is guaranteed, just
        # ≤1 batch late); a true single-claim protocol would take an
        # os.open(O_CREAT|O_EXCL) lock file instead.
        self.cursor_path = options.get("cursor_path")
        self._owner = uuid.uuid4().hex
        self._claimed = False
        self._current = self._read_cursor_file()[0]

    def _read_cursor_file(self) -> tuple[int, str | None]:
        """(offset, owner) from the side file; accepts the legacy bare-int
        form (owner None)."""
        if not (self.cursor_path and os.path.exists(self.cursor_path)):
            return 0, None
        with open(self.cursor_path) as fh:
            raw = fh.read().strip()
        if not raw:
            return 0, None
        if raw.startswith("{"):
            doc = json.loads(raw)
            return int(doc.get("offset", 0)), doc.get("owner")
        return int(raw), None

    def _persist_cursor(self) -> None:
        if not self.cursor_path:
            return
        if self._claimed:
            _, owner = self._read_cursor_file()
            if owner is not None and owner != self._owner:
                raise RuntimeError(
                    "cursor_path is shared by a concurrent reader: "
                    f"{self.cursor_path!r} was last written by owner "
                    f"{owner!r}, not this reader ({self._owner!r}). A "
                    "cursor file is owned by ONE live query — give each "
                    "query its own cursor_path."
                )
        tmp = f"{self.cursor_path}.tmp"
        with open(tmp, "w") as fh:
            fh.write(json.dumps({"offset": self._current, "owner": self._owner}))
        os.replace(tmp, self.cursor_path)
        self._claimed = True

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        # a real feed asks the broker; this deterministic feed grows by
        # `events_per_batch` per trigger until the configured total
        self._current = min(self._current + self.batch, self.total)
        self._persist_cursor()
        return {"offset": self._current}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # second line of defense when no cursor_path was given: the
        # CHECKPOINTED start arrives here, so fast-forward the cursor —
        # the offset contract is monotone from the checkpoint, not from
        # reader birth.  This repairs every trigger AFTER the first; the
        # first post-restart batch's regressed end is already in the WAL
        # by now (see __init__), which is exactly why cursor_path exists.
        if self._current < start["offset"]:
            self._current = start["offset"]
            self._persist_cursor()
        a, b = start["offset"], max(end["offset"], start["offset"])
        p = self.n_partitions
        bounds = [a + (b - a) * i // p for i in range(p + 1)]
        return [_RangePartition(x, y) for x, y in zip(bounds, bounds[1:]) if x < y]

    def read(self, partition: _RangePartition):
        # MUST be a pure function of the offset range: recovery replays
        # ranges, and exactly-once holds only if the rows come back
        # identical
        for i in range(partition.start, partition.end):
            yield event_row(i)

    def commit(self, end: dict) -> None:
        pass


class DeviceEventsDataSource(DataSource):
    """spark.readStream.format("device_events")
    .option("total_events", N).load()"""

    @classmethod
    def name(cls) -> str:
        return "device_events"

    def schema(self) -> str:
        return EVENTS_SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _EventsStreamReader(self.options)


# JVM sessionUUID, not catalog.session_memo: each foreachBatch epoch has a new Python wrapper
_REGISTERED_SESSIONS: set[str] = set()


def register_python_sources(spark) -> None:
    """Register all three formats on a session once (batch reader,
    stream reader, and — once defined below — the audit writer).

    Registrations live in the session's own data source registry and
    `newSession()` starts an empty one, so the key is the JVM session's
    UUID, not the application id.  Later calls on a registered session
    do nothing: no re-registration (3 WARN lines each) and no conf
    write — the pushFilters gate is a `session.get_session` default.
    Spark 4.1 checks a new name against the thread's ACTIVE session, so
    registering on a `newSession()` that is not active fails with
    DATA_SOURCE_ALREADY_EXISTS while the active session has the source."""
    # Python data sources are pickled by reference: the planner worker
    # re-imports this module, so the package must be shipped for any
    # driver whose cwd isn't the repo root (same failure class the
    # registry wrapper closes for pandas UDFs).
    ensure_workers_importable(spark)
    key = spark._jsparkSession.sessionUUID()
    if key in _REGISTERED_SESSIONS:
        return
    spark.dataSource.register(DeviceRegistryDataSource)
    spark.dataSource.register(DeviceEventsDataSource)
    spark.dataSource.register(DeviceAuditDataSource)
    _REGISTERED_SESSIONS.add(key)


# ---------------------------------------------------------------------------
# registered, oracle-checked query over the custom source
# ---------------------------------------------------------------------------

REGISTRY_QUERY_DEVICES = 5000

# md5-nibble u16 of CAST(i AS VARCHAR) — the registry-wide DuckDB idiom
_DUCK_DEV_U16 = (
    "("
    + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(CAST(i AS VARCHAR)), {k + 1}, 1)) - 1) "
        f"* {16 ** (3 - k)}"
        for k in range(4)
    )
    + ")"
)


def _register_query() -> None:
    from pyspark.sql import DataFrame, SparkSession
    from pyspark.sql import functions as F

    from ..registry import register

    region_case = (
        "CASE u16 % 5 WHEN 0 THEN 'na' WHEN 1 THEN 'eu' WHEN 2 THEN 'apac' "
        "WHEN 3 THEN 'latam' ELSE 'mea' END"
    )
    model_case = (
        "CASE (u16 // 5) % 4 WHEN 0 THEN 'm100' WHEN 1 THEN 'm200' "
        "WHEN 2 THEN 'm300' ELSE 'm400' END"
    )

    @register(
        "device_registry_models",
        oracle=f"""
        WITH devices AS (
          SELECT i AS device_id, {_DUCK_DEV_U16} AS u16
          FROM generate_series(0, {REGISTRY_QUERY_DEVICES - 1}) t(i)
        ), shaped AS (
          SELECT device_id, {region_case} AS region, {model_case} AS model,
                 1 + u16 % 9 AS firmware
          FROM devices
        )
        SELECT region, model,
               CAST(count(*) AS BIGINT)      AS n_devices,
               CAST(sum(firmware) AS BIGINT) AS firmware_sum,
               CAST(min(device_id) AS BIGINT) AS min_device
        FROM shaped
        WHERE region IN ('eu', 'na')
        GROUP BY region, model
        """,
        doc=f"The custom Python Data Source scan, VALUE-CHECKED: read "
            f"{REGISTRY_QUERY_DEVICES} devices through "
            f"format('device_registry') with an In(region) predicate "
            f"that the source absorbs via pushFilters (pruned regions "
            f"are never generated — the Python-connector analogue of "
            f"parquet PushedFilters), then roll up per (region, "
            f"model).  The oracle rebuilds the registry from "
            f"generate_series + the same md5-nibble math, so the "
            f"whole connector path — schema, partition planning, "
            f"pushdown, row generation — is pinned cross-engine.  "
            f"Scale shape: the source reads in n_partitions parallel "
            f"splits like any file scan; ONE grouped agg over the "
            f"surviving rows.",
        tags=("source", "connector", "pushdown"),
    )
    def device_registry_models(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_python_sources(spark)
        df = (
            spark.read.format("device_registry")
            .option("n_devices", REGISTRY_QUERY_DEVICES)
            .option("n_partitions", 8)
            .load()
        )
        return (
            df.filter(F.col("region").isin("eu", "na"))
            .groupBy("region", "model")
            .agg(
                F.count(F.lit(1)).alias("n_devices"),
                F.sum("firmware").cast("bigint").alias("firmware_sum"),
                F.min("device_id").cast("bigint").alias("min_device"),
            )
        )


    @register(
        "device_registry_firmware_lag",
        oracle=f"""
        WITH devices AS (
          SELECT i AS device_id, {_DUCK_DEV_U16} AS u16
          FROM generate_series(0, {REGISTRY_QUERY_DEVICES - 1}) t(i)
        ), shaped AS (
          SELECT device_id, {region_case} AS region, {model_case} AS model,
                 1 + u16 % 9 AS firmware
          FROM devices
        )
        SELECT model,
               CAST(firmware AS INTEGER)              AS firmware,
               CAST(count(*) AS BIGINT)               AS n_devices,
               CAST(min(device_id) AS BIGINT)         AS min_device,
               CAST(max(device_id) AS BIGINT)         AS max_device,
               CAST(9 - firmware AS INTEGER)          AS versions_behind
        FROM shaped
        WHERE region = 'apac'
        GROUP BY model, firmware
        """,
        doc=f"The custom Python Data Source under the EqualTo pushdown "
            f"branch (device_registry_models pins the In() branch; a "
            f"connector that honors one Filter subtype and silently "
            f"ignores another is the classic pushFilters bug, so each "
            f"absorbed subtype needs its own value-checked query): "
            f"region = 'apac' is absorbed by pushFilters and pruned at "
            f"GENERATION time — non-apac rows never materialize in the "
            f"Python reader — then the fleet's firmware-lag report "
            f"rolls up per (model, firmware) with versions_behind "
            f"against the fleet-wide max (9 by construction of the "
            f"generator's 1+u16%9).  The oracle rebuilds the registry "
            f"from generate_series + the same md5-nibble math.  Scale "
            f"shape: n_partitions parallel generated splits, ONE "
            f"grouped agg over the ~1/5 surviving rows.",
        tags=("source", "connector", "pushdown"),
    )
    def device_registry_firmware_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_python_sources(spark)
        df = (
            spark.read.format("device_registry")
            .option("n_devices", REGISTRY_QUERY_DEVICES)
            .option("n_partitions", 8)
            .load()
        )
        return (
            df.filter(F.col("region") == "apac")
            .groupBy("model", F.col("firmware").cast("int").alias("firmware"))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_devices"),
                F.min("device_id").cast("bigint").alias("min_device"),
                F.max("device_id").cast("bigint").alias("max_device"),
            )
            .withColumn("versions_behind", (F.lit(9) - F.col("firmware")).cast("int"))
        )


_register_query()


# ---------------------------------------------------------------------------
# custom Python WRITE path: the commit protocol without JVM code
# ---------------------------------------------------------------------------


class _AuditCommit(WriterCommitMessage):
    """Per-task commit message (must be picklable): which staged file
    this task wrote and how many rows it holds."""

    def __init__(self, filename: str, n_rows: int):
        self.filename = filename
        self.n_rows = n_rows


class _AuditWriter(DataSourceWriter):
    """JSON-lines audit sink demonstrating the two-phase commit every
    real sink needs: tasks stage part files under unique names and
    report them via commit messages; only the DRIVER's commit() makes
    the write visible by writing the `_manifest.json` naming the
    staged parts — a reader that trusts only manifested files never
    sees a partial job.  abort() removes the staged files, so a failed
    or speculatively-duplicated task leaves nothing visible.

    `path` must be a SHARED filesystem (NFS/object-store mount, or
    local mode): write() runs on executors while commit()/abort() run
    on the driver, so on a multi-node cluster with node-local paths
    the manifest would name files the driver never saw and abort()
    could not remove the staged parts.  A production sink targets
    object storage, where the same two-phase shape holds."""

    def __init__(self, options, overwrite: bool = True):
        self.path = options.get("path")
        self.overwrite = overwrite
        if not self.path:
            raise ValueError("device_audit writer requires option 'path'")

    def write(self, iterator):
        import json as _json
        import os
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        part = ctx.partitionId() if ctx is not None else 0
        os.makedirs(self.path, exist_ok=True)
        # uuid suffix: a retried/speculative task must never clobber
        # another attempt's staged file
        fname = f"part-{part:05d}-{uuid.uuid4().hex}.jsonl"
        n = 0
        with open(os.path.join(self.path, fname), "w") as f:
            for row in iterator:
                f.write(_json.dumps(row.asDict()) + "\n")
                n += 1
        return _AuditCommit(fname, n)

    def commit(self, messages):
        import json as _json
        import os

        manifest = sorted(
            ({"file": m.filename, "n_rows": m.n_rows} for m in messages if m),
            key=lambda d: d["file"],
        )
        mpath = os.path.join(self.path, "_manifest.json")
        prev: list[dict] = []
        if os.path.exists(mpath):
            with open(mpath) as f:
                prev = _json.load(f)
        if not self.overwrite:
            # append MERGES with the committed manifest: the documented
            # reader contract is "trust only manifested files", so a
            # second job must extend the manifest, not silently unlist
            # (= logically delete) the first job's data (round-16
            # review)
            manifest = sorted(
                prev + manifest,
                key=lambda d: d["file"],
            )
        # manifest-first, delete-after (round-17 review / move-before-
        # delete doctrine): the new manifest lands ATOMICALLY via
        # temp+rename BEFORE any old file is removed — a crash in the
        # overwrite window previously left the OLD manifest authoritative
        # while the files it named were already gone, making committed
        # data unreadable under the manifest contract.  After the rename
        # the commit point has passed; a crash then only leaves harmless
        # unlisted stragglers.
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(manifest, f, indent=1)
        os.replace(tmp, mpath)
        if self.overwrite:
            # overwrite REPLACES the manifest and removes the files the
            # old manifest named (round-16 review: leaving them meant
            # non-manifest-aware readers saw mixed generations and
            # stale bytes accumulated forever); unmanifested strays are
            # left alone — they were never visible
            new_files = {d["file"] for d in manifest}
            for d in prev:
                if d["file"] not in new_files:
                    try:
                        os.remove(os.path.join(self.path, d["file"]))
                    except FileNotFoundError:
                        pass

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(os.path.join(self.path, m.filename))
                except FileNotFoundError:
                    pass


class DeviceAuditDataSource(DataSource):
    """df.write.format("device_audit").option("path", dir).save()"""

    @classmethod
    def name(cls) -> str:
        return "device_audit"

    def schema(self) -> str:  # writer: schema comes from the DataFrame
        return "placeholder string"

    def writer(self, schema, overwrite: bool):
        return _AuditWriter(self.options, overwrite)
