"""Custom Python Data Source (Spark 4 connector tier): batch read
parity with the reference generator, filter pushdown absorption,
partition planning, and the streaming source's exactly-once /
deterministic-replay contract."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.datasource import EqualTo, GreaterThan, In

from spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource import (
    _RegistryReader,
    event_row,
    register_python_sources,
    registry_row,
)


def test_registry_batch_read_matches_generator(spark):
    register_python_sources(spark)
    df = (
        spark.read.format("device_registry")
        .option("n_devices", 300)
        .option("n_partitions", 5)
        .load()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(registry_row(i) for i in range(300))


def test_registry_pushdown_absorbs_region_filters():
    r = _RegistryReader({"n_devices": "100", "n_partitions": "4"})
    # region filters absorbed (nothing yielded back); others returned
    leftover = list(
        r.pushFilters([In(("region",), ("eu", "na")), GreaterThan(("firmware",), 5)])
    )
    assert r.regions == {"eu", "na"}
    assert len(leftover) == 1 and isinstance(leftover[0], GreaterThan)
    # generation-side pruning: only matching regions materialize
    rows = [row for p in r.partitions() for row in r.read(p)]
    assert rows and all(row[1] in {"eu", "na"} for row in rows)

    r2 = _RegistryReader({"n_devices": "100"})
    assert list(r2.pushFilters([EqualTo(("region",), "mea")])) == []
    assert r2.regions == {"mea"}


def test_registry_partition_planning(spark):
    register_python_sources(spark)
    df = (
        spark.read.format("device_registry")
        .option("n_devices", 1000)
        .option("n_partitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7


def test_registry_filtered_scan_agrees_with_unfiltered(spark):
    """Pushdown must be transparent: filter(region='eu') with pushdown
    == the client-side filter of the full scan."""
    register_python_sources(spark)

    def load():
        return (
            spark.read.format("device_registry").option("n_devices", 500).load()
        )

    pushed = sorted(tuple(r) for r in load().filter(F.col("region") == "eu").collect())
    manual = sorted(
        tuple(r) for r in load().collect() if r["region"] == "eu"
    )
    assert pushed == manual and pushed


def test_stream_source_delivers_all_events_exactly_once(spark, tmp_path):
    register_python_sources(spark)
    stream = (
        spark.readStream.format("device_events")
        .option("total_events", 100)
        .option("events_per_batch", 33)
        .option("n_partitions", 3)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dev_events")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        # latestOffset advances 33/batch: drain until the cap is reached
        for _ in range(6):
            q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(tuple(r) for r in spark.sql("SELECT * FROM dev_events").collect())
    assert rows == sorted(event_row(i) for i in range(100))  # all, no dupes


def test_stream_source_replay_is_deterministic():
    """The exactly-once prerequisite: re-reading the same offset range
    yields identical rows."""
    from spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource import (
        _EventsStreamReader,
    )

    r = _EventsStreamReader({"total_events": "50", "n_partitions": "2"})
    first = [row for p in r.partitions({"offset": 10}, {"offset": 40}) for row in r.read(p)]
    second = [row for p in r.partitions({"offset": 10}, {"offset": 40}) for row in r.read(p)]
    assert first == second == [event_row(i) for i in range(10, 40)]


def test_stream_source_cursor_survives_reader_rebirth(tmp_path):
    """Clean-restart duplicate hazard (ADVICE r11): Spark calls
    latestOffset() on a FRESH reader before partitions() can reveal the
    checkpointed start, so an in-memory cursor reborn at 0 reports a
    regressed latest, the WAL records it, and the next batch re-emits
    [latest, checkpoint) as duplicates.  With cursor_path the watermark
    outlives the reader: a reborn reader resumes from the persisted
    position and every latestOffset it ever reports is >= the last one
    the dead reader reported."""
    from spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource import (
        _EventsStreamReader,
    )

    cur = str(tmp_path / "cursor")
    opts = {
        "total_events": "1000",
        "events_per_batch": "40",
        "cursor_path": cur,
    }
    a = _EventsStreamReader(opts)
    last = 0
    for _ in range(5):
        last = a.latestOffset()["offset"]
    assert last == 200

    reborn = _EventsStreamReader(opts)  # same options → same side file
    first_after_rebirth = reborn.latestOffset()["offset"]
    assert first_after_rebirth >= last, (
        "reborn reader regressed the offset — clean restarts would "
        f"re-emit duplicates ({first_after_rebirth} < {last})"
    )

    # without cursor_path the rebirth DOES regress (the documented
    # first-trigger gap) — pin it so the docstring can't silently rot
    blind = _EventsStreamReader({k: v for k, v in opts.items() if k != "cursor_path"})
    assert blind.latestOffset()["offset"] < last


def test_stream_source_concurrent_cursor_sharing_fails_loudly(tmp_path):
    """ADVICE r12: two CONCURRENT queries pointed at one cursor_path
    would mutually advance a single watermark and silently interleave
    offsets.  The file is owner-stamped per reader: once a reader has
    claimed it, finding a foreign stamp on the next write raises
    instead of interleaving.  A clean restart (takeover by a NEW reader
    while the old one stays silent) remains legitimate."""
    import pytest

    from spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource import (
        _EventsStreamReader,
    )

    opts = {
        "total_events": "1000",
        "events_per_batch": "40",
        "cursor_path": str(tmp_path / "cursor"),
    }
    a = _EventsStreamReader(opts)
    a.latestOffset()  # a claims the file
    b = _EventsStreamReader(opts)
    b.latestOffset()  # b takes over (indistinguishable from a restart)
    with pytest.raises(RuntimeError, match="cursor_path is shared"):
        a.latestOffset()  # a is still live → interleaving → loud failure

    # legacy bare-int cursor files are still readable (upgrade path)
    legacy = tmp_path / "legacy_cursor"
    legacy.write_text("120")
    c = _EventsStreamReader({**opts, "cursor_path": str(legacy)})
    assert c.latestOffset()["offset"] == 160


def test_stream_source_exactly_once_across_query_restart(spark, tmp_path):
    """Full clean-restart proof: run the stream against a checkpoint,
    stop it, start a NEW query on the same checkpoint + cursor_path,
    drain to the cap — the union of both runs must be every event
    exactly once (the fresh reader's first latestOffset resumes from
    the persisted cursor instead of regressing below the checkpoint)."""
    register_python_sources(spark)
    out = str(tmp_path / "out")

    def start():
        return (
            spark.readStream.format("device_events")
            .option("total_events", 120)
            .option("events_per_batch", 30)
            .option("n_partitions", 3)
            .option("cursor_path", str(tmp_path / "cursor"))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()  # first run: some prefix of the feed
    finally:
        q.stop()
    q2 = start()  # fresh query, fresh reader — the hazard path
    try:
        for _ in range(6):
            q2.processAllAvailable()
    finally:
        q2.stop()
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert rows == sorted(event_row(i) for i in range(120))  # all, no dupes


def test_audit_writer_commit_protocol(spark, tmp_path):
    """The Python WRITE path: tasks stage uniquely-named part files
    and report commit messages; the driver-side commit() writes the
    manifest that makes the job's output visible; a reader trusting
    only manifested files sees every row exactly once."""
    import json
    import os

    from spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource import (
        register_python_sources,
    )

    register_python_sources(spark)
    d = str(tmp_path / "audit")
    df = spark.range(60).selectExpr("id", "id % 7 AS bucket").repartition(3)
    df.write.format("device_audit").option("path", d).mode("append").save()
    man = json.load(open(os.path.join(d, "_manifest.json")))
    assert sum(m["n_rows"] for m in man) == 60
    assert len(man) == 3
    ids = []
    for m in man:
        with open(os.path.join(d, m["file"])) as f:
            part = [json.loads(line) for line in f]
        assert len(part) == m["n_rows"]
        ids += [r["id"] for r in part]
    assert sorted(ids) == list(range(60))  # exactly once, via manifest
    # staged-but-unmanifested files would mean a broken commit protocol
    staged = {f for f in os.listdir(d) if f.endswith(".jsonl")}
    assert staged == {m["file"] for m in man}

    # append MERGES the manifest (round-16 review: it used to replace
    # it, logically deleting the first job's rows from the documented
    # trust-only-manifested-files contract)
    df2 = spark.range(60, 70).selectExpr("id", "id % 7 AS bucket").repartition(2)
    df2.write.format("device_audit").option("path", d).mode("append").save()
    man2 = json.load(open(os.path.join(d, "_manifest.json")))
    assert sum(m["n_rows"] for m in man2) == 70
    assert len(man2) == 5

    # overwrite REPLACES the manifest and removes the previously
    # manifested files — no mixed generations on disk
    df3 = spark.range(5).selectExpr("id", "id % 7 AS bucket").repartition(1)
    df3.write.format("device_audit").option("path", d).mode("overwrite").save()
    man3 = json.load(open(os.path.join(d, "_manifest.json")))
    assert sum(m["n_rows"] for m in man3) == 5 and len(man3) == 1
    staged = {f for f in os.listdir(d) if f.endswith(".jsonl")}
    assert staged == {m["file"] for m in man3}


def test_custom_connector_pipeline_end_to_end(spark, tmp_path):
    """Flagship connector composition: the Python STREAM source feeds
    a stream-static join against the Python BATCH source (device →
    registry enrichment), aggregates per region, and lands in parquet
    — an end-to-end pipeline where every external touchpoint is a
    Python connector."""
    import pyspark.sql.functions as F

    from spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource import (
        event_row,
        register_python_sources,
        registry_row,
    )

    register_python_sources(spark)
    stream = (
        spark.readStream.format("device_events")
        .option("total_events", 80)
        .option("events_per_batch", 40)
        .load()
    )
    dim = (
        spark.read.format("device_registry").option("n_devices", 100).load()
    )
    enriched = stream.join(F.broadcast(dim), "device_id")
    agg_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        enriched.writeStream.format("parquet")
        .option("path", agg_dir)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .start()
    )
    try:
        for _ in range(4):
            q.processAllAvailable()
    finally:
        q.stop()
    out = spark.read.parquet(agg_dir)
    got = (
        out.groupBy("region")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value_cents").alias("cents"),
        )
        .collect()
    )
    # independent ground truth from the two deterministic generators
    expect = {}
    for i in range(80):
        _, dev, cents = event_row(i)
        region = registry_row(dev)[1]
        n, c = expect.get(region, (0, 0))
        expect[region] = (n + 1, c + cents)
    assert {r["region"]: (r["n"], r["cents"]) for r in got} == expect


def test_registry_conjunctive_region_filters_intersect(spark):
    """Absorbed filters are FINAL (Spark re-applies only yielded
    filters), so two absorbed region predicates must INTERSECT — the
    old overwrite returned rows the earlier filter had excluded
    (live-confirmed: eq 'eu' then in ('na','latam') returned 78 rows
    instead of 0)."""
    r = _RegistryReader({"n_devices": "100"})
    assert list(
        r.pushFilters([EqualTo(("region",), "eu")])
    ) == []
    assert list(
        r.pushFilters([In(("region",), ("na", "latam"))])
    ) == []
    assert r.regions == set()  # eu ∩ {na, latam} = ∅
    assert [row for p in r.partitions() for row in r.read(p)] == []

    # end-to-end through the planner: conjunctive filters on the real
    # source must return the true intersection (zero rows here)
    df = (
        spark.read.format("device_registry")
        .option("n_devices", 200)
        .load()
        .filter("region = 'eu'")
        .filter("region in ('na', 'latam')")
    )
    assert df.count() == 0


def test_audit_overwrite_commit_is_manifest_first(tmp_path, monkeypatch):
    """Round-17 review (move-before-delete doctrine): the overwrite
    commit must land the NEW manifest atomically BEFORE removing the
    files the old manifest named.  A crash inside the commit window
    previously left the old manifest authoritative while its files
    were already deleted — previously committed data became unreadable
    under the 'trust only manifested files' contract.  Simulate the
    crash at the atomic-rename commit point and assert the old
    generation is fully intact; then let the commit complete and
    assert the stale files are gone."""
    import json
    import os

    from spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource import (
        _AuditCommit,
        _AuditWriter,
    )

    d = str(tmp_path / "audit")
    os.makedirs(d)
    old_file = "part-00000-old.jsonl"
    with open(os.path.join(d, old_file), "w") as f:
        f.write(json.dumps({"id": 1}) + "\n")
    with open(os.path.join(d, "_manifest.json"), "w") as f:
        json.dump([{"file": old_file, "n_rows": 1}], f)
    new_file = "part-00000-new.jsonl"
    with open(os.path.join(d, new_file), "w") as f:
        f.write(json.dumps({"id": 2}) + "\n")

    w = _AuditWriter({"path": d}, overwrite=True)

    real_replace = os.replace

    def crash_replace(src, dst):
        raise OSError("simulated crash at the manifest commit point")

    monkeypatch.setattr(os, "replace", crash_replace)
    try:
        w.commit([_AuditCommit(new_file, 1)])
    except OSError:
        pass
    # crash BEFORE the commit point: the old manifest is still
    # authoritative and every file it names still exists and is intact
    man = json.load(open(os.path.join(d, "_manifest.json")))
    assert man == [{"file": old_file, "n_rows": 1}]
    assert os.path.exists(os.path.join(d, old_file))

    monkeypatch.setattr(os, "replace", real_replace)
    w.commit([_AuditCommit(new_file, 1)])
    man = json.load(open(os.path.join(d, "_manifest.json")))
    assert man == [{"file": new_file, "n_rows": 1}]
    assert not os.path.exists(os.path.join(d, old_file))  # stale gen removed
    assert not os.path.exists(os.path.join(d, "_manifest.json.tmp"))


def test_registered_query_leaves_session_conf_unchanged(spark, monkeypatch):
    """Query functions have no side effects on the session: the
    registered pushdown queries register their sources once per
    session (no re-registration, no WARN lines) and write no conf."""
    from pyspark.sql.datasource import DataSourceRegistration

    from spark_nifi_kafka_connected_device_stream_spark.registry import queries

    query = queries()["device_registry_models"]
    register_python_sources(spark)
    registered = []
    real_register = DataSourceRegistration.register

    def counting_register(self, source):
        registered.append(source.name())
        return real_register(self, source)

    monkeypatch.setattr(DataSourceRegistration, "register", counting_register)
    before = spark.conf.getAll
    first = sorted(tuple(r) for r in query(spark, "").collect())
    second = sorted(tuple(r) for r in query(spark, "").collect())
    assert first == second and first
    assert spark.conf.getAll == before
    assert registered == []
