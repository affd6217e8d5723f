"""Stateful streaming operators: session windows, stream-static and
stream-stream joins, applyInPandasWithState running totals (state
must survive across micro-batches).
"""

from __future__ import annotations

import functools
import os
import re

import pytest
from pyspark.sql import functions as F

from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
    json_file_stream,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.pipeline import (
    parse_product_views,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import memory_sink
from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
    running_totals,
    session_window_counts,
    stream_static_enrich,
    stream_stream_interval_join,
)

from .conftest import rocksdb_state_store
from .test_streaming import _event, _mk_events, _write_file


def test_session_window_counts(spark, tmp_path):
    d = str(tmp_path / "in")
    # user u0: bursts at 10:00 (3 events, 10s apart) and 11:00 (2 events)
    lines = [
        _event("2021-03-06 10:00:00.000", 0, "desktop"),
        _event("2021-03-06 10:00:10.000", 7, "desktop"),   # i%7==0 → same user
        _event("2021-03-06 10:00:20.000", 14, "desktop"),
        _event("2021-03-06 11:00:00.000", 21, "desktop"),
        _event("2021-03-06 11:00:10.000", 28, "desktop"),
        _event("2021-03-06 13:00:00.000", 35, "desktop"),  # flush
    ]
    _write_file(d, "b1.json", lines)
    stream = parse_product_views(json_file_stream(spark, d))
    agg = session_window_counts(stream, gap="10 minutes", watermark="10 minutes")
    q = memory_sink(agg, "sessions", output_mode="append").option(
        "checkpointLocation", str(tmp_path / "chk")
    ).start()
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [_event("2021-03-06 15:00:00.000", 42, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        spark.sql("SELECT * FROM sessions WHERE userid = 'user-0'").collect(),
        key=lambda r: r["session_start"],
    )
    # two closed sessions: (3 events, 10:00:00-10:10:20) and (2, 11:00:00-11:10:10)
    assert [(r["n_events"],) for r in rows[:2]] == [(3,), (2,)]
    assert rows[0]["session_start"].strftime("%H:%M:%S") == "10:00:00"
    assert rows[0]["session_end"].strftime("%H:%M:%S") == "10:10:20"


def test_stream_static_enrich(spark, tmp_path):
    d = str(tmp_path / "in")
    _write_file(d, "b1.json", [e[2] for e in _mk_events(0, 9)])
    dim = spark.createDataFrame(
        [("desktop", "web"), ("mobile-web", "mobile"), ("mobile-app", "mobile")],
        ["source", "channel"],
    )
    stream = parse_product_views(json_file_stream(spark, d))
    enriched = stream_static_enrich(stream, dim, on="source")
    q = memory_sink(enriched, "enriched", output_mode="append").option(
        "checkpointLocation", str(tmp_path / "chk")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM enriched").collect()
    assert len(rows) == 9
    assert all(r["channel"] == ("web" if r["source"] == "desktop" else "mobile") for r in rows)


def test_stream_stream_interval_join(spark, tmp_path):
    dl, dr = str(tmp_path / "l"), str(tmp_path / "r")
    # left: views; right: purchases 2 min later (match) and 30 min later (no match)
    _write_file(dl, "l.json", [_event("2021-03-06 10:00:00.000", 0, "desktop")])
    _write_file(
        dr,
        "r.json",
        [
            _event("2021-03-06 10:02:00.000", 7, "desktop"),
            _event("2021-03-06 10:30:00.000", 14, "desktop"),
        ],
    )
    left = parse_product_views(json_file_stream(spark, dl)).select(
        "userid", F.col("timestamp").alias("view_ts")
    )
    right = parse_product_views(json_file_stream(spark, dr)).select(
        F.col("userid").alias("r_userid"), F.col("timestamp").alias("buy_ts")
    )
    joined = stream_stream_interval_join(
        left.withColumnRenamed("userid", "key"),
        right.withColumnRenamed("r_userid", "key"),
        key="key",
        left_ts="view_ts",
        right_ts="buy_ts",
        interval="10 minutes",
    ).select("key", "view_ts", "buy_ts")
    q = memory_sink(joined, "vp_join", output_mode="append").option(
        "checkpointLocation", str(tmp_path / "chk")
    ).start()
    try:
        q.processAllAvailable()
        _write_file(dl, "flush_l.json", [_event("2021-03-06 12:00:00.000", 0, "desktop")])
        _write_file(dr, "flush_r.json", [_event("2021-03-06 12:00:00.000", 7, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM vp_join WHERE view_ts < timestamp'2021-03-06 11:00:00'"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["buy_ts"].strftime("%H:%M") == "10:02"


def test_session_expiry_event_time_timeout(spark, tmp_path):
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        session_expiry_summaries,
    )

    d = str(tmp_path / "in")
    # user-0: 3 events in a burst; then event time jumps 2 hours so the
    # watermark passes burst_end + 10min and the session must close
    _write_file(
        d,
        "b1.json",
        [
            _event("2021-03-06 10:00:00.000", 0, "desktop"),
            _event("2021-03-06 10:00:30.000", 7, "desktop"),
            _event("2021-03-06 10:01:00.000", 14, "desktop"),
        ],
    )
    stream = parse_product_views(json_file_stream(spark, d))
    out = session_expiry_summaries(stream)
    q = memory_sink(out, "expiry", output_mode="append").option(
        "checkpointLocation", str(tmp_path / "chk")
    ).start()
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM expiry").count() == 0  # still open
        _write_file(d, "b2.json", [_event("2021-03-06 12:00:00.000", 1, "desktop")])
        q.processAllAvailable()
        # one more batch so the new watermark is applied to the state
        _write_file(d, "b3.json", [_event("2021-03-06 12:30:00.000", 8, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM expiry WHERE key = 'user-0'").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_events"] == 3 and r["closed_by_timeout"]
    assert r["first_ts"].strftime("%H:%M:%S") == "10:00:00"
    assert r["last_ts"].strftime("%H:%M:%S") == "10:01:00"


import pytest


@pytest.mark.parametrize("tz", ["Asia/Kolkata", "+05:30"])
def test_session_expiry_non_utc_session_tz(spark, tmp_path, tz):
    """ADVICE r3: setTimeoutTimestamp expects TRUE event-time epoch
    millis; the operator now ships JVM-computed unix_micros into the
    state fn, so timeouts fire at the true event time under any session
    tz.  "+05:30" (ADVICE r5 follow-up) exercises the pure-offset tz
    style — the one offset form pyarrow's Arrow-transfer layer can
    parse; both params share the +5:30 offset so the asserts match."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        session_expiry_summaries,
    )

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        d = str(tmp_path / "in")
        _write_file(
            d,
            "b1.json",
            [
                _event("2021-03-06 10:00:00.000", 0, "desktop"),
                _event("2021-03-06 10:01:00.000", 7, "desktop"),
            ],
        )
        stream = parse_product_views(json_file_stream(spark, d))
        out = session_expiry_summaries(stream)
        # deterministic per-param table name — hash() is per-process
        # salted, so it would be non-reproducible across runs
        table = "expiry_tz_" + re.sub(r"[^A-Za-z0-9]", "_", tz)
        q = memory_sink(out, table, output_mode="append").option(
            "checkpointLocation", str(tmp_path / "chk")
        ).start()
        try:
            q.processAllAvailable()
            _write_file(d, "b2.json", [_event("2021-03-06 12:00:00.000", 1, "desktop")])
            q.processAllAvailable()
            _write_file(d, "b3.json", [_event("2021-03-06 12:30:00.000", 8, "desktop")])
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql(f"SELECT * FROM {table} WHERE key = 'user-0'").collect()
        assert len(rows) == 1, "session never closed — timeout epoch is tz-shifted"
        r = rows[0]
        assert r["n_events"] == 2 and r["closed_by_timeout"]
        # wall-clock round trip: emitted ts must match the ingested wall time
        assert r["first_ts"].strftime("%H:%M:%S") == "10:00:00"
        assert r["last_ts"].strftime("%H:%M:%S") == "10:01:00"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_streaming_dedup_exact_within_watermark(spark, tmp_path):
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        streaming_dedup_exact,
    )

    d = str(tmp_path / "in")
    # m-1 arrives three times (twice in b1, once in b2) within the
    # watermark horizon; m-2 once
    _write_file(
        d,
        "b1.json",
        [
            _event("2021-03-06 10:00:00.000", 1, "desktop"),
            _event("2021-03-06 10:00:05.000", 1, "desktop"),
            _event("2021-03-06 10:00:10.000", 2, "desktop"),
        ],
    )
    stream = parse_product_views(json_file_stream(spark, d))
    deduped = streaming_dedup_exact(
        stream, ["messageid"], ts_col="timestamp", watermark="10 minutes"
    )
    q = memory_sink(deduped, "dedup_stream", output_mode="append").option(
        "checkpointLocation", str(tmp_path / "chk")
    ).start()
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [_event("2021-03-06 10:01:00.000", 1, "desktop")])
        q.processAllAvailable()
        # advance event time so earlier rows are final
        _write_file(d, "flush.json", [_event("2021-03-06 12:00:00.000", 99, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()
    counts = {
        r["messageid"]: r["n"]
        for r in spark.sql(
            "SELECT messageid, count(*) AS n FROM dedup_stream GROUP BY messageid"
        ).collect()
    }
    assert counts["m-1"] == 1 and counts["m-2"] == 1


def test_running_totals_state_across_batches(spark, tmp_path):
    d = str(tmp_path / "in")
    _write_file(d, "b1.json", [e[2] for e in _mk_events(0, 30)])  # 10/source
    stream = parse_product_views(json_file_stream(spark, d, max_files_per_trigger=1))
    with_value = stream.withColumn("value", F.lit(2.5))
    totals = running_totals(with_value, key_col="source", value_col="value")
    epochs = []

    def collect(df, _epoch):
        rows = df.collect()
        if rows:
            epochs.append({r["key"]: (r["total_events"], r["total_value"]) for r in rows})

    q = (
        totals.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [e[2] for e in _mk_events(10, 15, start_i=100)])  # +5/source
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(epochs) >= 2
    assert epochs[0]["desktop"] == (10, 25.0)
    # lifetime totals accumulated across micro-batches via GroupState
    assert epochs[-1]["desktop"] == (15, 37.5)


def test_resolve_tz_region_offset_and_invalid():
    """Spark's session.timeZone accepts offset styles (GMT+8, +08:00)
    that pandas' tz_localize rejects as strings; _resolve_tz must map
    every Spark-legal form to a pandas-usable tzinfo and fail fast
    (plan-construction time, not mid-batch) on garbage."""
    from datetime import timedelta

    import pandas as pd
    import pytest

    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        _resolve_tz,
    )

    assert str(_resolve_tz("Asia/Kolkata")) == "Asia/Kolkata"
    for s, off in [
        ("GMT+8", 8 * 60),
        ("UTC+05:30", 5 * 60 + 30),
        ("+08:00", 8 * 60),
        ("-0530", -(5 * 60 + 30)),
        ("GMT-11", -11 * 60),
    ]:
        tz = _resolve_tz(s)
        assert tz.utcoffset(None) == timedelta(minutes=off), s
        # the actual call site: pandas localize/convert must accept it
        assert pd.Timestamp("2024-01-01").tz_localize(tz) is not None
    assert pd.Timestamp(0, unit="us", tz="UTC").tz_convert(_resolve_tz("UTC")).year == 1970
    with pytest.raises(ValueError, match="unsupported spark.sql.session.timeZone"):
        _resolve_tz("Nope/Nope")
    # ADVICE r6: out-of-range offsets must hit OUR actionable error, not
    # datetime.timezone's raw "offset must be a timedelta..." one; bare
    # '+830' is ambiguous (8:30 or 83:0?) and must be rejected too.
    for bad in ["UTC+99", "GMT-19", "+18:01", "+830", "-990"]:
        with pytest.raises(ValueError, match="unsupported spark.sql.session.timeZone"):
            _resolve_tz(bad)
    # the boundary itself is legal
    assert _resolve_tz("+18:00").utcoffset(None) == timedelta(hours=18)


def test_session_expiry_letter_offset_tz_fails_fast(spark, tmp_path):
    """Letter-offset session tz (GMT+8) cannot cross the Arrow
    timestamp transfer (pyarrow/pytz rejects the string); the operator
    must raise at plan construction with the rename the user needs,
    not crash an executor mid-batch (round-6 finding)."""
    import pytest

    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        session_expiry_summaries,
    )

    d = str(tmp_path / "in")
    _write_file(d, "b1.json", [_event("2021-03-06 10:00:00.000", 0, "desktop")])
    stream = parse_product_views(json_file_stream(spark, d))
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "GMT+8")
    try:
        with pytest.raises(ValueError, match="\\+08:00"):
            session_expiry_summaries(stream)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_session_window_stream_batch_equivalence(spark, tmp_path):
    """VERDICT r6 #7: F.session_window must produce IDENTICAL closed
    sessions in streaming (watermark-driven emission) and batch mode on
    the same replay — the same contract the tumbling-window test pins
    in test_streaming.  A flush user advances the watermark past every
    real session; its own still-open session is the only allowed
    difference (batch has no watermark, so it appears there)."""
    from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
        json_file_batch,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        session_window_counts,
    )

    d = str(tmp_path / "in")
    # 3 users (i%7 selects the user), multiple sessions each, bursts
    # separated by more than the 10-minute gap; sub-gap spacing varies
    # so session extents differ per user
    lines = [
        # user-0: 3-event session at 10:00, singleton at 10:30
        _event("2021-03-06 10:00:00.000", 0, "desktop"),
        _event("2021-03-06 10:02:00.000", 7, "desktop"),
        _event("2021-03-06 10:04:00.000", 14, "desktop"),
        _event("2021-03-06 10:30:00.000", 21, "desktop"),
        # user-1: 2-event session at 10:05, 2-event session at 11:00
        _event("2021-03-06 10:05:00.000", 1, "mobile-web"),
        _event("2021-03-06 10:06:00.000", 8, "mobile-web"),
        _event("2021-03-06 11:00:00.000", 15, "mobile-web"),
        _event("2021-03-06 11:03:00.000", 22, "mobile-web"),
        # user-2: one 4-event session straddling chained gaps (9-min
        # spacing keeps extending the window past start+gap)
        _event("2021-03-06 10:00:30.000", 2, "mobile-app"),
        _event("2021-03-06 10:09:30.000", 9, "mobile-app"),
        _event("2021-03-06 10:18:30.000", 16, "mobile-app"),
        _event("2021-03-06 10:27:30.000", 23, "mobile-app"),
    ]
    _write_file(d, "b1.json", lines)
    stream = parse_product_views(json_file_stream(spark, d))
    agg = session_window_counts(stream, gap="10 minutes", watermark="10 minutes")
    q = (
        memory_sink(agg, "sw_equiv", output_mode="append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        # flush: watermark → 13:00 - 10m = 12:50 > every session end
        _write_file(d, "b2.json", [_event("2021-03-06 13:00:00.000", 3, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()

    def rowset(rows):
        return sorted(
            (r["userid"], r["session_start"].isoformat(),
             r["session_end"].isoformat(), r["n_events"])
            for r in rows
        )

    streamed = rowset(spark.sql("SELECT * FROM sw_equiv").collect())
    # same plan-builder, batch source: withWatermark is a no-op in
    # batch, session_window itself must agree on every closed session
    batch = session_window_counts(
        parse_product_views(json_file_batch(spark, d)),
        gap="10 minutes",
        watermark="10 minutes",
    )
    batched = rowset(
        batch.filter(F.col("userid") != "user-3").collect()  # drop flush user
    )
    assert streamed == batched
    # sanity on the semantics themselves: user-2's chained 9-minute
    # spacings must merge into ONE session ending last_event + gap
    u2 = [r for r in streamed if r[0] == "user-2"]
    assert len(u2) == 1 and u2[0][3] == 4
    assert u2[0][2].endswith("10:37:30")


def test_foreach_batch_corpus_dedup_across_restart(spark, tmp_path):
    """Ingest-time dedup against the persistent fingerprint store must
    drop re-ingested content ACROSS query restarts (beyond watermark
    state, which dies with the query) — first arrival wins globally."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        corpus_dedup_epoch,
    )

    d = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")

    def run(files_written_after_start=None):
        stream = parse_product_views(json_file_stream(spark, d, max_files_per_trigger=1))
        fp = stream.withColumn(
            "fingerprint",
            F.md5(F.concat_ws("|", "userid", "productid", "timestamp").cast("binary")),
        )
        q = (
            fp.writeStream.foreachBatch(
                functools.partial(corpus_dedup_epoch, corpus_dir=corpus, out_dir=out)
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch 1: 3 distinct events, one exact duplicate line
    e1 = _event("2021-03-06 10:00:00.000", 0, "desktop")
    e2 = _event("2021-03-06 10:01:00.000", 1, "mobile-web")
    e3 = _event("2021-03-06 10:02:00.000", 2, "mobile-app")
    _write_file(d, "b1.json", [e1, e2, e3, e1])
    run()
    assert spark.read.parquet(out).count() == 3

    # restart: re-ingest e2 (must drop — store remembers it) + one new
    e4 = _event("2021-03-06 12:00:00.000", 3, "desktop")
    _write_file(d, "b2.json", [e2, e4])
    run()
    result = spark.read.parquet(out)
    assert result.count() == 4
    assert result.select("fingerprint").distinct().count() == 4
    # the store holds exactly the 4 unique fingerprints, epoch-partitioned
    store = spark.read.parquet(corpus)
    assert store.select("fingerprint").distinct().count() == 4
    assert store.count() == 4


def test_corpus_dedup_epoch_rerun_is_idempotent(spark, tmp_path):
    """foreachBatch re-delivers an epoch after a crash (its write can
    complete before the checkpoint commit).  Re-running the SAME epoch
    must (a) not drop the batch's rows against its own half-written
    store partition, and (b) leave store + output with no duplicates."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        corpus_dedup_epoch,
    )

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame([("fpA", 1), ("fpB", 2)], "fingerprint string, v int")
    b1 = spark.createDataFrame([("fpB", 3), ("fpC", 4)], "fingerprint string, v int")

    corpus_dedup_epoch(b0, 0, corpus, out)
    corpus_dedup_epoch(b1, 1, corpus, out)  # fpB dropped (seen in epoch 0)
    first = sorted(r["fingerprint"] for r in spark.read.parquet(out).collect())
    assert first == ["fpA", "fpB", "fpC"]

    # crash-replay epoch 1: identical delivery, run again
    corpus_dedup_epoch(b1, 1, corpus, out)
    again = sorted(r["fingerprint"] for r in spark.read.parquet(out).collect())
    assert again == first, "epoch re-run changed the output"
    store = spark.read.parquet(corpus)
    assert sorted(r["fingerprint"] for r in store.collect()) == ["fpA", "fpB", "fpC"]


def test_corpus_dedup_epoch_store_drift_raises(spark, tmp_path):
    """Only a MISSING store directory may be treated as 'first epoch'.
    A store that exists but lacks the fingerprint column (schema drift,
    mistyped column) must raise — silently falling back would disable
    dedup for the batch and write duplicates into both stores forever."""
    from pyspark.errors import AnalysisException

    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        corpus_dedup_epoch,
    )

    corpus = str(tmp_path / "corpus")
    out = str(tmp_path / "out")
    # a store partition with the WRONG column name
    spark.createDataFrame([("fpA",)], "wrong_col string").write.parquet(
        f"{corpus}/epoch=0"
    )
    b1 = spark.createDataFrame([("fpA", 1)], "fingerprint string, v int")
    with pytest.raises(AnalysisException):
        corpus_dedup_epoch(b1, 1, corpus, out)


def test_streaming_heavy_hitters_sketch(spark, tmp_path):
    """Streaming MG sketch: state must CARRY across micro-batches and,
    while the per-bucket key set fits in k counters, stay EXACT (MG
    only loses precision under eviction): product-0's final estimate
    must equal its true 2-batch count, which batch 2 alone cannot
    produce.  A second pass keys on the unique-per-event messageid —
    65 distinct keys per bucket against k=8 — and the state must stay
    bounded at <= k counters per bucket under that churn."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    d = str(tmp_path / "in")
    # batch 1: 130 events -> product-0 gets i%13==0 hits (10), others 10 each
    _write_file(d, "b1.json", [e[2] for e in _mk_events(0, 130)])
    stream = parse_product_views(json_file_stream(spark, d, max_files_per_trigger=1))
    hh = streaming_heavy_hitters(stream, "productid", n_buckets=4, k=8)
    q = (
        memory_sink(hh, "hh_sketch", output_mode="update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [e[2] for e in _mk_events(10, 130, start_i=130)])
        q.processAllAvailable()
    finally:
        q.stop()

    # update-mode memory sink: take the LAST emission per (bucket, key)
    rows = spark.sql(
        "SELECT * FROM hh_sketch"
    ).collect()
    latest = {}
    for r in rows:
        latest[(r["bucket"], r["key"])] = (r["est_count"], r["n_seen_bucket"])
    ests = {k[1]: v for k, v in latest.items()}
    # product-0 true count: i in 0..259 with i%13==0 -> 20
    assert "product-0" in ests, f"hot key evicted: {sorted(ests)}"
    est, n_bucket = ests["product-0"]
    assert est <= 20 <= est + n_bucket // 9, (est, n_bucket)
    # 13 products over 4 buckets -> <= 8 keys per bucket: no eviction,
    # so the MG estimate must be EXACT — and exactness across batches
    # proves the state carried (batch 2 alone would give 10)
    assert est == 20, est
    # state really accumulated across batches: its bucket saw both batches
    assert n_bucket > 130 // 4 // 2, n_bucket


def test_streaming_heavy_hitters_state_bounded_under_churn(spark, tmp_path):
    """High-cardinality churn: ~250 once-only messageids (pure noise,
    which MG annihilates — equal counts cancel) plus one messageid
    repeated 40 times.  Summaries must stay <= k keys per bucket at
    every emission (constant state at any key cardinality), and the
    needle must survive the churn with an in-bound estimate."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    d = str(tmp_path / "in")
    # duplicate messageid: emit the SAME i repeatedly (m-0), plus noise
    needle = [_event(f"2021-03-06 10:00:{s:02d}.000", 0, "desktop") for s in range(20)]
    noise1 = [e[2] for e in _mk_events(1, 110, start_i=1)]
    _write_file(d, "b1.json", needle + noise1)
    stream = parse_product_views(json_file_stream(spark, d, max_files_per_trigger=1))
    hh = streaming_heavy_hitters(stream, "messageid", n_buckets=4, k=8)
    q = (
        memory_sink(hh, "hh_churn", output_mode="update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        needle2 = [
            _event(f"2021-03-06 10:10:{s:02d}.000", 0, "desktop") for s in range(20)
        ]
        noise2 = [e[2] for e in _mk_events(11, 110, start_i=500)]
        _write_file(d, "b2.json", needle2 + noise2)
        q.processAllAvailable()
    finally:
        q.stop()
    import collections

    rows = spark.sql("SELECT * FROM hh_churn").collect()
    per_emission = collections.Counter()
    latest = {}
    for r in rows:
        per_emission[(r["bucket"], r["n_seen_bucket"])] += 1
        latest[(r["bucket"], r["key"])] = (r["est_count"], r["n_seen_bucket"])
    assert per_emission, "no summaries emitted"
    assert max(per_emission.values()) <= 8, per_emission
    ests = {k[1]: v for k, v in latest.items()}
    assert "m-0" in ests, f"needle evicted: {sorted(ests)}"
    est, n_bucket = ests["m-0"]
    assert est <= 40 <= est + n_bucket // 9, (est, n_bucket)


def test_streaming_heavy_hitters_bounded_under_rocksdb(spark, tmp_path):
    """The same high-cardinality churn, but with the RocksDB state
    store provider — the store the sketch targets in production (heap
    providers OOM first under per-key state; the sketch keeps ≤ k
    counters per bucket REGARDLESS of provider, and RocksDB keeps the
    bucket state itself off-heap).  Pins that the MG tuple state
    round-trips RocksDB serialization across micro-batches: needle
    survives, every emission stays ≤ k keys per bucket."""
    import collections

    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        streaming_heavy_hitters,
    )

    with rocksdb_state_store(spark):
        d = str(tmp_path / "in")
        needle = [
            _event(f"2021-03-06 10:00:{s:02d}.000", 0, "desktop") for s in range(20)
        ]
        _write_file(d, "b1.json", needle + [e[2] for e in _mk_events(1, 110, start_i=1)])
        stream = parse_product_views(json_file_stream(spark, d, max_files_per_trigger=1))
        hh = streaming_heavy_hitters(stream, "messageid", n_buckets=4, k=8)
        q = (
            memory_sink(hh, "hh_rocks", output_mode="update")
            .option("checkpointLocation", str(tmp_path / "chk"))
            .start()
        )
        try:
            q.processAllAvailable()
            needle2 = [
                _event(f"2021-03-06 10:10:{s:02d}.000", 0, "desktop") for s in range(20)
            ]
            _write_file(
                d, "b2.json", needle2 + [e[2] for e in _mk_events(11, 110, start_i=500)]
            )
            q.processAllAvailable()
        finally:
            q.stop()

    rows = spark.sql("SELECT * FROM hh_rocks").collect()
    per_emission = collections.Counter()
    latest = {}
    for r in rows:
        per_emission[(r["bucket"], r["n_seen_bucket"])] += 1
        latest[(r["bucket"], r["key"])] = (r["est_count"], r["n_seen_bucket"])
    assert per_emission, "no summaries emitted"
    assert max(per_emission.values()) <= 8, per_emission
    ests = {k[1]: v for k, v in latest.items()}
    assert "m-0" in ests, f"needle evicted under RocksDB: {sorted(ests)}"
    est, n_bucket = ests["m-0"]
    assert est <= 40 <= est + n_bucket // 9, (est, n_bucket)


def test_streaming_ewma_continues_recursion_across_batches(spark, tmp_path):
    """streaming_ewma: per-key EWMA state must continue across
    micro-batches — the stream's final smoothed value equals the EWMA
    of the concatenated series, checked against an independent
    closed-form evaluation (y_n = (1-a)^n x_0 + a * sum (1-a)^(n-1-i)
    x_i), not the operator's own recursion."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        EWMA_STREAM_ALPHA,
        streaming_ewma,
    )

    d = str(tmp_path / "in")
    _write_file(d, "b1.json", [e[2] for e in _mk_events(0, 30)])
    stream = parse_product_views(json_file_stream(spark, d, max_files_per_trigger=1))
    # deterministic varying value derived from the message id (m-<i>)
    with_value = stream.withColumn(
        "value", F.regexp_extract("messageid", "m-(\\d+)", 1).cast("double")
    )
    ewma = streaming_ewma(with_value, key_col="source", value_col="value")
    epochs = []

    def collect(df, _epoch):
        rows = df.collect()
        if rows:
            epochs.append({r["key"]: (r["total_events"], r["ewma"]) for r in rows})

    q = (
        ewma.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .start()
    )
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [e[2] for e in _mk_events(10, 15, start_i=100)])
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(epochs) >= 2

    def closed_form(xs):
        a = EWMA_STREAM_ALPHA
        n = len(xs) - 1
        y = (1.0 - a) ** n * xs[0]
        for i, x in enumerate(xs[1:], start=1):
            y += a * (1.0 - a) ** (n - i) * x
        return y

    # source 'desktop' takes j % 3 == 0 slots: i = j in batch 1,
    # i = 100 + j in batch 2
    b1 = [float(j) for j in range(0, 30, 3)]
    b2 = [float(100 + j) for j in range(0, 15, 3)]
    n1, y1 = epochs[0]["desktop"]
    assert n1 == len(b1)
    assert y1 == pytest.approx(closed_form(b1), rel=1e-12)
    n2, y2 = epochs[-1]["desktop"]
    assert n2 == len(b1) + len(b2)
    # continuing from state == one recursion over the concatenation
    assert y2 == pytest.approx(closed_form(b1 + b2), rel=1e-12)
    # and NOT a restarted recursion over batch 2 alone
    assert y2 != pytest.approx(closed_form(b2), rel=1e-6)


def test_stream_stream_interval_join_left_outer(spark, tmp_path):
    dl, dr = str(tmp_path / "l"), str(tmp_path / "r")
    # user-0 converts within the interval; user-1 never does — the outer
    # join must null-pad user-1's row, but only AFTER the watermark
    # proves no match can still arrive
    _write_file(
        dl,
        "l.json",
        [
            _event("2021-03-06 10:00:00.000", 0, "desktop"),   # user-0
            _event("2021-03-06 10:01:00.000", 1, "desktop"),   # user-1
        ],
    )
    _write_file(dr, "r.json", [_event("2021-03-06 10:02:00.000", 7, "desktop")])
    left = parse_product_views(json_file_stream(spark, dl)).select(
        F.col("userid").alias("key"), F.col("timestamp").alias("view_ts")
    )
    right = parse_product_views(json_file_stream(spark, dr)).select(
        F.col("userid").alias("key"), F.col("timestamp").alias("buy_ts")
    )
    joined = stream_stream_interval_join(
        left,
        right,
        key="key",
        left_ts="view_ts",
        right_ts="buy_ts",
        interval="10 minutes",
        how="left_outer",
    ).select("key", "view_ts", "buy_ts")
    q = memory_sink(joined, "vp_outer", output_mode="append").option(
        "checkpointLocation", str(tmp_path / "chk")
    ).start()
    try:
        q.processAllAvailable()
        # before any watermark movement only the matched row can exist
        early = {r["key"] for r in spark.sql("SELECT * FROM vp_outer").collect()}
        assert "user-1" not in early
        # advance BOTH watermarks far past view_ts + interval + watermark
        _write_file(dl, "flush_l.json", [_event("2021-03-06 13:00:00.000", 0, "desktop")])
        _write_file(dr, "flush_r.json", [_event("2021-03-06 13:00:00.000", 7, "desktop")])
        q.processAllAvailable()
        # one more cycle: outer-null emission happens on the batch AFTER
        # the watermark update that expired the state
        _write_file(dl, "flush_l2.json", [_event("2021-03-06 14:00:00.000", 0, "desktop")])
        _write_file(dr, "flush_r2.json", [_event("2021-03-06 14:00:00.000", 7, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        r["key"]: r
        for r in spark.sql(
            "SELECT * FROM vp_outer WHERE view_ts < timestamp'2021-03-06 11:00:00'"
        ).collect()
    }
    assert rows["user-0"]["buy_ts"].strftime("%H:%M") == "10:02"
    assert rows["user-1"]["buy_ts"] is None


def test_interval_join_state_evicted_by_watermark(spark, tmp_path):
    """The join buffers both sides in state bounded by watermark +
    range condition — prove rows actually LEAVE the store once the
    watermark passes them (the unbounded-state trap this operator
    exists to avoid)."""
    dl, dr = str(tmp_path / "l"), str(tmp_path / "r")
    _write_file(
        dl,
        "l.json",
        [_event(f"2021-03-06 10:0{i}:00.000", 0, "desktop") for i in range(5)],
    )
    _write_file(dr, "r.json", [_event("2021-03-06 10:02:00.000", 7, "desktop")])
    left = parse_product_views(json_file_stream(spark, dl)).select(
        F.col("userid").alias("key"), F.col("timestamp").alias("view_ts")
    )
    right = parse_product_views(json_file_stream(spark, dr)).select(
        F.col("userid").alias("key"), F.col("timestamp").alias("buy_ts")
    )
    joined = stream_stream_interval_join(
        left, right, key="key", left_ts="view_ts", right_ts="buy_ts",
        interval="10 minutes", watermark="10 minutes",
    )
    q = memory_sink(joined, "evict_join", output_mode="append").option(
        "checkpointLocation", str(tmp_path / "chk")
    ).start()
    try:
        q.processAllAvailable()
        peak = max(
            op["numRowsTotal"]
            for p in q.recentProgress if p.get("stateOperators")
            for op in p["stateOperators"]
        )
        assert peak >= 6  # both sides buffered
        # advance both watermarks far past every buffered row
        _write_file(dl, "fl.json", [_event("2021-03-06 14:00:00.000", 0, "desktop")])
        _write_file(dr, "fr.json", [_event("2021-03-06 14:00:00.000", 7, "desktop")])
        q.processAllAvailable()
        _write_file(dl, "fl2.json", [_event("2021-03-06 15:00:00.000", 0, "desktop")])
        _write_file(dr, "fr2.json", [_event("2021-03-06 15:00:00.000", 7, "desktop")])
        q.processAllAvailable()
        last = [
            op["numRowsTotal"]
            for p in q.recentProgress if p.get("stateOperators")
            for op in p["stateOperators"]
        ][-1]
        # everything from the 10:0x burst evicted; only the recent
        # flush rows may remain buffered
        assert last <= 4, (peak, last)
    finally:
        q.stop()


def test_scd2_upsert_epochs_merge_and_close(spark, tmp_path):
    """Streaming SCD2 maintenance: two epochs through scd2_upsert_epoch
    must yield the same state as the batch scd2_apply chain — changed
    keys close at the update's effective ts and reopen, unchanged keys
    keep their open row, new keys insert."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        scd2_upsert_epoch,
    )

    store = str(tmp_path / "dim")
    b0 = spark.createDataFrame(
        [(1, "bronze", 10), (2, "silver", 10)],
        "cust_id int, segment string, effective_ts int",
    )
    b1 = spark.createDataFrame(
        [(1, "gold", 20), (3, "bronze", 20)],
        "cust_id int, segment string, effective_ts int",
    )
    scd2_upsert_epoch(b0, 0, store, "cust_id", ("segment",))
    scd2_upsert_epoch(b1, 1, store, "cust_id", ("segment",))

    state = spark.read.parquet(store).filter("v = 1").drop("v")
    rows = {
        (r.cust_id, r.segment, r.valid_from, r.valid_to)
        for r in state.collect()
    }
    assert rows == {
        (1, "bronze", 10, 20),   # closed at the epoch-1 effective ts
        (1, "gold", 20, None),   # reopened with the new attribute
        (2, "silver", 10, None), # untouched key keeps its open row
        (3, "bronze", 20, None), # brand-new key inserted open
    }


def test_scd2_upsert_epoch_rerun_is_idempotent(spark, tmp_path):
    """Crash-replay of an SCD2 epoch must leave the store equivalent:
    the epoch reads only versions < N and overwrites v=N, so a re-run
    neither double-closes rows nor duplicates the snapshot."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        scd2_upsert_epoch,
    )

    store = str(tmp_path / "dim")
    b0 = spark.createDataFrame(
        [(1, "bronze", 10)], "cust_id int, segment string, effective_ts int"
    )
    b1 = spark.createDataFrame(
        [(1, "gold", 20)], "cust_id int, segment string, effective_ts int"
    )
    scd2_upsert_epoch(b0, 0, store, "cust_id", ("segment",))
    scd2_upsert_epoch(b1, 1, store, "cust_id", ("segment",))
    first = sorted(
        map(tuple, spark.read.parquet(store).filter("v = 1").drop("v").collect())
    )
    scd2_upsert_epoch(b1, 1, store, "cust_id", ("segment",))
    again = sorted(
        map(tuple, spark.read.parquet(store).filter("v = 1").drop("v").collect())
    )
    assert again == first, "epoch re-run changed the SCD2 snapshot"
    assert len(first) == 2  # closed bronze + open gold


def test_scd2_upsert_store_drift_raises(spark, tmp_path):
    """Only a MISSING store may mean 'first epoch' — a store whose
    version-partition column is absent (schema drift) must raise, not
    silently restart the dimension from empty."""
    import pytest
    from pyspark.errors import AnalysisException

    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        scd2_upsert_epoch,
    )

    store = str(tmp_path / "dim")
    # store exists but is NOT version-partitioned → no `v` column
    spark.createDataFrame(
        [(1, "bronze", 10, None)],
        "cust_id int, segment string, valid_from int, valid_to int",
    ).write.parquet(store)
    b1 = spark.createDataFrame(
        [(1, "gold", 20)], "cust_id int, segment string, effective_ts int"
    )
    with pytest.raises(AnalysisException):
        scd2_upsert_epoch(b1, 1, store, "cust_id", ("segment",))


def test_scd2_upsert_through_live_stream(spark, tmp_path):
    """The SCD2 sink through a REAL file stream (not direct epoch
    calls): two micro-batches of CDC records delivered via
    json_file_stream + foreachBatch(scd2_upsert_epoch) must leave the store's
    final version equal to the batch scd2_apply chain."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
        json_file_stream,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        scd2_upsert_epoch,
    )

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    store = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")
    schema = StructType(
        [
            StructField("cust_id", IntegerType()),
            StructField("segment", StringType()),
            StructField("effective_ts", IntegerType()),
        ]
    )
    raw = json_file_stream(spark, str(in_dir), max_files_per_trigger=1)
    cdc = raw.select(F.from_json("value", schema).alias("r")).select("r.*")
    q = (
        cdc.writeStream.foreachBatch(
            functools.partial(
                scd2_upsert_epoch, store_dir=store, key="cust_id", attrs=("segment",)
            )
        )
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        (in_dir / "b0.json").write_text(
            "\n".join(
                json.dumps(d)
                for d in [
                    {"cust_id": 1, "segment": "bronze", "effective_ts": 10},
                    {"cust_id": 2, "segment": "silver", "effective_ts": 10},
                ]
            )
        )
        q.processAllAvailable()
        (in_dir / "b1.json").write_text(
            json.dumps({"cust_id": 1, "segment": "gold", "effective_ts": 20})
        )
        q.processAllAvailable()
    finally:
        q.stop()

    versions = spark.read.parquet(store)
    last = versions.agg(F.max("v")).first()[0]
    state = versions.filter(F.col("v") == last).drop("v")
    rows = {
        (r.cust_id, r.segment, r.valid_from, r.valid_to) for r in state.collect()
    }
    assert rows == {
        (1, "bronze", 10, 20),
        (1, "gold", 20, None),
        (2, "silver", 10, None),
    }


def test_agg_upsert_mv_equals_batch_aggregate(spark, tmp_path):
    """The incremental aggregate MV after N epochs must equal the batch
    groupBy over all delivered rows, and a crashed-epoch re-run must
    not double-count."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        agg_upsert_epoch,
    )

    store = str(tmp_path / "mv")
    b0 = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], "k string, x double"
    )
    b1 = spark.createDataFrame(
        [("a", 4.0), ("c", 100.0)], "k string, x double"
    )
    agg_upsert_epoch(b0, 0, store, ("k",), "x")
    agg_upsert_epoch(b1, 1, store, ("k",), "x")

    def state(v):
        return {
            (r.k): (r.total, r.n_rows)
            for r in spark.read.parquet(store).filter(f"v = {v}").collect()
        }

    expect = {"a": (7.0, 3), "b": (10.0, 1), "c": (100.0, 1)}
    assert state(1) == expect

    # crash-replay epoch 1: byte-equivalent, no double counting
    agg_upsert_epoch(b1, 1, store, ("k",), "x")
    assert state(1) == expect


class _FakeGroupState:
    """Minimal stand-in for GroupState: the EWMA fold function only
    touches .exists / .get / .update."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_streaming_ewma_folds_across_arrow_chunks_in_event_time_order():
    """A key's micro-batch arrives as an ITERATOR of Arrow chunks; the
    fold must sort the WHOLE batch by event time, not each chunk
    independently (a later chunk holding earlier timestamps used to
    fold after later ones).  NULL values must be dropped, not folded
    (one NaN would poison the state forever)."""
    import numpy as np
    import pandas as pd

    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        EWMA_STREAM_ALPHA,
        _streaming_ewma_fn,
    )

    # chunk 2 carries EARLIER timestamps than chunk 1, plus a NaN
    chunk1 = pd.DataFrame({"ts": [3, 4], "value": [30.0, 40.0]})
    chunk2 = pd.DataFrame({"ts": [1, 2, 5], "value": [10.0, 20.0, np.nan]})
    state = _FakeGroupState()
    [out] = list(_streaming_ewma_fn(("k",), iter([chunk1, chunk2]), state))

    a = EWMA_STREAM_ALPHA
    y = 10.0
    for x in (20.0, 30.0, 40.0):  # event-time order, NaN dropped
        y = (1.0 - a) * y + a * x
    assert out["ewma"].iloc[0] == y
    assert out["batch_events"].iloc[0] == 4
    assert state.get == (4, y)


def test_agg_upsert_merges_null_key_group(spark, tmp_path):
    """NULL-key rows must accumulate as ONE store group per epoch — the
    old full-outer join on key names could never match NULL to NULL and
    fragmented the group into an extra row every epoch."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        agg_upsert_epoch,
    )

    store = str(tmp_path / "store")
    b = spark.createDataFrame([(None, 1.0), ("a", 2.0)], "k string, x double")
    agg_upsert_epoch(b, 0, store, ("k",), "x")
    agg_upsert_epoch(b, 1, store, ("k",), "x")
    agg_upsert_epoch(b, 2, store, ("k",), "x")
    latest = spark.read.parquet(store).filter(F.col("v") == 2)
    rows = {r["k"]: (r["total"], r["n_rows"]) for r in latest.collect()}
    assert len(rows) == 2, rows  # exactly one NULL-key row, not three
    assert rows[None] == (3.0, 3)
    assert rows["a"] == (6.0, 3)


def test_agg_upsert_store_drift_raises(spark, tmp_path):
    """Only a MISSING store may mean 'first epoch' — an aggregate store
    whose version-partition column is absent (schema drift) must
    raise, not silently restart the running totals from empty."""
    from pyspark.errors import AnalysisException

    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        agg_upsert_epoch,
    )

    store = str(tmp_path / "mv")
    # store exists but is NOT version-partitioned → no `v` column
    spark.createDataFrame(
        [("a", 3.0, 2)], "k string, total double, n_rows bigint"
    ).write.parquet(store)
    b1 = spark.createDataFrame([("a", 4.0)], "k string, x double")
    with pytest.raises(AnalysisException):
        agg_upsert_epoch(b1, 1, store, ("k",), "x")


def test_interval_join_supports_same_named_timestamp_columns(spark):
    """Both streams carrying a 'timestamp' column must analyze: the
    upper bound used to resolve by bare column name and hit
    AMBIGUOUS_REFERENCE."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        stream_stream_interval_join,
    )

    left = spark.createDataFrame(
        [("u1", "2024-01-01 10:00:00")], "uid string, timestamp string"
    ).select("uid", F.col("timestamp").cast("timestamp"))
    right = spark.createDataFrame(
        [("u1", "2024-01-01 10:05:00")], "uid string, timestamp string"
    ).select("uid", F.col("timestamp").cast("timestamp"))
    joined = stream_stream_interval_join(
        left, right, key="uid", left_ts="timestamp", right_ts="timestamp"
    )
    assert joined.count() == 1  # analyzes and matches within the interval


def test_status_streaks_stream_batch_equivalence(spark, tmp_path):
    """Round-15 (VERDICT r14 item 4): the streaming twin of the batch
    gaps-and-islands query `orders_status_streaks`
    (operators/relational.py).  The batch form computes island ids
    with two shared-sort row_numbers over unbounded history; the
    stream restates it as a per-key open-run state machine
    (`status_streak_islands`, applyInPandasWithState, append mode).
    Equivalence: replay the REAL sf0.001 orders log per customer in
    (o_orderdate, o_orderkey) order — every customer's sequence split
    across three micro-batches so runs must survive batch boundaries —
    and assert (a) the emitted closed islands equal a hand-computed
    run-length encoding of the same log, and (b) their
    (status, streak_len) histogram equals the registered batch query's
    result on the same table."""
    import json as _json
    from collections import Counter

    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import load_table
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        status_streak_islands,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey", "o_orderstatus", F.col("o_orderdate").cast("date").alias("d"), "o_orderkey")
        .collect()
    )
    per_key: dict[int, list[str]] = {}
    for r in sorted(rows, key=lambda r: (r["o_custkey"], r["d"], r["o_orderkey"])):
        per_key.setdefault(r["o_custkey"], []).append(r["o_orderstatus"])

    # hand oracle: run-length encode each customer's status sequence
    expected: Counter = Counter()
    for k, seq in per_key.items():
        run, n = seq[0], 1
        for s in seq[1:]:
            if s == run:
                n += 1
            else:
                expected[(str(k), run, n)] += 1
                run, n = s, 1
        expected[(str(k), run, n)] += 1  # sentinel closes the last run

    # replay: 3 per-customer seq terciles + a sentinel batch that
    # closes every customer's trailing run
    d = str(tmp_path / "in")
    batches: list[list[str]] = [[], [], [], []]
    for k, seq in per_key.items():
        n = len(seq)
        for i, s in enumerate(seq):
            b = 0 if i < n / 3 else (1 if i < 2 * n / 3 else 2)
            batches[b].append(_json.dumps({"custkey": k, "seq": i, "status": s}))
        batches[3].append(_json.dumps({"custkey": k, "seq": n, "status": "__CLOSE__"}))

    _write_file(d, "b0.json", batches[0])
    stream = (
        spark.readStream.schema("custkey bigint, seq bigint, status string")
        .option("maxFilesPerTrigger", "1")
        .json(d)
    )
    islands = status_streak_islands(
        stream, key_col="custkey", seq_col="seq", status_col="status"
    )
    q = (
        memory_sink(islands, "streaks_stream", output_mode="append")
        .option("checkpointLocation", str(tmp_path / "chk_streaks"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i in (1, 2, 3):
            _write_file(d, f"b{i}.json", batches[i])
            q.processAllAvailable()
    finally:
        q.stop()

    got = Counter(
        (r["key"], r["status"], r["streak_len"])
        for r in spark.sql("SELECT * FROM streaks_stream").collect()
    )
    assert got == expected

    # and the registered batch query's histogram agrees
    hist_got = Counter()
    for (_, status, n), c in got.items():
        hist_got[(status, n)] += c
    batch_df = all_specs()["orders_status_streaks"].fn(spark, sf_dir)
    hist_batch = {
        (r["o_orderstatus"], r["streak_len"]): r["n_streaks"]
        for r in batch_df.collect()
    }
    assert dict(hist_got) == hist_batch


def test_status_streaks_equivalence_under_rocksdb(spark, tmp_path):
    """The streak state machine under the RocksDB state store provider
    — the store a 1e7-key registry runs in production.  Pins that the
    (string, long) open-run state round-trips RocksDB serialization
    across micro-batches: a crafted per-key sequence whose runs all
    straddle batch boundaries emits exactly the hand-computed islands."""
    import json as _json
    from collections import Counter

    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        status_streak_islands,
    )

    with rocksdb_state_store(spark):
        d = str(tmp_path / "in")
        # key A: AA|AB|BC + close -> runs A3, B2, C1; key B: XX|XY + close
        seqs = {"a": "AAABBC", "b": "XXXY"}
        batches = [[], [], []]
        for key, s in seqs.items():
            n = len(s)
            for i, ch in enumerate(s):
                b = 0 if i < n / 3 else (1 if i < 2 * n / 3 else 2)
                batches[b].append(_json.dumps({"k": key, "seq": i, "status": ch}))
            batches[2].append(_json.dumps({"k": key, "seq": n, "status": "__CLOSE__"}))
        _write_file(d, "b0.json", batches[0])
        stream = (
            spark.readStream.schema("k string, seq bigint, status string")
            .option("maxFilesPerTrigger", "1")
            .json(d)
        )
        islands = status_streak_islands(stream, key_col="k", seq_col="seq", status_col="status")
        q = (
            memory_sink(islands, "streaks_rocks", output_mode="append")
            .option("checkpointLocation", str(tmp_path / "chk_sr"))
            .start()
        )
        try:
            q.processAllAvailable()
            for i in (1, 2):
                _write_file(d, f"b{i}.json", batches[i])
                q.processAllAvailable()
        finally:
            q.stop()

    got = Counter(
        (r["key"], r["status"], r["streak_len"])
        for r in spark.sql("SELECT * FROM streaks_rocks").collect()
    )
    assert got == Counter(
        {("a", "A", 3): 1, ("a", "B", 2): 1, ("a", "C", 1): 1,
         ("b", "X", 3): 1, ("b", "Y", 1): 1}
    )


def test_fuzzy_corpus_dedup_epochs_drop_near_dups(spark, tmp_path):
    """Ingest-time NEAR-dup dedup against the persistent signature
    store: epoch 0 seeds two documents; epoch 1 re-ingests one of them
    verbatim under a NEW doc_id (12/12 signature match -> dropped,
    report names the original) plus a novel document (kept, appended
    to the store).  Store ends with exactly the three unique docs'
    signatures."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        fuzzy_corpus_dedup_epoch,
    )

    store = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    schema = "doc_id bigint, text string"
    shared = "the quick brown fox jumps over the lazy dog again and again"
    other = "some mild background corpus text about devices and streams"
    novel = "entirely different words that overlap with nothing else here"

    b0 = spark.createDataFrame([(1, shared), (2, other)], schema)
    b1 = spark.createDataFrame([(10, shared), (20, novel)], schema)

    fuzzy_corpus_dedup_epoch(b0, 0, store, out)
    rep0 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rep0) == {1, 2}
    assert not any(r["assigned_dup"] for r in rep0.values())

    fuzzy_corpus_dedup_epoch(b1, 1, store, out)
    rep = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rep) == {1, 2, 10, 20}
    assert rep[10]["assigned_dup"] and rep[10]["best_match_id"] == 1
    assert rep[10]["n_sig_matches"] == 12
    assert not rep[20]["assigned_dup"] and rep[20]["best_match_id"] == -1
    # the store holds BANDED signature rows (one per band, partitioned
    # by bucket prefix) — distinct doc ids are the survivorship record
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(store).select("doc_id").distinct().collect()
    ) == [1, 2, 20]

    # crash-replay epoch 1: identical delivery, run again — idempotent
    fuzzy_corpus_dedup_epoch(b1, 1, store, out)
    again = {r["doc_id"]: r["assigned_dup"] for r in spark.read.parquet(out).collect()}
    assert again == {k: v["assigned_dup"] for k, v in rep.items()}
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(store).select("doc_id").distinct().collect()
    ) == [1, 2, 20]


def test_fuzzy_corpus_dedup_through_live_stream(spark, tmp_path):
    """The same sink driven end-to-end by a real file-replay stream
    with availableNow + checkpoint restart, mirroring the exact-dedup
    restart test: content re-ingested in a LATER QUERY RUN is still
    caught by the persistent signature store."""
    import json as _json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        fuzzy_corpus_dedup_epoch,
    )

    d = str(tmp_path / "in")
    store = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    shared = "the quick brown fox jumps over the lazy dog again and again"
    novel = "entirely different words that overlap with nothing else here"

    def run():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .json(d)
        )
        q = (
            stream.writeStream.foreachBatch(
                functools.partial(
                    fuzzy_corpus_dedup_epoch, sig_store_dir=store, out_dir=out
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _write_file(d, "b1.json", [_json.dumps({"doc_id": 1, "text": shared})])
    run()
    _write_file(d, "b2.json", [_json.dumps({"doc_id": 10, "text": shared}),
                               _json.dumps({"doc_id": 20, "text": novel})])
    run()
    rep = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert rep[10]["assigned_dup"] and rep[10]["best_match_id"] == 1
    assert not rep[20]["assigned_dup"]
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(store).select("doc_id").distinct().collect()
    ) == [1, 20]


def test_fuzzy_corpus_dedup_short_docs_and_in_batch_pairs(spark, tmp_path):
    """The two ADVICE r15 sink gaps, pinned: (a) a document too short
    to shingle (< 3 tokens) still emits a sentinel report row instead
    of silently vanishing from the kept-doc record; (b) two
    near-identical docs arriving in the SAME epoch are caught by the
    within-batch self-probe — the higher doc_id is dropped and never
    reaches the signature store."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        fuzzy_corpus_dedup_epoch,
    )

    store = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    schema = "doc_id bigint, text string"
    shared = "the quick brown fox jumps over the lazy dog again and again"

    b0 = spark.createDataFrame(
        [(1, shared), (2, shared), (3, "too short"), (4, "")], schema
    )
    fuzzy_corpus_dedup_epoch(b0, 0, store, out)
    rep = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    # (a) short docs present with sentinels
    assert set(rep) == {1, 2, 3, 4}
    for short_id in (3, 4):
        assert not rep[short_id]["assigned_dup"]
        assert rep[short_id]["best_match_id"] == -1
        assert rep[short_id]["n_sig_matches"] == 0
    # (b) keep-first within the batch: 2 dropped against 1
    assert not rep[1]["assigned_dup"]
    assert rep[2]["assigned_dup"] and rep[2]["best_match_id"] == 1
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(store).select("doc_id").distinct().collect()
    }
    assert kept == {1}


def test_fuzzy_store_probe_is_partition_pruned(spark, tmp_path):
    """The signature store is written partitioned by (epoch, bpfx);
    the probe filters on BOTH, so the files actually read are confined
    to prior epochs AND the batch's touched bucket prefixes — the
    O(batch)-not-O(store) property VERDICT r15 item 4 asked for."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        _pruned_store_probe,
        fuzzy_corpus_dedup_epoch,
    )

    store = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    schema = "doc_id bigint, text string"
    texts = [
        (i, f"document number {i} holds its own unique words like token{i} and item{i} plus filler")
        for i in range(8)
    ]
    fuzzy_corpus_dedup_epoch(spark.createDataFrame(texts[:4], schema), 0, store, out)
    fuzzy_corpus_dedup_epoch(spark.createDataFrame(texts[4:], schema), 1, store, out)

    # layout: epoch dirs exist, bpfx dirs nested under them
    files = spark.read.parquet(store).inputFiles()
    assert files and all("/bpfx=" in f for f in files)
    assert any("epoch=0" in f for f in files) and any("epoch=1" in f for f in files)

    # a probe touching a strict subset of prefixes plans PARTITION
    # filters on both epoch and bpfx (inputFiles() reports the whole
    # relation pre-pruning, so the plan is the right witness), and the
    # rows it returns come only from prior-epoch files in those dirs
    from spark_nifi_kafka_connected_device_stream_spark.plans.inspect import (
        explain_str,
    )

    all_pfx = sorted(
        {int(f.split("/bpfx=")[1].split("/")[0]) for f in files if "epoch=0" in f}
    )
    probe = _pruned_store_probe(spark, store, 1, all_pfx[:1])
    plan = explain_str(probe)
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "bpfx" in pf[0] and "epoch" in pf[0], plan
    read_files = {
        r[0]
        for r in probe.select(F.input_file_name()).distinct().collect()
    }
    assert all(
        "epoch=0" in f and f"/bpfx={all_pfx[0]}/" in f for f in read_files
    ), read_files
    # missing store -> None (first epoch)
    assert _pruned_store_probe(spark, str(tmp_path / "nope"), 1, [0]) is None


def test_streaming_asof_matches_batch_join(spark, tmp_path):
    """Round-16 (VERDICT r15 item 5): the streaming twin of the batch
    as-of join `join_asof_device_state` (operators/analytics.py).  The
    batch form resolves a union with one (user, time)-sorted window;
    the stream restates it as per-key latest-snapshot state
    (`streaming_asof_device_state`, applyInPandasWithState, append
    mode).  Equivalence: replay the REAL sf0.001 events log in global
    (ts_us, state-before-probe) order split across three micro-batches
    — so snapshots must survive batch boundaries — and assert the
    enriched probes equal the registered batch query's rows exactly."""
    import json as _json

    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import load_table
    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        streaming_asof_device_state,
    )

    sf_dir = "/root/testdata/sf0.001"
    rows = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("signup", "purchase", "error"))
        .select("user_id", "ts_us", "event_id", "event_type", "value")
        .collect()
    )
    # split in replay order: states sort before probes at equal ts so a
    # probe can never land in an EARLIER batch than a same-ts state
    ordered = sorted(
        rows,
        key=lambda r: (r["ts_us"], r["event_type"] == "error", r["event_id"]),
    )
    n = len(ordered)
    assert n > 100, "fixture unexpectedly small"
    batches = [ordered[: n // 3], ordered[n // 3 : 2 * n // 3], ordered[2 * n // 3 :]]
    d = str(tmp_path / "in")
    _write_file(
        d,
        "b0.json",
        [
            _json.dumps(
                {
                    "user_id": r["user_id"],
                    "ts_us": r["ts_us"],
                    "event_id": r["event_id"],
                    "event_type": r["event_type"],
                    "value": r["value"],
                }
            )
            for r in batches[0]
        ],
    )
    stream = (
        spark.readStream.schema(
            "user_id bigint, ts_us bigint, event_id bigint, event_type string, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .json(d)
    )
    enriched = streaming_asof_device_state(stream)
    q = (
        memory_sink(enriched, "asof_stream", output_mode="append")
        .option("checkpointLocation", str(tmp_path / "chk_asof"))
        .start()
    )
    try:
        q.processAllAvailable()
        for i in (1, 2):
            _write_file(
                d,
                f"b{i}.json",
                [
                    _json.dumps(
                        {
                            "user_id": r["user_id"],
                            "ts_us": r["ts_us"],
                            "event_id": r["event_id"],
                            "event_type": r["event_type"],
                            "value": r["value"],
                        }
                    )
                    for r in batches[i]
                ],
            )
            q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["user_id"], r["event_id"], r["state_ts_us"], r["state_value_cents"], r["staleness_us"])
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }
    batch_rows = all_specs()["join_asof_device_state"].fn(spark, sf_dir).collect()
    want = {
        (r["user_id"], r["event_id"], r["state_ts_us"], r["state_value_cents"], r["staleness_us"])
        for r in batch_rows
    }
    assert len(got) == len(batch_rows), "streaming emitted dup/missing probes"
    assert got == want


def test_streaming_asof_under_rocksdb(spark, tmp_path):
    """The as-of snapshot state under the RocksDB state store provider
    — pins that the (long, double) latest-snapshot state round-trips
    RocksDB serialization across micro-batches: states and probes
    split so every match crosses a batch boundary, including the
    same-timestamp tie (state at the probe's exact ts matches) and the
    same-ts max-value reduction arriving in TWO different batches."""
    import json as _json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.stateful import (
        streaming_asof_device_state,
    )

    with rocksdb_state_store(spark):
        d = str(tmp_path / "in")
        b0 = [
            {"user_id": 1, "ts_us": 100, "event_id": 10, "event_type": "signup", "value": 2.0},
            {"user_id": 2, "ts_us": 100, "event_id": 20, "event_type": "signup", "value": 7.0},
        ]
        b1 = [
            # same-ts max reduction across batches: user 1 already has
            # (100, 2.0) in state; this same-ts 3.5 must win
            {"user_id": 1, "ts_us": 100, "event_id": 11, "event_type": "purchase", "value": 3.5},
            {"user_id": 2, "ts_us": 300, "event_id": 21, "event_type": "error", "value": None},
        ]
        b2 = [
            # probe at the state's exact ts -> matches (<= bound)
            {"user_id": 1, "ts_us": 100, "event_id": 12, "event_type": "error", "value": None},
            {"user_id": 3, "ts_us": 50, "event_id": 30, "event_type": "error", "value": None},
        ]
        _write_file(d, "b0.json", [_json.dumps(r) for r in b0])
        stream = (
            spark.readStream.schema(
                "user_id bigint, ts_us bigint, event_id bigint, event_type string, value double"
            )
            .option("maxFilesPerTrigger", "1")
            .json(d)
        )
        q = (
            memory_sink(
                streaming_asof_device_state(stream), "asof_rocks", output_mode="append"
            )
            .option("checkpointLocation", str(tmp_path / "chk_ar"))
            .start()
        )
        try:
            q.processAllAvailable()
            for i, b in ((1, b1), (2, b2)):
                _write_file(d, f"b{i}.json", [_json.dumps(r) for r in b])
                q.processAllAvailable()
        finally:
            q.stop()

    got = {
        (r["user_id"], r["event_id"]): (
            r["state_ts_us"], r["state_value_cents"], r["staleness_us"]
        )
        for r in spark.sql("SELECT * FROM asof_rocks").collect()
    }
    assert got == {
        (2, 21): (100, 700, 200),
        (1, 12): (100, 350, 0),   # exact-ts tie + cross-batch max(2.0, 3.5)
        (3, 30): (-1, -1, -1),    # never-configured key sentinel
    }, got


def test_fuzzy_store_compaction_preserves_probe_semantics(spark, tmp_path):
    """compact_fuzzy_signature_store APPENDS epochs < N into the
    epoch=N dir (never an overwrite of a directory it reads — the
    crash-safety protocol): the absorbed dirs disappear, the distinct
    signature set is unchanged, bpfx partitioning survives (probe
    pruning intact), a later epoch still catches a near-dup of an
    epoch-0 document, re-running is a no-op, and targeting the
    store's NEWEST epoch (which foreachBatch may re-deliver) is
    refused."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        compact_fuzzy_signature_store,
        fuzzy_corpus_dedup_epoch,
    )

    store = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    schema = "doc_id bigint, text string"
    texts = {
        1: "the quick brown fox jumps over the lazy dog again and again",
        2: "some mild background corpus text about devices and streams",
        3: "entirely different words that overlap with nothing else here",
    }
    for epoch, doc in enumerate(sorted(texts)):
        fuzzy_corpus_dedup_epoch(
            spark.createDataFrame([(doc, texts[doc])], schema), epoch, store, out
        )
    before = sorted(
        tuple(r)
        for r in spark.read.parquet(store).drop("epoch").distinct().collect()
    )

    # the newest epoch must stay un-compacted (crashed-epoch re-runs
    # probe epoch < newest and would see nothing)
    with pytest.raises(ValueError, match="newest epoch"):
        compact_fuzzy_signature_store(spark, store, 2)

    removed = compact_fuzzy_signature_store(spark, store, 1)
    assert removed == 1
    dirs = sorted(p.name for p in (tmp_path / "sigs").iterdir() if p.is_dir())
    assert dirs == ["epoch=1", "epoch=2"], dirs
    assert any(
        p.name.startswith("bpfx=") for p in (tmp_path / "sigs" / "epoch=1").iterdir()
    )
    after = sorted(
        tuple(r)
        for r in spark.read.parquet(store).drop("epoch").distinct().collect()
    )
    assert after == before

    # idempotent re-run: nothing left to absorb
    assert compact_fuzzy_signature_store(spark, store, 1) == 0

    # epoch 3 probe still sees the compacted signatures: re-ingesting
    # doc 1's text verbatim is caught against the epoch-0 original
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame([(10, texts[1])], schema), 3, store, out
    )
    rep = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert rep[10]["assigned_dup"] and rep[10]["best_match_id"] == 1
    # missing store is a clean no-op
    assert compact_fuzzy_signature_store(spark, str(tmp_path / "nope"), 5) == 0


def test_fuzzy_store_tolerates_duplicate_rows_and_empty_epochs(spark, tmp_path):
    """Round-16 review hardening: (a) a crash between compaction's
    append and its deletes leaves DUPLICATE store rows — the probe
    must score identically (distinct-doc hot-bucket counts, distinct
    candidate pairs); (b) an epoch whose batch had nothing to sign
    writes a data-less partitioned dir, and the NEXT epoch's store
    read must treat the store as empty instead of dying on schema
    inference."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        compact_fuzzy_signature_store,
        fuzzy_corpus_dedup_epoch,
    )

    schema = "doc_id bigint, text string"
    shared = "the quick brown fox jumps over the lazy dog again and again"

    # (b) epoch 0 = only short docs -> empty store dir; epoch 1 must run
    store_b = str(tmp_path / "sigs_b")
    out_b = str(tmp_path / "out_b")
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame([(1, "too short")], schema), 0, store_b, out_b
    )
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame([(2, shared)], schema), 1, store_b, out_b
    )
    rep = {r["doc_id"]: r for r in spark.read.parquet(out_b).collect()}
    assert not rep[2]["assigned_dup"]

    # an ALL-empty store (every batch short-doc-only) still compacts:
    # the data-less absorbed dirs are deleted so the probe's
    # file-listing cost cannot grow without bound
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        compact_fuzzy_signature_store as _compact,
    )

    store_c = str(tmp_path / "sigs_c")
    out_c = str(tmp_path / "out_c")
    for ep in (0, 1, 2):
        fuzzy_corpus_dedup_epoch(
            spark.createDataFrame([(ep + 100, "too short")], schema), ep, store_c, out_c
        )
    assert _compact(spark, store_c, 1) == 1
    dirs = sorted(p.name for p in (tmp_path / "sigs_c").iterdir() if p.is_dir())
    assert dirs == ["epoch=1", "epoch=2"], dirs

    # (a) simulate the crash window: run two epochs, compact, then
    # re-copy an absorbed dir back (duplicates now live in the store)
    import shutil

    store_a = str(tmp_path / "sigs_a")
    out_a = str(tmp_path / "out_a")
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame([(1, shared)], schema), 0, store_a, out_a
    )
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame(
            [(2, "some mild background corpus text about devices and streams")],
            schema,
        ),
        1,
        store_a,
        out_a,
    )
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame(
            [(3, "entirely different words that overlap with nothing else here")],
            schema,
        ),
        2,
        store_a,
        out_a,
    )
    backup = str(tmp_path / "epoch0_backup")
    shutil.copytree(f"{store_a}/epoch=0", backup)
    assert compact_fuzzy_signature_store(spark, store_a, 1) == 1
    shutil.copytree(backup, f"{store_a}/epoch=0")  # the crash artifact
    # doc 1's signatures now exist in BOTH epoch=0 and epoch=1
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame([(10, shared)], schema), 3, store_a, out_a
    )
    rep = {r["doc_id"]: r for r in spark.read.parquet(out_a).collect()}
    assert rep[10]["assigned_dup"] and rep[10]["best_match_id"] == 1
    assert rep[10]["n_sig_matches"] == 12


def test_fuzzy_store_compaction_crash_resume(spark, tmp_path):
    """The compaction protocol's two crash classes, repaired by the
    next call's step-1 recovery: (a) a temp WITHOUT _SUCCESS (crash
    mid-write) is discarded — sources intact, the re-run compacts
    normally; (b) a temp WITH _SUCCESS whose absorbed dirs were not
    yet deleted (crash between commit and cleanup) is rolled FORWARD
    — absorbed dirs removed, files moved, and crucially NO duplicate
    rows (the failure mode of a naive re-append)."""
    import shutil

    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        compact_fuzzy_signature_store,
        fuzzy_corpus_dedup_epoch,
    )

    schema = "doc_id bigint, text string"
    texts = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "some mild background corpus text about devices and streams"),
        (3, "entirely different words that overlap with nothing else here"),
    ]
    store = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    for epoch, (doc, text) in enumerate(texts):
        fuzzy_corpus_dedup_epoch(
            spark.createDataFrame([(doc, text)], schema), epoch, store, out
        )
    baseline = sorted(
        tuple(r)
        for r in spark.read.parquet(store).drop("epoch").collect()
    )

    # (a) incomplete temp: copy epoch=0 as a fake half-written temp
    # (no _SUCCESS) — recovery must delete it and compact normally
    tmp_a = f"{store}/.compact_tmp_epoch=1"
    shutil.copytree(f"{store}/epoch=0", tmp_a)
    if os.path.exists(f"{tmp_a}/_SUCCESS"):
        os.remove(f"{tmp_a}/_SUCCESS")
    assert compact_fuzzy_signature_store(spark, store, 1) == 1
    assert not os.path.exists(tmp_a)
    after_a = sorted(
        tuple(r)
        for r in spark.read.parquet(store).drop("epoch").collect()
    )
    assert after_a == baseline  # no rows lost, none duplicated

    # (b) committed temp with absorbed dirs still present: simulate by
    # snapshotting epoch=1, running a compaction of it into... instead
    # build the state by hand: temp := current epoch=1 contents (with
    # _SUCCESS), absorbed dir := a copy restored alongside
    tmp_b = f"{store}/.compact_tmp_epoch=2"
    shutil.move(f"{store}/epoch=1", tmp_b)
    open(f"{tmp_b}/_SUCCESS", "w").close()
    # restore the absorbed dir alongside the committed temp so the
    # recovery's delete-remaining path is exercised too
    shutil.copytree(tmp_b, f"{store}/epoch=1")
    os.remove(f"{store}/epoch=1/_SUCCESS")
    # recovery runs at the start of ANY compact call: upto=1 has
    # nothing left to absorb, but step 1 still repairs the pending
    # epoch=2 temp (moves its files into the existing epoch=2 dir)
    assert compact_fuzzy_signature_store(spark, store, 1) == 0
    assert not os.path.exists(tmp_b)
    assert not os.path.exists(f"{store}/epoch=1")
    after_b = sorted(
        tuple(r)
        for r in spark.read.parquet(store).drop("epoch").collect()
    )
    assert after_b == baseline  # rolled forward, zero duplicates


def test_ewma_alpha_matches_batch():
    """The streaming EWMA mirrors the batch smoothing constant instead
    of importing it (module-level operator imports reorder registry
    base positions); this pin is what keeps the bit-identical replay
    contract honest (round-16 review)."""
    from spark_nifi_kafka_connected_device_stream_spark.operators import (
        events_timeseries,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming import stateful

    assert stateful.EWMA_STREAM_ALPHA == events_timeseries._EWMA_ALPHA


def test_fuzzy_store_compaction_drives_itself_on_epoch_cadence(spark, tmp_path):
    """Round 17 (VERDICT r16 item 3): the sink wires
    compact_fuzzy_signature_store into its own epoch cadence —
    `compact_every=N` folds history after every N-th epoch, so a
    long-running ingest bounds its own file count without an operator
    remembering a maintenance call.  Across a 3N-epoch replay the
    store's epoch-dir count must never exceed N + 1, the newest epoch
    is never absorbed, and a near-dup of the epoch-0 document is
    still caught at the very last epoch (probe semantics preserved
    through every self-driven fold)."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        fuzzy_corpus_dedup_epoch,
    )

    store = str(tmp_path / "sigs")
    out = str(tmp_path / "out")
    schema = "doc_id bigint, text string"
    n = 3
    seed = "the quick brown fox jumps over the lazy dog again and again"
    for epoch in range(3 * n):
        text = seed if epoch == 0 else (
            f"novel corpus text number {epoch} with its own distinct words "
            f"alpha{epoch} beta{epoch} gamma{epoch} delta{epoch} epsilon{epoch}"
        )
        fuzzy_corpus_dedup_epoch(
            spark.createDataFrame([(epoch, text)], schema),
            epoch,
            store,
            out,
            compact_every=n,
        )
        dirs = sorted(
            p.name for p in (tmp_path / "sigs").iterdir()
            if p.is_dir() and p.name.startswith("epoch=")
        )
        assert len(dirs) <= n + 1, (epoch, dirs)
        # the just-written epoch is always present un-absorbed
        assert f"epoch={epoch}" in dirs, (epoch, dirs)
    # after the last fold (epoch 6 -> upto 5) + epochs 7, 8
    assert len(dirs) <= n + 1 and f"epoch={3 * n - 1}" in dirs
    # probe semantics survived every fold: a verbatim near-dup of the
    # epoch-0 document is caught against the original id
    fuzzy_corpus_dedup_epoch(
        spark.createDataFrame([(100, seed)], schema),
        3 * n,
        store,
        out,
        compact_every=n,
    )
    rep = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert rep[100]["assigned_dup"] and rep[100]["best_match_id"] == 0
    # survivorship record intact: every unique doc's signatures present
    assert sorted(
        r["doc_id"]
        for r in spark.read.parquet(store).select("doc_id").distinct().collect()
    ) == list(range(3 * n))


def test_ivfpq_index_sink_encode_parity_restart_and_pruned_search(spark, tmp_path):
    """Round-17 stretch (VERDICT r16 item 7): the streaming IVFPQ
    ingest.  Train the model once, stream the sf0.001 embedding corpus
    through the sink in two epochs, and the code-store search must
    return EXACTLY the batch similarity_topk_ivfpq result (the encode
    and ADC/re-rank helpers are literally shared, and the model is the
    same geometry the batch query derives in-query).  A crashed-epoch
    re-delivery is idempotent, and the serving scan reads ONLY the
    probed cid partitions of the store."""
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import (
        load_table,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        ivfpq_index_epoch,
        ivfpq_search_code_store,
        train_ivfpq_index_model,
    )

    from .conftest import SF_SMALL

    model = str(tmp_path / "model")
    index = str(tmp_path / "index")
    train_ivfpq_index_model(spark, SF_SMALL, model)

    emb = load_table(spark, SF_SMALL, "embeddings")
    b0 = emb.filter("vec_id % 2 = 0")
    b1 = emb.filter("vec_id % 2 = 1")
    ivfpq_index_epoch(b0, 0, index, model)
    ivfpq_index_epoch(b1, 1, index, model)

    batch = sorted(
        tuple(r) for r in all_specs()["similarity_topk_ivfpq"].fn(spark, SF_SMALL).collect()
    )
    served = ivfpq_search_code_store(spark, index, model, SF_SMALL)
    assert sorted(tuple(r) for r in served.collect()) == batch

    # crashed-epoch re-delivery: identical rows, identical search
    ivfpq_index_epoch(b1, 1, index, model)
    served2 = ivfpq_search_code_store(spark, index, model, SF_SMALL)
    assert sorted(tuple(r) for r in served2.collect()) == batch

    # the store side of the serving plan is partition-pruned to the
    # probed cells: every store file read lives under a probed cid=
    from spark_nifi_kafka_connected_device_stream_spark.operators.similarity_ann import (
        IVF_NPROBE,
        N_QUERIES,
    )

    # the store scan plans PARTITION filters on cid (inputFiles()
    # reports the whole relation pre-pruning, so the plan is the right
    # witness — the fuzzy-store pruning test's technique), bounded by
    # the |queries| x nprobe probe list
    from spark_nifi_kafka_connected_device_stream_spark.plans.inspect import (
        explain_str,
    )

    plan = explain_str(served)
    pf = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "cid" in ln
    ]
    assert pf, plan
    # renders as: PartitionFilters: [cid#N INSET 0, 1, 10, ...]
    probed_lits = {
        int(tok)
        for tok in pf[0].split("INSET")[1].split("]")[0].split(",")
    }
    assert 0 < len(probed_lits) <= N_QUERIES * IVF_NPROBE, pf[0]


def test_ivfpq_index_store_compaction_cadence_preserves_search(spark, tmp_path):
    """The code store self-compacts on the same epoch cadence as the
    fuzzy signature store (generalized part_col='cid'): across a
    3N-epoch replay the epoch-dir count stays <= N+1 and the served
    top-k still equals the batch query (no code row lost or
    duplicated through the folds)."""
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import (
        load_table,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
        ivfpq_index_epoch,
        ivfpq_search_code_store,
        train_ivfpq_index_model,
    )

    from .conftest import SF_SMALL

    model = str(tmp_path / "model")
    index = str(tmp_path / "index")
    train_ivfpq_index_model(spark, SF_SMALL, model)
    emb = load_table(spark, SF_SMALL, "embeddings")
    n = 3
    for epoch in range(3 * n):
        ivfpq_index_epoch(
            emb.filter(f"vec_id % {3 * n} = {epoch}"), epoch, index, model,
            compact_every=n,
        )
        dirs = [
            p.name for p in (tmp_path / "index").iterdir()
            if p.is_dir() and p.name.startswith("epoch=")
        ]
        assert len(dirs) <= n + 1, (epoch, sorted(dirs))
    batch = sorted(
        tuple(r) for r in all_specs()["similarity_topk_ivfpq"].fn(spark, SF_SMALL).collect()
    )
    served = ivfpq_search_code_store(spark, index, model, SF_SMALL)
    assert sorted(tuple(r) for r in served.collect()) == batch
