"""Exactly-once sink semantics across restarts (SURVEY.md §2.7: the
reference relies on checkpointing for exactly-once, v1:63/v2:88).

A streaming query is stopped mid-stream and a NEW query object resumes
from the same checkpoint: the parquet file sink must contain every
finalized window exactly once — no duplicates from reprocessing, no
holes from the restart.
"""

from __future__ import annotations

from collections import Counter

from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
    json_file_stream,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.pipeline import (
    parse_product_views,
    windowed_source_counts,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import parquet_sink

from .conftest import rocksdb_state_store
from .test_streaming import _mk_events, _write_file


def _start(spark, in_dir, out_dir, chk_dir):
    agg = windowed_source_counts(
        parse_product_views(json_file_stream(spark, in_dir, max_files_per_trigger=1))
    )
    return parquet_sink(agg, out_dir, chk_dir).start()


def test_parquet_sink_exactly_once_across_restart(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    chk_dir = str(tmp_path / "chk")

    # batch 1: two full windows + markers pushing the watermark past both
    _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 90)])
    _write_file(in_dir, "b2.json", [e[2] for e in _mk_events(5, 60, start_i=90)])
    _write_file(in_dir, "b3.json", [e[2] for e in _mk_events(11, 30, start_i=150)])
    q1 = _start(spark, in_dir, out_dir, chk_dir)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()  # simulated failure/restart point

    # restart from the SAME checkpoint; more data closes the last window
    _write_file(in_dir, "b4.json", [e[2] for e in _mk_events(20, 30, start_i=999)])
    q2 = _start(spark, in_dir, out_dir, chk_dir)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(out_dir).collect()
    keyed = Counter((r["start"].strftime("%H:%M"), r["source"]) for r in rows)
    dupes = {k: c for k, c in keyed.items() if c > 1}
    assert not dupes, f"duplicate window emissions after restart: {dupes}"
    got = {
        (k[0], k[1]): r
        for k, r in (
            ((r["start"].strftime("%H:%M"), r["source"]), r["source_number"]) for r in rows
        )
    }
    # all three batch-1 windows present exactly once with full counts
    expected = {}
    for minute, n in (("10:00", 30), ("10:05", 20), ("10:10", 10)):
        for s in ("desktop", "mobile-web", "mobile-app"):
            expected[(minute, s)] = n
    assert got == expected


def test_rocksdb_state_survives_checkpoint_restart(spark, tmp_path):
    """RocksDB provider + checkpoint restart TOGETHER (VERDICT r11 task
    7) — the actual 100 TB operating mode: off-heap state store AND
    crash recovery at once.  Prior rounds proved each separately; this
    pins the combination: window 10:10's partial count (10 rows/source)
    is built in run 1 and checkpointed through the RocksDB provider,
    the query is stopped, a NEW query restores that RocksDB state from
    the checkpoint, run 2 adds 10 more rows/source into the still-open
    window (watermark is behind it), then closes it — the emitted count
    of 20/source is only possible if the restored state MERGED with the
    new data (a lost store would emit 10; a replayed store would
    duplicate finalized windows)."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    chk_dir = str(tmp_path / "chk")

    with rocksdb_state_store(spark):
        # run 1: finalize 10:00 and 10:05; leave 10:10 OPEN with 10
        # rows per source in RocksDB state (watermark = 11 - 5m = 10:06)
        _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 90)])
        _write_file(in_dir, "b2.json", [e[2] for e in _mk_events(5, 60, start_i=90)])
        _write_file(in_dir, "b3.json", [e[2] for e in _mk_events(11, 30, start_i=150)])
        q1 = _start(spark, in_dir, out_dir, chk_dir)
        try:
            q1.processAllAvailable()
        finally:
            q1.stop()  # restart point: 10:10 state lives only in RocksDB

        # run 2: MORE rows into the open 10:10 window (minute 12 is
        # ahead of the 10:06 watermark, so they must merge with the
        # restored state), then a 10:20 marker to finalize it
        _write_file(in_dir, "b4.json", [e[2] for e in _mk_events(12, 30, start_i=500)])
        _write_file(in_dir, "b5.json", [e[2] for e in _mk_events(20, 30, start_i=999)])
        q2 = _start(spark, in_dir, out_dir, chk_dir)
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()

    rows = spark.read.parquet(out_dir).collect()
    keyed = Counter((r["start"].strftime("%H:%M"), r["source"]) for r in rows)
    dupes = {k: c for k, c in keyed.items() if c > 1}
    assert not dupes, f"duplicate window emissions after RocksDB restart: {dupes}"
    got = {
        k: n
        for k, n in (
            ((r["start"].strftime("%H:%M"), r["source"]), r["source_number"])
            for r in rows
        )
    }
    expected = {}
    # 10:10 = 10 (run 1, restored from RocksDB) + 10 (run 2) per source
    for minute, n in (("10:00", 30), ("10:05", 20), ("10:10", 20)):
        for s in ("desktop", "mobile-web", "mobile-app"):
            expected[(minute, s)] = n
    assert got == expected, f"state lost or duplicated across restart: {got}"


def test_parquet_sink_exactly_once_after_midstream_kill(spark, tmp_path):
    """Hard failure injection: the first query is stopped WHILE batches
    are still pending (not at a processAllAvailable quiesce point), so
    in-flight work is aborted and uncommitted sink files may be left on
    disk. The restarted query must converge to every finalized window
    exactly once — the file sink's _spark_metadata commit log is the
    exactly-once mechanism under test (only committed files are read)."""
    import time

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    chk_dir = str(tmp_path / "chk")

    # 6 single-file triggers: three windows of data + watermark pushers
    _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 45)])
    _write_file(in_dir, "b2.json", [e[2] for e in _mk_events(0, 45, start_i=45)])
    _write_file(in_dir, "b3.json", [e[2] for e in _mk_events(5, 30, start_i=90)])
    _write_file(in_dir, "b4.json", [e[2] for e in _mk_events(5, 30, start_i=120)])
    _write_file(in_dir, "b5.json", [e[2] for e in _mk_events(11, 30, start_i=150)])
    _write_file(in_dir, "b6.json", [e[2] for e in _mk_events(20, 30, start_i=999)])

    q1 = _start(spark, in_dir, out_dir, chk_dir)
    try:
        # kill as soon as at least one batch has committed, while later
        # triggers are still queued — an abrupt stop, not a clean drain
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(p["numInputRows"] > 0 for p in (q1.recentProgress or [])):
                break
            time.sleep(0.05)
    finally:
        q1.stop()

    q2 = _start(spark, in_dir, out_dir, chk_dir)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(out_dir).collect()
    keyed = Counter((r["start"].strftime("%H:%M"), r["source"]) for r in rows)
    dupes = {k: c for k, c in keyed.items() if c > 1}
    assert not dupes, f"duplicate window emissions after mid-stream kill: {dupes}"
    got = {k: n for k, n in (((r["start"].strftime("%H:%M"), r["source"]), r["source_number"]) for r in rows)}
    expected = {}
    for minute, n in (("10:00", 30), ("10:05", 20), ("10:10", 10)):
        for s in ("desktop", "mobile-web", "mobile-app"):
            expected[(minute, s)] = n
    assert got == expected, f"holes/mismatch after restart: {got}"
