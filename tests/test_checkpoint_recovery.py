"""Exactly-once sink semantics across restarts (SURVEY.md §2.7: the
reference relies on checkpointing for exactly-once, v1:63/v2:88).

A streaming query is stopped mid-stream and a NEW query object resumes
from the same checkpoint: the parquet file sink must contain every
finalized window exactly once — no duplicates from reprocessing, no
holes from the restart.
"""

from __future__ import annotations

import os
from collections import Counter

from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
    json_file_stream,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.pipeline import (
    parse_product_views,
    windowed_source_counts,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import run_product_view_job
from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
    parquet_sink,
    product_view_epoch,
)

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


# ---------------------------------------------------------------------------
# the product-view job: one update-mode query whose epoch function
# appends each window the watermark closes (sinks.product_view_epoch)
# ---------------------------------------------------------------------------


def _collect_epochs(df, epoch_id):
    df.collect()  # the ranking collect also runs the epoch's stateful plan


def _job_rows(spark, out_dir) -> Counter:
    return Counter(
        (r["source"], r["source_number"]) for r in spark.read.parquet(out_dir).collect()
    )


def _each_source(*counts) -> Counter:
    return Counter(
        {(s, n): counts.count(n) for n in counts for s in ("desktop", "mobile-web", "mobile-app")}
    )


def test_product_view_job_exactly_once_across_restart(spark, tmp_path, state_store):
    """The RocksDB restart scenario above, through the job: window
    10:10's partial count is built in run 1, the job is stopped, a new
    query restores it, run 2 adds rows to the still-open window and
    closes it.  Every window lands once with its full count."""
    in_dir, out_dir, chk_dir = (str(tmp_path / d) for d in ("in", "out", "chk"))
    _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 90)])
    _write_file(in_dir, "b2.json", [e[2] for e in _mk_events(5, 60, start_i=90)])
    _write_file(in_dir, "b3.json", [e[2] for e in _mk_events(11, 30, start_i=150)])
    q1, _ = run_product_view_job(spark, in_dir, out_dir, chk_dir, collector=_collect_epochs)
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    assert _job_rows(spark, out_dir) == _each_source(30)  # watermark 10:06 closed 10:00

    _write_file(in_dir, "b4.json", [e[2] for e in _mk_events(12, 30, start_i=500)])
    _write_file(in_dir, "b5.json", [e[2] for e in _mk_events(20, 30, start_i=999)])
    q2, _ = run_product_view_job(spark, in_dir, out_dir, chk_dir, collector=_collect_epochs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    # 10:00 = 30, 10:05 = 20, 10:10 = 10 (run 1, restored) + 10 (run 2)
    assert _job_rows(spark, out_dir) == _each_source(30, 20, 20)


def test_product_view_job_exactly_once_after_midstream_kill(spark, tmp_path, state_store):
    """Stop the job inside the epoch that closes the first windows,
    before that epoch commits.  The restarted job replays the epoch
    and converges to every closed window exactly once."""
    import threading
    import time

    in_dir, out_dir, chk_dir = (str(tmp_path / d) for d in ("in", "out", "chk"))
    _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 90)])
    _write_file(in_dir, "b2.json", [e[2] for e in _mk_events(5, 60, start_i=90)])
    _write_file(in_dir, "b3.json", [e[2] for e in _mk_events(11, 30, start_i=150)])
    entered = threading.Event()

    def blocking_collector(df, epoch_id):
        df.collect()
        if epoch_id == 1:  # the no-data epoch whose watermark closes 10:00
            entered.set()
            df.sparkSession.range(1, numPartitions=1).selectExpr(
                "java_method('java.lang.Thread', 'sleep', 3000L)"
            ).collect()

    q1, _ = run_product_view_job(spark, in_dir, out_dir, chk_dir, collector=blocking_collector)
    try:
        assert entered.wait(60), "epoch 1 never ran"
        time.sleep(0.2)
    finally:
        q1.stop()
    assert q1.exception() is None
    assert q1.lastProgress["batchId"] == 0  # epoch 1 did not commit

    _write_file(in_dir, "b4.json", [e[2] for e in _mk_events(12, 30, start_i=500)])
    _write_file(in_dir, "b5.json", [e[2] for e in _mk_events(20, 30, start_i=999)])
    q2, _ = run_product_view_job(spark, in_dir, out_dir, chk_dir, collector=_collect_epochs)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert _job_rows(spark, out_dir) == _each_source(30, 20, 20)


def test_product_view_epoch_replay_rewrites_the_same_files(spark, tmp_path, state_store):
    """Calling the epoch function again for an epoch that already ran
    (a crash after its files were written, before its commit) reads the
    same offsets and state version: the file names and rows come out
    identical, and files a longer earlier attempt left are gone."""
    import shutil

    in_dir, out_dir, chk_dir = (str(tmp_path / d) for d in ("in", "out", "chk"))
    events = _mk_events(0, 90) + _mk_events(11, 30, start_i=90)
    _write_file(in_dir, "b1.json", [e[2] for e in events])
    q, _ = run_product_view_job(spark, in_dir, out_dir, chk_dir, collector=_collect_epochs)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # epoch 0 took the file; epoch 1, a no-data epoch, closed 10:00
    epoch = q.lastProgress["batchId"]
    assert epoch == 1

    def listing():
        names = sorted(n for n in os.listdir(out_dir) if n.endswith(".parquet"))
        return names, _job_rows(spark, out_dir)

    first = listing()
    assert first[0] and all(n.startswith(f"part-e{epoch}-") for n in first[0])
    assert first[1] == _each_source(30)

    shutil.copyfile(os.path.join(out_dir, first[0][0]),
                    os.path.join(out_dir, f"part-e{epoch}-99.parquet"))
    empty = spark.createDataFrame(
        [], "start timestamp, end timestamp, source string, source_number long"
    )
    for _ in range(2):
        product_view_epoch(
            empty, epoch, checkpoint=f"{chk_dir}/ranking", output_dir=out_dir,
            window_ms=5 * 60 * 1000, collector=_collect_epochs,
        )
        assert listing() == first
    assert not os.path.exists(os.path.join(out_dir, "_staging"))
