"""End-to-end v2 job: ONE aggregation lineage feeding TWO sinks
(per-epoch ranking + warehouse parquet of finalized windows) from ONE
streaming query — SURVEY.md §2.7 / §3.2.  Its output is pinned against
the reference's two-query form (a `foreach_batch_topk` update query and
a `parquet_sink` append query over the same input).  Plus the full
Airflow control plane (C1-C6 + K5) replayed offline through file://
URLs.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
from collections import Counter
from functools import partial

import pytest

from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
    json_file_stream,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
    http_ingest,
    run_product_view_job,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.pipeline import (
    parse_product_views,
    windowed_source_counts,
)
from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import (
    foreach_batch_topk,
    parquet_sink,
    product_view_epoch,
)

from .test_streaming import _event, _mk_events, _write_file

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_product_view_job_dual_sink(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "warehouse")
    chk_dir = str(tmp_path / "chk")
    # two windows of data + flush markers so the watermark finalizes them
    events = _mk_events(0, 150) + _mk_events(5, 90, start_i=150)
    _write_file(in_dir, "b1.json", [e[2] for e in events])

    epochs = []

    def collector(df, epoch_id):
        rows = df.collect()
        if rows:
            epochs.append(rows)

    ranking_q, parquet_q = run_product_view_job(
        spark, in_dir, out_dir, chk_dir, topk=3, collector=collector
    )
    try:
        # one query serves both sinks, with one checkpoint
        assert ranking_q is parquet_q
        assert [q.id for q in spark.streams.active] == [ranking_q.id]
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
        _write_file(in_dir, "b2.json", [e[2] for e in _mk_events(20, 6, start_i=999)])
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
    finally:
        ranking_q.stop()
        parquet_q.stop()

    # sink A: per-epoch ranking emitted, sorted desc, bounded at k=3
    assert epochs
    for rows in epochs:
        counts = [r["source_number"] for r in rows]
        assert counts == sorted(counts, reverse=True) and len(rows) <= 3

    assert os.listdir(chk_dir) == ["ranking"]

    # sink B: warehouse parquet holds the finalized windows with the
    # commerce schema (source, source_number) — v2:74/dag:72-75
    back = spark.read.parquet(out_dir)
    assert set(back.columns) == {"source", "source_number"}
    got = {(r["source"], r["source_number"]) for r in back.collect()}
    # 150 events window 1 (50/source) + 90 events window 2 (30/source)
    assert got == {(s, 50) for s in ("desktop", "mobile-web", "mobile-app")} | {
        (s, 30) for s in ("desktop", "mobile-web", "mobile-app")
    }


def _reference_queries(spark, in_dir, chk_dir, max_files_per_trigger=None):
    """The job's two sinks as the reference ran them: two queries over
    the same input, an update-mode ranking and an append-mode parquet
    file sink.  Returns (ranking query, its epochs, parquet query,
    parquet dir)."""

    def agg():
        raw = json_file_stream(spark, in_dir, max_files_per_trigger=max_files_per_trigger)
        return windowed_source_counts(parse_product_views(raw))

    epochs = {}
    ranking = (
        foreach_batch_topk(agg(), collector=partial(_record, epochs))
        .outputMode("update")
        .option("checkpointLocation", f"{chk_dir}/ranking")
        .start()
    )
    out = f"{chk_dir}/out"
    parquet = parquet_sink(
        agg().select("source", "source_number"), out, f"{chk_dir}/parquet"
    ).start()
    return ranking, epochs, parquet, out


def _record(epochs, df, epoch_id):
    rows = df.collect()
    counts = [r["source_number"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    epochs[epoch_id] = sorted(tuple(r) for r in rows)


def _parquet_rows(spark, path) -> Counter:
    return Counter((r["source"], r["source_number"]) for r in spark.read.parquet(path).collect())


def test_product_view_job_matches_two_query_reference(spark, tmp_path, state_store):
    """Input fed over several triggers, each file followed by
    processAllAvailable() on every query: the job's ranking epochs
    equal the reference ranking query's, epoch by epoch, and its
    parquet rows equal the reference append query's."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    feed = [
        _mk_events(0, 90) + _mk_events(5, 60, start_i=90),
        _mk_events(11, 30, start_i=150),  # watermark 10:06:29 closes 10:00
        # 10:02 is behind a closed window: dropped as late by both
        _mk_events(2, 6, start_i=300) + _mk_events(12, 30, start_i=400),
        _mk_events(20, 30, start_i=999),  # closes 10:05 and 10:10
    ]
    os.makedirs(in_dir)
    epochs = {}
    job, _ = run_product_view_job(
        spark, in_dir, out_dir, str(tmp_path / "chk"), topk=None,
        collector=partial(_record, epochs),
    )
    ref, ref_epochs, ref_parquet, ref_out = _reference_queries(
        spark, in_dir, str(tmp_path / "ref")
    )
    queries = (job, ref, ref_parquet)
    try:
        for i, events in enumerate(feed):
            _write_file(in_dir, f"b{i}.json", [e[2] for e in events])
            for q in queries:
                q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    assert len(epochs) >= 2 * len(feed) - 1
    assert epochs == ref_epochs
    assert _parquet_rows(spark, out_dir) == _parquet_rows(spark, ref_out)
    # per source: 10:00 = 30, 10:05 = 20, 10:10 = 10 + 10
    assert _parquet_rows(spark, out_dir) == Counter(
        {(s, n): c for s in ("desktop", "mobile-web", "mobile-app") for n, c in ((30, 1), (20, 2))}
    )


def test_product_view_epoch_counts_rows_of_the_closing_epoch(spark, tmp_path, state_store):
    """Spark drops a row as late against the PREVIOUS batch's
    watermark, so a batch can add rows to a window, or open one, that
    its own watermark closes.  Fed one file per trigger with no
    no-data batch in between, the fused epoch function must append
    those windows with the batch's rows counted, as the reference
    append query does."""
    in_dir, out_dir, chk = (str(tmp_path / d) for d in ("in", "out", "chk"))
    files = [
        # batch 0: 10:00 opens; the 10:20 marker moves the watermark to 10:15
        _mk_events(0, 30) + [(None, None, _event("2021-03-06 10:20:00.000", 50, "desktop"))],
        # batch 1, watermark 10:15: adds to 10:00 and opens 10:05, both
        # closed by that watermark in this same batch
        _mk_events(1, 9, start_i=60) + _mk_events(7, 6, start_i=70),
        # batch 2: behind the now-closed windows, dropped as late
        _mk_events(3, 3, start_i=80)
        + [(None, None, _event("2021-03-06 10:40:00.000", 90, "mobile-app"))],
    ]
    now = time.time()
    for i, events in enumerate(files):
        _write_file(in_dir, f"b{i}.json", [e[2] for e in events])
        # the file source takes the oldest file first
        os.utime(os.path.join(in_dir, f"b{i}.json"), (now - 10 + i, now - 10 + i))
    epochs = {}
    raw = json_file_stream(spark, in_dir, max_files_per_trigger=1)
    fused = (
        windowed_source_counts(parse_product_views(raw))
        .writeStream.outputMode("update")
        .foreachBatch(partial(
            product_view_epoch, checkpoint=f"{chk}/ranking", output_dir=out_dir,
            window_ms=5 * 60 * 1000, collector=partial(_record, epochs),
        ))
        .option("checkpointLocation", f"{chk}/ranking")
        .start()
    )
    ref, ref_epochs, ref_parquet, ref_out = _reference_queries(
        spark, in_dir, str(tmp_path / "ref"), max_files_per_trigger=1
    )
    queries = (fused, ref, ref_parquet)
    try:
        for q in queries:
            q.processAllAvailable()
    finally:
        for q in queries:
            q.stop()
    assert epochs == ref_epochs
    got = _parquet_rows(spark, out_dir)
    assert got == _parquet_rows(spark, ref_out)
    # 10:00: 10 + 3 per source; 10:05: 2 per source; 10:20: 1
    assert got == Counter(
        {(s, n): 1 for s in ("desktop", "mobile-web", "mobile-app") for n in (13, 2)}
        | {("desktop", 1): 1}
    )


def test_product_view_job_rejects_a_file_sink_output_dir(spark, tmp_path):
    """A `_spark_metadata` log in the output dir (left by a parquet
    file sink) makes Spark's reader list only the files in that log,
    hiding every file this job writes: refuse it before starting."""
    out_dir = tmp_path / "out"
    (out_dir / "_spark_metadata").mkdir(parents=True)
    active = len(spark.streams.active)
    with pytest.raises(ValueError, match="_spark_metadata"):
        run_product_view_job(spark, str(tmp_path / "in"), str(out_dir), str(tmp_path / "chk"))
    assert len(spark.streams.active) == active
    assert not (tmp_path / "chk").exists()


def test_stop_while_collector_blocked_is_a_clean_stop(spark, tmp_path):
    """stop() while the ranking collector waits on a Spark job
    interrupts that job.  Spark must see an interruption, not a failure:
    the query ends 'Stopped' with no exception.  Matching the full
    interrupted-collect error text overflowed the stream thread's stack,
    so the status stayed at 'Processing new data'."""
    import threading
    import time

    in_dir = str(tmp_path / "in")
    _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 30)])
    entered = threading.Event()

    def collector(df, epoch_id):
        entered.set()
        # one task, sleeping long enough to be interrupted mid-collect
        df.sparkSession.range(1, numPartitions=1).selectExpr(
            "java_method('java.lang.Thread', 'sleep', 3000L)"
        ).collect()

    ranking_q, parquet_q = run_product_view_job(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "chk"), collector=collector
    )
    try:
        assert entered.wait(60), "the collector never ran"
        time.sleep(0.5)
    finally:
        ranking_q.stop()
        parquet_q.stop()
    assert ranking_q.exception() is None
    assert ranking_q.status["message"] == "Stopped"


STOP_SCRIPT = r"""
import os, sys, threading, time
repo, work = sys.argv[1:3]
sys.path.insert(0, repo)
from spark_nifi_kafka_connected_device_stream_spark.session import get_session
from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import run_product_view_job
from tests.test_streaming import _mk_events, _write_file

spark = get_session(app_name="stop-stderr", master="local[2]", shuffle_partitions=2)
in_dir = os.path.join(work, "in")
_write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 30) + _mk_events(11, 30, start_i=30)])
entered = threading.Event()

def collector(df, epoch_id):
    df.collect()
    entered.set()
    df.sparkSession.range(1, numPartitions=1).selectExpr(
        "java_method('java.lang.Thread', 'sleep', 3000L)").collect()

q, _ = run_product_view_job(spark, in_dir, os.path.join(work, "out"),
                            os.path.join(work, "chk"), collector=collector)
assert entered.wait(120), "the collector never ran"
time.sleep(0.5)
q.stop()
print("STOPPED", q.status["message"], q.exception())
spark.stop()
"""


def test_stop_while_collector_blocked_logs_no_error(tmp_path):
    """The clean stop above, in a fresh process whose stderr is read:
    stopping the job must log no ERROR line.  pytest cannot capture the
    JVM's stderr, hence the subprocess."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", STOP_SCRIPT, REPO, str(tmp_path)],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=600, env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "STOPPED Stopped None" in out.stdout
    errors = [ln for ln in out.stderr.splitlines() if " ERROR " in ln]
    assert errors == [], "\n".join(errors[:10])


def test_sink_error_in_collector_fails_the_query(spark, tmp_path):
    """A real JVM error in the ranking collector stays loud: the query
    fails and carries the Java exception."""
    from pyspark.errors import StreamingQueryException

    in_dir = str(tmp_path / "in")
    _write_file(in_dir, "b1.json", [e[2] for e in _mk_events(0, 30)])

    def collector(df, epoch_id):
        df.sparkSession._jvm.java.lang.Integer.parseInt("not-a-number")

    ranking_q, parquet_q = run_product_view_job(
        spark, in_dir, str(tmp_path / "out"), str(tmp_path / "chk"), collector=collector
    )
    try:
        with pytest.raises(StreamingQueryException, match="NumberFormatException"):
            ranking_q.processAllAvailable()
    finally:
        ranking_q.stop()
        parquet_q.stop()

def test_full_control_plane_lifecycle_offline(spark, tmp_path):
    """The reference DAG's whole chain (dag_file.py:100-102:
    sensor >> download >> spark job >> DDL) as ONE offline run:

    - C1 sensor poke against a not-yet-available upstream fails fast,
    - C2 download stages the file once it exists (file:// — the
      network-free twin of the HTTP path),
    - the content availability check gates bad payloads,
    - C3/C4/C5 run the v2 dual-sink job over the staged dir,
    - K5 registers the warehouse DDL over the job's parquet output and
      the final SQL read-back returns the finalized window counts.
    """
    from spark_nifi_kafka_connected_device_stream_spark.sources.warehouse import (
        create_external_table,
    )

    remote_dir = tmp_path / "remote"
    remote = remote_dir / "events.json"

    # C1: the sensor's "not available yet" poke — upstream missing
    with pytest.raises(FileNotFoundError, match="not available"):
        http_ingest(f"file://{remote}", str(tmp_path / "never.json"))

    events = _mk_events(0, 60)
    _write_file(str(remote_dir), "events.json", [e[2] for e in events])

    # availability check on CONTENT must gate, not just existence
    with pytest.raises(ValueError, match="availability check failed"):
        http_ingest(f"file://{remote}", str(tmp_path / "bad.json"),
                    expected_substring="definitely-not-present")

    # C2: staged download into the job's input dir
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    staged = http_ingest(f"file://{remote}", str(in_dir / "b1.json"))
    assert os.path.getsize(staged) > 0

    # C3/C4/C5: the v2 job (dual sink) over the staged directory
    out_dir = str(tmp_path / "warehouse")
    chk_dir = str(tmp_path / "chk")
    epochs = []
    ranking_q, parquet_q = run_product_view_job(
        spark, str(in_dir), out_dir, chk_dir, topk=3,
        collector=lambda df, eid: epochs.append(df.collect()),
    )
    try:
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
        # a later "remote drop" advances the watermark so window 0
        # finalizes into the warehouse sink — same chain again
        _write_file(str(remote_dir), "events2.json",
                    [e[2] for e in _mk_events(20, 3, start_i=500)])
        http_ingest(f"file://{remote_dir / 'events2.json'}", str(in_dir / "b2.json"))
        ranking_q.processAllAvailable()
        parquet_q.processAllAvailable()
    finally:
        ranking_q.stop()
        parquet_q.stop()
    assert any(rows for rows in epochs)

    # K5: warehouse DDL over the job output (external table; view
    # fallback on a catalog-less session), then the dag's read-back
    create_external_table(spark, "commerce_lifecycle", out_dir)
    try:
        total = spark.sql(
            "SELECT sum(source_number) AS s FROM commerce_lifecycle"
        ).collect()[0]["s"]
        assert total == 60  # the finalized first window, 20 per source
    finally:
        spark.sql("DROP TABLE IF EXISTS commerce_lifecycle")
        if any(v.name == "commerce_lifecycle" for v in spark.catalog.listTables()):
            spark.catalog.dropTempView("commerce_lifecycle")


def test_corpus_ingest_job_filters_and_dedupes(spark, tmp_path):
    """Streaming curation capstone: the classifier gate and the
    watermark-bounded dedup act in-stream, and the surviving corpus
    equals the batch computation of the same stages (stream-batch
    equivalence for the whole job)."""
    import json

    from pyspark.sql import functions as F

    from spark_nifi_kafka_connected_device_stream_spark.functions.textfns import (
        normalize_text,
    )
    from spark_nifi_kafka_connected_device_stream_spark.operators.text import (
        quality_features,
        quality_prob,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))          # high distinct ratio
    poor = "dup " * 60                                      # repetitive -> low prob
    docs = [
        {"doc_id": 0, "text": rich, "source": "a", "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": poor.strip(), "source": "a", "ts": "2024-01-01 00:00:02"},
        {"doc_id": 2, "text": rich, "source": "b", "ts": "2024-01-01 00:00:03"},  # dup of 0
        {"doc_id": 3, "text": rich + " extra", "source": "b", "ts": "2024-01-01 00:00:04"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    out_dir = str(tmp_path / "corpus")
    q = run_corpus_ingest_job(
        spark, str(in_dir), out_dir, str(tmp_path / "chk")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    back = spark.read.parquet(out_dir)
    got = {r["doc_id"]: r for r in back.collect()}
    # doc 1 fails the quality gate; docs 0 and 2 share a fingerprint ->
    # exactly one survives (arrival order within a micro-batch is not
    # guaranteed, so accept either); doc 3 passes
    assert 1 not in got
    assert 3 in got
    assert len({0, 2} & set(got)) == 1
    assert len(got) == 2

    # stream-batch equivalence on the deterministic part: the batch
    # recomputation of gate+dedup keeps the same fingerprint set
    batch = spark.createDataFrame(
        [(d["doc_id"], d["text"], d["source"]) for d in docs],
        "doc_id long, text string, source string",
    )
    n_tok, dratio = quality_features(F.col("text"))
    surv = (
        batch.select(
            "doc_id",
            F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
            quality_prob(dratio, n_tok).alias("p"),
        )
        .filter(F.col("p") >= 0.5)
        .dropDuplicates(["fingerprint"])
    )
    assert {r["fingerprint"] for r in surv.collect()} == {
        r["fingerprint"] for r in back.collect()
    }


def test_corpus_ingest_job_recovers_across_restart(spark, tmp_path):
    """Kill the corpus-ingest job after batch 1, append new files, start
    a SECOND query from the same checkpoint: no doc is written twice,
    and the dedup store survives the restart (a duplicate arriving
    after the restart but within the watermark is still dropped)."""
    import json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "corpus")
    chk = str(tmp_path / "chk")

    batch1 = [
        {"doc_id": 0, "text": rich, "source": "a", "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": rich + " one", "source": "a", "ts": "2024-01-01 00:00:02"},
    ]
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in batch1))
    q = run_corpus_ingest_job(spark, str(in_dir), out_dir, chk)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    batch2 = [
        # duplicate of doc 0's text arriving post-restart within watermark
        {"doc_id": 2, "text": rich, "source": "b", "ts": "2024-01-01 00:00:03"},
        {"doc_id": 3, "text": rich + " three", "source": "b", "ts": "2024-01-01 00:00:04"},
    ]
    (in_dir / "b2.json").write_text("\n".join(json.dumps(d) for d in batch2))
    q2 = run_corpus_ingest_job(spark, str(in_dir), out_dir, chk)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    back = spark.read.parquet(out_dir).collect()
    ids = sorted(r["doc_id"] for r in back)
    # docs 0 and 1 exactly once (no reprocessing of b1 after restart);
    # doc 2 dropped (fingerprint state recovered from checkpoint);
    # doc 3 passes
    assert ids == [0, 1, 3], ids


def test_seasonal_anomaly_job_scores_finalized_hours(spark, tmp_path):
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_seasonal_anomaly_job,
    )

    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    # hour 10: three events (z = +1 vs baseline mu=2 sigma=1);
    # hour 11: one event (z = -1); next-day flush finalizes both
    _write_file(
        d,
        "b1.json",
        [
            _event("2021-03-06 10:05:00.000", 0, "desktop"),
            _event("2021-03-06 10:15:00.000", 1, "desktop"),
            _event("2021-03-06 10:25:00.000", 2, "desktop"),
            _event("2021-03-06 11:30:00.000", 3, "desktop"),
        ],
    )
    baseline = spark.createDataFrame(
        [(10, 2.0, 1.0), (11, 2.0, 1.0)],
        "hour_of_day int, mu double, sigma double",
    )
    q = run_seasonal_anomaly_job(
        spark, d, baseline, out, str(tmp_path / "chk"), watermark="2 hours"
    )
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [_event("2021-03-07 10:00:00.000", 0, "desktop")])
        q.processAllAvailable()
        # emission happens on the cycle after the watermark update
        _write_file(d, "b3.json", [_event("2021-03-07 11:00:00.000", 0, "desktop")])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {
        (r["day"], r["hour_of_day"]): r for r in spark.read.parquet(out).collect()
    }
    assert rows[("2021-03-06", 10)]["n_events"] == 3
    assert rows[("2021-03-06", 10)]["zscore"] == 1.0
    assert rows[("2021-03-06", 10)]["is_anomaly"] is False
    assert rows[("2021-03-06", 11)]["n_events"] == 1
    assert rows[("2021-03-06", 11)]["zscore"] == -1.0


def test_corpus_ingest_to_training_shards_end_to_end(spark, tmp_path):
    """The full lifecycle: JSON document stream → in-stream curation
    (classifier gate + dedup) → parquet corpus → sharded training
    export with a verifiable manifest.  The manifest's totals must
    equal the curated corpus — the artifact chain a training run
    actually consumes."""
    import json

    from spark_nifi_kafka_connected_device_stream_spark.sources.warehouse import (
        write_training_shards,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))
    docs = [
        {"doc_id": i, "text": f"{rich} v{i}", "source": f"s{i % 3}",
         "ts": f"2024-01-01 00:00:{i:02d}"}
        for i in range(12)
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    corpus_dir = str(tmp_path / "corpus")
    q = run_corpus_ingest_job(spark, str(in_dir), corpus_dir, str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    corpus = spark.read.parquet(corpus_dir)
    n_curated = corpus.count()
    assert n_curated == 12  # all docs are rich and distinct

    shard_dir = str(tmp_path / "shards")
    manifest = write_training_shards(corpus, shard_dir, key_col="doc_id", n_shards=4)
    assert sum(s["n_rows"] for s in manifest) == n_curated
    back = spark.read.parquet(shard_dir)
    assert back.count() == n_curated
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == set(range(12))
    with open(f"{shard_dir}/_manifest.json") as f:
        assert json.load(f) == manifest


def test_pii_gate_job_redacts_and_quarantines(spark, tmp_path):
    import json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_pii_gate_job,
    )

    docs = [
        {"doc_id": 0, "text": "clean document body", "source": "a",
         "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": "reach me at alice@corp.example.com today",
         "source": "a", "ts": "2024-01-01 00:00:02"},
        {"doc_id": 2, "text": "call +1-555-0199 ref ID-4821", "source": "b",
         "ts": "2024-01-01 00:00:03"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    corpus, quarantine = str(tmp_path / "corpus"), str(tmp_path / "quarantine")
    q1, q2 = run_pii_gate_job(spark, str(in_dir), corpus, quarantine, str(tmp_path / "chk"))
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
    finally:
        q1.stop()
        q2.stop()
    out = {r["doc_id"]: r["text"] for r in spark.read.parquet(corpus).collect()}
    assert out[0] == "clean document body"                      # untouched
    assert "[EMAIL]" in out[1] and "@" not in out[1]            # redacted
    assert "[PHONE]" in out[2] and "[ID]" in out[2]
    quar = {r["doc_id"]: r for r in spark.read.parquet(quarantine).collect()}
    assert set(quar) == {1, 2}                                  # clean doc excluded
    assert quar[1]["n_emails"] == 1 and "alice@corp.example.com" in quar[1]["text"]
    assert quar[2]["n_phones"] == 1 and quar[2]["n_ids"] == 1


def test_corpus_ingest_survives_malformed_timestamp(spark, tmp_path):
    """ANSI-safety (round-16 review): one document with an unparseable
    `ts` must be DROPPED, not crash the stream in a checkpoint-replay
    loop (to_timestamp throws under Spark 4's default ANSI mode;
    try_to_timestamp is the pipeline doctrine)."""
    import json

    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_corpus_ingest_job,
    )

    rich = " ".join(f"tok{i}" for i in range(60))
    docs = [
        {"doc_id": 0, "text": rich, "source": "a", "ts": "2024-01-01 00:00:01"},
        {"doc_id": 1, "text": rich + " other", "source": "a", "ts": "not a time"},
    ]
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.json").write_text("\n".join(json.dumps(d) for d in docs))
    out_dir = str(tmp_path / "corpus")
    q = run_corpus_ingest_job(spark, str(in_dir), out_dir, str(tmp_path / "chk"))
    try:
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    got = sorted(r["doc_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == [0], got


def test_seasonal_job_survives_degenerate_sigma(spark, tmp_path):
    """ANSI-safety (round-16 review): a baseline hour with sigma = 0.0
    (identical counts every day) or NULL (single observed day) must
    not crash the scoring micro-batch with DIVIDE_BY_ZERO.  The
    degenerate rows report the 0.0 zscore sentinel, and is_anomaly
    carries the signal: any deviation from a zero-variance baseline
    flags."""
    from spark_nifi_kafka_connected_device_stream_spark.streaming.jobs import (
        run_seasonal_anomaly_job,
    )

    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    _write_file(
        d,
        "b1.json",
        [
            _event("2021-03-06 10:05:00.000", 0, "desktop"),
            _event("2021-03-06 10:15:00.000", 1, "desktop"),
            _event("2021-03-06 11:30:00.000", 3, "desktop"),
        ],
    )
    baseline = spark.createDataFrame(
        [(10, 2.0, 0.0), (11, 1.0, None)],
        "hour_of_day int, mu double, sigma double",
    )
    q = run_seasonal_anomaly_job(
        spark, d, baseline, out, str(tmp_path / "chk"), watermark="2 hours"
    )
    try:
        q.processAllAvailable()
        _write_file(d, "b2.json", [_event("2021-03-07 10:00:00.000", 0, "desktop")])
        q.processAllAvailable()
        _write_file(d, "b3.json", [_event("2021-03-07 11:00:00.000", 0, "desktop")])
        q.processAllAvailable()
        assert q.exception() is None
    finally:
        q.stop()
    rows = {
        (r["day"], r["hour_of_day"]): r for r in spark.read.parquet(out).collect()
    }
    # hour 10: n=2 vs mu=2, sigma=0 -> no deviation, no anomaly
    assert rows[("2021-03-06", 10)]["zscore"] == 0.0
    assert rows[("2021-03-06", 10)]["is_anomaly"] is False
    # hour 11: n=1 vs mu=1, sigma NULL -> treated as zero variance
    assert rows[("2021-03-06", 11)]["zscore"] == 0.0
    assert rows[("2021-03-06", 11)]["is_anomaly"] is False

    # and the flag side of the zero-variance semantics (batch call on
    # the same shared select): ANY deviation from sigma=0 flags
    from pyspark.sql import functions as F

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        seasonal_score,
    )

    hourly = spark.createDataFrame(
        [("2021-03-08", 10, 5)], "day string, hour_of_day int, n_events long"
    ).select(F.to_date("day").alias("day"), "hour_of_day", "n_events")
    r = seasonal_score(hourly, baseline).collect()[0]
    assert r["zscore"] == 0.0 and r["is_anomaly"] is True
