"""Streaming workload: the paper's product-view job
(`streaming.jobs.run_product_view_job`: JSON files -> from_json ->
watermark -> 5-minute tumbling count -> foreachBatch ranking + parquet),
in two phases that share one warm JVM and stress different layers:

- backfill: the job drains a staged backlog of Zipf-skewed device keys
  spanning hours of event time, BACKFILL_DRAINS times with fresh
  checkpoints.  Row work dominates (JSON parse, shuffle, state store,
  parquet write); it gives the throughput.  An unmeasured warm-up drain
  of the first WARMUP_FILES files comes first.
- trickle: an open-loop generator drops one small JSON-lines file every
  TRICKLE_INTERVAL_S, stamping events with their creation time.  Per-
  trigger coordination dominates; latency is timed per file from its due
  time to the ranking epoch that contains it, after TRICKLE_WARM_S of
  untimed feed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time
from collections import Counter
from urllib.parse import urlparse

import gen
import pyarrow.parquet as pq
from spans import mean, median, percentile

from spark_nifi_kafka_connected_device_stream_spark.streaming import jobs

TOPK = 10
BACKLOG = {"n_files": 200, "per_file": 600, "n_keys": 20_000, "span_s": 3 * 3600}
BACKFILL_DRAINS = 3
WARMUP_FILES = 50
TRICKLE_INTERVAL_S = 0.1
TRICKLE_PER_FILE = 40
TRICKLE_MIN_FILES = 100  # p90 needs ten samples beyond it
TRICKLE_WARM_S = 4.0  # fed but not timed: JIT still speeds triggers up
FLUSH_AHEAD_MS = 11 * 60 * 1000  # an event this far ahead finalizes every window
WAIT_S = 60


class RankingCollector:
    """The ranking sink's consumer: collects each epoch's top-k frame,
    notes when it arrived and whether it is at most k rows sorted by
    count descending."""

    def __init__(self, tracer):
        self.epochs: dict[int, dict] = {}
        self._collect = tracer.wrap("sink.topk", self._collect)

    def __call__(self, ranked, epoch_id: int) -> None:
        self._collect(ranked, epoch_id)

    def _collect(self, ranked, epoch_id: int) -> None:
        t0 = time.perf_counter()
        counts = [r["source_number"] for r in ranked.collect()]
        self.epochs[epoch_id] = {
            "t": time.monotonic(),
            "ok": len(counts) <= TOPK and counts == sorted(counts, reverse=True),
            "ms": (time.perf_counter() - t0) * 1000,
        }


class JobRun:
    """One start of the job on its own checkpoint and output dirs."""

    def __init__(self, run, base: str, input_dir: str):
        self.run = run
        self.dirs = {k: os.path.join(base, k) for k in ("output", "checkpoint")}
        self.collector = RankingCollector(run.tracer)
        start = run.tracer.wrap("streaming.run_product_view_job", jobs.run_product_view_job)
        self.ranking, self.parquet = start(
            run.spark, input_dir, self.dirs["output"], self.dirs["checkpoint"],
            topk=TOPK, collector=self.collector)

    def file_batches(self) -> dict[str, int]:
        """File name -> batch id, from the ranking query's file-source
        log, including its `<n>.compact` entries."""
        log = os.path.join(self.dirs["checkpoint"], "ranking", "sources", "0")
        out = {}
        for name in os.listdir(log) if os.path.isdir(log) else ():
            if name.startswith(".") or name.endswith(".tmp"):
                continue
            with open(os.path.join(log, name)) as fh:
                for line in fh.read().splitlines()[1:]:  # the first line is the log version
                    entry = json.loads(line)
                    out[os.path.basename(urlparse(entry["path"]).path)] = entry["batchId"]
        return out

    def finish(self, names, watermark_ms: int) -> bool:
        """Wait until every named file reached a ranking epoch and the
        parquet query ran a trigger at `watermark_ms` (so it wrote every
        window that watermark finalizes), then stop both queries."""

        def done() -> bool:
            fb = self.file_batches()
            return (all(fb.get(n) in self.collector.epochs for n in names)
                    and any(_ms(p.get("eventTime", {}).get("watermark")) == watermark_ms
                            for p in self.run.progress.of(self.parquet)))

        deadline = time.monotonic() + WAIT_S
        ok = True
        while not done():
            if time.monotonic() > deadline or self.ranking.exception() or self.parquet.exception():
                ok = False
                break
            time.sleep(0.01)
        self.ranking.stop()
        self.parquet.stop()
        return ok

    def emitted(self, names) -> dict[str, float | None]:
        """Arrival time of the ranking epoch holding each file."""
        fb = self.file_batches()
        return {n: self.collector.epochs.get(fb.get(n), {}).get("t") for n in names}

    def check(self, names, done: bool, expected: Counter) -> tuple[int, int]:
        """(attempted, failed): every file must reach a ranking epoch,
        every epoch must be a sorted top-k, and the parquet sink must
        hold exactly the expected (source, count) multiset."""
        epochs = self.collector.epochs.values()
        failed = (list(self.emitted(names).values()).count(None) + sum(not e["ok"] for e in epochs)
                  + (not (done and self.parquet_rows() == expected)))
        return len(names) + len(epochs) + 1, failed

    def parquet_rows(self) -> Counter:
        t = pq.read_table(self.dirs["output"]) if self.parquet_files() else None
        if t is None:
            return Counter()
        return Counter(zip(t.column("source").to_pylist(), t.column("source_number").to_pylist()))

    def parquet_files(self) -> list[str]:
        out = self.dirs["output"]
        return [os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")] \
            if os.path.isdir(out) else []


def _ms(iso: str | None) -> int | None:
    if iso is None:
        return None
    return int(dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000)


def _layers(starts: list[JobRun], lags: list[int]) -> dict:
    """Per-layer metrics of a phase, from the captured trigger progress.
    Times are means per trigger; counts are per start of the job."""
    n = len(starts)
    ranking = [p for j in starts for p in j.run.progress.of(j.ranking)]
    parquet = [p for j in starts for p in j.run.progress.of(j.parquet)]
    out = {"source.lag_files": mean(lags)}
    for role, progress in (("ranking", ranking), ("parquet", parquet)):
        d = [p["durationMs"] for p in progress]
        out.update({
            f"{role}.trigger.count": len(progress) / n,
            f"{role}.trigger.empty_frac": mean(p["numInputRows"] == 0 for p in progress),
            f"{role}.trigger.planning_ms": mean(x.get("queryPlanning", 0) for x in d),
            f"{role}.trigger.add_batch_ms": mean(x.get("addBatch", 0) for x in d),
            f"{role}.trigger.wal_commit_ms": mean(x.get("walCommit", 0) for x in d),
            f"{role}.trigger.commit_offsets_ms": mean(x.get("commitOffsets", 0) for x in d),
            f"{role}.trigger.execution_ms": mean(x.get("triggerExecution", 0) for x in d),
        })
    d = [p["durationMs"] for p in ranking]
    out["source.latest_offset_ms"] = mean(x.get("latestOffset", 0) for x in d)
    out["source.get_batch_ms"] = mean(x.get("getBatch", 0) for x in d)
    out["source.input_rows"] = sum(p["numInputRows"] for p in ranking) / n
    ops = [p["stateOperators"][0] for p in ranking + parquet if p.get("stateOperators")]
    out["state.rows_total"] = max((o["numRowsTotal"] for o in ops), default=0)
    out["state.memory_bytes"] = max((o["memoryUsedBytes"] for o in ops), default=0)
    out["state.rows_updated"] = sum(o["numRowsUpdated"] for o in ops) / n
    out["state.rows_dropped_by_watermark"] = sum(o["numRowsDroppedByWatermark"] for o in ops) / n
    out["state.commit_ms"] = mean(o["commitTimeMs"] for o in ops)
    out["state.update_ms"] = mean(o["allUpdatesTimeMs"] for o in ops)
    out["sink.topk_ms"] = mean(e["ms"] for j in starts for e in j.collector.epochs.values())
    files = [f for j in starts for f in j.parquet_files()]
    out["sink.parquet_files"] = len(files) / n
    out["sink.parquet_bytes"] = sum(map(os.path.getsize, files)) / n
    out["sink.parquet_rows"] = sum(sum(j.parquet_rows().values()) for j in starts) / n
    return out


def _drain(run, i: int, input_dir: str, names, events) -> tuple[float, JobRun, tuple[int, int]]:
    """Start the job on `input_dir` and wait until it has processed the
    named files and flushed every window they finalize.  Returns the
    seconds that took, the job and its (attempted, failed) check."""
    final_wm = max(ts for _s, ts in events) - gen.WATERMARK_S * 1000
    expected = gen.window_counts(events, final_wm)
    t0 = time.monotonic()
    with run.tracer.span("backfill.drain", drain=i):
        job = JobRun(run, os.path.join(run.work, f"backfill{i}"), input_dir)
        done = job.finish(names, final_wm)
    seconds = time.monotonic() - t0
    print(f"[perfbench] backfill drain {i}: {seconds:.3f} s", file=sys.stderr)
    return seconds, job, job.check(names, done, expected)


def backfill(run, backlog_dir: str, events: list[tuple[str, int]]) -> dict:
    names = sorted(os.listdir(backlog_dir))
    # drain 0 is the unmeasured warm-up, over the first WARMUP_FILES files
    warm_dir = os.path.join(run.work, "backfill-warm-input")
    os.makedirs(warm_dir)
    for n in names[:WARMUP_FILES]:
        shutil.copyfile(os.path.join(backlog_dir, n), os.path.join(warm_dir, n))
    _s, _job, (attempted, failed) = _drain(
        run, 0, warm_dir, names[:WARMUP_FILES], events[:WARMUP_FILES * BACKLOG["per_file"]])
    drains, measured = [], []
    for i in range(1, BACKFILL_DRAINS + 1):
        seconds, job, (a, f) = _drain(run, i, backlog_dir, names, events)
        attempted, failed = attempted + a, failed + f
        drains.append(seconds)
        measured.append(job)
    ranking = [p for j in measured for p in run.progress.of(j.ranking)]
    return {
        "attempted": attempted,
        "failed": failed,
        "events_per_s": len(events) / median(drains),
        "layers": _layers(measured, [len(names) if p["batchId"] == 0 else 0 for p in ranking]),
    }


def trickle(run, feed: gen.TrickleEvents) -> dict:
    base = os.path.join(run.work, "trickle")
    staging, input_dir = os.path.join(base, "staging"), os.path.join(base, "input")
    os.makedirs(staging)
    os.makedirs(input_dir)
    job = JobRun(run, base, input_dir)

    def drop(name: str, events, ts_ms: int) -> int:
        tmp = os.path.join(staging, name)
        with open(tmp, "w") as fh:
            fh.write(gen.TrickleEvents.render(events, ts_ms))
        os.replace(tmp, os.path.join(input_dir, name))
        return ts_ms

    due, dropped_ms, events, late = {}, [], [], []
    t0 = time.monotonic() + 0.5
    for i, batch in enumerate(feed.files):
        name = f"part-{i:05d}.json"
        due[name] = t0 + i * feed.interval_s
        pause = due[name] - time.monotonic()
        if pause > 0:
            time.sleep(pause)
        late.append(max(0.0, time.monotonic() - due[name]) * 1000)
        dropped_ms.append(drop(name, batch, int(time.time() * 1000)))
        events += [(e[0], dropped_ms[-1]) for e in batch]
    flush = [feed.files[0][0]]
    flush_ms = drop("flush.json", flush, dropped_ms[-1] + FLUSH_AHEAD_MS)
    events.append((flush[0][0], flush_ms))
    watermark_ms = flush_ms - gen.WATERMARK_S * 1000
    done = job.finish([*due, "flush.json"], watermark_ms)

    emitted = job.emitted(due)
    timed = [n for n, d in due.items() if d - t0 >= TRICKLE_WARM_S]
    latencies = [emitted[n] - due[n] for n in timed if emitted[n] is not None]
    end = max((emitted[n] for n in timed if emitted[n] is not None), default=due[timed[-1]])
    attempted, failed = job.check(list(due), done, gen.window_counts(events, watermark_ms))
    fb = job.file_batches()
    committed = [fb.get(n, 1 << 62) for n in due]
    lags = [  # files dropped but not yet in a committed batch, at each trigger start
        sum(t <= _ms(p["timestamp"]) for t in dropped_ms) - sum(b < p["batchId"] for b in committed)
        for p in run.progress.of(job.ranking)
    ]
    return {
        "attempted": attempted,
        "failed": failed,
        "latencies": latencies,
        "events_per_s": len(timed) * TRICKLE_PER_FILE / (end - due[timed[0]]),
        "layers": dict(_layers([job], lags), **{"gen.late_ms": max(late)}),
    }


def stream(run) -> dict:
    n_files = round(TRICKLE_WARM_S / TRICKLE_INTERVAL_S) + max(
        TRICKLE_MIN_FILES, int(run.seconds / TRICKLE_INTERVAL_S))

    def stage(spark, d):
        feed = gen.TrickleEvents(run.seed, n_files, TRICKLE_PER_FILE, TRICKLE_INTERVAL_S)
        return feed, d, gen.write_backlog(run.seed, d, **BACKLOG)

    feed, backlog_dir, events = run.set_up(stage)
    bf = backfill(run, backlog_dir, events)  # first: its big drains warm the JIT fastest
    tr = trickle(run, feed)
    return {
        "attempted": bf["attempted"] + tr["attempted"],
        "failed": bf["failed"] + tr["failed"],
        "e2e": {
            "latency_p50_s": median(tr["latencies"]),
            "latency_p90_s": percentile(tr["latencies"], 90),
            "throughput_per_s": bf["events_per_s"],
        },
        "layers": {
            **{f"backfill.{k}": v for k, v in bf["layers"].items()},
            **{f"trickle.{k}": v for k, v in tr["layers"].items()},
            "trickle.events_per_s": tr["events_per_s"],
        },
    }


WORKLOADS = {"stream": stream}
