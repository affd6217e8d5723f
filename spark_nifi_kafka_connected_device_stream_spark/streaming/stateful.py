"""Stateful streaming beyond the reference's tumbling-window count
(SURVEY.md §2.7 notes the reference exercises exactly one stateful
operator; a credible engine needs the rest of the family):

- session windows (gap-based, the streaming form of events_sessionize)
- stream-static dimension enrichment (broadcast-style join; no state)
- stream-stream time-interval join (state on both sides, bounded by
  watermarks)
- custom per-key running aggregates via applyInPandasWithState (the
  escape hatch when built-in aggregations can't express the op)

All take DataFrames (streaming or batch where legal) and return
DataFrames — composition-friendly, sink-agnostic.
"""

from __future__ import annotations

import re
from collections.abc import Iterable
from datetime import timedelta
from datetime import timezone as _dt_timezone
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def session_window_counts(
    events: DataFrame,
    ts_col: str = "timestamp",
    key_col: str = "userid",
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Gap-based session windows per key: the streaming equivalent of the
    batch lag+cumsum sessionization (operators/events.py).  State per
    open session only; watermark closes and emits sessions."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            F.col(key_col),
            "n_events",
        )
    )


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream-static join: enrich a stream with a dimension table (the
    warehouse-side lookup the reference pushed to Hive/MySQL after the
    fact, dag_file.py:67-90, done inline).  The static side is re-read
    per micro-batch — broadcast it when small.

    `broadcast_dim` (r12 review fix): the hint is now a caller choice
    instead of unconditional — a forced broadcast of a multi-GB
    dimension overrides autoBroadcastJoinThreshold and re-ships the
    whole table to every executor EVERY micro-batch (driver OOM / the
    8 GB hard limit kills the query).  Pass False for large dims and
    let the planner pick; the default stays True for the small-lookup
    case this helper was written for."""
    return stream.join(F.broadcast(dim) if broadcast_dim else dim, on=on, how=how)


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    interval: str = "10 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join within a time interval: right event must
    follow the left event by at most `interval`.  Both sides buffered in
    state, bounded by their watermarks + the join range condition.

    `how="left_outer"` adds null-padded rows for left events that never
    matched: the row is emitted only once the watermark proves no match
    can still arrive (left ts + interval < watermark) — the
    abandoned-funnel / unanswered-request detector.  Outer stream-stream
    joins REQUIRE both the watermarks and the range condition (Spark
    refuses the plan otherwise, because state could never be evicted)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        # side-qualified bound: a bare F.expr(f"{left_ts} + interval")
        # resolves by NAME and is ambiguous when both streams carry the
        # same timestamp column — the key comparison already supports
        # same-named columns, so the bound must too
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"interval {interval}"))
    )
    return lw.join(rw, cond, how).drop(rw[key])


def streaming_dedup_exact(
    stream: DataFrame,
    fingerprint_cols: Iterable[str],
    ts_col: str = "timestamp",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: first arrival of each fingerprint within
    the watermark horizon passes; re-arrivals are dropped.  The
    streaming sibling of the batch `dedup_exact` /
    `dedup_incremental_exact` tier — continuous ingestion dedupes
    at-the-door instead of re-scanning the corpus per batch.

    Uses `dropDuplicatesWithinWatermark`, so state is bounded: a
    fingerprint's state is evictable once the watermark passes its
    first-seen event time (plain `dropDuplicates` on a stream keeps
    every key forever — the unbounded-state trap at 100 TB).  Exactly
    which duplicate within the horizon survives is arrival-order
    dependent (streaming semantics); cross-horizon re-ingests pass
    again and are the batch tier's job.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(fingerprint_cols)
    )


# ---------------------------------------------------------------------------
# custom stateful operator: per-key running totals
# ---------------------------------------------------------------------------

RUNNING_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("batch_events", T.LongType()),
        T.StructField("total_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
RUNNING_TOTALS_STATE = T.StructType(
    [T.StructField("total_events", T.LongType()), T.StructField("total_value", T.DoubleType())]
)


def _running_totals_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Arrow-batched per-key accumulator: state carries lifetime totals
    across micro-batches; each batch emits one row per key with the
    batch delta and the running totals."""
    batch_events = 0
    batch_value = 0.0
    for pdf in pdfs:
        batch_events += len(pdf)
        batch_value += float(pdf["value"].sum())
    prev_events, prev_value = state.get if state.exists else (0, 0.0)
    total_events = prev_events + batch_events
    total_value = prev_value + batch_value
    state.update((total_events, total_value))
    yield pd.DataFrame(
        {
            "key": [key[0]],
            "batch_events": [batch_events],
            "total_events": [total_events],
            "total_value": [total_value],
        }
    )


EXPIRY_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("first_ts", T.TimestampType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("closed_by_timeout", T.BooleanType()),
    ]
)
EXPIRY_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("first_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
    ]
)

_EXPIRY_GAP_MS = 10 * 60 * 1000


def _resolve_tz(tz_name: str):
    """Resolve a Spark session-timezone string to a tzinfo pandas accepts.

    Spark's `spark.sql.session.timeZone` allows region ids
    (`Asia/Kolkata`, `UTC`) AND offset styles (`GMT+8`, `UTC+05:30`,
    `+08:00`, `-0530`) — pandas' tz_localize rejects the offset styles
    as strings, which would crash mid-batch on an executor. Region ids
    pass through as ZoneInfo; offset styles become fixed-offset tzinfo
    (both picklable into the UDF closure); anything else fails fast at
    plan-construction time with an actionable message."""
    try:
        import zoneinfo

        return zoneinfo.ZoneInfo(tz_name)
    except Exception:
        pass
    # Minutes are only unambiguous after a ':' separator or a 2-digit
    # hour ('+08:30', '+0830'); a bare '+830' is rejected rather than
    # guessed at.  Offsets beyond ±18:00 (Java ZoneOffset's limit, hence
    # the most Spark itself accepts; Python's datetime.timezone would
    # allow up to ±24h) fall through to the actionable error below so we
    # never "support" a session tz the JVM side would reject.
    m = re.fullmatch(
        r"(?:GMT|UTC)?([+-])(?:(\d{1,2})|(\d{1,2}):(\d{2})|(\d{2})(\d{2}))",
        tz_name.strip(),
    )
    if m:
        sign = 1 if m.group(1) == "+" else -1
        hours = int(m.group(2) or m.group(3) or m.group(5))
        minutes = int(m.group(4) or m.group(6) or 0)
        if minutes < 60 and timedelta(hours=hours, minutes=minutes) <= timedelta(
            hours=18
        ):
            return _dt_timezone(sign * timedelta(hours=hours, minutes=minutes))
    raise ValueError(
        f"unsupported spark.sql.session.timeZone {tz_name!r}: use a region id "
        "(e.g. 'UTC', 'Asia/Kolkata') or a fixed offset (e.g. 'GMT+8', '+08:00')"
    )


def _arrow_tz_transferable(tz_str: str) -> bool:
    """Whether Arrow can move a timestamp column whose schema is stamped
    with this session-tz STRING into pandas.  pyarrow's converter
    accepts IANA region ids and pure `±HH:MM` offsets, but rejects
    Spark-legal letter-offset styles (`GMT+8`, `UTC+05:30`) via pytz —
    an executor crash before user code runs.  Ops that transfer
    timestamp columns through applyInPandas* must check this at plan
    construction."""
    try:
        import zoneinfo

        zoneinfo.ZoneInfo(tz_str)
        return True
    except Exception:
        pass
    return re.fullmatch(r"[+-]\d{2}:\d{2}", tz_str) is not None


def _make_session_expiry_fn(tz_name):
    """Build the expiry state function bound to the SESSION timezone.

    The stream side hands this fn `ts_us` — TRUE epoch micros computed
    JVM-side via unix_micros — never a raw timestamp column.  Two bugs
    live on the alternative path: (a) `state.setTimeoutTimestamp`
    compares against the true event-time watermark (epoch millis), so
    treating an Arrow-delivered naive wall time as epoch (the
    pre-round-4 bug) fires the timeout offset by the tz offset — 5.5 h
    late under Asia/Kolkata; (b) Arrow stamps transferred timestamp
    columns with the session tz STRING, and pyarrow's pytz-based
    parser rejects Spark-legal offset styles like `GMT+8` outright —
    an executor crash before user code even runs (round-6 finding).
    Epoch bigints dodge both; `tz_name` (a resolved tzinfo) is used
    only to render output wall times, naive, for Arrow on the way
    out."""

    def _session_expiry_fn(key, pdfs, state: GroupState):
        def _wall(us: int) -> pd.Timestamp:
            # true epoch → session-tz wall time, naive for Arrow output
            return pd.Timestamp(us, unit="us", tz="UTC").tz_convert(tz_name).tz_localize(None)

        if state.hasTimedOut:
            n, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "n_events": [n],
                    "first_ts": [_wall(first_us)],
                    "last_ts": [_wall(last_us)],
                    "closed_by_timeout": [True],
                }
            )
            return
        n, first_us, last_us = state.get if state.exists else (0, None, None)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # ts_us is already true epoch micros (unix_micros, JVM-side)
            # — no localization, no DST ambiguity, no tz parsing
            us = pdf["ts_us"].astype("int64").tolist()
            n += len(us)
            first_us = min(us) if first_us is None else min(first_us, *us)
            last_us = max(us) if last_us is None else max(last_us, *us)
        state.update((n, first_us, last_us))
        # true epoch millis — comparable to the event-time watermark
        state.setTimeoutTimestamp(last_us // 1000 + _EXPIRY_GAP_MS)
        return
        yield  # pragma: no cover - generator form required by the API

    return _session_expiry_fn


def session_expiry_summaries(
    stream: DataFrame, key_col: str = "userid", ts_col: str = "timestamp"
) -> DataFrame:
    """Custom stateful operator with EVENT-TIME TIMEOUT: per-key open
    sessions accumulate silently; a key's summary row is emitted only
    when the watermark passes its last event + 10 min (the session
    closed).  Complements session_window_counts (built-in) by
    exercising the explicit state-eviction path
    (GroupStateTimeout.EventTimeTimeout + state.remove) that bounds
    state size for arbitrary custom operators."""
    # resolved (and validated) at plan-construction time: a bad tz conf
    # raises here, not mid-batch on an executor; NOTE the tz is captured
    # now — conf changes after this call don't retroactively apply
    conf_tz = stream.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    tz_name = _resolve_tz(conf_tz)
    # Spark's analyzer requires the watermarked COLUMN itself to reach
    # the stateful operator (event-time timeout), so the timestamp must
    # ride along through Arrow — which stamps it with the session-tz
    # string pyarrow can't always parse.  Fail fast with the rename the
    # user needs instead of crashing an executor mid-batch.
    if not _arrow_tz_transferable(conf_tz):
        raise ValueError(
            f"spark.sql.session.timeZone {conf_tz!r} cannot cross the Arrow "
            "timestamp transfer into pandas (pyarrow accepts IANA region ids "
            "and ±HH:MM offsets only). Set an equivalent form, e.g. '+08:00' "
            "instead of 'GMT+8'."
        )
    # the fn reads ts_us (true epoch micros, JVM-computed) — exact, no
    # DST-ambiguous localization; the timestamp column is only along
    # for the analyzer's watermark check
    projected = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.col(ts_col).alias("timestamp"),
        F.unix_micros(F.col(ts_col)).alias("ts_us"),
    ).withWatermark("timestamp", "10 minutes")
    return projected.groupBy("key").applyInPandasWithState(
        _make_session_expiry_fn(tz_name),
        EXPIRY_OUTPUT,
        EXPIRY_STATE,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


def running_totals(
    stream: DataFrame, key_col: str = "source", value_col: str = "value"
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): lifetime
    per-key event counts + value totals, emitted every micro-batch.
    The pattern for operators Spark's built-in streaming aggs can't
    express (decayed counters, per-key models, CDC merges).  State is
    one tuple per key — scale-safe for any key cardinality the state
    store holds; use RocksDB state store beyond ~1e7 keys."""
    projected = stream.select(
        F.col(key_col).cast("string").alias("key"), F.col(value_col).cast("double").alias("value")
    )
    return projected.groupBy("key").applyInPandasWithState(
        _running_totals_fn,
        RUNNING_TOTALS_OUTPUT,
        RUNNING_TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# the bundled RocksDB state store; the default is the HDFS-backed one
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


# ---------------------------------------------------------------------------
# custom stateful sketch: streaming Misra-Gries heavy hitters
# ---------------------------------------------------------------------------

HH_OUTPUT = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("key", T.StringType()),
        T.StructField("est_count", T.LongType()),
        T.StructField("n_seen_bucket", T.LongType()),
    ]
)
HH_STATE = T.StructType(
    [
        T.StructField("keys", T.ArrayType(T.StringType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
        T.StructField("n_seen", T.LongType()),
    ]
)

HH_SKETCH_K = 64


def streaming_heavy_hitters(
    stream: DataFrame,
    key_col: str,
    n_buckets: int = 8,
    k: int = HH_SKETCH_K,
) -> DataFrame:
    """Streaming Misra-Gries heavy hitters — the continuous twin of the
    batch `text_token_heavy_hitters` sketch pass.  Keys are hashed
    into `n_buckets` state groups; each group maintains ONE mergeable
    MG(k) summary across all micro-batches (state is 2 arrays of ≤ k
    entries per bucket — constant memory at ANY key cardinality, which
    is the whole point: per-key streaming aggregation state grows with
    |keys|, the sketch does not).  Emits each bucket's current summary
    every micro-batch (update mode).  MG bound per bucket: est_count ≤
    true_count ≤ est_count + floor(n_seen_bucket / (k+1)) — any key
    with true frequency above n_seen_bucket/(k+1) is guaranteed
    present.  Exact counts for the candidate set are the batch tier's
    recount job, same as the batch operator's pass 2."""
    # NULL-key guard (r12 review fix): crc32(NULL) yields a NULL bucket
    # group and int(key[0]) raised TypeError on the executor, killing
    # the whole streaming query over one malformed event; a NULL key
    # cannot be a heavy hitter anyone can act on, so it is dropped at
    # the projection (mirrors value_counts(), which skips NaN anyway)
    projected = stream.filter(F.col(key_col).isNotNull()).select(
        F.col(key_col).cast("string").alias("key"),
        (F.crc32(F.col(key_col).cast("string").cast("binary")) % n_buckets)
        .cast("int")
        .alias("bucket"),
    )

    def fn(key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.exists:
            keys, counts, n_seen = state.get
            counters = pd.Series(list(counts), index=list(keys), dtype="int64")
        else:
            counters = pd.Series(dtype="int64")
            n_seen = 0
        for pdf in pdfs:
            vc = pdf["key"].value_counts()
            n_seen += int(vc.sum())
            counters = counters.add(vc, fill_value=0)
            if len(counters) > k:
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters - cut
                counters = counters[counters > 0]
        counters = counters.astype("int64")
        state.update(
            ([str(i) for i in counters.index], [int(v) for v in counters.values], int(n_seen))
        )
        yield pd.DataFrame(
            {
                "bucket": int(key[0]),
                "key": counters.index.astype(str),
                "est_count": counters.values,
                "n_seen_bucket": int(n_seen),
            }
        )

    return projected.groupBy("bucket").applyInPandasWithState(
        fn, HH_OUTPUT, HH_STATE, "update", GroupStateTimeout.NoTimeout
    )


# ---------------------------------------------------------------------------
# custom stateful operator: per-key streaming EWMA
# ---------------------------------------------------------------------------

EWMA_STREAM_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("batch_events", T.LongType()),
        T.StructField("total_events", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)
EWMA_STREAM_STATE = T.StructType(
    [T.StructField("n", T.LongType()), T.StructField("ewma", T.DoubleType())]
)

# MUST equal operators/events_timeseries._EWMA_ALPHA — the bit-
# identical-to-batch replay contract depends on it; mirrored instead
# of imported (a module-level operators import would reorder registry
# base positions), with the equality pinned by
# tests/test_stateful_streaming.py::test_ewma_alpha_matches_batch
EWMA_STREAM_ALPHA = 0.2


def _streaming_ewma_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Per-key EWMA recursion continued across micro-batches: state
    carries (n_events, current_ewma); each batch's rows are folded in
    event-time order with the SAME fp expression as the batch operator
    (`operators/events_timeseries._ewma_group`): y = (1-a)*y + a*x — so a stream
    replayed in order produces bit-identical smoothed values to the
    batch recursion over the concatenated series."""
    a = EWMA_STREAM_ALPHA
    if state.exists:
        n, y = state.get
    else:
        n, y = 0, 0.0
    batch_events = 0
    # a key's micro-batch arrives as an ITERATOR of Arrow chunks (split
    # at arrow.maxRecordsPerBatch): concatenate BEFORE the sort, or a
    # later chunk holding earlier timestamps folds after later ones and
    # the documented event-time-order contract silently breaks for any
    # key with >10k rows per batch.  NaN values (null value_col) are
    # dropped — one NaN would otherwise poison the EWMA state forever.
    chunks = [pdf for pdf in pdfs]
    if chunks:
        allrows = pd.concat(chunks, ignore_index=True)
        allrows = allrows[allrows["value"].notna()]
        # mergesort = stable: equal timestamps keep arrival order
        allrows = allrows.sort_values("ts", kind="mergesort")
        for x in allrows["value"].to_numpy():
            y = float(x) if n == 0 else (1.0 - a) * y + a * float(x)
            n += 1
            batch_events += 1
    state.update((int(n), float(y)))
    if batch_events:
        yield pd.DataFrame(
            {
                "key": [str(key[0])],
                "batch_events": [batch_events],
                "total_events": [int(n)],
                "ewma": [float(y)],
            }
        )


def streaming_ewma(
    stream: DataFrame,
    key_col: str = "source",
    value_col: str = "value",
    ts_col: str = "timestamp",
) -> DataFrame:
    """Streaming per-key EWMA — the continuous twin of the batch
    `events_ewma_hourly` smoother, for device-telemetry dashboards that
    need the decayed level per source updated every micro-batch (the
    reference's 1-event/sec product-view firehose is exactly this
    shape).  EWMA is inherently sequential per key: no built-in
    streaming agg expresses it, so it's applyInPandasWithState with
    constant per-key state (n, current_ewma) — two scalars per key at
    ANY stream length, evictable the moment a key goes quiet (add a
    timeout when keys churn).  Within a batch rows fold in event-time
    order; cross-batch order is the stream's delivery order, the
    standard streaming contract (same as streaming_dedup_exact's
    arrival-order semantics)."""
    # ts crosses the Arrow boundary as exact integer MICROS, not a raw
    # TimestampType column (r12 review fix): the fn needs ts only for
    # ordering, and a timestamp column would require the
    # _arrow_tz_transferable session-tz guard session_expiry_summaries
    # documents as mandatory (GMT+8-style tz strings crash pyarrow's
    # parser mid-batch); int64 micros order identically and dodge the
    # whole tz-transfer class
    projected = stream.select(
        F.col(key_col).cast("string").alias("key"),
        F.unix_micros(F.col(ts_col)).alias("ts"),
        F.col(value_col).cast("double").alias("value"),
    )
    return projected.groupBy("key").applyInPandasWithState(
        _streaming_ewma_fn,
        EWMA_STREAM_OUTPUT,
        EWMA_STREAM_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# custom stateful operator: value-change sessionization (gaps-and-islands)
# ---------------------------------------------------------------------------

STREAK_OUTPUT = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("streak_len", T.LongType()),
    ]
)
STREAK_STATE = T.StructType(
    [T.StructField("status", T.StringType()), T.StructField("streak_len", T.LongType())]
)


def _status_streak_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Per-key run-length state machine continued across micro-batches:
    state carries the one OPEN run (status, length); each batch's rows
    are folded in seq order, every status flip CLOSES the previous run
    (emitted immediately — closed islands are immutable, so the
    operator is append-mode), and the trailing run stays open in state.

    Vectorized, not row-at-a-time: within the concatenated, seq-sorted
    batch the run boundaries are one shift+cumsum and the run lengths
    one groupby-size — the Python cost is O(runs), not O(rows)."""
    if state.exists:
        cur_status, cur_len = state.get
        cur_len = int(cur_len)
    else:
        cur_status, cur_len = None, 0
    # concatenate Arrow chunks BEFORE sorting (same contract note as
    # _streaming_ewma_fn: a >maxRecordsPerBatch key would otherwise
    # fold later-chunk earlier-seq rows out of order)
    chunks = [pdf for pdf in pdfs]
    closed_status: list[str] = []
    closed_len: list[int] = []
    # len() guard (ADVICE r15): an all-empty delivery (possible under a
    # future timeout-based invocation) must be a state-preserving no-op,
    # not an IndexError on run_status[-1]
    if chunks and sum(len(c) for c in chunks):
        allrows = pd.concat(chunks, ignore_index=True)
        allrows = allrows.sort_values("seq", kind="mergesort")
        s = allrows["status"].reset_index(drop=True)
        run_id = s.ne(s.shift()).cumsum()
        grouped = s.groupby(run_id, sort=True)
        run_status = grouped.first().tolist()
        run_len = [int(x) for x in grouped.size().tolist()]
        if cur_status is not None:
            if run_status and run_status[0] == cur_status:
                run_len[0] += cur_len
            else:
                closed_status.append(cur_status)
                closed_len.append(cur_len)
        closed_status.extend(run_status[:-1])
        closed_len.extend(run_len[:-1])
        cur_status, cur_len = run_status[-1], run_len[-1]
    state.update((cur_status, int(cur_len)))
    if closed_status:
        yield pd.DataFrame(
            {
                "key": [str(key[0])] * len(closed_status),
                "status": closed_status,
                "streak_len": [int(x) for x in closed_len],
            }
        )


def status_streak_islands(
    stream: DataFrame,
    key_col: str = "key",
    seq_col: str = "seq",
    status_col: str = "status",
) -> DataFrame:
    """Streaming gaps-and-islands keyed on VALUE CHANGES — the
    continuous twin of the batch `orders_status_streaks` islands query
    (operators/relational.py; VERDICT r14 item 4): per key, runs of
    consecutive identical status values in seq order, each run emitted
    exactly once, the moment the status flips.  The batch form computes
    island ids with two shared-sort row_numbers; a stream cannot (no
    unbounded-history window), so this is the canonical
    applyInPandasWithState restatement: state = the single open run per
    key (two scalars — bounded at ANY stream length and key count the
    state store holds; RocksDB beyond ~1e7 keys), emission = closed
    runs only, which are immutable → append mode, no retraction.

    Ordering contract (standard for per-key sequence state): per-key
    seq values must not go backwards ACROSS micro-batches (within a
    batch any order is fine — the fn sorts).  The stream's final open
    run per key is never emitted (nothing closes it); replay tests
    close it with a sentinel status row.

    NULL contract (round-16 review): rows with a NULL key, seq, or
    status are DROPPED at the projection — the state machine overloads
    status=None as 'no open run', so a null-status row would silently
    swallow the open run instead of forming an island, and a null seq
    has no position in the order.  Map nulls to a sentinel status
    upstream if null runs are meaningful.
    """
    projected = stream.filter(
        F.col(key_col).isNotNull()
        & F.col(seq_col).isNotNull()
        & F.col(status_col).isNotNull()
    ).select(
        F.col(key_col).cast("string").alias("key"),
        F.col(seq_col).cast("bigint").alias("seq"),
        F.col(status_col).cast("string").alias("status"),
    )
    return projected.groupBy("key").applyInPandasWithState(
        _status_streak_fn,
        STREAK_OUTPUT,
        STREAK_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# custom stateful operator: streaming as-of enrichment (round 16,
# VERDICT r15 item 5 — the continuous twin of
# operators/analytics.join_asof_device_state)
# ---------------------------------------------------------------------------

ASOF_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("state_ts_us", T.LongType()),
        T.StructField("state_value_cents", T.LongType()),
        T.StructField("staleness_us", T.LongType()),
    ]
)
# the whole point: per-key state is TWO SCALARS — the latest state
# snapshot — not a buffered history, so the state store stays O(keys)
# at any stream length (same bounded-state argument as the streak op)
ASOF_STATE = T.StructType(
    [
        T.StructField("s_ts_us", T.LongType()),
        T.StructField("s_value", T.DoubleType()),
    ]
)


def _asof_enrich_fn(
    key: tuple[Any, ...], pdfs: Iterable[pd.DataFrame], state: GroupState
):
    """Per-key last-state-carry-forward continued across micro-batches:
    state holds the most recent (state_ts, state_value); each batch's
    STATE rows are pre-reduced per timestamp (max value — the batch
    operator's groupBy(user, ts).max(value) tie rule), merged with the
    carried snapshot, and each PROBE row is matched to the latest state
    at-or-before it via one vectorized searchsorted — O(n log n) per
    batch, no per-row Python loop.  Probes are enriched exactly once
    the moment they arrive (append mode; under the ordering contract a
    later batch can never change an already-emitted match)."""
    import numpy as np

    if state.exists:
        s_ts, s_val = state.get
        s_ts = int(s_ts)
        s_val = float(s_val)
    else:
        s_ts, s_val = None, None
    chunks = [pdf for pdf in pdfs]
    out = None
    if chunks and sum(len(c) for c in chunks):
        rows = pd.concat(chunks, ignore_index=True)
        st = rows[rows["is_state"]]
        if len(st):
            agg = st.groupby("ts_us")["value"].max()
            if s_ts is not None:
                if s_ts in agg.index:
                    # NaN-safe max (round-16 review): a state row with
                    # NULL value yields NaN, and Python's max() is
                    # order-dependent under NaN — prefer the non-NaN
                    # side, else the larger
                    a, b = agg.loc[s_ts], s_val
                    if pd.isna(a):
                        agg.loc[s_ts] = b
                    elif not pd.isna(b):
                        agg.loc[s_ts] = max(a, b)
                else:
                    agg.loc[s_ts] = s_val
            agg = agg.sort_index()
        elif s_ts is not None:
            agg = pd.Series({s_ts: s_val})
        else:
            agg = pd.Series(dtype="float64")
        probes = rows[~rows["is_state"]]
        if len(probes):
            p_ts = probes["ts_us"].to_numpy(dtype="int64")
            if len(agg):
                s_arr = agg.index.to_numpy(dtype="int64", na_value=-1)
                v_arr = agg.to_numpy(dtype="float64")
                # backward <= bound: rightmost state with s_ts <= probe ts
                idx = np.searchsorted(s_arr, p_ts, side="right") - 1
                matched = idx >= 0
                m_ts = np.where(matched, s_arr[np.clip(idx, 0, None)], -1)
                m_val = v_arr[np.clip(idx, 0, None)]
                # a matched state whose value is NULL/NaN gets the -1
                # cents sentinel (floor(NaN) would cast to INT64_MIN
                # garbage — round-16 review); ts/staleness stay real,
                # the oracle's coalesce(floor(NULL...), -1) semantics
                has_val = matched & ~np.isnan(np.where(matched, m_val, 0.0))
                cents = np.where(
                    has_val,
                    np.floor(np.where(has_val, m_val, 0.0) * 100.0 + 0.5).astype(
                        "int64"
                    ),
                    -1,
                )
                stale = np.where(matched, p_ts - m_ts, -1)
            else:
                # key has never seen a state row: every probe gets the
                # sentinel (the user-3 case pinned under RocksDB)
                m_ts = np.full(len(p_ts), -1, dtype="int64")
                cents = np.full(len(p_ts), -1, dtype="int64")
                stale = np.full(len(p_ts), -1, dtype="int64")
            out = pd.DataFrame(
                {
                    "user_id": np.full(len(p_ts), int(key[0]), dtype="int64"),
                    "event_id": probes["event_id"].to_numpy(dtype="int64"),
                    "state_ts_us": m_ts,
                    "state_value_cents": cents,
                    "staleness_us": stale,
                }
            )
        if len(agg):
            s_ts, s_val = int(agg.index[-1]), float(agg.iloc[-1])
    if s_ts is not None:
        state.update((int(s_ts), float(s_val)))
    if out is not None and len(out):
        yield out


def streaming_asof_device_state(
    stream: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts_us",
    event_id_col: str = "event_id",
    type_col: str = "event_type",
    value_col: str = "value",
    state_types: tuple[str, ...] = ("signup", "purchase"),
    probe_type: str = "error",
) -> DataFrame:
    """Streaming point-in-time enrichment — the continuous twin of the
    batch `join_asof_device_state` (operators/analytics.py): every
    probe event is enriched with the key's most recent state snapshot
    at-or-before it, with the SAME tie rules (states at the probe's
    exact timestamp match; same-timestamp states reduce by max value)
    and the same -1 sentinels, so a time-ordered replay of the events
    table through this operator equals the batch as-of join row-for-row
    (pinned by tests/test_stateful_streaming.py).

    The batch form resolves the union with one (key, time)-sorted
    window; a stream cannot sort unbounded history, so this is
    applyInPandasWithState with state = the single LATEST snapshot per
    key (two scalars — the as-of join's entire history dependency,
    because matches only ever look backward).  Emission is append-mode:
    an enriched probe is immutable under the ordering contract.

    Ordering contract (same as status_streak_islands): per-key
    timestamps must not go backwards ACROSS micro-batches — a state
    row older than an already-processed probe cannot retro-correct it
    (within a batch any order is fine; the fn reduces states before
    matching).  At 100 TB this is the standard log-compaction
    enrichment shape: state store O(keys), per-batch work O(batch),
    no history buffered anywhere.

    SENTINEL CONTRACT: state_ts_us = -1 / staleness_us = -1 are the
    authoritative no-match signals; state_value_cents = -1 alone is
    ambiguous (a real value in (-0.015, -0.005] rounds to -1 cents).

    NULL-valued state rows (out of the fixtures' contract, handled
    defensively): a matched snapshot whose reduced value is NULL emits
    real ts/staleness with the -1 cents sentinel — the ORACLE's
    coalesce(floor(NULL·100+0.5), -1) semantics.  The batch engine's
    window form would instead look back to the last NON-NULL value
    (last(..., ignorenulls=True) can pick an older row than the
    matched timestamp); the two agree everywhere state values are
    non-null, which the equivalence test exercises on the real
    fixtures.
    """
    # NULL-key/NULL-ts guard (round-16 review, the r12
    # streaming_heavy_hitters precedent): a NULL key would crash
    # int(key[0]) on the executor, a NULL probe ts would crash the
    # int64 cast in the Arrow batch — one malformed event must not
    # kill the query.  Rows without a key or timestamp cannot be
    # matched (the batch twin's join drops them the same way).
    projected = (
        stream.filter(F.col(key_col).isNotNull() & F.col(ts_col).isNotNull())
        .select(
            F.col(key_col).cast("bigint").alias("key"),
            F.col(ts_col).cast("bigint").alias("ts_us"),
            F.coalesce(F.col(event_id_col).cast("bigint"), F.lit(-1)).alias("event_id"),
            F.col(type_col).isin(*state_types).alias("is_state"),
            F.col(value_col).cast("double").alias("value"),
        )
        .filter(F.col("is_state") | (F.col(type_col) == probe_type))
    )
    return projected.groupBy("key").applyInPandasWithState(
        _asof_enrich_fn,
        ASOF_OUTPUT,
        ASOF_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )
