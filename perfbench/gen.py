"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the same seed gives the
same events.  Nothing imports Spark, so the inputs (and the pure-Python
expected results) are independent of the engine under test.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter

import numpy as np

WINDOW_S = 300  # the job's 5-minute tumbling window
WATERMARK_S = 300  # and its 5-minute watermark delay
TRICKLE_SOURCES = ("desktop", "mobile-web", "mobile-app")


def fmt_ts(ms: int) -> str:
    """The wire timestamp format, `yyyy-MM-dd HH:mm:ss.SSS+0000`."""
    t = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S.") + f"{ms % 1000:03d}+0000"


_EVENT = (
    '{"event": "ProductView", "messageid": "%s", "userid": "user-%d", '
    '"properties": {"productid": "product-%d"}, "context": {"source": "%s"}, '
    '"timestamp": "%s"}\n'
)


def event_line(source: str, messageid: str, user: int, product: int, stamp: str) -> str:
    """One product-view record in the wire schema (FIXTURES.md section 1)."""
    return _EVENT % (messageid, user, product, source, stamp)


class TrickleEvents:
    """Open-loop product-view feed: file `i` is due at `i * interval_s`
    after the start and holds `per_file` events of the 3 paper sources.
    The event payloads are drawn up front; the timestamp is stamped when
    the file is written, as NiFi's `UpdateRecord now()` did."""

    def __init__(self, seed: int, n_files: int, per_file: int, interval_s: float):
        rng = np.random.default_rng(seed)
        self.interval_s = interval_s
        self.files = [
            [
                (TRICKLE_SOURCES[int(rng.integers(0, 3))], rng.bytes(16).hex(),
                 int(rng.integers(1, 101)), int(rng.integers(0, 1000)))
                for _ in range(per_file)
            ]
            for _ in range(n_files)
        ]

    @staticmethod
    def render(events, ts_ms: int) -> str:
        stamp = fmt_ts(ts_ms)
        return "".join(event_line(*e, stamp) for e in events)


def window_counts(events: list[tuple[str, int]], watermark_ms: int) -> Counter:
    """Expected parquet sink content: the multiset of (source, count)
    over the windows the watermark has finalized (window end <= wm)."""
    per_window: Counter = Counter()
    for source, ts_ms in events:
        start = ts_ms - ts_ms % (WINDOW_S * 1000)
        if start + WINDOW_S * 1000 <= watermark_ms:
            per_window[(start, source)] += 1
    return Counter((src, n) for (_start, src), n in per_window.items())


def write_backlog(
    seed: int, directory: str, n_files: int, per_file: int, n_keys: int, span_s: int
) -> list[tuple[str, int]]:
    """Stage a backlog of JSON-lines files whose device keys follow a
    Zipf(1.1) law over `n_keys` devices and whose event times span
    `span_s` seconds.  Returns the (source, ts_ms) of every event."""
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, n_keys + 1) ** 1.1
    n = n_files * per_file
    keys = rng.choice(n_keys, size=n, p=weights / weights.sum())
    base_ms = 1_600_000_000_000 + int(rng.integers(0, 86_400)) * 1000
    ts = np.sort(base_ms + rng.integers(0, span_s * 1000, size=n))
    stamps = [fmt_ts(t) for t in ts.tolist()]
    mids = rng.bytes(16 * n).hex()
    users = rng.integers(1, 101, n)
    products = rng.integers(0, 1000, n)
    sources = [f"device-{k:05d}" for k in keys]
    os.makedirs(directory, exist_ok=True)
    for f in range(n_files):
        rows = range(f * per_file, (f + 1) * per_file)
        with open(os.path.join(directory, f"backlog-{f:04d}.json"), "w") as fh:
            fh.write("".join(
                event_line(sources[i], mids[32 * i:32 * i + 32], users[i], products[i], stamps[i])
                for i in rows
            ))
    return list(zip(sources, ts.tolist()))
