"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query executes end-to-end via the noop sink (full plan runs on
the executors, nothing collected to Python — measures the engine, not
the driver round-trip).

Output contract (round 9): the COMPLETE per-query map is written to
BENCH_FULL.json beside this script; the final stdout line is a compact
JSON headline (total / n_queries / sf / slowest queries) guaranteed to
fit the driver's 2000-char stdout-tail capture — BENCH_r08.json came
back `parsed: null` because the 103-query map outgrew that window.

Usage: python bench.py            # compact JSON headline on stdout
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs  # noqa: E402
from spark_nifi_kafka_connected_device_stream_spark.session import get_session  # noqa: E402

# Bench coverage rule (VERDICT r9 item 3): the bench list is DERIVED
# from the registry — every registered query is benched unless its name
# carries a documented reason in BENCH_EXCLUDE.  The old hand-edited
# list silently drifted 85 queries behind the registry; now
# tests/test_catalog_cache.py::test_bench_list_covers_registry enforces
# HEADLINE == registry minus BENCH_EXCLUDE (and that every exclusion
# still names a registered query, so the set can't go stale).
BENCH_EXCLUDE: dict[str, str] = {
    # name -> reason it is deliberately not benched (keep this rare)
}

HEADLINE = [n for n in all_specs() if n not in BENCH_EXCLUDE]


def compact_headline(full: dict) -> dict:
    """The final stdout line's payload: `full` without the median map,
    plus the query count and the slowest queries, truncated 5 at a time
    until the JSON fits in 1500 chars."""
    timings = full["queries"]
    compact = {k: v for k, v in full.items() if k != "queries_median"}
    compact["n_queries"] = len(timings)
    compact["full_results"] = "BENCH_FULL.json"
    if "errors" in full:
        compact["errors"] = {k: v[:60] for k, v in full["errors"].items()}
    slowest = sorted(timings.items(), key=lambda kv: -kv[1])
    n_keep = len(slowest)
    while True:
        compact["queries"] = dict(sorted(slowest[:n_keep], key=lambda kv: kv[0]))
        if n_keep < len(slowest):
            compact["queries_truncated_to_slowest"] = n_keep
        if len(json.dumps(compact)) <= 1500 or n_keep <= 1:
            return compact
        n_keep = max(1, n_keep - 5)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_session(app_name="bench")

    specs = all_specs()
    timings: dict[str, float] = {}
    # JVM warmup + one scan per table so per-query timings measure the
    # operators, not first-touch file IO / conf setup
    spark.range(1000).count()
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import (
        TABLES,
        load_table,
    )

    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    errors: dict[str, str] = {}
    medians: dict[str, float] = {}
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    for name in HEADLINE:
        fn = specs[name].fn
        # min over `runs` executions: single-run wall-clock swings ±40%
        # on box noise (r6: 46.9s recorded vs 33.0s same-code minima),
        # which drowns real round-over-round deltas.  The warm second
        # run is cheap and the min is the stable statistic.  The MEDIAN
        # is recorded alongside (VERDICT r11 item 3) so a judge reading
        # BENCH_FULL.json can separate box noise (min stable, median
        # noisy) from real drift (both statistics move together)
        # without re-running.
        samples: list[float] = []
        for _ in range(runs):
            t0 = time.perf_counter()
            # one query blowing up must not zero out the whole bench —
            # record the error and keep measuring the rest
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"  {name}: FAILED {errors[name]}", file=sys.stderr)
                break
            samples.append(time.perf_counter() - t0)
        if not samples:
            continue
        timings[name] = round(min(samples), 3)
        ordered = sorted(samples)
        mid = len(ordered) // 2
        med = (
            ordered[mid]
            if len(ordered) % 2
            else (ordered[mid - 1] + ordered[mid]) / 2.0
        )
        medians[name] = round(med, 3)
        print(f"  {name}: {timings[name]:.3f}s (median {medians[name]:.3f}s)", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    full = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "sf": sf,
        "runs_per_query": runs,
        "aggregation": "min",
    }
    if errors:
        # a crashed query drops out of the sum — flag the total so a
        # partial round can't be misread as faster than a clean one
        full["errors"] = errors
        full["partial"] = True
    # The driver records only a 2000-char TAIL of stdout; with 100+
    # queries the full per-query map no longer fits (BENCH_r08.json
    # came back `parsed: null`).  So: the COMPLETE result goes to
    # BENCH_FULL.json beside this script, and the LAST stdout line is a
    # compact headline — total, count, sf, plus the slowest queries,
    # truncated to stay parseable inside the tail window.
    full_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json")
    with open(full_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
    print(json.dumps(compact_headline(full)))
    spark.stop()


if __name__ == "__main__":
    main()
