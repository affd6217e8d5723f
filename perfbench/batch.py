"""Batch workload: registry queries over the sf0.01 fixture tables.

The set mixes queries whose cost is Spark jobs launched while the
DataFrame is being *built* (construction) with queries whose cost is
executing the finished plan, so the per-layer split shows which one a
change moved.  Each pass runs in a fresh `spark.newSession()`, so the
engine's per-session memos start cold.  The first pass collects every
result and compares it with the query's stored DuckDB oracle result
(see oracles.py).  The passes after it build each query and execute it
into the noop sink; all but the first of those are timed.
"""

from __future__ import annotations

import os
import random
import sys
import time

import oracles
from spans import job_counters, median

from spark_nifi_kafka_connected_device_stream_spark import registry
from spark_nifi_kafka_connected_device_stream_spark.sources import catalog

PACKAGE = "spark_nifi_kafka_connected_device_stream_spark"
# pass 0 collects and checks every result; pass 1 executes into the noop
# sink only to warm the JIT further (the next pass is still about 10 %
# faster).  Neither is timed.
FIRST_TIMED = 2
MIN_TIMED_PASSES = 3
QUERIES = (
    # construction-heavy: iterative operators that collect while building
    "events_markov_stationary",
    "events_peak_concurrency",
    # execution-heavy: one planned job graph per query
    "q9_product_type_profit",
    "q18_large_volume_orders",
    "dedup_exact_substring",
)


def _trace_load_table(run) -> None:
    """Record a span around every `catalog.load_table` call, including
    the operator modules' own imported references."""
    original = catalog.load_table
    traced = run.tracer.wrap("catalog.load_table", original)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith(PACKAGE) and getattr(mod, "load_table", None) is original:
            mod.load_table = traced


def batch(run) -> dict:
    specs = registry.all_specs()
    if run.traced:
        _trace_load_table(run)

    def stage(spark, _d):
        for t in catalog.TABLES:
            catalog.load_table(spark, oracles.SF_DIR, t).count()

    run.set_up(stage)
    sf = oracles.SF_DIR
    order = random.Random(run.seed).sample(QUERIES, len(QUERIES))
    samples, passes, groups = {q: [] for q in order}, [], []
    failed = _pass(run, specs, sf, order, 0, {q: [] for q in order}, [], oracles.load())
    failed += _pass(run, specs, sf, order, 1, {q: [] for q in order}, [], None)
    t_end = time.monotonic() + run.seconds
    while len(passes) < MIN_TIMED_PASSES or time.monotonic() + median(passes) <= t_end:
        t_pass = time.perf_counter()
        failed += _pass(run, specs, sf, order, FIRST_TIMED + len(passes), samples, groups, None)
        passes.append(time.perf_counter() - t_pass)
        print(f"[perfbench] batch pass {len(passes)}: {passes[-1]:.3f} s", file=sys.stderr)
    # A few queries of very different cost: the median of single-query
    # times jumps between two queries from run to run, so the typical
    # query time is the median pass's mean per query.  Fifteen single-
    # query times leave one sample beyond a 90th percentile, so the tail
    # is the slowest query's median time over the timed passes.
    return {
        "attempted": len(order) * (FIRST_TIMED + len(passes)),
        "failed": failed,
        "e2e": {
            "latency_p50_s": median(passes) / len(order),
            "latency_p90_s": max((median(ts) for ts in samples.values() if ts), default=0.0),
            "throughput_per_s": len(order) * len(passes) / sum(passes),
        },
        "layers": _layers(run, groups, len(passes)) if run.traced else {},
    }


def _pass(run, specs, sf: str, order, p: int, samples: dict, groups: list,
          expected: dict | None) -> int:
    """Build and execute every query in a fresh session, appending each
    query's seconds to `samples` and its job groups to `groups`.  With
    `expected`, results are collected and compared with it; otherwise
    they go to the noop sink.  Returns the number of failed queries."""
    sc, session, failed = run.spark.sparkContext, run.spark.newSession(), 0
    for q in order:
        cg, eg = f"p{p}.construct.{q}", f"p{p}.exec.{q}"
        t0 = time.perf_counter()
        try:
            if run.traced:
                sc.setJobGroup(cg, cg)
            with run.tracer.span("query.construct", query=q, **{"pass": p}):
                df = specs[q].fn(session, sf)
            if run.traced:
                sc.setJobGroup(eg, eg)
            with run.tracer.span("query.exec", query=q, **{"pass": p}):
                if expected is None:
                    df.write.format("noop").mode("overwrite").save()
                    got = None
                else:
                    got = oracles.normal_form(df.columns, df.collect())
        except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
            print(f"[perfbench] {q}: {type(exc).__name__}: {exc}"[:300], file=sys.stderr)
            failed += 1
            continue
        samples[q].append(time.perf_counter() - t0)
        groups.append((p, cg, eg))
        if expected is not None and got != expected[q]:
            print(f"[perfbench] {q}: result differs from its oracle", file=sys.stderr)
            failed += 1
    return failed


def _layers(run, groups, n_passes: int) -> dict:
    """Construction and execution per timed pass (median over passes),
    from the spans and from each query's job groups."""
    time.sleep(0.5)  # let the status store catch up with the last jobs
    tracker = run.spark.sparkContext.statusTracker()
    per_pass = [dict.fromkeys(("construct.s", "construct.jobs", "exec.s"), 0.0) for _ in range(n_passes)]
    for span in run.tracer.spans:
        if span["name"] in ("query.construct", "query.exec") and span["pass"] >= FIRST_TIMED:
            key = "construct.s" if span["name"] == "query.construct" else "exec.s"
            per_pass[span["pass"] - FIRST_TIMED][key] += span["end"] - span["start"]
    for p, cg, eg in groups:
        counts = per_pass[p - FIRST_TIMED]
        counts["construct.jobs"] += len(tracker.getJobIdsForGroup(cg))
        for k, v in job_counters(run.spark, tracker.getJobIdsForGroup(eg)).items():
            counts[f"exec.{k}"] = counts.get(f"exec.{k}", 0) + v
    return {k: median(d.get(k, 0) for d in per_pass) for k in set().union(*per_pass)}


WORKLOADS = {"batch": batch}
