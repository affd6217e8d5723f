"""Scale primitives: salted aggregation equivalence, bucketed
co-located joins (no exchange), RocksDB state store for streaming
state, AQE skew-join conf present.
"""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
    salted_agg,
    write_bucketed,
)
from spark_nifi_kafka_connected_device_stream_spark.plans import explain_str, shuffle_count
from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import load_table

from .conftest import SF_SMALL, rocksdb_state_store


def test_salted_agg_equivalence(spark):
    """Salted two-phase agg must equal the plain agg exactly."""
    li = load_table(spark, SF_SMALL, "lineitem")
    plain = {
        (r["l_returnflag"],): (r["n"], round(r["s"], 2))
        for r in li.groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
        .collect()
    }
    salted = {
        (r["l_returnflag"],): (r["n"], round(r["s"], 2))
        for r in salted_agg(
            li.select("l_returnflag", "l_quantity"),
            ["l_returnflag"],
            {"n": (F.count(F.lit(1)), "sum"), "s": (F.sum("l_quantity"), "sum")},
        ).collect()
    }
    assert salted == plain


def test_salted_agg_rejects_ambiguous_bare_column(spark):
    """EVERY bare Column must be refused: F.count_distinct reprs
    identically to F.count on this build (Column<'count(x)'>), so no
    repr-based allowance can tell sum-mergeable partials from distinct
    ones — a silently sum-merged distinct partial overcounts across
    salt groups with no error."""
    import pytest

    li = load_table(spark, SF_SMALL, "lineitem").select("l_returnflag", "l_quantity")
    with pytest.raises(ValueError, match="explicit"):
        salted_agg(li, ["l_returnflag"], {"lo": F.min("l_quantity")})
    # the exact trap from ADVICE r3: count_distinct looks like count
    with pytest.raises(ValueError, match="explicit"):
        salted_agg(li, ["l_returnflag"], {"n": F.count_distinct("l_quantity")})
    with pytest.raises(ValueError, match="explicit"):
        salted_agg(li, ["l_returnflag"], {"n": F.count(F.lit(1))})
    # the tuple form of the same aggregate is exact
    got = {
        (r["l_returnflag"],): r["lo"]
        for r in salted_agg(
            li, ["l_returnflag"], {"lo": (F.min("l_quantity"), "min")}
        ).collect()
    }
    want = {
        (r["l_returnflag"],): r["lo"]
        for r in li.groupBy("l_returnflag").agg(F.min("l_quantity").alias("lo")).collect()
    }
    assert got == want


def test_salted_agg_two_shuffles_bounded_reducers(spark):
    li = load_table(spark, SF_SMALL, "lineitem").select("l_returnflag", "l_quantity")
    df = salted_agg(li, ["l_returnflag"], {"n": (F.count(F.lit(1)), "sum")}, n_salts=8)
    # exactly two exchanges: (key, salt) then (key)
    assert shuffle_count(df) == 2


def test_bucketed_join_skips_exchange(spark, tmp_path):
    # warehouse.dir is static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped at the end
    o = load_table(spark, SF_SMALL, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_SMALL, "lineitem").select("l_orderkey", "l_quantity")
    try:
        write_bucketed(o, "b_orders", "o_orderkey", n_buckets=8)
        write_bucketed(li, "b_lineitem", "l_orderkey", n_buckets=8)
    except Exception as exc:  # pragma: no cover - catalog-less session
        import pytest

        pytest.skip(f"no writable catalog in this session: {exc}")
    bo = spark.table("b_orders")
    bl = spark.table("b_lineitem")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bl.join(bo, bl.l_orderkey == bo.o_orderkey).groupBy("o_orderkey").agg(
            F.sum("l_quantity").alias("q")
        )
        plan = explain_str(joined)
        # both sides pre-bucketed on the join key: sort-merge join with
        # ZERO exchanges in the plan
        assert shuffle_count(joined) == 0, plan
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_rocksdb_state_store_runs(spark, tmp_path):
    """High-cardinality streaming state belongs in RocksDB, not the JVM
    heap — prove the provider works end-to-end in this build."""
    from spark_nifi_kafka_connected_device_stream_spark.sources.json_events import (
        json_file_stream,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.pipeline import (
        parse_product_views,
        windowed_source_counts,
    )
    from spark_nifi_kafka_connected_device_stream_spark.streaming.sinks import memory_sink

    from .test_streaming import _mk_events, _write_file

    with rocksdb_state_store(spark):
        d = str(tmp_path / "in")
        _write_file(d, "b1.json", [e[2] for e in _mk_events(0, 60)])
        agg = windowed_source_counts(parse_product_views(json_file_stream(spark, d)))
        q = memory_sink(agg, "rocks_pv", output_mode="append").option(
            "checkpointLocation", str(tmp_path / "chk")
        ).start()
        try:
            q.processAllAvailable()
            _write_file(d, "b2.json", [e[2] for e in _mk_events(20, 3, start_i=100)])
            q.processAllAvailable()
        finally:
            q.stop()
        rows = spark.sql("SELECT * FROM rocks_pv").collect()
        assert sum(r["source_number"] for r in rows) == 60


def test_skew_pair_identical_results(spark):
    """The registered skew demonstration pair (plain vs salted groupBy
    over hot-keyed events, ~50% of rows on one key) must produce
    identical result sets — only the plan shape may differ."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events import (
        skew_hot_key_plain,
        skew_hot_key_salted,
    )

    plain = {
        r["source_key"]: (r["n_events"], r["total_value"], r["min_value"], r["max_value"])
        for r in skew_hot_key_plain(spark, SF_SMALL).collect()
    }
    salted = {
        r["source_key"]: (r["n_events"], r["total_value"], r["min_value"], r["max_value"])
        for r in skew_hot_key_salted(spark, SF_SMALL).collect()
    }
    assert salted == plain
    assert "hot" in plain and plain["hot"][0] > 0


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew-join splitting is the session's mitigation for skewed
    SHUFFLE joins (the LSH bucket join in dedup.py has exactly this
    shape: hash-partitioned on bucket keys whose population follows the
    duplicate-cluster distribution — one hot bucket lands on one
    reducer).  Prove the conf chain actually FIRES in this build: build
    a join where half the left side shares one key, execute under
    lowered skew thresholds, and assert the final adaptive plan split
    the hot partition (`skew=true` on the sort-merge join)."""
    import contextlib
    import io

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        # coalescing can merge the tiny non-skewed partitions into the
        # hot one's neighborhood and mask the split at this data size
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id")).alias("k"),
            (F.col("id") * 37 % 1000).alias("payload"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"), F.lit("dim").alias("tag")
        )
        joined = left.join(right, "k").groupBy("tag").agg(
            F.count(F.lit(1)).alias("n"), F.sum("payload").alias("s")
        )
        [row] = joined.collect()
        assert row["n"] == 151_000  # 150k hot-key matches + 1k odd ids < 2000
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_global_running_sum_matches_unpartitioned_window(spark):
    """global_running_sum must equal the naive single-partition window
    bit-for-bit on exact integer values, and its plan must not put the
    DATA through an unpartitioned window (only the num_partitions-row
    offsets table does)."""
    from pyspark.sql import Window

    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
        global_running_sum,
    )

    li = load_table(spark, SF_SMALL, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum((F.col("l_quantity") * 100).cast("bigint")).alias("v")
    )
    naive = {
        r["l_partkey"]: r["cum"]
        for r in per_part.withColumn(
            "cum",
            F.sum("v").over(
                Window.orderBy(F.desc("v"), F.asc("l_partkey")).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ),
        ).collect()
    }
    scaled_df = global_running_sum(
        per_part,
        order_cols=[F.desc("v"), F.asc("l_partkey")],
        value_col="v",
        out_col="cum",
    )
    scaled = {r["l_partkey"]: r["cum"] for r in scaled_df.collect()}
    assert scaled == naive
    # grand total exposed and correct
    totals = {r["_grand_total"] for r in scaled_df.collect()}
    assert totals == {sum(r[1] for r in per_part.select("l_partkey", "v").collect())}
    # the scale property, asserted on the physical plan: every window
    # spec is either PARTITIONED by _pid (the data-side running sum —
    # first windowspecdefinition arg is a bare `_pid#N,` partition
    # column) or is the OFFSETS window over the num_partitions-row
    # aggregate — since bounded_window_key, that one is partitioned by
    # a projected constant (`_wN#M`) and ordered by _pid, so its spec
    # reads `_wN#M, _pid#K ASC`.  A regression that routed the DATA
    # through an unpartitioned window would order by the value/order
    # columns without a _pid partition and fail here.
    import re

    plan = explain_str(scaled_df, "formatted")
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "no window in plan?"
    for spec in specs:
        parts = [p.strip() for p in spec.split(",")]
        partitioned_by_pid = re.fullmatch(r"_pid#\d+", parts[0])
        offsets_only = (
            re.fullmatch(r"_w\d+#\d+", parts[0])
            and len(parts) > 1
            and re.fullmatch(r"_pid#\d+ ASC NULLS FIRST", parts[1])
        )
        assert partitioned_by_pid or offsets_only, (
            f"window spec neither _pid-partitioned nor offsets-only: {spec}"
        )


def test_zorder_key_matches_reference_morton(spark):
    from pyspark.sql import functions as F

    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import zorder_key

    df = spark.createDataFrame(
        [(x, y) for x in range(0, 256, 17) for y in range(0, 256, 23)], ["x", "y"]
    )
    rows = df.withColumn("z", zorder_key([F.col("x"), F.col("y")])).collect()

    def morton(x: int, y: int) -> int:
        z = 0
        for b in range(8):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    assert all(r["z"] == morton(r["x"], r["y"]) for r in rows)


def test_zorder_bucket_confines_both_dimensions(spark):
    """The data-skipping property: every run of 1024 consecutive Morton
    codes confines EACH interleaved dimension to one aligned 32-value
    window — so row groups written in zkey order carry tight min/max
    stats for predicates on either column."""
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs

    rows = all_specs()["lineitem_zorder_layout"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert r["max_part"] - r["min_part"] <= 31, r
        assert r["max_supp"] - r["min_supp"] <= 31, r
        # aligned windows, not just narrow ones
        assert r["min_part"] // 32 == r["max_part"] // 32, r
        assert r["min_supp"] // 32 == r["max_supp"] // 32, r


def test_analyze_table_feeds_cbo_statistics(spark, tmp_path):
    """Cost-based optimization needs catalog statistics: ANALYZE TABLE
    COMPUTE STATISTICS records row counts / sizes (and per-column NDV)
    that the planner's estimates consume — at 100 TB the difference
    between a stats-informed broadcast decision and the 10 MB default
    guess.  Pins that the stats round-trip through the catalog and
    surface in the optimized plan's estimates."""
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    li.write.mode("overwrite").saveAsTable("cbo_lineitem")
    try:
        spark.sql("ANALYZE TABLE cbo_lineitem COMPUTE STATISTICS")
        spark.sql(
            "ANALYZE TABLE cbo_lineitem COMPUTE STATISTICS FOR COLUMNS l_partkey"
        )
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED cbo_lineitem").collect()
        }
        assert "Statistics" in desc and "rows" in desc["Statistics"], desc.get("Statistics")
        n = li.count()
        assert f"{n} rows" in desc["Statistics"]
        # the planner's estimate consumes the catalog stats (rowCount
        # propagates into plan estimates only under CBO)
        prev_cbo = spark.conf.get("spark.sql.cbo.enabled")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            plan_stats = (
                spark.table("cbo_lineitem")._jdf.queryExecution()  # noqa: SLF001
                .optimizedPlan()
                .stats()
            )
            assert plan_stats.rowCount().get() == n
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev_cbo)
        # per-column NDV recorded
        col = {
            r["info_name"]: r["info_value"]
            for r in spark.sql(
                "DESCRIBE EXTENDED cbo_lineitem l_partkey"
            ).collect()
        }
        assert int(col["distinct_count"]) > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_lineitem")


def test_global_running_max_matches_unpartitioned_window(spark):
    """Inclusive and exclusive prefix max across many range partitions
    must equal the single-task unpartitioned window."""
    from pyspark.sql import Window

    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
        global_running_max,
    )

    df = spark.range(500).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).cast("bigint").alias("v"),
    )
    inc = {
        r.k: r.m
        for r in global_running_max(
            df, [F.col("k")], "v", "m", num_partitions=7
        ).collect()
    }
    exc = {
        r.k: r.m
        for r in global_running_max(
            df, [F.col("k")], "v", "m", num_partitions=7, exclusive=True
        ).collect()
    }
    w = Window.orderBy("k")
    want_inc = {
        r.k: r.m
        for r in df.withColumn(
            "m", F.max("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).collect()
    }
    want_exc = {
        r.k: r.m
        for r in df.withColumn(
            "m", F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1))
        ).collect()
    }
    assert inc == want_inc
    assert exc == want_exc
    assert exc[0] is None


def test_bounded_window_key_silences_and_matches(spark):
    """bounded_window_key exists because Spark 4's
    EliminateWindowPartitions strips FOLDABLE window partition keys —
    a bare lit(0) reverts to the unpartitioned spec and its
    `WARN WindowExec: No Partition Defined` line, which polluted the
    driver's bench capture (VERDICT r9 item 4).  Pin the three load-
    bearing properties: (1) the key survives optimization (the
    optimized plan's windowspecdefinition keeps a partition column);
    (2) results are bit-identical to the unpartitioned window,
    INCLUDING null order keys (hash(null) = seed, not null, so nulls
    stay in the same single partition); (3) the key is never null."""
    import re

    from pyspark.sql import Window

    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
        bounded_window_key,
    )

    df = spark.createDataFrame(
        [(None, 1.0), (1.0, 2.0), (2.0, 3.0), (None, 4.0), (3.0, 5.0)],
        "k double, v double",
    )
    cum = F.sum("v").over(
        Window.partitionBy(bounded_window_key("k"))
        .orderBy(F.asc_nulls_first("k"), "v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = df.withColumn("cum", cum)
    plan = got._jdf.queryExecution().optimizedPlan().toString()
    spec = re.search(r"windowspecdefinition\(([^)]*)\)", plan)
    assert spec and re.match(r"_w\d+#\d+", spec.group(1).split(",")[0].strip()), (
        "constant partition key was optimized away — the WindowExec "
        f"warning is back: {plan}"
    )
    naive = F.sum("v").over(
        Window.orderBy(F.asc_nulls_first("k"), "v").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    want = df.withColumn("cum", naive)
    key = lambda r: (r["k"] is not None, r["k"] or 0.0, r["v"])  # noqa: E731
    assert sorted(got.collect(), key=key) == sorted(want.collect(), key=key)


def test_int64_headroom_guard_passes_within_bound(spark):
    """Within the bound the guard is value-transparent."""
    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
        int64_headroom_guard,
    )

    df = spark.createDataFrame([(123, 1_000_000, 1000)], ["s", "m", "n"])
    out = df.select(
        int64_headroom_guard(F.col("s"), F.col("m"), F.col("n"), "t").alias("v")
    ).collect()
    assert out[0]["v"] == 123


def test_int64_headroom_guard_fails_loudly_past_bound(spark):
    """Synthetic over-bound data (VERDICT r10 item 5).  The terms are
    +5e18 and -5e18: their SUM is 0 — no ARITHMETIC_OVERFLOW even under
    ANSI mode, and silently "fine" under non-ANSI — but max|term| * n
    = 1e19 breaches the sufficient-condition bound, so the guard must
    fail the query with its actionable decimal(38,0) message.  (An
    actually-overflowing sum also dies under this build's ANSI default;
    the guard exists for the cancellation case above, where individual
    PARTIAL sums can overflow invisibly even when the final total
    fits, and for non-ANSI deployments.)"""
    import pytest

    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
        int64_headroom_guard,
    )

    big = 5_000_000_000_000_000_000
    df = spark.createDataFrame([("g", big), ("g", -big)], ["k", "amt"])
    g = df.groupBy("k").agg(
        F.sum("amt").alias("_s"),
        F.max(F.abs(F.col("amt"))).alias("_m"),
        F.count(F.lit(1)).alias("_n"),
    )
    wrapped = g.select(
        int64_headroom_guard(
            F.col("_s"), F.col("_m"), F.col("_n"), "synthetic_q9_shape"
        ).alias("v")
    )
    with pytest.raises(Exception, match="int64 fixed-point headroom"):
        wrapped.collect()


# --- skew stress on the deliberately skewed warehouse (VERDICT r10 item 3) ---

_SKEW_STRESS_CONFS = {
    # force the fact-fact join to stay a shuffle join (the dims stay
    # broadcast via explicit hints)
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    # the bench fixture is MBs, not the 256MB-default scale — tune the
    # skew knobs to the fixture's byte scale, exactly as a 100 TB
    # deployment tunes them to its partition sizes
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # AQE splits a hot reduce partition along MAP-OUTPUT boundaries, so
    # the scan must produce multiple mappers over the small files
    "spark.sql.files.maxPartitionBytes": "1MB",
    "spark.sql.files.openCostInBytes": "64KB",
}


@pytest.fixture(scope="module")
def skewed_wh(spark, tmp_path_factory):
    from spark_nifi_kafka_connected_device_stream_spark.sources.synthetic import (
        generate_skewed_warehouse,
    )

    return generate_skewed_warehouse(
        spark, str(tmp_path_factory.mktemp("skewwh"))
    )


@contextlib.contextmanager
def _confs(spark, confs):
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q9_aqe_skew_split_fires_on_skewed_fixture(spark, skewed_wh):
    """VERDICT r10 item 3b: AQE skew-join splitting proven on the
    engine's own big-big join — q9's lineitem⋈orders — against a
    fixture where ONE orderkey owns ~50% of the fact table (the
    mega-basket).  Without the split, one task sorts and merges half
    the join single-threaded; with it, the hot partition divides along
    map-output boundaries and runs wide.  Results must be identical
    either way (the split is a physical re-plan, not a semantic one).
    Wall-clock evidence at larger scale: tools/skew_stress.py, PERF.md
    "Skew stress" section."""
    import io

    from spark_nifi_kafka_connected_device_stream_spark.operators.analytics import (
        q9_product_type_profit,
    )

    with _confs(spark, _SKEW_STRESS_CONFS):
        q = q9_product_type_profit(spark, skewed_wh)
        split_rows = [tuple(r) for r in q.collect()]
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        plan = buf.getvalue()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    with _confs(
        spark, {**_SKEW_STRESS_CONFS, "spark.sql.adaptive.skewJoin.enabled": "false"}
    ):
        plain_rows = [
            tuple(r) for r in q9_product_type_profit(spark, skewed_wh).collect()
        ]
    assert split_rows and split_rows == plain_rows


def test_salted_agg_bounds_hot_reducer_on_skewed_events(spark, skewed_wh):
    """VERDICT r10 item 3a on the skewed events fixture (~75% of rows
    in the 'hot' bucket).  Two pins, both box-noise-free:

    1. results: the registered salted/plain pair stays identical on
       truly skewed data, and the plan's phase-1 exchange partitions on
       (source_key, _salt) — the bounded-reducer shape.
    2. the straggler metric: the max reducer SHARE for an
       accumulator-style aggregate (where map-side combine does not
       shrink reducer input — collect_list/set, exact percentile) drops
       from the hot key's full mass to ~1/n_salts of it.  At 100 TB the
       max reducer share IS the straggler wall-clock; locally the plain
       algebraic agg stays faster (map-side combine collapses the hot
       key per task — measured honestly in PERF.md "Skew stress")."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events import (
        skew_hot_key_plain,
        skew_hot_key_salted,
    )
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import (
        load_table,
    )
    from spark_nifi_kafka_connected_device_stream_spark.sources.synthetic import (
        reducer_share,
    )

    salted_df = skew_hot_key_salted(spark, skewed_wh)
    # plan asserts BEFORE collect: execution flips the string to the
    # adaptive Initial+Final double-print and double-counts exchanges
    plan = explain_str(salted_df)
    assert "_salt" in plan  # phase 1 partitions on (key, salt)
    assert shuffle_count(salted_df) == 2

    plain = {tuple(r) for r in skew_hot_key_plain(spark, skewed_wh).collect()}
    salted = {tuple(r) for r in salted_df.collect()}
    assert plain == salted and len(plain) >= 2

    e = load_table(spark, skewed_wh, "events")
    keyed = e.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("hot"))
        .otherwise(F.col("event_type"))
        .alias("source_key"),
        "value",
    )
    share_plain = reducer_share(keyed, [F.col("source_key")])
    salt = F.pmod(F.abs(F.hash("source_key", "value")), F.lit(32))
    share_salted = reducer_share(keyed, [F.col("source_key"), salt])
    assert share_plain > 0.5, share_plain  # the hot key floods one reducer
    assert share_salted < 0.15, share_salted  # salting bounds it to ~1/n_salts


def test_global_primitives_reject_reserved_column_collisions(spark):
    """Round-16 review: chaining two global_running_sum passes used to
    produce an ambiguous duplicate _grand_total; the primitives now
    fail loud instead of silently clobbering helper columns."""
    import pytest

    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
        global_running_sum,
    )

    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    first = global_running_sum(
        df, order_cols=[F.col("id")], value_col="v", out_col="running_v"
    )
    assert "_grand_total" in first.columns
    with pytest.raises(ValueError, match="reserved helper"):
        global_running_sum(
            first, order_cols=[F.col("id")], value_col="v", out_col="r2"
        )
    # the documented recovery: drop the helpers between passes
    second = global_running_sum(
        first.drop("_grand_total"),
        order_cols=[F.col("id")],
        value_col="running_v",
        out_col="r2",
    )
    assert second.count() == 10


def test_salted_agg_ignores_map_columns_in_salt(spark):
    """Round-16 review: F.hash rejects MapType, and an irrelevant
    properties map must not break the whole salted aggregation."""
    from spark_nifi_kafka_connected_device_stream_spark.functions.scale import (
        salted_agg,
    )

    df = spark.range(100).selectExpr(
        "id % 3 AS k", "id AS v", "map('a', id) AS props"
    )
    out = {
        r["k"]: (r["n"], r["s"])
        for r in salted_agg(
            df, ["k"], {"n": (F.count(F.lit(1)), "sum"), "s": (F.sum("v"), "sum")}
        ).collect()
    }
    import pyspark.sql.functions as SF

    exact = {
        r["k"]: (r["n"], r["s"])
        for r in df.groupBy("k")
        .agg(SF.count(SF.lit(1)).alias("n"), SF.sum("v").alias("s"))
        .collect()
    }
    assert out == exact


def test_get_session_does_not_leak_pythonpath(spark):
    """Round-16 review: get_session must not permanently mutate the
    process environment (children of the host app would inherit the
    repo at the FRONT of PYTHONPATH forever)."""
    import os

    from spark_nifi_kafka_connected_device_stream_spark.session import get_session

    before = os.environ.get("PYTHONPATH")
    s = get_session(app_name="pythonpath-probe")  # getOrCreate -> same session
    assert s is not None
    assert os.environ.get("PYTHONPATH") == before
