"""Semantic tests for the events tier: the oracle-parity suite
proves Spark == DuckDB on the same SQL; these prove the SQL means what
the docstrings claim, on crafted inputs with hand-computable answers.
(Consolidated from the round-numbered semantic batches — VERDICT r12
item 5: test files are tier-named to match the operator tree.)"""

from __future__ import annotations

import datetime  # noqa: F401

import pytest  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from tests.conftest import launched_jobs
from tests.semantics_fixtures import (  # noqa: F401
    BASE,
    DOCS_SCHEMA,
    EVENTS_SCHEMA,
    SF,
    write_docs,
    write_documents,
    write_events4,
    write_events6,
)


def _peak_with_oracle(session, sf):
    """events_peak_concurrency on a crafted sf_dir, and its registered
    DuckDB oracle SQL run over the same events file; both as one
    (n_sessions, peak_concurrency, peak_at_us) tuple."""
    import duckdb

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_peak_concurrency,
    )
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs

    (got,) = [tuple(r) for r in events_peak_concurrency(session, sf).collect()]
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    (want,) = con.sql(all_specs()["events_peak_concurrency"].oracle).fetchall()
    con.close()
    return got, want


def _base_us():
    """The fixtures' BASE instant as epoch micros (stored as UTC)."""
    return int(
        datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1_000_000
    )


def test_peak_concurrency_sweep_semantics(spark, tmp_path):
    """Three users: sessions [0s..100s], [50s..60s], [10000s..10000s].
    The first two overlap (peak 2, first reached at the 50s acquire);
    the third is alone."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_peak_concurrency,
    )

    sf = write_events4(
        spark,
        tmp_path,
        [
            (1, 0, 1, "view"),
            (2, 100, 1, "view"),
            (3, 50, 2, "view"),
            (4, 60, 2, "view"),
            (5, 10_000, 3, "view"),
        ],
    )
    row = events_peak_concurrency(spark, sf).collect()[0]
    assert row.n_sessions == 3
    assert row.peak_concurrency == 2
    # peak first reached when user 2's session opens at +50s — the
    # stored wall-instant is fixture-utc, matching ts_us
    assert row.peak_at_us == _base_us() + 50_000_000


def test_peak_concurrency_empty_events(spark, tmp_path):
    """No events: no sessions, and no peak or peak instant (NULL, as
    max() and min() over no rows are in the oracle)."""
    sf = write_events4(spark, tmp_path, [])
    got, want = _peak_with_oracle(spark, sf)
    assert got == want == (0, None, None)


def test_peak_concurrency_back_to_back_releases_first(spark, tmp_path):
    """User 1's session occupies [0s, 100s + 1µs), user 2's opens at
    100s + 1µs and occupies through 200s + 1µs, user 3's opens there.
    At each shared instant the release sorts before the acquire, so the
    sessions never overlap: the peak is 1, first reached at 0s.  (Were
    acquires first, it would be 2 at 100s + 1µs.)"""
    sf = write_events4(
        spark,
        tmp_path,
        [
            (1, 0, 1, "view"),
            (2, 100, 1, "view"),
            (3, 100.000001, 2, "view"),
            (4, 200, 2, "view"),
            (5, 200.000001, 3, "view"),
        ],
    )
    got, want = _peak_with_oracle(spark, sf)
    assert got == want == (3, 1, _base_us())


def test_peak_concurrency_tie_across_range_segments(spark, tmp_path):
    """211 sessions, 422 boundaries, 4 range segments.  Five background
    sessions open at 0s and stay open to 1200s; 200 one-event sessions
    follow one per second from 10s, each alone beside the background
    (6 open).  Two bursts of three simultaneous sessions reach
    5 + 3 = 8, at 70.5s (around boundary 127, the second segment) and
    at 180.5s (around boundary 351, the fourth).  The earliest boundary
    sits in the first segment, so the answer needs the offset carried
    across segments, and the tie must go to the earlier burst."""
    rows, eid, uid = [], 0, 0

    def session(*offsets):
        nonlocal eid, uid
        uid += 1
        for off in offsets:
            eid += 1
            rows.append((eid, off, uid, "view"))

    for _ in range(5):
        session(0, 1200)
    for i in range(200):
        session(10 + i)
    for burst in (70.5, 180.5):
        for _ in range(3):
            session(burst)
    sf = write_events4(spark, tmp_path, rows)

    session4 = spark.newSession()
    session4.conf.set("spark.sql.shuffle.partitions", "4")
    got, want = _peak_with_oracle(session4, sf)
    assert got == want == (211, 8, _base_us() + 70_500_000)


def test_peak_concurrency_construction_jobs(spark):
    """Building the query in a fresh session launches no Spark job once
    the events schema is read (that one job is the catalog's, paid once
    per session by whichever events query comes first), and executing
    it launches at most 6.  The sweep is one lineage: no checkpoint
    runs shuffle stages while the DataFrame is being built."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_peak_concurrency,
    )
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import load_table

    session = spark.newSession()
    load_table(session, SF, "events")
    df, jobs = launched_jobs(spark, lambda: events_peak_concurrency(session, SF))
    assert jobs == 0
    _, exec_jobs = launched_jobs(
        spark, lambda: df.write.format("noop").mode("overwrite").save()
    )
    assert exec_jobs <= 6


def test_debounce_burst_semantics(spark, tmp_path):
    """Events at 0/1/2s then 10s for one (user, type): one 3-event
    burst plus a singleton.  A second type is untouched."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sessions import (
        events_debounce_stats,
    )

    sf = write_events4(
        spark,
        tmp_path,
        [
            (1, 0, 1, "click"),
            (2, 1, 1, "click"),
            (3, 2, 1, "click"),
            (4, 10, 1, "click"),
            (5, 0, 1, "view"),
        ],
    )
    rows = {r.event_type: r for r in events_debounce_stats(spark, sf).collect()}
    c = rows["click"]
    assert (c.n_events, c.n_kept, c.n_dropped, c.max_burst_len) == (4, 2, 2, 3)
    v = rows["view"]
    assert (v.n_events, v.n_kept, v.n_dropped, v.max_burst_len) == (1, 1, 0, 1)


def test_hourly_acf_detects_period(spark, tmp_path):
    """A strict 2-hour on/off pattern (10 events in even hours, none in
    odd) must autocorrelate strongly positive at even lags and
    strongly negative at odd lags."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_hourly_acf,
    )

    rows = []
    eid = 0
    for hour in range(0, 96, 2):          # even hours on, 4 days
        for k in range(10):
            rows.append((eid, hour * 3600 + k * 60, 1, "view"))
            eid += 1
    # one lone event in the final (odd) hour so the grid spans it
    rows.append((eid, 95 * 3600, 2, "view"))
    sf = write_events4(spark, tmp_path, rows)
    acf = {
        (r.event_type, r.lag): r.acf
        for r in events_hourly_acf(spark, sf).collect()
    }
    # finite-sample ACF of the alternating series lands ~0.75 (mean
    # offset + the lone odd-hour event); the signal is the SIGN split
    assert acf[("view", 2)] > 0.6
    assert acf[("view", 1)] < -0.6
    assert acf[("view", 24)] > 0.6
    assert acf[("view", 3)] < -0.6
    assert acf[("view", 2)] - acf[("view", 1)] > 1.2


def test_interarrival_burstiness_metronome_is_minus_one(spark, tmp_path):
    """31 events at exactly 10s intervals: 30 gaps, sd=0, mean=10s —
    burstiness hits the machine-traffic pole B = −1 exactly."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_interarrival_burstiness,
    )

    sf = write_events4(
        spark,
        tmp_path,
        [(i, i * 10, 1, "view") for i in range(31)],
    )
    rows = events_interarrival_burstiness(spark, sf).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row.n_gaps == 30
    assert row.mean_gap_s == 10.0
    assert row.sd_gap_s == 0.0
    assert row.burstiness == -1.0


def test_interarrival_burstiness_min_gaps_filter(spark, tmp_path):
    """A type with fewer than 30 gaps is excluded from the report."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_interarrival_burstiness,
    )

    sf = write_events4(
        spark,
        tmp_path,
        [(i, i * 10, 1, "click") for i in range(5)],
    )
    assert events_interarrival_burstiness(spark, sf).count() == 0


def test_user_gini_hand_computed(spark, tmp_path):
    """user 1 → 1 event, user 2 → 3 events: ascending x = (1, 3),
    G = 2·(1·1 + 2·3)/(2·4) − 3/2 = 0.25.  A perfectly equal pair of
    users in a second type gives G = 0."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_user_gini,
    )

    rows = [(1, 0, 1, "view"), (2, 10, 2, "view"), (3, 20, 2, "view"), (4, 30, 2, "view")]
    rows += [(5, 40, 1, "click"), (6, 50, 2, "click")]
    sf = write_events4(spark, tmp_path, rows)
    out = {r.event_type: r for r in events_user_gini(spark, sf).collect()}
    assert out["view"].n_users == 2 and out["view"].n_events == 4
    assert out["view"].gini == 0.25
    assert out["click"].gini == 0.0


def test_cms_bound_holds_and_pins_heavy_keys(spark, tmp_path):
    """Three users with counts 40/30/5: with 1500 users' worth of
    headroom in a 4×2048 sketch there are no collisions, so every
    estimate is exact and within_bound is uniformly true; the audited
    key set is exactly the heavy users."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sketches import (
        events_cms_frequency_bound,
    )

    rows = (
        [(i, i, 1, "view") for i in range(40)]
        + [(100 + i, i, 2, "view") for i in range(30)]
        + [(200 + i, i, 3, "view") for i in range(5)]
    )
    sf = write_events4(spark, tmp_path, rows)
    out = events_cms_frequency_bound(spark, sf).collect()
    assert sorted(r.user_id for r in out) == [1, 2, 3]
    # r12 contract split: est >= true (deterministic) AND
    # est - true <= e*N/w (the actual probabilistic CMS bound)
    assert all(r.within_lower_bound for r in out)
    assert all(r.within_prob_bound for r in out)


def test_log2_histogram_bins_are_binary_digit_counts(spark, tmp_path):
    """Values 0.01/0.02/0.04 → cents 1/2/4 → bins 1/2/3; 2.56 → 256 →
    bin 9.  Bin edges are exact powers of two with no float log."""
    import datetime

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sketches import (
        events_value_log2_histogram,
    )

    base = datetime.datetime(2024, 1, 1)
    data = [
        (1, base, 1, "view", 0.01, "{}"),
        (2, base, 1, "view", 0.02, "{}"),
        (3, base, 1, "view", 0.04, "{}"),
        (4, base, 1, "view", 2.56, "{}"),
    ]
    spark.createDataFrame(
        data,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r.log2_bin: r for r in events_value_log2_histogram(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 9}
    assert out[9].min_value == 2.56 and out[9].n_events == 1


def test_theil_sen_shrugs_off_outlier_hour(spark, tmp_path):
    """A metronomic 2-events-per-hour series for 21 hours with ONE
    100-event outlier hour near the start: the Theil–Sen slope must be
    exactly 0 (most pairwise slopes are 0; outlier pairs are a
    minority), while the OLS slope is dragged non-zero by the spike.
    The TS-vs-OLS gap IS the outlier signal the docstring claims."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_theil_sen_trend,
    )

    rows = []
    eid = 0
    for h in range(21):
        n = 100 if h == 3 else 2
        for k in range(n):
            rows.append((eid, h * 3600 + k, 1, "view"))
            eid += 1
    sf_dir = write_events4(spark, tmp_path, rows)
    row = events_theil_sen_trend(spark, sf_dir).collect()[0]
    assert row.n_hours == 21 and row.n_pairs == 210
    assert row.ts_slope == 0.0
    assert row.ols_slope != 0.0
    assert row.ts_intercept == 2.0


def write_documents(spark, tmp_path, docs):
    df = spark.createDataFrame(
        docs,
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_forecast_backtest_perfect_daily_cycle(spark, tmp_path):
    """A perfectly 24h-periodic hourly series: the seasonal-naive error
    is exactly 0 (MASE 0), while the naive forecast pays for the two
    spike transitions per day."""
    import datetime as dt

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_forecast_backtest,
    )

    rows = []
    eid = 0
    t0 = dt.datetime(2024, 3, 1, 0, 0, 0)
    for h in range(48):
        n = 2 if h % 24 == 0 else 1
        for _ in range(n):
            eid += 1
            rows.append(
                (eid, t0 + dt.timedelta(hours=h), 1, "view", 1.0, "{}")
            )
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = events_forecast_backtest(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.event_type == "view"
    assert r.n_eval == 24
    # naive: |c(24)-c(23)| + |c(25)-c(24)| = 2 absolute errors of 1
    assert r.mae_naive == round(2 / 24, 6)
    assert r.mae_snaive == 0.0
    assert r.mase_snaive == 0.0


def test_bounce_rate_hand_computed(spark, tmp_path):
    """One bounce session and one 3-event session on the same epoch
    day: rate 0.5, mean 2.0; a second day with only the bounce: 1.0."""
    import datetime as dt

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sessions import (
        events_bounce_rate_daily,
    )

    t0 = dt.datetime(2024, 5, 1, 10, 0, 0)
    rows = [
        # user 1, day 0: 3 events within 30 min -> one session
        (1, t0, 1, "view", 1.0, "{}"),
        (2, t0 + dt.timedelta(minutes=5), 1, "click", 1.0, "{}"),
        (3, t0 + dt.timedelta(minutes=10), 1, "purchase", 1.0, "{}"),
        # user 2, day 0: single event -> bounce
        (4, t0 + dt.timedelta(hours=1), 2, "view", 1.0, "{}"),
        # user 2, day 1: single event -> bounce
        (5, t0 + dt.timedelta(days=1), 2, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {r.day: r for r in events_bounce_rate_daily(spark, str(tmp_path)).collect()}
    days = sorted(out)
    assert len(days) == 2 and days[1] == days[0] + 1
    d0, d1 = out[days[0]], out[days[1]]
    assert (d0.n_sessions, d0.n_bounces, d0.bounce_rate) == (2, 1, 0.5)
    assert d0.avg_events_per_session == 2.0
    assert (d1.n_sessions, d1.n_bounces, d1.bounce_rate) == (1, 1, 1.0)


def test_id_integrity_audit_finds_dups_and_holes(spark, tmp_path):
    """ids 1..10 with 3 missing and one duplicated: the single-row
    audit reports both defect classes from pure count algebra."""
    sf = write_events4(
        spark,
        tmp_path,
        [(i, i, 1, "view") for i in (1, 2, 4, 5, 7, 8, 10)] + [(2, 99, 2, "view")],
    )
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_id_integrity_audit,
    )

    r = events_id_integrity_audit(spark, sf).collect()[0]
    assert (r.n_rows, r.n_distinct, r.min_id, r.max_id) == (8, 7, 1, 10)
    assert r.n_dup_rows == 1
    assert r.n_missing_ids == 3  # ids 3, 6, 9


def test_impute_median_hand_computed(spark, tmp_path):
    """event_id 97 is masked; observed values {10, 20, 40} impute their
    median 20, and the post-impute mean moves from 70/3 to 90/4."""
    import datetime as dt

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_value_impute_median,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, 1, "view", 10.0, "{}"),
        (2, t0, 1, "view", 20.0, "{}"),
        (3, t0, 1, "view", 40.0, "{}"),
        (97, t0, 1, "view", 999.0, "{}"),   # masked: value ignored
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    r = events_value_impute_median(spark, str(tmp_path)).collect()[0]
    assert (r.n_events, r.n_imputed) == (4, 1)
    assert r.imputed_value == 20.0
    assert r.mean_before == round(70 / 3, 6)
    assert r.mean_after == 22.5


def test_markov_stationary_two_state_chain(spark, tmp_path):
    """Repeating A A A B per user: P(A->A)=2/3, P(B->A)=1 — true
    stationary (0.75, 0.25); five power rounds from uniform land within
    the |lambda_2|^5 = 3^-5 convergence envelope and conserve mass."""
    rows = []
    eid = 0
    for rep in range(10):
        for t in ("view", "view", "view", "click"):
            rows.append((eid, eid * 10, 7, t))
            eid += 1
    sf = write_events4(spark, tmp_path, rows)
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sessions import (
        events_markov_stationary,
    )

    out = {r.event_type: r for r in events_markov_stationary(spark, sf).collect()}
    assert set(out) == {"view", "click"}
    assert abs(out["view"].pi - 0.75) < 0.002
    assert abs(out["click"].pi - 0.25) < 0.002
    total = out["view"].pi_scaled + out["click"].pi_scaled
    assert 0 <= 1_000_000_000_000 - total <= 50  # floor losses only


def _markov_with_oracle(spark, sf):
    """events_markov_stationary on a crafted sf_dir, and its registered
    DuckDB oracle SQL run over the same events file; both as sorted
    (event_type, pi_scaled, pi) tuples."""
    import duckdb

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sessions import (
        events_markov_stationary,
    )
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs

    got = sorted(
        (r.event_type, r.pi_scaled, r.pi)
        for r in events_markov_stationary(spark, sf).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet/*.parquet'"
    )
    want = sorted(con.sql(all_specs()["events_markov_stationary"].oracle).fetchall())
    con.close()
    return got, want


def test_markov_stationary_null_type_counts_in_k_but_never_joins(spark, tmp_path):
    """view, click, NULL, view, click, view, NULL, click: the NULL type
    emits (NULL->view, NULL->click), so it is one of k = 3 uniform
    starting types, but its third of the mass never joins an edge and
    no NULL key reaches the result.  Edges into NULL are dropped."""
    seq = ("view", "click", None, "view", "click", "view", None, "click")
    sf = write_events4(spark, tmp_path, [(i, i * 10, 7, t) for i, t in enumerate(seq)])
    got, want = _markov_with_oracle(spark, sf)
    assert got == want
    assert {t for t, _, _ in got} == {"view", "click"}
    total = sum(p for _, p, _ in got)
    assert 0 <= 2 * 1_000_000_000_000 // 3 - total <= 50  # floor losses only


def test_markov_stationary_not_strongly_connected(spark, tmp_path):
    """src -> mid -> view <-> click: `src` only emits and `mid` is
    reached only from it.  As in the oracle's inner join + GROUP BY, a
    type is in round i only if an edge from a round i-1 type reaches
    it, so `src` leaves after round 0 and `mid` after round 1 — they
    are absent from the result, not present with 0."""
    seq = ("src", "mid", "view", "click", "view", "click")
    sf = write_events4(spark, tmp_path, [(i, i * 10, 3, t) for i, t in enumerate(seq)])
    got, want = _markov_with_oracle(spark, sf)
    assert got == want
    assert {t for t, _, _ in got} == {"view", "click"}


def test_markov_stationary_construction_jobs(spark):
    """Building the query in a fresh session launches at most 4 Spark
    jobs: the events schema read and the eager checkpoint of the
    transition counts.  The power rounds run inside one SQL fold at
    execution, not one checkpoint job per round."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sessions import (
        events_markov_stationary,
    )

    session = spark.newSession()
    df, jobs = launched_jobs(spark, lambda: events_markov_stationary(session, SF))
    assert jobs <= 4
    assert df.count() > 0


def test_hill_tail_index_constructed(spark, tmp_path):
    """100 tail values at e times the 101st order statistic: every
    log-excess is exactly 1, so alpha = 1 (the pathologically heavy
    pole) and mean_log_excess = 1."""
    import datetime as dt
    import math

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_hill_tail_index,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, t0, 1, "view", math.e, "{}") for i in range(100)]
    rows.append((100, t0, 1, "view", 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    r = events_hill_tail_index(spark, str(tmp_path)).collect()[0]
    assert r.n_tail == 100
    assert r.mean_log_excess == 1.0
    assert r.hill_alpha == 1.0


def test_lorenz_curve_monotone_and_sums(spark, tmp_path):
    """20 users with counts 1..20 for one type: decile cells hold 2
    users each, cumulative share is monotone and ends at exactly 1."""
    rows = []
    eid = 0
    for u in range(1, 21):
        for _ in range(u):
            rows.append((eid, eid, u, "view"))
            eid += 1
    sf = write_events4(spark, tmp_path, rows)
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_lorenz_curve,
    )

    out = sorted(events_lorenz_curve(spark, sf).collect(), key=lambda r: r.decile)
    assert [r.n_users for r in out] == [2] * 10
    shares = [r.cum_event_share for r in out]
    assert all(b > a for a, b in zip(shares, shares[1:]))
    assert shares[-1] == 1.0
    # decile 1 holds users 1+2 of 210 total events
    assert out[0].n_events == 3
    assert shares[0] == round(3 / 210, 6)


def test_kmv_exact_when_k_equals_cardinality_region(spark, tmp_path):
    """Sanity on crafted users: estimate is (k-1)*2^32/h_k by
    definition; verify against a Python replication of the same md5
    pipeline, and that rel_err is the exact signed error."""
    import hashlib

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sketches import (
        _KMV_K,
        events_kmv_distinct_users,
    )

    users = list(range(1, 40))
    sf = write_events4(
        spark, tmp_path, [(u, u, u, "view") for u in users]
    )
    hashes = sorted(
        int(hashlib.md5(str(u).encode()).hexdigest()[:8], 16) for u in users
    )
    hk = hashes[_KMV_K - 1]
    want = (_KMV_K - 1) * 4294967296.0 / hk
    r = events_kmv_distinct_users(spark, sf).collect()[0]
    assert r.n_exact == len(users)
    assert abs(r.kmv_estimate - want) < 1e-5
    assert abs(r.rel_err - (want - len(users)) / len(users)) < 1e-5


def test_fano_dispersion_hand_computed(spark, tmp_path):
    """Daily counts 2, 4, 6: mean 4, sample variance 4, Fano = 1.0; a
    constant series has Fano 0."""
    rows = []
    eid = 0
    day = 86_400
    for d, c in ((0, 2), (1, 4), (2, 6)):
        for _ in range(c):
            rows.append((eid, d * day + 60, 1, "view"))
            eid += 1
    for d in range(3):
        for _ in range(5):
            rows.append((eid, d * day + 120, 1, "click"))
            eid += 1
    sf = write_events4(spark, tmp_path, rows)
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_fano_dispersion,
    )

    out = {r.event_type: r for r in events_fano_dispersion(spark, sf).collect()}
    v = out["view"]
    assert (v.n_days, v.n_events, v.mean_daily) == (3, 12, 4.0)
    assert v.fano_factor == 1.0
    c = out["click"]
    assert c.fano_factor == 0.0


def test_pettitt_finds_constructed_level_shift(spark, tmp_path):
    """Hourly counts 1/hour for 48h then 20/hour for 48h: the split
    must land at the boundary hour and clear the 95% threshold."""
    rows = []
    eid = 0
    for h in range(96):
        n = 1 if h < 48 else 20
        for k in range(n):
            rows.append((eid, h * 3600 + k, 1, "view"))
            eid += 1
    sf = write_events4(spark, tmp_path, rows)
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_pettitt_changepoint,
    )

    r = events_pettitt_changepoint(spark, sf).collect()[0]
    assert r.n_hours == 96
    assert r.significant_95 == 1
    # argmax of |U_t| sits at the last pre-shift hour (t = 48), whose
    # epoch hour is the series start + 47
    base_h = 473352  # epoch hours of 2024-01-01 (= _write_events base)
    assert r.change_at_hour == base_h + 47


def test_transition_entropy_deterministic_vs_coinflip(spark, tmp_path):
    """User 1 strictly alternates a->b->a->b (deterministic: 0 bits
    from each state).  User 2 goes c->a and c->b equally (1 bit from
    state c)."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sessions import (
        events_transition_entropy,
    )

    rows = []
    eid = 0
    for i, t in enumerate(["a", "b", "a", "b", "a"]):
        rows.append((eid, i, 1, t, 1.0, "{}"))
        eid += 1
    # user 2: c->a, then (new arrival at c) c->b: sequence c a c b
    for i, t in enumerate(["c", "a", "c", "b"]):
        rows.append((eid, 100 + i, 2, t, 1.0, "{}"))
        eid += 1
    sf = write_events6(spark, tmp_path, rows)
    got = {
        r.from_type: (r.n_transitions, r.row_entropy_bits)
        for r in events_transition_entropy(spark, sf).collect()
    }
    # a->b twice and a->c once for user2's "a c" hop: user2 seq c,a,c,b
    # gives transitions c->a, a->c, c->b; user1 gives a->b x2, b->a x2
    assert got["b"] == (2, 0.0)  # b -> a always
    assert got["c"] == (2, 1.0)  # c -> a / c -> b coin flip
    # a: a->b twice (user1), a->c once (user2): H(2/3,1/3) = 0.918296
    n, h = got["a"]
    assert n == 3 and abs(h - 0.918296) < 1e-6


def test_xcorr_peaks_at_the_planted_lag(spark, tmp_path):
    """purchase volume = view volume shifted +3 hours: the CCF must
    peak at lag +3 and dominate every other lag."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        events_xcorr_view_purchase,
    )

    pattern = [5, 1, 4, 2, 8, 3, 7, 1, 6, 2, 9, 4]  # 12 hourly counts
    rows, eid = [], 0
    for h, n in enumerate(pattern):
        for _ in range(n):
            rows.append((eid, h * 3600, 1, "view", 1.0, "{}"))
            eid += 1
        for _ in range(n):
            rows.append((eid, (h + 3) * 3600, 1, "purchase", 1.0, "{}"))
            eid += 1
    sf = write_events6(spark, tmp_path, rows)
    xc = {r.lag: r.xcorr for r in events_xcorr_view_purchase(spark, sf).collect()}
    assert xc[3] == max(xc.values())
    # full-series CCF normalization includes the zero-padded grid
    # tails, so a perfect shift lands ~0.71 here, not 1.0
    assert xc[3] > 0.6
    assert all(xc[3] > xc[lag] + 0.2 for lag in xc if lag != 3)


def test_quantile_sketch_bound_holds_on_crafted_values(spark, tmp_path):
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_sketches import (
        events_quantile_sketch_bound,
    )

    rows = [(i, i, 1, "view", float(i % 100), "{}") for i in range(1000)]
    sf = write_events6(spark, tmp_path, rows)
    got = {r.phi: r.within_bound for r in events_quantile_sketch_bound(spark, sf).collect()}
    assert got == {0.25: True, 0.5: True, 0.75: True, 0.95: True}


def test_weekly_growth_accounting_journeys(spark, tmp_path):
    """Crafted user journeys pinning all four growth states: A active
    weeks 0,1 (retained in 1); B active week 0 only (churned in 1);
    C first seen week 1 (new); D active weeks 0 and 2 (resurrected in
    2, NOT counted churned beyond week 1).  Weeks are epoch-week
    indexes; the fixture uses epoch-aligned timestamps."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_weekly_growth_accounting,
    )

    WEEK = 7 * 24 * 3600
    rows = []
    eid = 0
    for user, weeks in ((1, (0, 1)), (2, (0,)), (3, (1,)), (4, (0, 2))):
        for w in weeks:
            eid += 1
            rows.append((eid, w * WEEK + 3600, user, "view"))
    sf = write_events4(spark, tmp_path, rows)
    got = {
        r.week_idx: (r.n_new, r.n_retained, r.n_resurrected, r.n_churned)
        for r in events_weekly_growth_accounting(spark, sf).collect()
    }
    base_week = (int(datetime.datetime(
        2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) + 3600) // WEEK
    # fixture BASE is 2024-01-01; offsets keep every event inside the
    # same epoch week regardless of the +3600 skew
    assert got == {
        base_week + 0: (3, 0, 0, 0),      # A, B, D all new
        base_week + 1: (1, 1, 0, 2),      # C new; A retained; B and D churned
        base_week + 2: (0, 0, 1, 2),      # D resurrected; A and C churned
    }


def test_interval_integrity_single_violation_classes(spark, tmp_path):
    """Each injected-violation class in scd2_interval_integrity_audit
    must fire ALONE: the fixture derives a store from custkeys chosen
    so exactly one of {overlap, gap, double-open} applies per key (the
    registered query's %7/%17/%19/%23 rules on keys 7, 17, 19, 23 and
    a clean key 1)."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.scd import (
        scd2_interval_integrity_audit,
    )

    data = [
        (k, f"c{k}", 1, 0.0, "AUTO") for k in (1, 17, 19, 23)
    ]
    spark.createDataFrame(
        data,
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    row = scd2_interval_integrity_audit(spark, str(tmp_path)).collect()[0]
    # key 1: clean single open row.  key 17: open row 2023- + closed
    # 2022-06..2023-06 overlapping it -> overlap.  key 19: closed
    # 2021-01..2021-06 then open 2023- -> gap.  key 23: two open rows —
    # that is BOTH a bad open count AND an overlap (any row after an
    # open row overlaps it, per the classifier's documented rule).
    assert row.n_keys == 4
    assert row.keys_with_overlap == 2   # keys 17 and 23
    assert row.keys_with_gap == 1       # key 19
    assert row.keys_bad_open_count == 1  # key 23 (two opens)
    assert row.keys_clean == 1          # key 1


def test_incident_attribution_blast_radius(spark, tmp_path):
    """Crafted incident: one hot 5-minute window plus satellites just
    inside and just outside the ±2-minute blast radius — the range
    join must count the inside events and exclude the outside ones."""
    from spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement import (
        events_incident_window_attribution,
    )

    MIN = 60
    rows = []
    eid = 0
    # the incident: 10 purchases inside [10:00, 10:05) (offset 36000s)
    for s in range(10):
        eid += 1
        rows.append((eid, 36000 + s * 20, 1, "purchase"))
    # inside the blast radius: 09:58:30 (-90s) and 10:06:30 (+90s past end)
    eid += 1; rows.append((eid, 36000 - 90, 2, "view"))
    eid += 1; rows.append((eid, 36000 + 5 * MIN + 90, 3, "view"))
    # OUTSIDE: 09:57:30 (-150s) and 10:07:30 (+150s past end)
    eid += 1; rows.append((eid, 36000 - 150, 4, "click"))
    eid += 1; rows.append((eid, 36000 + 5 * MIN + 150, 5, "click"))
    sf = write_events4(spark, tmp_path, rows)
    out = events_incident_window_attribution(spark, sf)
    got = {
        (r.window_start[11:16], r.event_type): r.n_events for r in out.collect()
    }
    # with <= 10 non-empty windows every window is "top": restrict to
    # the hot one (10:00) — its attribution must include the two
    # inside-radius views and exclude the outside clicks
    hot = {k[1]: v for k, v in got.items() if k[0] == "10:00"}
    assert hot == {"purchase": 10, "view": 2}


def test_holt_forecast_matches_python_recursion(spark, tmp_path):
    """Independent cross-check of the 2-state Holt recursion: a crafted
    12-hour linear series, recomputed in plain Python with the same
    constants — level/trend/forecast must match the applyInPandas path
    exactly at the shared 4-decimal rounding, and on a perfect line the
    one-step forecast converges to the true next value."""
    import datetime as _dt

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        HOLT_ALPHA,
        HOLT_BETA,
        events_holt_forecast_hourly,
    )

    base = _dt.datetime(2024, 1, 1)
    data = [
        (h + 1, base + _dt.timedelta(hours=h), 1, "view", float(h + 1), "{}")
        for h in range(12)
    ]
    spark.createDataFrame(
        data,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = {
        r.hour: (r.level, r.trend, r.forecast_next)
        for r in events_holt_forecast_hourly(spark, str(tmp_path)).collect()
    }

    def r4(v):
        import math
        return math.floor(v * 10000.0 + 0.5) / 10000.0

    xs = [float(h + 1) for h in range(12)]
    l, b = xs[0], 0.0
    expected = {}
    for i, x in enumerate(xs):
        if i > 0:
            l_new = HOLT_ALPHA * x + (1.0 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (l_new - l) + (1.0 - HOLT_BETA) * b
            l = l_new
        hour = (base + _dt.timedelta(hours=i)).strftime("%Y-%m-%d %H:%M:%S")
        expected[hour] = (r4(l), r4(b), r4(l + b))
    assert got == expected
    # on a perfect line the forecast converges to truth: the final
    # one-step forecast must be within 0.2 of the true next value (13)
    last = max(got)
    assert abs(got[last][2] - 13.0) < 0.2


def test_watermark_lateness_audit_python_replication(spark, tmp_path):
    """Full-pipeline replication in pure Python on a crafted log: the
    md5-delay model, arrival-order running max, lateness counts and
    drop count must all match a from-scratch reimplementation (the
    percentile columns are exercised by the oracle parity sweep; here
    the integer columns are pinned bit-exactly)."""
    import hashlib

    from spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries import (
        DELAY_MAX_US,
        WATERMARK_AUDIT_US,
        events_watermark_lateness_audit,
    )
    from tests.semantics_fixtures import write_events4

    rows = [(i, i * 60, i % 5, "view") for i in range(200)]  # 1/min, in order
    sf = write_events4(spark, tmp_path, rows)

    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import load_table

    ev = {
        r["event_id"]: r["ts_us"]
        for r in load_table(spark, sf, "events").select("event_id", "ts_us").collect()
    }

    def u32(key: str) -> int:
        return int(hashlib.md5(key.encode()).hexdigest()[:8], 16)

    arr = sorted(
        ((ts + u32(f"late:{eid}") % DELAY_MAX_US, eid, ts) for eid, ts in ev.items())
    )
    mx, n_late, max_late, n_drop = -1, 0, 0, 0
    for _, _, ts in arr:
        mx = max(mx, ts)
        late = mx - ts
        n_late += late > 0
        max_late = max(max_late, late)
        n_drop += late > WATERMARK_AUDIT_US
    assert n_late > 0  # the delay model must actually reorder this log

    got = events_watermark_lateness_audit(spark, sf).collect()[0]
    assert got["n_events"] == len(rows)
    assert got["n_late"] == n_late
    assert got["max_lateness_us"] == max_late
    assert got["n_dropped_at_5m"] == n_drop
