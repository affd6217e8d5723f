"""Scale evidence for the union-window AS-OF join encoding (round 15).

join_asof_device_state resolves "latest state at-or-before each probe"
by union-tagging state and probe rows and running ONE last-non-null
window over (key, time) — a single shuffle, linear per-row state.  The
naive relational encoding is the inequality join + argmax the oracle
SQL spells (probes ⋈ state ON key AND s.ts <= p.ts, GROUP BY probe,
max(s.ts)), whose intermediate multiplies every probe by ALL its prior
states — candidate count grows with per-key state-history length, the
classic quadratic range-join failure.  This tool measures both on a
synthetic log large enough for the difference to be structural,
verifies they agree row-for-row, and writes
artifacts/asof_stress_r15.json:

    python tools/asof_stress.py --rows 5000000 --keys 50000
"""
from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=5_000_000)
    ap.add_argument("--keys", type=int, default=50_000)
    ap.add_argument("--state-share", type=float, default=0.5,
                    help="fraction of rows that are state snapshots")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "artifacts", "asof_stress_r15.json"))
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from bench import timed_runs
    from spark_nifi_kafka_connected_device_stream_spark.session import get_session

    spark = get_session(app_name="asof_stress")
    spark.sparkContext.setLogLevel("ERROR")

    # synthetic interleaved log: ~rows/keys events per key with a
    # deterministic pseudo-random time order; `state_share` of rows are
    # state snapshots (so each probe has ~half its key's history as
    # prior-state candidates — the quadratic regime for the naive form)
    cut = int(args.state_share * 1_000_000)
    log = (
        spark.range(args.rows)
        .select(
            (F.col("id") % args.keys).alias("k"),
            ((F.col("id") * 2654435761) % 1_000_000_000).alias("ts"),
            (((F.col("id") * 40503) % 1_000_000) < cut).alias("is_state"),
            F.col("id").alias("rid"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    log.createOrReplaceTempView("a_log")

    engine_sql = """
      WITH tagged AS (
        SELECT k, ts, rid, is_state,
               CASE WHEN is_state THEN ts END AS s_ts
        FROM a_log
      ), resolved AS (
        SELECT k, ts, rid, is_state,
               last(s_ts, true) OVER (
                 PARTITION BY k ORDER BY ts ASC, is_state DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS state_ts
        FROM tagged
      )
      SELECT k, rid, coalesce(state_ts, -1) AS state_ts
      FROM resolved WHERE NOT is_state
    """
    naive_sql = """
      WITH probes AS (
        SELECT k, ts, rid FROM a_log WHERE NOT is_state
      ), state AS (
        SELECT k, ts FROM a_log WHERE is_state
      )
      SELECT p.k, p.rid,
             coalesce(max(s.ts), -1) AS state_ts
      FROM probes p LEFT JOIN state s
        ON s.k = p.k AND s.ts <= p.ts
      GROUP BY p.k, p.rid, p.ts
    """

    t_engine, t_naive = (
        round(min(timed_runs(
            lambda: spark.sql(sql).write.format("noop").mode("overwrite").save(),
            args.runs,
        )), 3)
        for sql in (engine_sql, naive_sql)
    )

    # correctness: both encodings must agree row-for-row.  (Synthetic
    # ts values can collide within a key; the window form counts a
    # same-instant state as prior — same as the naive <= — because
    # is_state DESC sorts it first.  Colliding STATE rows per (k, ts)
    # resolve to the same max ts either way, so rows still agree.)
    diff = spark.sql(engine_sql).exceptAll(spark.sql(naive_sql)).limit(1).count()

    out = {
        "rows": args.rows,
        "keys": args.keys,
        "state_share": args.state_share,
        "runs": args.runs,
        "engine_union_window_sec": t_engine,
        "naive_range_join_sec": t_naive,
        "speedup": round(t_naive / t_engine, 2),
        "results_identical": diff == 0,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0 if diff == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
