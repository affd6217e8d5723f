"""Scale evidence for the GROUPS-frame composition (round 14).

window_groups_frames encodes GROUPS BETWEEN 1 PRECEDING AND CURRENT
ROW as dense_rank + RANGE over the rank — one shuffle, one sort, a
two-pointer frame pass.  The naive encoding is a self-join on
(key, rank BETWEEN rank-1 AND rank), which multiplies candidates by
the average peer-group size and shuffles the fact table twice.  This
tool measures both on a synthetic orders table large enough for the
difference to be structural rather than noise, verifies they agree
row-for-row, and writes artifacts/groups_stress_r14.json:

    python tools/groups_stress.py --rows 5000000 --customers 100000
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
    ap.add_argument("--customers", type=int, default=100_000)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--out", default=os.path.join(REPO, "artifacts", "groups_stress_r14.json"))
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    from pyspark.sql import functions as F

    from bench import timed_runs
    from spark_nifi_kafka_connected_device_stream_spark.session import get_session

    spark = get_session(app_name="groups_stress")
    spark.sparkContext.setLogLevel("ERROR")

    # synthetic orders: ~rows/customers orders per customer, dates
    # clustered so every (customer, date) group has ~2-3 peers — the
    # regime where GROUPS differs from both ROWS and RANGE-interval
    o = (
        spark.range(args.rows)
        .select(
            (F.col("id") % args.customers).alias("custkey"),
            # ~20 distinct dates per customer, 2-3 orders per date
            ((F.col("id") * 2654435761) % 20).alias("day"),
            ((F.col("id") * 40503) % 100_000).cast("bigint").alias("cents"),
            F.col("id").alias("okey"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    o.createOrReplaceTempView("g_orders")

    engine_sql = """
      WITH r AS (
        SELECT custkey, okey, cents,
               dense_rank() OVER (PARTITION BY custkey ORDER BY day) AS dr
        FROM g_orders
      )
      SELECT custkey, okey,
             CAST(sum(cents) OVER (PARTITION BY custkey ORDER BY dr
               RANGE BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s
      FROM r
    """
    naive_sql = """
      WITH r AS (
        SELECT custkey, okey, cents,
               dense_rank() OVER (PARTITION BY custkey ORDER BY day) AS dr
        FROM g_orders
      )
      SELECT a.custkey, a.okey, CAST(sum(b.cents) AS BIGINT) AS s
      FROM r a JOIN r b
        ON a.custkey = b.custkey AND b.dr BETWEEN a.dr - 1 AND a.dr
      GROUP BY a.custkey, a.okey
    """

    t_engine, t_naive = (
        round(min(timed_runs(
            lambda: spark.sql(sql).write.format("noop").mode("overwrite").save(),
            args.runs,
        )), 3)
        for sql in (engine_sql, naive_sql)
    )

    # correctness: both forms must agree row-for-row
    diff = (
        spark.sql(engine_sql)
        .exceptAll(spark.sql(naive_sql))
        .limit(1)
        .count()
    )

    out = {
        "rows": args.rows,
        "customers": args.customers,
        "runs": args.runs,
        "engine_dense_rank_range_sec": t_engine,
        "naive_self_join_sec": t_naive,
        "speedup": round(t_naive / t_engine, 2),
        "results_identical": diff == 0,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    return 0 if diff == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
