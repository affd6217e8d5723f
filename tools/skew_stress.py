"""Skew stress harness (VERDICT r10 item 3) — wall-clock evidence for
PERF.md's "Skew stress" section.

The driver fixtures are uniform, so the per-round bench can never show
the skew machinery working.  This tool generates the deterministic
skewed warehouse (sources/synthetic.py: one orderkey and one user at
~50% of their fact tables), then measures:

1. q9_product_type_profit (the big-big lineitem⋈orders shuffle join)
   with AQE skew splitting ON vs OFF — the hot partition otherwise
   sort-merges ~50% of the join in ONE task.
2. The registered salted/plain aggregation pair on the skewed events —
   reported honestly (map-side combine collapses the hot key per task,
   so plain usually WINS locally for algebraic aggs) together with the
   box-noise-free straggler metric: max reducer share of an
   accumulator-style aggregate's input (plain keying vs salted keying).

Usage: python tools/skew_stress.py [--rows 4800000] [--dir /tmp/skew_stress]
Prints one JSON line.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import timed_runs
from spark_nifi_kafka_connected_device_stream_spark.session import default_parallelism, get_session

SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    # AQE splits along map-output boundaries: keep many mappers
    "spark.sql.files.maxPartitionBytes": "16MB",
    "spark.sql.files.openCostInBytes": "1MB",
}


@contextlib.contextmanager
def confs(spark, pairs):
    saved = {k: spark.conf.get(k, None) for k in pairs}
    for k, v in pairs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def best_of(fn):
    return round(min(timed_runs(fn, 2)), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_800_000)
    ap.add_argument("--dir", default="/tmp/skew_stress")
    args = ap.parse_args()

    spark = get_session(app_name="skew-stress", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    from spark_nifi_kafka_connected_device_stream_spark.operators.analytics import (
        q9_product_type_profit,
    )
    from spark_nifi_kafka_connected_device_stream_spark.operators.events import (
        skew_hot_key_plain,
        skew_hot_key_salted,
    )
    from spark_nifi_kafka_connected_device_stream_spark.sources.catalog import load_table
    from spark_nifi_kafka_connected_device_stream_spark.sources.synthetic import (
        generate_skewed_warehouse,
        reducer_share,
    )

    d = generate_skewed_warehouse(
        spark,
        args.dir,
        lineitem_rows=args.rows,
        events_rows=args.rows,
        orders_rows=max(8_000, args.rows // 30),
    )

    out = {"rows": args.rows, "cpus": default_parallelism()}

    # --- 1. the skewed big-big join, AQE skew split on vs off ---
    # each timed run builds a FRESH DataFrame: re-collecting one df
    # reuses its materialized AQE query stages and times ~nothing
    with confs(spark, SKEW_CONFS):
        out["q9_skew_split_on_s"] = best_of(
            lambda: q9_product_type_profit(spark, d).collect()
        )
        q = q9_product_type_profit(spark, d)
        rows_on = {tuple(r) for r in q.collect()}
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            q.explain()
        out["q9_skew_fired"] = "skew=true" in buf.getvalue()
    with confs(spark, {**SKEW_CONFS, "spark.sql.adaptive.skewJoin.enabled": "false"}):
        out["q9_skew_split_off_s"] = best_of(
            lambda: q9_product_type_profit(spark, d).collect()
        )
        rows_off = {tuple(r) for r in q9_product_type_profit(spark, d).collect()}
    out["q9_results_identical"] = rows_on == rows_off
    out["q9_speedup_x"] = round(
        out["q9_skew_split_off_s"] / max(out["q9_skew_split_on_s"], 1e-9), 2
    )

    # --- 2. the aggregation pair + straggler metric ---
    out["agg_plain_s"] = best_of(lambda: skew_hot_key_plain(spark, d).collect())
    out["agg_salted_s"] = best_of(lambda: skew_hot_key_salted(spark, d).collect())
    e = load_table(spark, d, "events")
    keyed = e.select(
        F.when(F.col("user_id") % 2 == 0, F.lit("hot"))
        .otherwise(F.col("event_type"))
        .alias("source_key"),
        "value",
    )
    out["accumulator_max_reducer_share_plain"] = round(
        reducer_share(keyed, [F.col("source_key")]), 4
    )
    salt = F.pmod(F.abs(F.hash("source_key", "value")), F.lit(32))
    out["accumulator_max_reducer_share_salted"] = round(
        reducer_share(keyed, [F.col("source_key"), salt]), 4
    )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
