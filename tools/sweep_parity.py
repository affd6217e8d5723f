"""Resumable full-registry Spark-vs-DuckDB parity sweep.

Replays the driver's correctness protocol (row count + sorted-column
value hash + DuckDB result-type stability) over EVERY registered query
at an arbitrary scale factor — the per-round divergence catcher the
driver itself can't afford (its window is 50 entries; the sf0.1 oracle
side alone runs >20 min because the quadratic similarity baselines
dominate).  Appends one JSON line per query to a results file and skips
names already present, so a killed run resumes where it stopped:

    python tools/sweep_parity.py --sf /root/testdata/sf0.1 \
        --out /tmp/sweep_sf01.jsonl

Run it from a cwd OUTSIDE the repo so Python workers exercise the
addPyFile shipping path, exactly like the driver does.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
# DuckDB types whose values the driver hashes pre-conversion — a query
# whose oracle returns one of these is driver-red even on equal values.
UNSTABLE = ("HUGEINT", "UHUGEINT", "DECIMAL", "[]", "STRUCT(", "MAP(")


def vhash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            v = round(v, 9)
        if hasattr(v, "isoformat"):
            v = v.isoformat()
        return repr(v)

    return hashlib.md5(
        "\n".join(
            sorted(",".join(norm(r[i]) for i in order) for r in rows)
        ).encode()
    ).hexdigest()


def main() -> int:
    sys.path.insert(0, REPO)
    from spark_nifi_kafka_connected_device_stream_spark.session import default_parallelism

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", required=True)
    ap.add_argument("--cpus", type=int, default=default_parallelism())
    ap.add_argument("--only", nargs="*", help="restrict to these queries")
    args = ap.parse_args()

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as e

    done = set()
    if os.path.exists(args.out):
        with open(args.out) as f:
            for line in f:
                try:
                    done.add(json.loads(line)["name"])
                except (ValueError, KeyError):
                    pass

    # a plain builder on purpose: it stands in for the external
    # driver's own session, which lacks session.get_session's defaults
    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "6g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf}/{t}.parquet'")

    qs, osql = e.queries(), e.oracle_sql()
    names = args.only or sorted(qs)
    n_bad = 0
    for name in names:
        if name in done:
            continue
        rec: dict = {"name": name, "sf": args.sf}
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf)
            srows = [tuple(r) for r in sdf.collect()]
            rec["rows"] = len(srows)
            if name in osql:
                rel = con.sql(osql[name])
                drows = rel.fetchall()
                rec["oracle_rows"] = len(drows)
                rec["unstable_types"] = [
                    str(t)
                    for t in rel.types
                    if any(m in str(t).upper() for m in UNSTABLE)
                ]
                rec["ok"] = (
                    len(srows) == len(drows)
                    and not rec["unstable_types"]
                    and vhash(sdf.columns, srows) == vhash(rel.columns, drows)
                )
            else:
                rec["ok"] = len(srows) >= 0  # rows-only check
                rec["no_oracle"] = True
        except Exception as exc:  # noqa: BLE001 — record and continue
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        rec["sec"] = round(time.time() - t0, 3)
        if not rec["ok"]:
            n_bad += 1
        with open(args.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        print(("OK  " if rec["ok"] else "BAD ") + name, rec["sec"], flush=True)
    print(f"SWEEP DONE bad={n_bad} checked={len(names) - len(done)}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
