"""Expected results of the batch workload's queries.

    python3 perfbench/oracles.py

Runs each query's DuckDB oracle (`registry` spec `.oracle`) over the
fixture tables in `perfbench/data/sf0.01` and stores the normalised,
order-insensitive row set (the oracle-parity test's normal form) with
the sorted column names in `perfbench/data/oracles-sf0.01.json`.  The
benchmark compares against that file, so a run needs no DuckDB.
Re-run this only when the query set or a query's oracle changes.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF_DIR = os.path.join(HERE, "data", "sf0.01")
ORACLES = os.path.join(HERE, "data", "oracles-sf0.01.json")


def normal_form(columns, rows) -> dict:
    """Sorted column names and the normalised row set, as JSON values."""
    from tests.test_oracle_parity import _rowset

    return json.loads(json.dumps({"columns": sorted(columns), "rows": _rowset(rows, columns)}))


def load() -> dict:
    with open(ORACLES) as fh:
        return json.load(fh)


def main() -> None:
    sys.path[:0] = [ROOT, HERE]
    import duckdb
    from batch import QUERIES

    from spark_nifi_kafka_connected_device_stream_spark import registry
    from spark_nifi_kafka_connected_device_stream_spark.sources import catalog

    specs = registry.all_specs()
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    out = {}
    for q in sorted(QUERIES):
        rel = con.sql(specs[q].oracle)
        out[q] = normal_form(rel.columns, rel.fetchall())
        print(f"{q}: {len(out[q]['rows'])} rows", file=sys.stderr)
    with open(ORACLES, "w") as fh:
        json.dump(out, fh, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
