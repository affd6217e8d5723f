"""Regenerate plans/golden.json, the plan-audit golden, from live plans.

Each registered query's physical plan is inspected with the same
helpers the plan tests use (plans/inspect.py) and its shuffle,
broadcast-join and pushed-filter counts are written to the golden's
`queries` map in registry order.  Queries no longer registered are
dropped; the `exceptions` list (worsened rows accepted with a
justification) is kept as it is.
tests/test_plans.py::test_plan_audit_golden_no_drift checks the live
plans against the result.

    python tools/regen_plan_audit.py              # all queries
    python tools/regen_plan_audit.py q1 q2 ...    # just these

Plans are built at sf0.001 (plan SHAPE does not depend on SF; AQE
runtime re-planning is not captured either way).  Iterative operators
whose final plan reads localCheckpoint blocks legitimately show 0
live exchanges.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"
GOLDEN = os.path.join(REPO, "plans", "golden.json")


def dump_golden(queries: dict[str, dict[str, int]], exceptions: list[dict[str, str]]) -> str:
    """One line per query and per exception, so a regen diff shows
    exactly the plans that moved."""
    rows = ",\n".join(f"    {json.dumps(q)}: {json.dumps(c)}" for q, c in queries.items())
    exc = ",\n".join(f"    {json.dumps(e)}" for e in exceptions)
    return f'{{\n  "queries": {{\n{rows}\n  }},\n  "exceptions": [\n{exc}\n  ]\n}}\n'


def main() -> int:
    sys.path.insert(0, REPO)
    from spark_nifi_kafka_connected_device_stream_spark.plans import audit_counts
    from spark_nifi_kafka_connected_device_stream_spark.registry import all_specs
    from spark_nifi_kafka_connected_device_stream_spark.session import get_session

    spark = get_session(app_name="regen_plan_audit", master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    specs = all_specs()
    only = set(sys.argv[1:]) or set(specs)
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    existing = golden["queries"]

    rows: dict[str, dict[str, int]] = {}
    n_new, n_changed = 0, 0
    for name, spec in specs.items():
        if name not in only and name in existing:
            rows[name] = existing[name]
            continue
        try:
            row = audit_counts(spec.fn(spark, SF))
        except Exception as exc:  # noqa: BLE001 — keep the old row
            print(f"SKIP {name}: {type(exc).__name__}: {exc}"[:200])
            row = existing.get(name, {"shuffles": 0, "broadcast_joins": 0, "pushed_filters": 0})
        if name not in existing:
            n_new += 1
        elif existing[name] != row:
            n_changed += 1
            print(f"CHANGED {name}: {existing[name]} -> {row}")
        rows[name] = row

    with open(GOLDEN, "w") as fh:
        fh.write(dump_golden(rows, golden["exceptions"]))
    print(f"plan-audit: {len(rows)} rows ({n_new} new, {n_changed} changed)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
