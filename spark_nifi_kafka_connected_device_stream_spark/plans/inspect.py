"""Physical-plan inspection — the scale-posture feedback loop.

The build mandate: after each operator works, `.explain("formatted")`
the plan and iterate until it's the plan you'd WANT at 100 TB.  These
helpers turn that into assertions (tests/test_plans.py):

- filters reached the parquet scan (PushedFilters),
- scans read only the projected columns (ReadSchema),
- dimension joins went broadcast (BroadcastHashJoin),
- no more shuffles than the plan needs (Exchange count).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter expressions that reached a parquet scan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_columns(df: DataFrame) -> list[list[str]]:
    """Per-scan column lists actually read from parquet (ReadSchema)."""
    text = explain_str(df)
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        body = m.group(1)
        cols = [c.split(":")[0].strip() for c in body.split(",") if c.strip()]
        scans.append(cols)
    return scans


def broadcast_join_count(df: DataFrame) -> int:
    return explain_str(df).count("BroadcastHashJoin")


def shuffle_count(df: DataFrame) -> int:
    """Exchange operators in the plan (each is a full shuffle of its
    input — the thing to minimize).  Uses simple-mode explain: formatted
    mode prints exchanges as numbered nodes the old pattern missed.
    Broadcast exchanges are excluded — they move only the small side."""
    text = explain_str(df, "simple")
    # shuffle exchanges print as "Exchange hashpartitioning(...)" etc.;
    # "BroadcastExchange" is a distinct token and never matches \bExchange\b
    return len(re.findall(r"\bExchange\b", text))


def audit_counts(df: DataFrame) -> dict[str, int]:
    """One query's plan-audit record, as kept in plans/golden.json."""
    return {
        "shuffles": shuffle_count(df),
        "broadcast_joins": broadcast_join_count(df),
        "pushed_filters": len(pushed_filters(df)),
    }
