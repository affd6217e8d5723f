"""Differential correctness: every registered query vs its DuckDB oracle.

Mirrors the driver's correctness gate (SURVEY.md §5.1): row count,
column names, and order-insensitive value comparison at sf0.001.
Stricter than a hash — on mismatch it prints the first differing rows.
"""

from __future__ import annotations

import math
import time

import pytest

from spark_nifi_kafka_connected_device_stream_spark import registry

from .conftest import SF_SMALL

SPECS = registry.all_specs()
ORACLE_SPECS = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY_SPECS = sorted(n for n, s in SPECS.items() if s.oracle is None)
# Per-oracle DuckDB time budget at sf0.001.  The slowest oracle takes
# ~6 s on 4 cores (embedding_near_dup_bucketed) and the next ones 2-3 s
# (similarity_lsh_buckets, dedup_incremental_minhash_assign,
# dedup_lsh_recall_report); oracles that re-evaluated inlined CTEs
# once took 24-114 s, and a slowdown of that kind must fail by name
# instead of eating the suite's timeout.
ORACLE_BUDGET_S = 60.0


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / 0.0 and FP noise below the rounding contracts
        return round(v + 0.0, 9)
    if isinstance(v, bool):
        return bool(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    from decimal import Decimal

    if isinstance(v, Decimal):
        return round(float(v), 9)
    return v


def _rowset(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_query_matches_oracle(spark, duck, name):
    spec = SPECS[name]
    conf_before = spark.conf.getAll
    sdf = spec.fn(spark, SF_SMALL)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    # session hygiene: building and running a query leaves the
    # session's conf exactly as it found it
    assert spark.conf.getAll == conf_before, f"{name}: query changed the session conf"

    t0 = time.perf_counter()
    rel = duck.sql(spec.oracle)
    duck_cols = rel.columns
    duck_rows = rel.fetchall()
    oracle_s = time.perf_counter() - t0
    assert oracle_s <= ORACLE_BUDGET_S, (
        f"{name}: DuckDB oracle took {oracle_s:.1f} s, budget {ORACLE_BUDGET_S:.0f} s"
    )

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_set = _rowset(spark_rows, spark_cols)
    d_set = _rowset(duck_rows, duck_cols)
    if s_set != d_set:
        diffs = [(s, d) for s, d in zip(s_set, d_set) if s != d][:5]
        raise AssertionError(f"{name}: value mismatch; first diffs {diffs}")


# DuckDB output types the driver canonicalizer does not hash stably:
# HUGEINT/UHUGEINT/DECIMAL are rendered as float before hashing (so
# `1435` hashes differently from Spark's `1435`), and LIST/STRUCT crash
# it (`unhashable type: 'list'`).  sum(BIGINT) returns HUGEINT in
# DuckDB, so every integral aggregate must be CAST(sum(...) AS BIGINT)
# on the OUTSIDE.  This killed q12 (round 1) and text_token_stats
# (round 2); this test makes the class structurally impossible.
_UNSTABLE_TYPE_MARKERS = ("HUGEINT", "UHUGEINT", "DECIMAL", "[]", "STRUCT(", "MAP(")


@pytest.mark.parametrize("name", ORACLE_SPECS)
def test_oracle_output_types_hash_stable(duck, name):
    rel = duck.sql(SPECS[name].oracle)
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if any(m in str(t).upper() for m in _UNSTABLE_TYPE_MARKERS)
    ]
    assert not bad, (
        f"{name}: oracle emits driver-unhashable DuckDB types {bad}; "
        "CAST the aggregate to BIGINT/DOUBLE outside the sum(), or "
        "serialize arrays with array_to_string on both sides"
    )


@pytest.mark.parametrize("name", ROWS_ONLY_SPECS)
def test_rows_only_queries_run(spark, name):
    spec = SPECS[name]
    sdf = spec.fn(spark, SF_SMALL)
    assert sdf.count() >= 0
    assert len(sdf.columns) > 0


def test_entry_smoke(spark):
    import sys

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 30


def test_bad_sf_dir_raises_clean_error(spark):
    from pyspark.errors import AnalysisException

    for name in ("q1_pricing_summary", "curation_funnel_report"):
        with pytest.raises(AnalysisException):
            SPECS[name].fn(spark, "/nonexistent/sf_dir").collect()
