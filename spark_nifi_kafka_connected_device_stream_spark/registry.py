"""Query registry — the single source of truth exported by
`__spark_entry__.py`.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a `(spark, sf_dir) -> DataFrame` callable plus (when the
semantics are ANSI-SQL-expressible) a DuckDB oracle string over the
same parquet tables.  The driver's correctness gate compares the two
(row count + schema + order-insensitive value hash), so:

- every computed column is aliased IDENTICALLY in both,
- float aggregates are rounded in both (summation order differs between
  engines; the rounded value is the contract),
- timestamps are emitted as formatted strings (engine-neutral),
- any LIMIT has a total-order tie-break so the result SET is unique.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

# operator modules that self-register on import; their order is the
# registry order.
_OPERATOR_MODULES = (
    "spark_nifi_kafka_connected_device_stream_spark.operators.windows",
    "spark_nifi_kafka_connected_device_stream_spark.operators.text",
    "spark_nifi_kafka_connected_device_stream_spark.operators.similarity",
    "spark_nifi_kafka_connected_device_stream_spark.operators.similarity_ann",
    "spark_nifi_kafka_connected_device_stream_spark.operators.pipeline_ops",
    "spark_nifi_kafka_connected_device_stream_spark.operators.dedup",
    "spark_nifi_kafka_connected_device_stream_spark.operators.events",
    "spark_nifi_kafka_connected_device_stream_spark.operators.events_sessions",
    "spark_nifi_kafka_connected_device_stream_spark.operators.events_timeseries",
    "spark_nifi_kafka_connected_device_stream_spark.operators.events_engagement",
    "spark_nifi_kafka_connected_device_stream_spark.operators.events_sketches",
    "spark_nifi_kafka_connected_device_stream_spark.operators.multimodal",
    "spark_nifi_kafka_connected_device_stream_spark.operators.privacy",
    "spark_nifi_kafka_connected_device_stream_spark.operators.curation",
    "spark_nifi_kafka_connected_device_stream_spark.operators.curation_lm",
    "spark_nifi_kafka_connected_device_stream_spark.operators.udf_ops",
    "spark_nifi_kafka_connected_device_stream_spark.operators.cohorts",
    "spark_nifi_kafka_connected_device_stream_spark.operators.analytics",
    "spark_nifi_kafka_connected_device_stream_spark.operators.analytics_stats",
    "spark_nifi_kafka_connected_device_stream_spark.operators.analytics_abtest",
    "spark_nifi_kafka_connected_device_stream_spark.operators.analytics_orders",
    "spark_nifi_kafka_connected_device_stream_spark.operators.relational",
    "spark_nifi_kafka_connected_device_stream_spark.operators.scd",
    "spark_nifi_kafka_connected_device_stream_spark.sources.pydatasource",
)


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None = None
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}
_LOADED = False


def register(
    name: str, oracle: str | None = None, doc: str = "", tags: tuple[str, ...] = ()
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a query under `name` with an optional DuckDB
    oracle. Used by every operator module."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
        return fn

    return deco


def _load() -> None:
    global _LOADED
    if not _LOADED:
        for mod in _OPERATOR_MODULES:
            importlib.import_module(mod)
        _LOADED = True


def all_specs() -> dict[str, QuerySpec]:
    _load()
    return dict(_REGISTRY)


def _worker_safe(fn: QueryFn) -> QueryFn:
    """Exported query callables ship the package to Python workers on
    first use: the driver harness imports `__spark_entry__` by absolute
    path from an arbitrary cwd, so nothing guarantees the workers can
    re-import this package when unpickling a pandas UDF / mapInPandas
    function — addPyFile (session.ensure_workers_importable) does."""
    import functools

    from .session import ensure_workers_importable

    @functools.wraps(fn)
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_workers_importable(spark)
        return fn(spark, sf_dir)

    return wrapped


def queries() -> dict[str, QueryFn]:
    return {name: _worker_safe(spec.fn) for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None}
