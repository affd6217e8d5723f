"""End-to-end job compositions — the reference's two entry points and
its Airflow control plane restated as single driver programs
(SURVEY.md §3, §2.6: the linear DAG `sensor → download → spark-submit
→ DDL → export → email` collapses into one SparkSession lifecycle).

`run_product_view_job` is v2 (`nifi_spark_kafka_product_view_platform_v2.py`)
complete: ONE aggregation lineage feeding TWO sinks (per-epoch ranking
emit + append of finalized windows to parquet) from ONE streaming
query.  The reference ran them as two concurrent queries (§2.7); here
one foreachBatch epoch function serves both, so each trigger scans,
parses, shuffles and keeps state once.  It returns that query twice,
`(q, q)`, and there is no `parquet/` checkpoint; the parquet files are
`part-e<N>-<i>.parquet`, named by the epoch N that closed their
windows.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.json_events import json_file_stream
from .pipeline import _parse_json_once, parse_product_views, windowed_source_counts
from .sinks import parquet_sink, product_view_epoch


def run_product_view_job(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    window_duration: str = "5 minutes",
    watermark: str = "5 minutes",
    trigger: str | None = None,
    topk: int | None = 10,
    collector: Callable[[DataFrame, int], None] | None = None,
    block: bool = False,
):
    """The full v2 pipeline on the file source (Kafka-swappable: pass
    any raw DataFrame with a `value` column through the same chain).

    ONE update-mode query, checkpointed at `{checkpoint_dir}/ranking`,
    feeds both sinks through `sinks.product_view_epoch`:

    - the ranking (v2:77-81): each epoch ranks the groups UPDATED in
      that trigger, as the reference sorted each console micro-batch —
      a delta ranking, not a global standing;
    - the warehouse parquet (v2:84-89), pruned to the commerce schema
      (source, source_number) as at v2:74: each window once the
      watermark closes it, in `output_dir/part-e<N>-<i>.parquet`
      written by the epoch N that closed it.

    `output_dir` must not hold a file-sink log (`_spark_metadata`):
    Spark's parquet reader would list only the files in that log and
    hide every file this job writes.

    Returns the query twice, `(q, q)`, for callers that unpack a
    (ranking, parquet) pair; both handles are the same query.  With
    `block=True` behaves like the reference's awaitTermination
    (v2:91)."""
    jvm = spark._jvm
    log = jvm.org.apache.hadoop.fs.Path(f"{output_dir}/_spark_metadata")
    if log.getFileSystem(spark._jsc.hadoopConfiguration()).exists(log):
        raise ValueError(
            f"{output_dir} holds a parquet file-sink log (_spark_metadata); "
            "Spark's reader would hide the files this job writes there"
        )
    raw = json_file_stream(spark, input_dir)
    agg = windowed_source_counts(
        parse_product_views(raw),
        window_duration=window_duration,
        watermark=watermark,
    )
    # Spark's own parse of the duration string, without a Spark job
    window_ms = (
        jvm.org.apache.spark.sql.catalyst.util.IntervalUtils.fromIntervalString(window_duration)
        .extractAsDuration()
        .toMillis()
    )
    checkpoint = f"{checkpoint_dir}/ranking"
    w = (
        agg.writeStream.outputMode("update")
        .foreachBatch(partial(
            product_view_epoch, checkpoint=checkpoint, output_dir=output_dir,
            window_ms=window_ms, k=topk, collector=collector,
        ))
        .option("checkpointLocation", checkpoint)
    )
    if trigger:
        w = w.trigger(processingTime=trigger)
    q = w.start()
    if block:
        q.awaitTermination()
    return q, q


def http_ingest(url: str, dest_path: str, expected_substring: str | None = "event") -> str:
    """S3 + C1/C2 (dag_file.py:24-50): availability-checked download to
    a local staging path, then read with the normal batch chain.  The
    availability check IS the reference's HttpSensor (dag:36-43 pokes
    the URL before the download task runs); the copy is its
    PythonOperator download (dag:45-50).  Driver-side utility, not a
    distributed operator (at scale the download belongs in object
    storage, not the driver).

    Accepts `file://` URLs as a network-free source so the whole
    sensor→download→job→DDL control plane is exercisable offline (the
    http(s) path is identical beyond the fetch).  Gated import:
    `requests` may be absent in minimal containers."""
    from urllib.parse import urlparse

    parsed = urlparse(url)
    if parsed.scheme == "file":
        path = (parsed.netloc or "") + parsed.path
        if not os.path.exists(path):  # the sensor's "not available yet" poke
            raise FileNotFoundError(f"http_ingest sensor: {url} not available")
        with open(path) as f:
            body = f.read()
    elif parsed.scheme in ("http", "https"):
        try:
            import requests  # noqa: PLC0415
        except ImportError as exc:  # pragma: no cover
            raise RuntimeError("http_ingest requires the 'requests' package") from exc
        resp = requests.get(url, timeout=60)
        resp.raise_for_status()
        body = resp.text
    else:
        raise ValueError(f"http_ingest: unsupported URL scheme {parsed.scheme!r}")
    if expected_substring is not None and expected_substring not in body:
        raise ValueError(
            f"availability check failed: {expected_substring!r} not in response"
        )
    with open(dest_path, "w") as f:
        f.write(body)
    return dest_path


# wire schema for document ingestion (the curation twin of
# PRODUCT_VIEW_SCHEMA): JSON lines {doc_id, text, source, ts}
DOC_WIRE_SCHEMA = "doc_id long, text string, source string, ts string"
DOC_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def parse_doc_wire(raw: DataFrame) -> DataFrame:
    """The document-wire deserialization shared by every doc-stream job
    (ingest, PII gate): from_json against DOC_WIRE_SCHEMA + the
    validity filter.  ONE definition so the jobs cannot silently
    diverge on what counts as a valid document.  Parsed once per row
    through the same `Generate` fence as `parse_product_views`."""
    return (
        _parse_json_once(raw, DOC_WIRE_SCHEMA)
        .select("value.*")
        .filter(F.col("doc_id").isNotNull() & F.col("text").isNotNull())
    )


def run_corpus_ingest_job(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    keep_threshold: float = 0.5,
    trigger: str | None = None,
):
    """Streaming corpus curation — the §2.8 training-data stages wired
    into the reference's streaming plane as ONE continuous job:

        file/Kafka JSON stream
          → schema parse (P2 shape, full schema declared)
          → quality-classifier gate (operators.text.quality_prob —
            the SAME scoring expression as the batch operator, so
            batch backfills and the live stream can never disagree)
          → watermark-bounded exact dedup at-the-door
            (dropDuplicatesWithinWatermark on the content fingerprint)
          → append-mode parquet corpus shards (K3 sink)

    Scale posture: every stage before the dedup is stateless map-only
    column math; the dedup's state is bounded by the watermark horizon;
    the sink partitions by source so downstream mix/split jobs
    partition-prune.  Returns the StreamingQuery handle.
    """
    from ..functions.textfns import normalize_text
    from ..operators.text import quality_features, quality_prob
    from .stateful import streaming_dedup_exact

    raw = json_file_stream(spark, input_dir)
    parsed = (
        parse_doc_wire(raw)
        # try_to_timestamp, NOT to_timestamp (the pipeline.py P7
        # doctrine): under ANSI mode one malformed ts string would
        # kill the stream in a checkpoint-replay crash loop; try_
        # yields NULL and the filter implements drop-malformed
        .withColumn("event_ts", F.try_to_timestamp(F.col("ts"), F.lit(DOC_TS_FMT)))
        .filter(F.col("event_ts").isNotNull())
    )
    n_tok, dratio = quality_features(F.col("text"))
    scored = parsed.select(
        "doc_id",
        "source",
        "text",
        "event_ts",
        F.md5(normalize_text(F.col("text"))).alias("fingerprint"),
        n_tok.alias("n_tokens"),
        quality_prob(dratio, n_tok).alias("quality_prob"),
    ).filter(F.col("quality_prob") >= F.lit(keep_threshold))
    deduped = streaming_dedup_exact(
        scored, fingerprint_cols=("fingerprint",), ts_col="event_ts",
        watermark=watermark,
    )
    w = parquet_sink(deduped, out_dir, f"{checkpoint_dir}/corpus", trigger=trigger)
    w = w.partitionBy("source")
    return w.start()


def run_seasonal_anomaly_job(
    spark: SparkSession,
    input_dir: str,
    baseline: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
    trigger: str | None = None,
):
    """Lambda-style seasonal anomaly monitor: LIVE hourly event counts
    scored against the BATCH-computed hour-of-day baseline
    (operators.events_timeseries.seasonal_baseline over history) — the streaming
    half of events_seasonal_hourly_anomaly, sharing its
    `seasonal_score` select verbatim so live flags and the batch
    backfill can never disagree on what "anomalous" means.

    Plan: stream → watermark → 1-hour tumbling count (append mode:
    only watermark-finalized hours are scored — a half-full hour would
    z-score as a false dip) → foreachBatch joins the tiny broadcast
    baseline and writes scored rows to parquet.  Streaming state is
    one count per open hour; the baseline is |24| rows refreshed by
    re-running the batch job and restarting (or swapping a Delta table
    in production).  Returns the StreamingQuery handle.

    Sink layout (changed in round 11, with the exactly-once fix): the
    output is PARTITIONED as `out_dir/epoch=N/part-*.parquet` — each
    micro-batch owns one overwritable partition — not the flat
    append-only file pile earlier rounds wrote.  Consumers must read
    the whole dir with `spark.read.parquet(out_dir)` and treat the
    discovered `epoch` column as sink bookkeeping, not data: either
    `.drop("epoch")` or select the scored columns explicitly.  Readers
    that globbed flat part files directly will find none.
    """
    from ..operators.events_timeseries import seasonal_score

    views = parse_product_views(json_file_stream(spark, input_dir))
    hourly = (
        views.withWatermark("timestamp", watermark)
        .groupBy(F.window("timestamp", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.to_date("window.start").alias("day"),
            F.hour("window.start").cast("int").alias("hour_of_day"),
            "n_events",
        )
    )

    def score(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # epoch-partition overwrite, NOT append: a replayed epoch (crash
        # between the write and the checkpoint commit) must rewrite its
        # own partition instead of duplicating scored rows — the same
        # exactly-once idiom as every other foreachBatch sink here
        seasonal_score(batch_df, baseline).write.mode("overwrite").parquet(
            f"{out_dir}/epoch={epoch_id}"
        )

    w = (
        hourly.writeStream.outputMode("append")
        .foreachBatch(score)
        .option("checkpointLocation", f"{checkpoint_dir}/seasonal")
    )
    if trigger:
        w = w.trigger(processingTime=trigger)
    return w.start()


def run_pii_gate_job(
    spark: SparkSession,
    input_dir: str,
    corpus_dir: str,
    quarantine_dir: str,
    checkpoint_dir: str,
    trigger: str | None = None,
):
    """In-flight PII gate: ONE parsed document lineage fanned out to
    TWO sinks (the reference's dual-sink pattern, v2:77-89):

    - **corpus sink**: every document with the SAME redaction
      expression the batch audit uses (`operators.privacy.pii_redact`)
      applied before anything touches disk — raw spans never land in
      the training corpus;
    - **quarantine sink**: only documents where PII was detected, with
      per-class counts (`pii_counts`) and the ORIGINAL text retained
      under restricted storage — the audit trail compliance review
      needs (what was found, where, how much).

    Sharing the expressions with the batch operator means the live
    gate and the batch backfill cannot disagree about what counts as
    PII.  Both stages are map-only regex over the stream; each sink
    has its own checkpoint.  Returns (corpus_query, quarantine_query).
    """
    from ..operators.privacy import pii_counts, pii_redact

    raw = json_file_stream(spark, input_dir)
    parsed = parse_doc_wire(raw)
    n_em, n_ph, n_id = pii_counts(F.col("text"))
    scanned = parsed.select(
        "doc_id",
        "source",
        "text",
        n_em.cast("int").alias("n_emails"),
        n_ph.cast("int").alias("n_phones"),
        n_id.cast("int").alias("n_ids"),
    )
    clean_out = scanned.select(
        "doc_id", "source", pii_redact(F.col("text")).alias("text")
    )
    dirty = scanned.filter(
        (F.col("n_emails") > 0) | (F.col("n_phones") > 0) | (F.col("n_ids") > 0)
    )
    w1 = parquet_sink(clean_out, corpus_dir, f"{checkpoint_dir}/corpus", trigger=trigger)
    w2 = parquet_sink(
        dirty, quarantine_dir, f"{checkpoint_dir}/quarantine", trigger=trigger
    )
    return w1.start(), w2.start()
