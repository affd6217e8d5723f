"""Event-stream sources (SURVEY.md §2.1 S1-S4).

- Kafka (S1): the reference's production source (v1:22-27, v2:35-41).
  No broker in this container — reader builder is config-complete and
  untested live; the parse chain it feeds is fully tested via the file
  source (identical DataFrame once past `load()`).
- File stream (S2): NiFi GetFile's native replacement
  (XML:1452-1606): directory-watching JSON stream source with
  cleanSource semantics (Keep Source File=false ↔ archive/delete).
- Rate source (S4/O2): deterministic test/throughput source replacing
  the NiFi ControlRate 1 rec/sec replay (XML:1258-1272) and the
  console producer (kafka-scripts/05).

One topic name everywhere: the reference uses `platform` (Spark),
`active` (NiFi), `order` (scripts) for the SAME stream — SURVEY.md §6
flags it; we standardize on `platform` (what the Spark job consumed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TOPIC = "platform"


def kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str = "localhost:9092",
    topic: str = DEFAULT_TOPIC,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = None,
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """S1 (v1:22-27 + v2:40 failOnDataLoss): Kafka stream source.
    `maxOffsetsPerTrigger` is the native back-pressure/rate control the
    reference approximated upstream with NiFi ControlRate — at scale it
    bounds micro-batch size so state+shuffle stay memory-resident."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def json_file_stream(
    spark: SparkSession,
    directory: str,
    max_files_per_trigger: int | None = None,
    clean_source: str | None = None,
    source_archive_dir: str | None = None,
) -> DataFrame:
    """S2 (NiFi GetFile, XML:1452-1606): watch a directory of JSON-lines
    event files.  Returns rows in the wire schema with a `value` column
    of raw JSON text so the SAME parse chain as Kafka applies
    (`parse_product_views(df)`).  cleanSource='delete' reproduces
    NiFi's Keep Source File=false; cleanSource='archive' (NiFi's move-
    to-archive) REQUIRES `source_archive_dir` — Spark's file source
    rejects archive mode without it, so this function does too, at
    call time instead of query start.

    Per trigger, the source lists `directory` for new files and then
    re-resolves the files the batch takes.  A batch of more than 32
    files (`spark.sql.sources.parallelPartitionDiscovery.threshold`)
    is resolved in a Spark listing job with one task per file unless
    the parallelism is capped; `session.get_session` caps it at the
    core count.  `max_files_per_trigger` bounds both the batch and its
    listing."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if clean_source:
        if clean_source == "archive" and not source_archive_dir:
            raise ValueError(
                "json_file_stream: cleanSource='archive' requires "
                "source_archive_dir (Spark's sourceArchiveDir option)"
            )
        reader = reader.option("cleanSource", clean_source)
        if source_archive_dir:
            reader = reader.option("sourceArchiveDir", source_archive_dir)
    return reader.load(directory)


def json_file_batch(spark: SparkSession, path: str) -> DataFrame:
    """Batch form of S2 (+S3's post-download read, dag:46-50): read
    JSON-lines files as raw text rows for the common parse chain."""
    return spark.read.text(path)


def rate_events(
    spark: SparkSession,
    rows_per_second: int = 1,
    sources: tuple[str, ...] = ("desktop", "mobile-web", "mobile-app"),
) -> DataFrame:
    """S4/O2: synthetic product-view stream at a fixed rate — the
    native restatement of the reference's '100,000 clicks replayed at
    1/sec' harness (README.md:7, ControlRate XML:1258-1272).  Emits the
    full wire schema as a JSON `value` column."""
    from pyspark.sql import functions as F

    if not sources:
        # fail at call time, not as an ANSI modulo-by-zero thrown
        # asynchronously in the first micro-batch (round-16 review —
        # the same fail-fast convention as json_file_stream's archive
        # mode)
        raise ValueError("rate_events requires at least one source name")
    n = len(sources)
    src = F.element_at(F.array(*[F.lit(s) for s in sources]), (F.col("value") % n + 1).cast("int"))
    wire = F.to_json(
        F.struct(
            F.lit("ProductView").alias("event"),
            F.concat(F.lit("msg-"), F.col("value")).alias("messageid"),
            F.concat(F.lit("user-"), (F.col("value") % 100)).alias("userid"),
            F.struct(F.concat(F.lit("product-"), (F.col("value") % 1000)).alias("productid")).alias(
                "properties"
            ),
            F.struct(src.alias("source")).alias("context"),
            F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss.SSSZ").alias("timestamp"),
        )
    )
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", str(rows_per_second))
        .load()
        .select(wire.alias("value"))
    )
