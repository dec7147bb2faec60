"""Streaming source builders (reference InputSource.hs equivalents).

The reference's source contract is a partitioned, replayable,
offset-addressed log (InputSource.hs:15-20). Structured Streaming's
sources carry exactly that contract natively; these builders just give
the engine's users the same three shapes the reference ships:

- file source (FileSource.hs): a directory watched for files; each
  micro-batch's file set is logged, so replay is exact. The reference
  reads its files *cyclically forever* (FileSource.hs:43-52) — that
  detail exists to fake an unbounded stream for demos; the honest
  equivalent is the rate-source word stream below.
- Kafka source (KafkaSource.hs): config builder only — no broker in
  this environment; included so the surface is complete.
- rate source: deterministic unbounded word stream for tests/demos
  (what the reference's cyclic file replay + Kafka emitter actually
  simulate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_lines_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Line-per-record text-file stream → (value: string).

    maxFilesPerTrigger bounds each micro-batch (the knob that stands in
    for the reference's per-partition offset pacing / ST9 backpressure).
    """
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path).withColumnRenamed("value", "line")


def rate_words_stream(
    spark: SparkSession, vocabulary: list[str], rows_per_second: int = 1000
) -> DataFrame:
    """Deterministic unbounded word stream: rate source indexed into a
    fixed vocabulary (value N → vocabulary[N mod |V|]).

    Replayable by construction — the offset IS the rate-source value —
    which is exactly the property the reference's cyclic FileSource
    fakes with its ever-increasing line offset (FileSource.hs:43-52).
    """
    vocab = F.array(*[F.lit(w) for w in vocabulary])
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            F.col("value").alias("offset"),
            F.element_at(vocab, (F.col("value") % len(vocabulary) + 1).cast("int")).alias(
                "word"
            ),
        )
    )


def kafka_payload(df: DataFrame, value_col: str, key_col: str | None = None) -> DataFrame:
    """Project any frame into the Kafka writer contract: binary
    ``value`` (and optional ``key`` for partition affinity). Spark's
    Kafka sink requires exactly this shape; as a separate projection it
    is batch-testable without a broker, and a producer is then one
    ``.write.format("kafka")`` call.
    """
    cols = [F.col(value_col).cast("string").cast("binary").alias("value")]
    if key_col is not None:
        cols.insert(0, F.col(key_col).cast("string").cast("binary").alias("key"))
    return df.select(*cols)


def kafka_words_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka word stream (KafkaSource.hs equivalent): one Spark input
    partition per Kafka partition, offsets checkpointed per partition —
    the reference's (Partition, Offset) clock, managed by the engine.

    Untested in this environment (no broker); the projection mirrors
    the reference spout's convertFn (bytes → word,
    WordCountSample.hs:77-78).
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
        .select(
            F.decode(F.col("value"), "UTF-8").alias("word"),
            F.col("partition"),
            F.col("offset"),
            F.col("timestamp").alias("ts"),
        )
    )


def cyclic_file_lines_stream(
    spark: SparkSession, path: str, rows_per_second: int = 1000
) -> DataFrame:
    """Reference S2 parity, exact semantics: stream a file's lines IN
    ORDER, cyclically forever, with a monotonically increasing offset —
    precisely FileSource's producer (FileSource.hs:43-52: seek to 0 at
    EOF, offset counter never resets).

    Form: rate source indexed into the file's line array
    (line = lines[offset mod n]). The file is a demo/test input (the
    reference ships 1k-13k line files), so holding its lines in the
    plan is the documented budget; for real unbounded inputs use
    file_lines_stream / kafka_words_stream instead.
    """
    with open(path) as f:
        lines = [ln.rstrip("\n") for ln in f]
    arr = F.array(*[F.lit(ln) for ln in lines])
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .select(
            F.col("value").alias("offset"),
            F.element_at(arr, (F.col("value") % len(lines) + 1).cast("int")).alias(
                "line"
            ),
        )
    )
