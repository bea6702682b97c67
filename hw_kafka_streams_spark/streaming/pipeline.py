"""The reference topology as a Structured Streaming job.

Reference graph (logs/application.log:8-40): Kafka source `messages`
→ peek → leftJoin(blocked-users GlobalKTable, key = receiver:sender,
joiner nulls matches) → filter(non-null) → transformValues(censor via
forbidden-words GlobalKTable) → peek → sink `filtered-messages`.

Spark-first mapping:
- source/sink → Kafka Structured Streaming source/sink (exactly-once
  v2 in the reference becomes checkpointed at-least-once to Kafka —
  documented semantic gap; end-to-end exactly-once holds for file
  sinks).
- GlobalKTable → a small static DataFrame broadcast to every task —
  the same full-replication decision the reference makes per instance.
  Live dictionary updates → each microbatch asks for the dims inside
  ``foreachBatch``; the Kafka job and its file twin share that one
  wiring and differ only in how a control table is read. The file twin
  re-reads when the control dir's version changes and otherwise serves
  a memoized driver-local snapshot, as a GlobalKTable serves its store
  instead of rescanning the topic per record.
- leftJoin+null+filter → one LEFT ANTI broadcast join, and
  transformValues → fold of regexp_replace: both in
  ``operators.censor.filtered_messages``, re-exported here.

No shuffle anywhere in the streaming plan: source partitions map 1:1
to tasks, the one join is broadcast — the plan scales with input
partitions alone, which is exactly how you want a 100-TB/day topic
consumed.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hw_kafka_streams_spark.operators.censor import (
    banned_words,
    filter_pipeline,
    filtered_messages,
)
from hw_kafka_streams_spark.sources.files import FileVersions, dir_version
from hw_kafka_streams_spark.streaming import serde

TOPIC_MESSAGES = "messages"
TOPIC_BLOCKED = "blocked-users"
TOPIC_WORDS = "forbidden-words"
TOPIC_OUT = "filtered-messages"


def read_kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source stream (raw wire frame).

    Maps the reference consumer config (KafkaStreamApp.java:124-129):
    auto.offset.reset=earliest → startingOffsets; EOS/read_committed →
    Kafka source reads committed data only by default in Spark 3+.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def read_control_table(spark: SparkSession, bootstrap: str, topic: str) -> DataFrame:
    """Batch-read a control topic and compact it to latest-per-key.

    The GlobalKTable materialization (KafkaStreamApp.java:140-152) as a
    point-in-time snapshot: full topic scan → changelog compaction →
    small static DataFrame, ready to broadcast.
    """
    raw = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load()
    )
    kv = raw.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        F.col("offset"),
    )
    return serde.compact_changelog(kv).select("key", "value")


def _start_per_batch(
    stream: DataFrame,
    read_dim: Callable[[str], DataFrame],
    sink: Callable[[DataFrame], None],
    checkpoint_dir: str,
):
    """Start ``stream`` through the topology one ``foreachBatch`` at a
    time, asking ``read_dim(topic)`` for the control tables every
    micro-batch (see :func:`process_batch_with_refresh`). The file
    twin's ``read_dim`` re-reads when the control dir's version changes
    (:func:`read_control_dir`); the Kafka one rescans the topic."""

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_batch_with_refresh(
            batch_df,
            blocked_provider=lambda: read_dim(TOPIC_BLOCKED),
            words_provider=lambda: banned_words(read_dim(TOPIC_WORDS)),
            sink=sink,
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def run_reference_topology(
    spark: SparkSession,
    bootstrap: str,
    checkpoint_dir: str,
    sink_topic: str = TOPIC_OUT,
):
    """Wire the full streaming job: Kafka → filter/censor → Kafka.

    The control topics are rescanned inside ``foreachBatch`` every
    microbatch — the closest Spark equivalent of GlobalKTable live
    updates (new blocks/words take effect on the next batch). Unlike the
    file twin's :func:`read_control_dir`, this scan is not yet gated on
    the topics' end offsets.

    Returns the started StreamingQuery.
    """
    stream = serde.decode_messages(read_kafka_stream(spark, bootstrap, TOPIC_MESSAGES))

    def _kafka_sink(result: DataFrame) -> None:
        (
            serde.encode_messages(result)
            .write.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap)
            .option("topic", sink_topic)
            .save()
        )

    return _start_per_batch(
        stream,
        read_dim=lambda topic: read_control_table(spark, bootstrap, topic),
        sink=_kafka_sink,
        checkpoint_dir=checkpoint_dir,
    )


def process_batch_with_refresh(
    batch_df: DataFrame,
    blocked_provider: Callable[[], DataFrame],
    words_provider: Callable[[], list[str]],
    sink: Callable[[DataFrame], None],
) -> None:
    """One microbatch with GlobalKTable-style live dims.

    The providers are called per batch and re-read when the control
    source's version changes (:func:`read_control_dir`) — new
    blocks/words take effect on the NEXT batch, which is exactly the
    reference's GlobalKTable freshness model (the global store is
    updated asynchronously by its own thread; the processor sees
    whatever is materialized when the record arrives). Factored out of the Kafka job so the refresh
    semantics are testable against file sources (tests/test_streaming).
    """
    sink(filtered_messages(batch_df, blocked_provider(), words_provider()))


#: (session, dir) → (dir version token, snapshot); oldest entry evicted
#: first. The session is part of the key, so a stopped session's
#: snapshot is never served to the session that replaces it.
_CONTROL_SNAPSHOTS: dict[tuple[SparkSession, str], tuple[FileVersions, DataFrame]] = {}
_CONTROL_SNAPSHOTS_CAP = 16
# queries run foreachBatch on threads of their own
_CONTROL_SNAPSHOTS_LOCK = threading.Lock()


def read_control_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-backed control-table snapshot: the broker-free analog of
    :func:`read_control_table`. A parquet directory of (key, value,
    offset) changelog records compacts to latest-per-key with tombstone
    handling — identical semantics, different transport — so the
    GlobalKTable refresh path is exercisable end-to-end without Kafka.

    The snapshot is a driver-local (Arrow-backed ``LocalRelation``)
    table, memoized per session and re-read when the control dir's
    version changes: its data files' ``(name, size, mtime_ns)``
    listing. On a hit nothing is read: collecting the word list starts
    no Spark job, and broadcasting the blocked pairs collects the
    driver's own rows (no scan, no shuffle). The token is taken before
    the read, so a file landing mid-read costs one extra re-read, never
    a stale snapshot.
    """
    token = dir_version(path)
    key = (spark, os.path.abspath(path))
    hit = _CONTROL_SNAPSHOTS.get(key)
    if token is not None and hit is not None and hit[0] == token:
        return hit[1]
    # a control table is small: compact it in one partition (no
    # shuffle) and bring it to the driver
    kv = spark.read.schema("key string, value string, offset long").parquet(path).coalesce(1)
    compacted = serde.compact_changelog(kv).select("key", "value")
    snapshot = spark.createDataFrame(compacted.toArrow(), compacted.schema)
    if token is not None:
        with _CONTROL_SNAPSHOTS_LOCK:
            _CONTROL_SNAPSHOTS.pop(key, None)
            if len(_CONTROL_SNAPSHOTS) >= _CONTROL_SNAPSHOTS_CAP:
                del _CONTROL_SNAPSHOTS[next(iter(_CONTROL_SNAPSHOTS))]
            _CONTROL_SNAPSHOTS[key] = (token, snapshot)
    return snapshot


def run_file_topology_with_refresh(
    spark: SparkSession,
    messages_dir: str,
    blocked_dir: str,
    words_dir: str,
    checkpoint_dir: str,
    sink: Callable[[DataFrame], None],
):
    """Broker-free twin of :func:`run_reference_topology`: the SAME
    per-batch snapshot machinery (changelog compaction through
    :func:`process_batch_with_refresh`), with parquet directories
    standing in for the control topics. A blocked user or banned word
    appended to the control dir while the query runs takes effect on
    the next microbatch — the reference's GlobalKTable liveness model
    (KafkaStreamApp.java:140-152), provable in tests.
    """
    schema = "sender string, text string, receiver string"
    stream = spark.readStream.schema(schema).parquet(messages_dir)
    dirs = {TOPIC_BLOCKED: blocked_dir, TOPIC_WORDS: words_dir}
    return _start_per_batch(
        stream,
        read_dim=lambda topic: read_control_dir(spark, dirs[topic]),
        sink=sink,
        checkpoint_dir=checkpoint_dir,
    )


def peek(df: DataFrame, name: str, *metrics) -> DataFrame:
    """O3 parity: the reference's ``.peek`` observes records pass-through
    (KafkaStreamApp.java:155,168). Spark's zero-copy equivalent is
    ``df.observe`` — named metrics computed inline with the query, no
    second pass, readable from QueryProgress (streaming) or an
    ObservationListener (batch). Defaults to a row count.
    """
    if not metrics:
        metrics = (F.count(F.lit(1)).alias("n_rows"),)
    return df.observe(name, *metrics)


def run_file_topology(
    spark: SparkSession,
    messages_dir: str,
    blocked: DataFrame,
    words: list[str],
    queryName: str = "filtered_messages",
):
    """Broker-free variant for tests/local runs: file source → memory sink.

    Same logical plan as the Kafka job (the transformation is
    source-agnostic); lets the topology be exercised end-to-end where
    no broker exists.
    """
    schema = "sender string, text string, receiver string"
    stream = spark.readStream.schema(schema).parquet(messages_dir)
    out = filtered_messages(stream, blocked, words)
    writer = out.writeStream.format("memory").queryName(queryName).outputMode("append")
    return writer.start()


def observed_funnel(df: DataFrame, stages: list) -> DataFrame:
    """Streaming twin of :func:`~hw_kafka_streams_spark.operators.
    quality.filter_funnel`: attach the funnel's cumulative-survivor
    counters as ``observe`` metrics and RETURN THE FILTERED STREAM —
    the audit rides along with the query at zero extra passes (metrics
    are computed inline per micro-batch and surface in
    ``StreamingQueryProgress.observedMetrics['funnel']``; batch
    callers read them via an Observation).

    ``stages`` is the same ``[(name, Column), ...]`` contract; the
    returned DataFrame keeps only rows passing ALL stages, so the
    operator is simultaneously the filter and its own monitoring.
    """
    if not stages:
        raise ValueError("at least one stage")
    cum = None
    metrics = [F.count(F.lit(1)).alias("n_in")]
    for name, cond in stages:
        cum = cond if cum is None else (cum & cond)
        metrics.append(F.sum(cum.cast("long")).alias(f"pass_{name}"))
    observed = df.observe("funnel", *metrics)
    return observed.filter(cum)


__all__ = [
    "filtered_messages",
    "filter_pipeline",
    "observed_funnel",
    "peek",
    "read_control_dir",
    "read_control_table",
    "read_kafka_stream",
    "run_file_topology",
    "run_file_topology_with_refresh",
    "run_reference_topology",
]
