"""Production streaming configuration: RocksDB state store + Kafka source.

The demo pipelines run on file sources with the default (in-JVM-heap)
HDFS-backed state store — right for tests, wrong at scale:

- **State store**: a 100 TB pipeline's windowed/session state outgrows
  executor heaps; Spark's RocksDB state store keeps state off-heap on
  local SSD with incremental (changelog) checkpointing, bounding both heap
  and checkpoint upload cost. These are plain public Spark confs; the
  provider ships with Spark 4 and runs in this container
  (tests/test_scale_config.py executes a windowed aggregate under it and
  checks result equality vs the default provider).
- **Source**: production streams arrive over Kafka, not files. The options
  builder below is config-only (no broker in this container): swapping
  ``events_stream``'s file source for ``kafka_reader(...)`` is the ONLY
  change a pipeline needs — transformations and sinks are source-agnostic,
  which is the point of declaring them over the DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Apply with ``session.session_conf(spark, ROCKSDB_STATE_STORE_CONFS)``.
ROCKSDB_STATE_STORE_CONFS: dict[str, str] = {
    # off-heap, SSD-spillable per-partition state
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    # checkpoint uploads ship the changelog, not a full RocksDB snapshot
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # cap total RocksDB memory across all state store instances on an
    # executor (block cache + memtables) instead of per-instance defaults
    "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
}


def kafka_source_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 1_000_000,
    fail_on_data_loss: bool = False,
) -> dict[str, str]:
    """Options for ``spark.readStream.format("kafka")``. maxOffsetsPerTrigger
    bounds micro-batch size (backpressure); failOnDataLoss=False survives
    retention-expired offsets during catch-up — both are the settings that
    matter first at production volume."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
        "failOnDataLoss": str(fail_on_data_loss).lower(),
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_reader(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: str,
    **kwargs,
) -> DataFrame:
    """Kafka source wired to a JSON value schema: the Kafka frame's binary
    ``value`` parses with from_json into the declared columns. No broker
    exists in the test container, so this builds (and type-checks) the
    unresolved plan but is exercised end-to-end only in production."""
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.format("kafka")
        .options(**kafka_source_options(bootstrap_servers, topic, **kwargs))
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("v")
    ).select("v.*")
