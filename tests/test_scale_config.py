"""Production streaming config: the RocksDB state store actually runs the
windowed aggregate in this container and matches the default provider."""

from __future__ import annotations

from tests.conftest import SF_SMOKE
from zonal_datacube_spark.operators.streaming_batch import q_stream_tumbling
from zonal_datacube_spark.session import session_conf
from zonal_datacube_spark.streaming.demo import (
    events_stream,
    run_stream_to_memory,
    tumbling_counts,
)
from zonal_datacube_spark.streaming.scale_config import (
    ROCKSDB_STATE_STORE_CONFS,
    kafka_source_options,
)


def test_rocksdb_state_store_matches_batch(spark):
    with session_conf(spark, ROCKSDB_STATE_STORE_CONFS):
        got = run_stream_to_memory(
            tumbling_counts(events_stream(spark, SF_SMOKE)),
            spark,
            "zds_rocksdb_stream",
        )
        stream_rows = {tuple(r) for r in got.collect()}
    batch_rows = {tuple(r) for r in q_stream_tumbling(spark, SF_SMOKE).collect()}
    assert stream_rows == batch_rows


def test_kafka_source_options_shape():
    opts = kafka_source_options("broker:9092", "events", max_offsets_per_trigger=500)
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "events"
    assert opts["maxOffsetsPerTrigger"] == "500"
    assert opts["failOnDataLoss"] == "false"
    no_cap = kafka_source_options("b:9092", "t", max_offsets_per_trigger=None)
    assert "maxOffsetsPerTrigger" not in no_cap
