"""Custom stateful streaming operator via applyInPandasWithState.

The Structured Streaming slot for operators the built-in windowed
aggregations can't express: arbitrary per-key state evolved batch by batch.
Demo operator: per-user running profile (event count, value sum, last-seen
timestamp) maintained in GroupState and emitted on every update.

Scale notes: state lives in the state store keyed by user_id (shuffled
once); each micro-batch touches only keys present in the batch. A real
deployment adds state TTL (GroupStateTimeout) to bound the store — shown
here with ProcessingTimeTimeout left NoTimeout for the finite fixture.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("last_us", LongType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
        StructField("last_us", LongType()),
    ]
)


def _update_profile(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, total, last_us = state.get if state.exists else (0, 0.0, None)
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        total += float(pdf["value"].sum())
        # guard the max: an all-null ts batch yields NaN, and pre-epoch
        # timestamps must not lose to a 0 initializer
        mx = pdf["ts_us"].max()
        if pd.notna(mx):
            mx = int(mx)
            last_us = mx if last_us is None else max(last_us, mx)
    state.update((n, total, last_us))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [round(total, 2)],
            "last_us": [last_us],
        }
    )


def user_profiles(stream: DataFrame) -> DataFrame:
    """events stream (with ts) → per-user evolving profile."""
    from pyspark.sql import functions as F

    prepared = stream.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        _update_profile,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stateful_demo(spark, sf_dir: str, table: str = "zds_stateful_demo") -> DataFrame:
    """Drive the stateful operator over the finite events fixture; the
    memory sink keeps every update — the LAST update per user is the final
    profile (asserted equal to the batch aggregate in tests)."""
    from zonal_datacube_spark.streaming.demo import events_stream

    q = (
        user_profiles(events_stream(spark, sf_dir))
        .writeStream.format("memory")
        .queryName(table)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(table)


def _make_profile_processor():
    """The transformWithState twin of ``_update_profile`` — Spark 4's
    successor API for arbitrary stateful operators: state is declared as
    named, typed handles (value/list/map state, timers, TTL) on a
    processor object instead of one opaque GroupState tuple, and the
    runtime requires the RocksDB state store (the off-heap 100 TB tier)
    rather than permitting the in-heap HDFS store. Built lazily inside a
    function so importing this module never touches the API on clusters
    that predate it."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserProfileProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._profile = handle.getValueState("profile", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            (user_id,) = key
            prev = self._profile.get() if self._profile.exists() else None
            n, total, last_us = prev if prev is not None else (0, 0.0, None)
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                total += float(pdf["value"].sum())
                mx = pdf["ts_us"].max()
                if pd.notna(mx):
                    mx = int(mx)
                    last_us = mx if last_us is None else max(last_us, mx)
            self._profile.update((n, total, last_us))
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "sum_value": [round(total, 2)],
                    "last_us": [last_us],
                }
            )

        def close(self) -> None:
            pass

    return UserProfileProcessor()


def user_profiles_tws(stream: DataFrame) -> DataFrame:
    """events stream → per-user evolving profile via
    ``transformWithStateInPandas`` (same semantics as ``user_profiles``)."""
    from pyspark.sql import functions as F

    prepared = stream.select(
        "user_id",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    return prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_profile_processor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def run_stateful_tws_demo(
    spark, sf_dir: str, table: str = "zds_tws_demo"
) -> DataFrame:
    """Drive the transformWithState operator under the RocksDB state store
    (required by the API; also the store a 100 TB deployment runs).

    ENVIRONMENT CONSTRAINT: transformWithState's state-server protocol
    needs the ``google.protobuf`` Python package in the workers; this
    container does not ship it (and installs are disallowed), so this
    path is library surface with a skip-gated test, not a declared
    key — the declared custom-stateful key (q_stream_stateful_profile)
    runs on applyInPandasWithState, which needs no protobuf."""
    from zonal_datacube_spark.session import session_conf
    from zonal_datacube_spark.streaming.demo import events_stream
    from zonal_datacube_spark.streaming.scale_config import (
        ROCKSDB_STATE_STORE_CONFS,
    )

    with session_conf(spark, ROCKSDB_STATE_STORE_CONFS):
        q = (
            user_profiles_tws(events_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(table)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.table(table)
