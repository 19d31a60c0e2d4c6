"""Kafka-shaped source adapter: wire-schema contract, gated real source,
file-backed replay parity with batch."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"

PAYLOAD_DDL = (
    "event_id long, ts timestamp, user_id long, "
    "event_type string, value double, props string"
)


def test_real_kafka_source_is_gated(spark):
    from woe_monotonic_binning_spark.streaming.kafka import read_kafka_stream

    with pytest.raises(ImportError, match="spark.jars.packages"):
        read_kafka_stream(spark, "localhost:9092", "events")


def test_kafka_file_stream_matches_batch(spark, tmp_path):
    from woe_monotonic_binning_spark.sources.tables import load_table
    from woe_monotonic_binning_spark.streaming.events import run_available_now
    from woe_monotonic_binning_spark.streaming.kafka import (
        KAFKA_WIRE_SCHEMA,
        events_to_kafka_records,
        kafka_shaped_file_stream,
        parse_json_value,
    )

    ev = load_table(spark, SF, "events").withColumn("ts", F.col("ts").cast("timestamp"))
    topic_dir = str(tmp_path / "topic")
    records = events_to_kafka_records(ev.repartition(4))
    assert [f.name for f in records.schema.fields] == [
        f.name for f in KAFKA_WIRE_SCHEMA.fields
    ]
    records.write.parquet(topic_dir)

    # offsets are monotonic per wire partition (the replay contract)
    back = spark.read.parquet(topic_dir)
    per_part = (
        back.groupBy("partition")
        .agg(F.count("*").alias("n"), (F.max("offset") + 1).alias("hi"), F.min("offset").alias("lo"))
        .collect()
    )
    assert all(r.lo == 0 and r.hi == r.n for r in per_part)

    stream = kafka_shaped_file_stream(spark, topic_dir, max_files_per_trigger=2)
    parsed = parse_json_value(stream, PAYLOAD_DDL)
    agg = (
        parsed.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )
    streamed = run_available_now(agg, "kafka_stream_sink").toPandas()

    batch = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
        .toPandas()
    )
    key = ["window_start", "event_type"]
    streamed = streamed.sort_values(key).reset_index(drop=True)
    batch = batch.sort_values(key).reset_index(drop=True)
    assert len(streamed) == len(batch)
    assert (streamed["n_events"].to_numpy() == batch["n_events"].to_numpy()).all()
    assert np.allclose(streamed["total_value"], batch["total_value"])


def test_malformed_values_route_to_nulls(spark, tmp_path):
    """from_json null-safety: broken payload bytes become null payload rows,
    not a failed batch (the dead-letter contract in parse_json_value)."""
    from woe_monotonic_binning_spark.streaming.kafka import (
        kafka_shaped_file_stream,
        parse_json_value,
    )
    import datetime

    rows = [
        (None, b'{"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 7, '
               b'"event_type": "click", "value": 1.5, "props": "{}"}',
         "events", 0, 0, datetime.datetime(2024, 1, 1), 0),
        (None, b"NOT JSON AT ALL", "events", 0, 1, datetime.datetime(2024, 1, 1), 0),
    ]
    from woe_monotonic_binning_spark.streaming.kafka import KAFKA_WIRE_SCHEMA

    d = str(tmp_path / "t2")
    spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA).write.parquet(d)
    parsed = parse_json_value(kafka_shaped_file_stream(spark, d), PAYLOAD_DDL)
    from woe_monotonic_binning_spark.streaming.events import run_available_now

    out = run_available_now(
        parsed, "kafka_dead_letter_sink", output_mode="append"
    ).toPandas()
    assert len(out) == 2
    ok = out[out["event_id"].notna()]
    bad = out[out["event_id"].isna()]
    assert len(ok) == 1 and int(ok.iloc[0]["user_id"]) == 7
    assert len(bad) == 1
