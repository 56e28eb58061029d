"""CLI arg-surface tests (no SparkSession started; ``main`` runs against
fakes)."""

from __future__ import annotations

import pytest

from stedi_human_balance_redis_kafka_spark_streaming_spark import app
from stedi_human_balance_redis_kafka_spark_streaming_spark.app import _parser


def test_kafkajoin_defaults():
    args = _parser().parse_args(["kafkajoin"])
    assert args.command == "kafkajoin"
    assert args.bootstrap == "localhost:9092"
    assert args.out_topic == "customer-risk"
    assert args.checkpoint == "/tmp/spark-checkpoints/kafkajoin"
    assert not args.watermarked


def test_console_commands_and_flags():
    args = _parser().parse_args(
        ["--bootstrap", "broker:9093", "--max-offsets-per-trigger", "5000",
         "redis-console"]
    )
    assert args.command == "redis-console"
    assert args.bootstrap == "broker:9093"
    assert args.max_offsets_per_trigger == 5000
    assert _parser().parse_args(["events-console"]).command == "events-console"


def test_unknown_command_rejected():
    with pytest.raises(SystemExit):
        _parser().parse_args(["nope"])


def test_main_registers_progress_listener_before_query_starts(monkeypatch):
    calls = []

    class FakeStreams:
        def addListener(self, listener):
            calls.append(("addListener", type(listener).__name__))

    class FakeSpark:
        streams = FakeStreams()

    class FakeQuery:
        def awaitTermination(self):
            calls.append(("awaitTermination",))

    def start(sdf):
        calls.append(("start", sdf))
        return FakeQuery()

    monkeypatch.setattr(app, "get_spark", lambda app_name: FakeSpark())
    monkeypatch.setattr(app.kafka, "read_kafka_stream", lambda spark, topic, **kw: topic)
    monkeypatch.setattr(app.sq, "customers_stream", lambda raw: raw)
    monkeypatch.setattr(app.kafka, "write_console_stream", start)
    app.main(["redis-console"])
    assert calls == [
        ("addListener", "JsonProgressListener"),
        ("start", app.DEFAULT_REDIS_TOPIC),
        ("awaitTermination",),
    ]
