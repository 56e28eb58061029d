"""CLI entry points mirroring the reference's three spark-submit scripts.

A user of the reference runs (project/starter/submit-*.sh):
  sparkpyrediskafkastreamtoconsole.py  →  stedi-app redis-console
  sparkpyeventskafkastreamtoconsole.py →  stedi-app events-console
  sparkpykafkajoin.py                  →  stedi-app kafkajoin

Usage (spark-submit or plain python; the Kafka connector jar must be on
the classpath for real brokers):

  python -m stedi_human_balance_redis_kafka_spark_streaming_spark.app \
      kafkajoin --bootstrap localhost:9092 \
      --checkpoint /tmp/spark-checkpoints/kafkajoin [--watermarked]

Every command writes its streaming progress to stderr, one JSON line per
micro-batch (streaming/progress.py).
"""

from __future__ import annotations

import argparse

from .session import get_spark
from .sources import kafka
from .streaming import queries as sq
from .streaming.progress import JsonProgressListener

DEFAULT_REDIS_TOPIC = "redis-server"  # reference: sparkpykafkajoin.py:70
DEFAULT_EVENTS_TOPIC = "stedi-events"  # reference: sparkpykafkajoin.py:197
DEFAULT_OUT_TOPIC = "customer-risk"  # reference: sparkpykafkajoin.py:291


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="stedi-app")
    p.add_argument("--bootstrap", default="localhost:9092")
    p.add_argument("--starting-offsets", default="earliest")
    p.add_argument("--max-offsets-per-trigger", type=int, default=None)
    sub = p.add_subparsers(dest="command", required=True)

    sub.add_parser("redis-console", help="decoded customer profiles → console")
    sub.add_parser("events-console", help="parsed risk events → console")

    join = sub.add_parser("kafkajoin", help="customer⨝risk → customer-risk topic")
    join.add_argument("--out-topic", default=DEFAULT_OUT_TOPIC)
    join.add_argument(
        "--checkpoint", default="/tmp/spark-checkpoints/kafkajoin"
    )
    join.add_argument(
        "--watermarked",
        action="store_true",
        help="bound join state with watermarks (production mode); "
        "default is the reference-faithful unbounded join",
    )
    return p


def main(argv: list[str] | None = None) -> None:
    args = _parser().parse_args(argv)
    spark = get_spark(app_name=f"stedi-{args.command}")
    spark.streams.addListener(JsonProgressListener())

    def read(topic: str):
        return kafka.read_kafka_stream(
            spark,
            topic,
            bootstrap_servers=args.bootstrap,
            starting_offsets=args.starting_offsets,
            max_offsets_per_trigger=args.max_offsets_per_trigger,
        )

    if args.command == "redis-console":
        query = kafka.write_console_stream(sq.customers_stream(read(DEFAULT_REDIS_TOPIC)))
    elif args.command == "events-console":
        query = kafka.write_console_stream(sq.risk_stream(read(DEFAULT_EVENTS_TOPIC)))
    else:
        out = sq.customer_risk_stream(
            read(DEFAULT_REDIS_TOPIC),
            read(DEFAULT_EVENTS_TOPIC),
            mode="watermarked" if args.watermarked else "unbounded",
        )
        query = kafka.write_kafka_stream(
            out,
            args.out_topic,
            bootstrap_servers=args.bootstrap,
            checkpoint_location=args.checkpoint,
        )
    query.awaitTermination()  # reference: sparkpykafkajoin.py:296


if __name__ == "__main__":
    main()
