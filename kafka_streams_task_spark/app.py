"""Application entry points — the engine's analogues of the reference's two
mains (WeatherHotelsApp.main, WeatherHotelsApp.java:37-44; MyStream.main,
MyStream.java:35-199).

Run the canonical weather-hotels topology against Kafka topics (production)
or file paths (dev/test — the broker-less seam):

    python -m kafka_streams_task_spark.app \
        --weather-topic weather_01 --hotels-topic addresses2 \
        --output-topic aw --bootstrap-servers broker:9092 \
        --checkpoint /tmp/ckpt

    python -m kafka_streams_task_spark.app \
        --weather-path /data/weather_json --hotels-path /data/hotels.json \
        --output-path /data/enriched --mode batch

Topic names default to the reference's (WeatherHotelsApp.java:31-34).
"""

from __future__ import annotations

import argparse

from pyspark.sql import SparkSession

from .operators.weather import weather_hotels_pipeline
from .plans import get_spark
from .schemas import HOTELS_RAW, WEATHER_RAW


def run_batch(
    spark: SparkSession,
    weather_path: str,
    hotels_path: str,
    output_path: str | None,
    how: str = "inner",
):
    """Bounded run: JSON files in, enriched parquet (or show) out."""
    weather = spark.read.schema(WEATHER_RAW).json(weather_path)
    hotels = spark.read.schema(HOTELS_RAW).json(hotels_path)
    out = weather_hotels_pipeline(weather, hotels, how=how)
    if output_path:
        out.write.mode("overwrite").parquet(output_path)
    else:
        out.show(20, truncate=False)
    return out


def run_streaming_kafka(
    spark: SparkSession,
    weather_topic: str,
    hotels_topic: str,
    output_topic: str,
    bootstrap_servers: str,
    checkpoint: str,
):
    """Continuous run: the reference's production wiring. The hotel table is
    bootstrapped from its topic as a batch read (the dimension side), the
    weather stream drives continuous updates to the output topic."""
    from .sources.kafka import read_kafka_batch, read_kafka_stream
    from .operators.weather import parse_hotels, parse_weather
    from .streaming.topology import weather_hotels_stream

    hotels = parse_hotels(read_kafka_batch(spark, hotels_topic, bootstrap_servers))
    weather_stream = parse_weather(
        read_kafka_stream(spark, weather_topic, bootstrap_servers)
    )
    enriched = weather_hotels_stream(weather_stream, hotels)
    from .sources.kafka import write_kafka_stream

    return write_kafka_stream(
        enriched,
        output_topic,
        checkpoint_dir=checkpoint,
        key_col="hash",
        bootstrap_servers=bootstrap_servers,
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="weather-hotels enrichment engine")
    ap.add_argument("--mode", choices=["batch", "stream"], default="batch")
    ap.add_argument("--weather-topic", default="weather_01")  # WeatherHotelsApp.java:31
    ap.add_argument("--hotels-topic", default="addresses2")  # WeatherHotelsApp.java:32
    ap.add_argument("--output-topic", default="aw")  # MyStream.java:45
    ap.add_argument("--bootstrap-servers", default="localhost:9092")
    ap.add_argument("--checkpoint", default="/tmp/weather_hotels_ckpt")
    ap.add_argument("--weather-path")
    ap.add_argument("--hotels-path")
    ap.add_argument("--output-path")
    ap.add_argument("--join", choices=["inner", "left"], default="inner")
    args = ap.parse_args(argv)
    if args.mode == "batch" and not (args.weather_path and args.hotels_path):
        ap.error("batch mode needs --weather-path and --hotels-path")
    if args.mode == "stream" and args.join != "inner":
        # the stream-static topology only expresses the inner join (see
        # streaming.topology.weather_hotels_stream)
        ap.error("stream mode supports only --join inner")

    spark = get_spark(app_name="weather_hotels_app")
    if args.mode == "batch":
        run_batch(spark, args.weather_path, args.hotels_path, args.output_path, args.join)
    else:
        q = run_streaming_kafka(
            spark,
            args.weather_topic,
            args.hotels_topic,
            args.output_topic,
            args.bootstrap_servers,
            args.checkpoint,
        )
        q.awaitTermination()


if __name__ == "__main__":
    main()
