"""Streaming-layer tests (SURVEY.md §5.4): file-source replay through the
full speed layer with `processAllAvailable`, asserting the stream's outputs
equal the batch-computed expectation (no Kafka broker in this container)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from flink_recommendation_system_spark.plans.recommendations import (
    user_recommendations,
)
from flink_recommendation_system_spark.plans.top_products import top_products
from flink_recommendation_system_spark.sources.tables import reviews_from_events
from flink_recommendation_system_spark.streaming.pipeline import (
    enrich_with_recommendations,
    parse_review_json,
    read_review_stream_json,
    start_speed_layer,
    to_output_json,
)
from tests.conftest import SF0001


def _write_stream_files(tmp_path, reviews, n_files=3):
    """Split review rows across several JSON-lines files (wire format)."""
    rows = reviews.collect()
    d = tmp_path / "stream_in"
    d.mkdir()
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        chunk = rows[i * per : (i + 1) * per]
        with open(d / f"part-{i}.json", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "userId": r["user_id"],
                            "productId": r["product_id"],
                            "review": r["rating"],
                            "timestamp": r["ts"],
                        }
                    )
                    + "\n"
                )
    return str(d)


def test_speed_layer_replay_matches_batch_snapshot(spark, tmp_path):
    reviews = reviews_from_events(spark, SF0001)
    # publish the model tables (batch layers A+B)
    recs_path = str(tmp_path / "user_recommendations")
    top_path = str(tmp_path / "top_products")
    user_recommendations(reviews).write.parquet(recs_path)
    top_products(reviews).select("product_id").write.parquet(top_path)

    stream_dir = _write_stream_files(tmp_path, reviews)
    ratings_out = str(tmp_path / "user_ratings")
    output_out = str(tmp_path / "output")

    stream = read_review_stream_json(spark, stream_dir, max_files_per_trigger=1)
    q = start_speed_layer(
        stream,
        recs_path,
        top_path,
        ratings_out,
        output_out,
        str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    # sink (a): all distinct ratings persisted (SADD set semantics)
    persisted = spark.read.parquet(ratings_out)
    expected_ratings = reviews.select("user_id", "product_id", "rating").distinct()
    assert persisted.distinct().count() == expected_ratings.count()
    assert persisted.exceptAll(expected_ratings).count() == 0

    # sink (b): every user got an output row; parse wire JSON and compare
    # against the batch-mode enrichment (same function, static input)
    out = parse_output(spark, output_out)
    expected = enrich_with_recommendations(
        reviews,
        spark.read.parquet(recs_path),
        spark.read.parquet(top_path),
    )
    exp = {r["user_id"]: r["recommended_products"] for r in expected.collect()}
    got = {}
    for r in out.collect():
        # users can appear in several micro-batches; recommendations are
        # identical each time (static model), so last-write-wins is fine
        got[r["user_id"]] = r["recommended_products"]
    assert got == exp


def parse_output(spark, path):
    from flink_recommendation_system_spark.schemas import OUTPUT_SCHEMA

    raw = spark.read.parquet(path)
    parsed = raw.select(F.from_json("value", OUTPUT_SCHEMA).alias("o"))
    return parsed.select(
        F.col("o.userId").alias("user_id"),
        F.col("o.recommendedProducts").alias("recommended_products"),
    )


def test_fallback_user_gets_top_products(spark, tmp_path):
    reviews = reviews_from_events(spark, SF0001)
    recs_path = str(tmp_path / "recs")
    top_path = str(tmp_path / "top")
    user_recommendations(reviews).write.parquet(recs_path)
    top_products(reviews).select("product_id").write.parquet(top_path)

    # a brand-new user (not in the model) sends one review
    novel = spark.createDataFrame(
        [(999_999, 1, 5.0, 0)], ["user_id", "product_id", "rating", "ts"]
    )
    enriched = enrich_with_recommendations(
        novel, spark.read.parquet(recs_path), spark.read.parquet(top_path)
    )
    rows = enriched.collect()
    assert len(rows) == 1
    top_ids = sorted(
        str(r["product_id"])
        for r in spark.read.parquet(top_path).collect()
    )[:20]
    assert rows[0]["recommended_products"] == top_ids


def test_output_json_wire_format_roundtrip(spark):
    reviews = reviews_from_events(spark, SF0001).limit(50)
    recs = user_recommendations(reviews_from_events(spark, SF0001))
    top = top_products(reviews_from_events(spark, SF0001)).select("product_id")
    enriched = enrich_with_recommendations(reviews, recs, top)
    wire = to_output_json(enriched)
    assert wire.columns == ["value"]
    sample = json.loads(wire.first()["value"])
    assert set(sample) == {"userId", "recommendedProducts"}
    assert isinstance(sample["recommendedProducts"], list)
    assert len(sample["recommendedProducts"]) <= 20


def test_review_json_parse_handles_malformed_lines(spark):
    raw = spark.createDataFrame(
        [("{\"userId\": 1, \"productId\": 2, \"review\": 4.5, \"timestamp\": 7}",),
         ("not json at all",),
         ("{}",)],
        ["value"],
    )
    parsed = parse_review_json(raw).collect()
    assert parsed[0]["user_id"] == 1 and parsed[0]["rating"] == 4.5
    # malformed → nulls, not exceptions (PERMISSIVE from_json)
    assert parsed[1]["user_id"] is None
    assert parsed[2]["user_id"] is None


def test_replay_generator_events_match_batch_reviews(spark, tmp_path):
    """The throttled replay generator (examples/replay_generator.py — the
    producer-script counterpart of the reference's 1-event/s Kafka
    generator) must emit wire events that parse back to exactly the
    batch-derived review rows, one file per event."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from examples.replay_generator import generate

    out_dir = str(tmp_path / "replayed")
    n = generate(SF0001, out_dir, rate=0, limit=25)  # rate=0 → no throttle
    assert n == 25
    assert len(os.listdir(out_dir)) == 25  # one complete file per event

    stream = read_review_stream_json(spark, out_dir, max_files_per_trigger=5)
    sink = str(tmp_path / "parsed")
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    expected_all = {
        tuple(r)
        for r in reviews_from_events(spark, SF0001)
        .select("user_id", "product_id", "rating", "ts")
        .collect()
    }
    assert len(got) == 25
    assert got <= expected_all


def test_streaming_top_products_refresh_converges_to_batch(spark, tmp_path):
    """After replaying the full review stream, the continuously-refreshed
    model must equal the batch top_products result exactly."""
    from flink_recommendation_system_spark.streaming.model_refresh import (
        start_top_products_refresh,
    )

    reviews = reviews_from_events(spark, SF0001)
    stream_dir = _write_stream_files(tmp_path, reviews, n_files=4)
    model_path = str(tmp_path / "top_model")

    stream = read_review_stream_json(spark, stream_dir, max_files_per_trigger=1)
    q = start_top_products_refresh(
        stream, model_path, str(tmp_path / "ckpt_model")
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["product_id"], r["avg_rating"], r["review_cnt"])
        for r in spark.read.parquet(model_path).collect()
    }
    expected = {
        (r["product_id"], r["avg_rating"], r["review_cnt"])
        for r in top_products(reviews).collect()
    }
    assert got == expected


def test_streaming_top_products_refresh_null_ratings_match_batch(spark, tmp_path):
    """NULL ratings reach both paths (an out-of-domain value loads as
    NULL; a wire event without a usable ``review`` parses to NULL). The
    continuous model must publish exactly the batch ``top_products`` rows
    on the same reviews — including a product whose ratings are all NULL
    — rather than averaging NULLs in as zeros."""
    from flink_recommendation_system_spark.streaming.model_refresh import (
        start_top_products_refresh,
    )

    base = reviews_from_events(spark, SF0001)
    nulled = base.withColumn(
        "rating",
        F.when(
            (F.col("user_id") + F.col("product_id")) % 3 == 0, F.lit(None)
        ).otherwise(F.col("rating")),
    )
    all_null = spark.createDataFrame(
        [(900000 + i, 999999, None, 1) for i in range(12)], base.schema
    )
    reviews = nulled.unionByName(all_null)
    stream_dir = _write_stream_files(tmp_path, reviews, n_files=3)
    model_path = str(tmp_path / "top_model")

    stream = read_review_stream_json(spark, stream_dir, max_files_per_trigger=1)
    q = start_top_products_refresh(
        stream, model_path, str(tmp_path / "ckpt_model"), k=100
    )
    q.processAllAvailable()
    q.stop()

    got = {tuple(r) for r in spark.read.parquet(model_path).collect()}
    expected = {tuple(r) for r in top_products(reviews, k=100).collect()}
    assert (999999, None, 12) in expected
    assert got == expected


def test_streaming_upsert_refresh_converges_to_latest_per_key(spark, tmp_path):
    """Replaying a stream of keyed model updates through the MERGE
    publisher must leave exactly the latest (max-ts) row per key — across
    batches via merge_upsert, within a batch via the max-struct dedup."""
    from flink_recommendation_system_spark.streaming.model_refresh import (
        start_upsert_refresh,
    )

    # per-user model updates: (user_id, ts, score); later ts wins
    rows = [
        (1, 10, 0.1), (2, 10, 0.2), (3, 10, 0.3),   # file 0: seed
        (1, 20, 0.5), (4, 20, 0.4),                 # file 1: update+insert
        (2, 30, 0.9), (2, 25, 0.7),                 # file 2: same-batch dup
    ]
    import json as _json

    src = tmp_path / "updates"
    src.mkdir()
    for i, chunk in enumerate([rows[:3], rows[3:5], rows[5:]]):
        with open(src / f"f{i}.json", "w") as fh:
            for u, ts, sc in chunk:
                fh.write(_json.dumps({"user_id": u, "ts": ts, "score": sc}) + "\n")

    schema = "user_id BIGINT, ts BIGINT, score DOUBLE"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    model = str(tmp_path / "model")
    q = start_upsert_refresh(
        stream, model, str(tmp_path / "ckpt_upsert"), key_cols=["user_id"]
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r.user_id, r.ts, r.score)
        for r in spark.read.parquet(model).collect()
    }
    assert got == {(1, 20, 0.5), (2, 30, 0.9), (3, 10, 0.3), (4, 20, 0.4)}
