"""MLlib ALS recommendations: shape, exclusions and determinism."""

from __future__ import annotations

from flink_recommendation_system_spark.plans.als_recommendations import (
    als_user_recommendations,
)
from flink_recommendation_system_spark.sources.tables import reviews_from_events
from tests.conftest import SF0001


def test_als_recommendations_shape_and_exclusions(spark):
    reviews = reviews_from_events(spark, SF0001)
    recs = als_user_recommendations(reviews, k=20)
    per_user = recs.groupBy("user_id").count().collect()
    assert all(r["count"] <= 20 for r in per_user)
    # no recommended item the user already rated
    seen = reviews.select("user_id", "product_id").distinct()
    assert recs.join(seen, ["user_id", "product_id"], "left_semi").count() == 0
    # deterministic with fixed seed
    recs2 = als_user_recommendations(reviews, k=20)
    assert recs.exceptAll(recs2).count() == 0


def test_als_stable_across_parallelism(spark):
    """ALS (seed=42, scores rounded to 6 dp before ranking, id tie-break)
    is value-identical under different shuffle parallelism — measured
    cross-process and cross-partition-count at sf0.01 (PERFORMANCE.md
    'ALS determinism'). A SQL oracle is infeasible (iterative blocked
    least-squares), so this pins the strongest checkable property: the
    registered rows-only query is a deterministic function of the input,
    not of the cluster layout."""
    reviews = reviews_from_events(spark, SF0001)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = als_user_recommendations(reviews, k=20).collect()
        spark.conf.set("spark.sql.shuffle.partitions", "13")
        b = als_user_recommendations(reviews, k=20).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
