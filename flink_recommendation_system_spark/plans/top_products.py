"""Batch layer A — top products by average rating.

Reference: ProductReviewAggregation.java:24-61 — reads all ratings, computes
per-product AVG over products with more than ``min_reviews`` reviews, takes
the top ``k``, publishes to Redis set `topProducts` (mapper :84-100).

Spark-first design (SURVEY.md §3.1): one declarative plan —
``groupBy → avg/count → HAVING → orderBy → limit`` — where Catalyst gives
partial (map-side) aggregation for free and `TakeOrderedAndProject` computes
a *correct global* top-k without a total sort. The reference's
``sortPartition(1, DESC).first(20)`` (ProductReviewAggregation.java:51) is
only a true top-k at parallelism 1; we implement the intended semantics
(SURVEY.md §2.5 O1).

Scale notes (100 TB): the aggregation shuffles only (product_id, partial
sum/count) pairs thanks to map-side combine — shuffle volume is bounded by
|distinct products| × partitions, not by row count. Top-k keeps only k rows
per partition before the final merge. No driver round-trip (the reference
pulls the whole dataset through the client heap twice, :56,:60).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TOP_PRODUCTS_K = 20  # topProductsNumber, ProductReviewAggregation.java:25
MIN_REVIEWS = 10  # minReviewsNumber, ProductReviewAggregation.java:26


def top_products(
    reviews: DataFrame,
    k: int = TOP_PRODUCTS_K,
    min_reviews: int = MIN_REVIEWS,
) -> DataFrame:
    """`SELECT product_id, AVG(rating) GROUP BY product_id HAVING COUNT(*) > n
    ORDER BY avg DESC LIMIT k` (ProductReviewAggregation.java:37-51).

    Tie-break: (avg_rating DESC, product_id ASC) — deterministic so the
    result set is stable across partitionings (the reference's is not).
    ``avg_rating`` is rounded to 6 decimals to make the oracle hash robust
    to summation order.

    The ONE ranking policy: the continuous refresh
    (``streaming.model_refresh``) runs this same plan on the review
    stream. A NULL rating counts as a review but not in the average; a
    product whose ratings are all NULL averages to NULL (no division, so
    ANSI-safe) and ranks last.
    """
    return (
        reviews.groupBy("product_id")
        .agg(
            F.round(F.avg("rating"), 6).alias("avg_rating"),
            F.count(F.lit(1)).alias("review_cnt"),
        )
        .filter(F.col("review_cnt") > min_reviews)
        .orderBy(F.col("avg_rating").desc(), F.col("product_id").asc())
        .limit(k)
    )


def publish_top_products(df: DataFrame, path: str) -> None:
    """Overwrite-on-publish replaces the reference's DEL+SADD Redis MULTI
    transaction (ProductReviewAggregation.java:52-58) — S7 in SURVEY.md §2.1.
    """
    df.write.mode("overwrite").parquet(path)
