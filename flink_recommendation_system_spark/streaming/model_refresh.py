"""Continuous model refresh — batch layer A as a streaming aggregation.

The reference refreshes `topProducts` only when someone re-runs the batch
job (ProductReviewAggregation.java:24-61). Structured Streaming can keep
the same model continuously fresh: the stream runs the batch layer's own
``top_products`` plan as a complete-mode streaming aggregation, and every
micro-batch republishes the current top-k via ``foreachBatch`` — the
speed layer (which re-reads the model per batch, streaming/pipeline.py)
then serves it immediately. One plan for both paths means the stream
ranks exactly as the batch layer does, NULL ratings included.

Scale notes: state is the per-product average/count — bounded by product
cardinality, not stream length; the top-k is computed from the aggregated
state (tiny) each batch, and stage-and-swap publish keeps readers atomic
(same contract as S7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.top_products import MIN_REVIEWS, TOP_PRODUCTS_K, top_products


def start_top_products_refresh(
    reviews_stream: DataFrame,
    model_path: str,
    checkpoint_dir: str,
    k: int = TOP_PRODUCTS_K,
    min_reviews: int = MIN_REVIEWS,
):
    """Continuously maintain the `top_products` model from a review stream.

    Runs ``top_products`` on the stream in complete output mode and
    republishes the current top-k parquet model every micro-batch.
    Returns the StreamingQuery.
    """

    def publish(top: DataFrame, batch_id: int) -> None:
        # stage-and-swap, NOT a plain overwrite: the speed layer reads
        # model_path concurrently every micro-batch, and mode("overwrite")
        # deletes-then-writes — a concurrent read lands on a partial or
        # empty model (or dies on the missing path). The swap shrinks the
        # reader-visible window to two renames; readers pair it with
        # read_parquet_retry for the residual microseconds.
        from ..sources.warehouse import staged_swap

        staged_swap(
            lambda staging: top.write.mode("overwrite").parquet(staging),
            model_path,
        )

    return (
        top_products(reviews_stream, k, min_reviews)
        .writeStream.outputMode("complete")
        .foreachBatch(publish)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def start_upsert_refresh(
    updates_stream: DataFrame,
    model_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
):
    """Continuously MERGE a stream of keyed model updates into a parquet
    model table — the upsert counterpart of the overwrite publisher above:
    instead of recomputing the whole model per batch, each micro-batch
    carries only changed keys and ``merge_upsert`` folds them in (update /
    insert; within a batch one row per key survives — the max value
    struct in COLUMN ORDER, so place a ``ts`` column first among the
    value columns to get last-write-wins, as the events schema here
    does).

    Crash-safety composition: merge_upsert's stage-and-swap keeps the live
    table atomic per batch, and a replayed batch (crash before checkpoint
    commit) re-merges the same rows — idempotent because upserting the
    same (key, value) twice is a no-op. Returns the StreamingQuery.

    Scale: per-batch cost is one anti-join of the model against the
    batch's key set (broadcastable — batches are small relative to the
    model) plus the rewrite. A table format (Delta/Iceberg) would replace
    the rewrite with a metadata commit; the orchestration here is
    format-agnostic.
    """
    from ..sources.warehouse import merge_upsert

    def process(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return
        val_cols = [c for c in batch.columns if c not in key_cols]
        # one row per key: keep the max (ts-first) value struct —
        # deterministic regardless of partitioning/arrival order
        dedup = (
            batch.groupBy(*key_cols)
            .agg(F.max(F.struct(*val_cols)).alias("_v"))
            .select(*key_cols, "_v.*")
        )
        merge_upsert(batch.sparkSession, model_path, dedup, key_cols)

    return (
        updates_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
