"""Streaming incremental-rollup maintenance: a ``foreachBatch`` sink
that keeps the q164 per-(month, status) order rollup current by merging
each micro-batch's PARTIAL AGGREGATES into a parquet target — the
streaming counterpart of the batch partial-merge operator
(plans/relational.py: q164_incremental_rollup).

Shape: per micro-batch, (1) aggregate the batch to (month, status,
count, revenue-cents) partials — counts and integer cents, so the merge
is exact integer addition with no accumulation-order drift, (2) union
with the current target and re-aggregate (count+count, cents+cents),
(3) rewrite the target via the same write-temp-then-atomic-swap
protocol as the CDC upsert sink. At 100 TB this is the pattern that
keeps a daily revenue rollup fresh by scanning ONLY the new arrivals:
per-batch work is one batch-sized aggregation plus a merge against a
rollup whose size is bounded by (months x statuses), never by history.

Exactly-once posture: unlike the upsert sink, a sum-merge is NOT
idempotent (re-adding a replayed batch double-counts), so this sink
carries an applied-batch ledger INSIDE the target directory
(``<target>/_applied`` — underscore-prefixed paths are invisible to
parquet readers of the target, and the ledger swaps atomically with the
data in the same directory rename). A redelivered batch id found in the
ledger is skipped, upgrading foreachBatch's at-least-once delivery to
exactly-once application — the standard recipe Structured Streaming
documents for non-idempotent sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import _hadoop_fs
from etl_pipeline_candy_store_spark.streaming.upsert_sink import (
    _fs_recover,
    _fs_swap,
)

_LEDGER = "_applied"


def _batch_partials(batch: DataFrame) -> DataFrame:
    return batch.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.sum(F.col("o_totalprice").cast("decimal(15,2)")) * 100)
        .cast("long")
        .alias("revenue_cents"),
    )


def stream_incremental_rollup(
    order_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the rollup-maintenance foreachBatch sink; returns the
    (unstarted) ``DataStreamWriter``. After every applied batch the
    target parquet holds exactly the rollup a from-scratch q164-style
    recompute over all rows seen so far would produce."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from etl_pipeline_candy_store_spark.operators.ledger import (
            read_max_applied,
            write_applied_into,
        )

        spark = batch.sparkSession
        _fs_recover(spark, target_path)
        jvm, fs = _hadoop_fs(spark, target_path)
        P = jvm.org.apache.hadoop.fs.Path
        target = target_path.rstrip("/")
        # shared max-applied protocol (operators/ledger.py): only the
        # MAX batch_id is stored (ids are monotonic, only recent batches
        # redeliver), an absent ledger on an externally-seeded target
        # means "nothing applied", and a zero-row ledger (crash between
        # swap steps) recovers instead of wedging
        applied_max = read_max_applied(spark, fs, jvm, target, _LEDGER)
        if fs.exists(P(target)):
            if batch_id <= applied_max:
                return  # replayed delivery — already merged, skip
            merged = (
                spark.read.parquet(target)
                .unionByName(_batch_partials(batch))
                .groupBy("month", "o_orderstatus")
                .agg(
                    F.sum("n_orders").cast("long").alias("n_orders"),
                    F.sum("revenue_cents").cast("long").alias("revenue_cents"),
                )
            )
        else:
            merged = _batch_partials(batch)
        tmp = target + f"._tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        # ledger stamped INSIDE the unswapped version: data + the fact
        # of its application become visible in one atomic rename
        write_applied_into(spark, tmp, batch_id, _LEDGER)
        _fs_swap(spark, tmp, target)

    return (
        order_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
