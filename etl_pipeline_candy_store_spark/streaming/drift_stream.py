"""Streaming source-drift monitor: a ``foreachBatch`` sink that keeps
q231's per-source token-distribution state current by merging each
micro-batch's (source, token) counts into a parquet target, plus a
read-side derivation of the total-variation drift report — the
streaming counterpart of the batch divergence query
(operators/corpus_curation.py: q231_source_divergence).

Same state philosophy as the quality-gate twin
(streaming/quality_gate_stream.py): the stored relation is the pure
mergeable thing (integer token counts — vocab-sized, arrival-order
independent by construction), and the judgment (TVD against the rest of
the corpus) is derived on read, because every source's divergence
changes whenever ANY source receives data. After any sequence of
batches covering a corpus, the state equals the batch token-count
relation exactly, so :func:`read_divergence` equals batch q231 exactly.

This is the monitor a crawl-ingest pipeline runs continuously: each
arriving batch updates the counts; a scheduled read of
:func:`read_divergence` flags sources whose language drifted (spam
influx, scraper breakage, generated-text flooding) without ever
re-scanning the corpus. At web scale, cap the state to the global
top-64k tokens per the q231 note (fold the tail into one row per
source) — the merge stays pure addition.

Exactly-once posture: count-merge is not idempotent, so the sink reuses
the shared max-applied ledger protocol (operators/ledger.py); replayed
micro-batches are detected and skipped, and the ledger swaps atomically
with the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import _hadoop_fs
from etl_pipeline_candy_store_spark.streaming.upsert_sink import (
    _fs_recover,
    _fs_swap,
)

_LEDGER = "_applied"


def _batch_counts(batch: DataFrame) -> DataFrame:
    """Per-(source, token) counts for one micro-batch of documents."""
    return (
        batch.select(
            "source", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def stream_token_counts(
    doc_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the token-count-maintenance foreachBatch sink; returns the
    (unstarted) ``DataStreamWriter``. After every applied batch the
    target parquet holds exactly the per-(source, token) counts a
    from-scratch scan of all rows seen so far would produce — for ANY
    arrival order or batch split."""

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
        applied_max = read_max_applied(spark, fs, jvm, target, _LEDGER)
        if fs.exists(P(target)):
            if batch_id <= applied_max:
                return  # replayed delivery — already merged, skip
            merged = (
                spark.read.parquet(target)
                .unionByName(_batch_counts(batch))
                .groupBy("source", "tok")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        else:
            merged = _batch_counts(batch)
        tmp = target + f"._tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        write_applied_into(spark, tmp, batch_id, _LEDGER)
        _fs_swap(spark, tmp, target)

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


def read_divergence(spark: SparkSession, target_path: str) -> DataFrame:
    """Derive the per-source TVD drift report from the maintained token
    counts — the identical arithmetic as batch q231, with the count
    relation read from state instead of recomputed."""
    sc = spark.read.parquet(target_path.rstrip("/"))
    st = sc.groupBy("source").agg(F.sum("c").cast("long").alias("s"))
    tt = sc.groupBy("tok").agg(F.sum("c").cast("long").alias("ct"))
    tot = sc.agg(F.sum("c").cast("long").alias("t"))
    grid = (
        st.crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tot))
        .join(sc, ["source", "tok"], "left")
        .select(
            "source",
            "s",
            "ct",
            "t",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    return grid.groupBy("source").agg(
        F.expr(
            "cast(sum(abs((c * 1000000) div s"
            " - ((ct - c) * 1000000) div (t - s))) div 2 as bigint)"
        ).alias("tvd_ppm")
    )
