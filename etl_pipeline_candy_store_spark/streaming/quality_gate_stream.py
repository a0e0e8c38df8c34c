"""Streaming maintenance of the per-source quality-gate histogram: a
``foreachBatch`` sink that keeps the q232 gate's score histogram current
by merging each micro-batch's per-(source, score) counts into a parquet
target — the streaming counterpart of the batch histogram gate
(operators/corpus_curation.py: q232_quality_histogram_gate /
``histogram_gate``).

State design: the stored relation is EXACT per-(source, score) counts,
not per-bin counts. Bin edges depend on the corpus-wide min/max score,
which moves as data arrives — binning at write time would bake a stale
edge domain into the state. Scores here are token counts (bounded by
document length), so the state is at most sources x distinct-scores
rows — tiny, integer, mergeable by plain addition, and therefore
ARRIVAL-ORDER INDEPENDENT: after any sequence of batches covering a
corpus, the state equals the batch histogram over that corpus exactly,
so the derived gate equals batch q232 exactly. (For an unbounded score
domain, pre-quantize the score to a fixed lattice — e.g. floor(log2) —
and the same state shape holds.)

Derivation on read (:func:`read_gated`): global min/max from the state,
fixed-bin edges, per-source cumulative threshold bins — the identical
arithmetic as ``histogram_gate`` — then gate ANY document relation
against those thresholds. Keep decisions are intentionally NOT stored:
like the stream-curate keeper set, a doc's fate can change as later
batches shift a source's distribution, so the state keeps only what is
monotone under merge (counts) and the verdict is derived.

Exactly-once posture: count-merge is not idempotent, so the sink reuses
the shared max-applied ledger protocol (operators/ledger.py) exactly as
the rollup sink does — replayed micro-batches are detected and skipped,
and the ledger swaps atomically with the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.corpus_curation import (
    _GATE_BINS,
    _GATE_FRAC_DEN,
    _GATE_FRAC_NUM,
)
from etl_pipeline_candy_store_spark.operators.ledger import _hadoop_fs
from etl_pipeline_candy_store_spark.streaming.upsert_sink import (
    _fs_recover,
    _fs_swap,
)

_LEDGER = "_applied"


def _batch_counts(batch: DataFrame) -> DataFrame:
    """Per-(source, score) counts for one micro-batch of documents."""
    return (
        batch.select(
            "source",
            F.size(F.split("text", " ")).cast("long").alias("score"),
        )
        .groupBy("source", "score")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def stream_quality_histogram(
    doc_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the histogram-maintenance foreachBatch sink; returns the
    (unstarted) ``DataStreamWriter``. After every applied batch the
    target parquet holds exactly the per-(source, score) counts a
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
                .groupBy("source", "score")
                .agg(F.sum("cnt").cast("long").alias("cnt"))
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


def read_gated(
    spark: SparkSession, target_path: str, docs: DataFrame
) -> DataFrame:
    """Gate ``docs`` (doc_id, source, text) against the maintained
    histogram state — the identical arithmetic as the batch
    ``histogram_gate``, with the histogram read from state instead of
    recomputed. Returns (doc_id, source, bin) for kept docs."""
    from pyspark.sql import Window

    state = spark.read.parquet(target_path.rstrip("/"))
    stats = state.agg(
        F.min("score").alias("mn"), F.max("score").alias("mx")
    )
    binned_state = state.crossJoin(F.broadcast(stats)).select(
        "source",
        F.expr(f"(score - mn) * {_GATE_BINS} div (mx - mn + 1)").alias("bin"),
        "cnt",
    )
    hist = binned_state.groupBy("source", "bin").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    cum = hist.select(
        "source",
        "bin",
        F.sum("cnt")
        .over(
            Window.partitionBy("source")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum"),
        F.sum("cnt").over(Window.partitionBy("source")).alias("n"),
    )
    thr = (
        cum.filter(
            F.col("cum") * _GATE_FRAC_DEN >= F.col("n") * _GATE_FRAC_NUM
        )
        .groupBy("source")
        .agg(F.min("bin").alias("thr_bin"))
    )
    scored = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("score"),
    )
    return (
        scored.crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "source",
            F.expr(f"(score - mn) * {_GATE_BINS} div (mx - mn + 1)").alias(
                "bin"
            ),
        )
        .join(F.broadcast(thr), "source")
        .filter(F.col("bin") >= F.col("thr_bin"))
        .select("doc_id", "source", F.col("bin").cast("long").alias("bin"))
    )
