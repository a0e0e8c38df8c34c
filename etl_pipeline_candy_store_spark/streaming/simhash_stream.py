"""Streaming SimHash signature state: a ``foreachBatch`` sink that
keeps per-document 32-bit SimHash signatures current, plus a read-side
pair derivation that reproduces the batch
``q245_simhash_neardup_bounded`` pairs against it — completing the
streaming-twin coverage of the near-dup families (MinHash has
``neardup_stream``, winnowing ``winnow_stream``, boilerplate/quality/
drift their count twins).

State design: (doc_id, simhash) — two longs per document, the
narrowest state of any twin. A signature is a pure function of the
document's content and a document is an atomic row, so the state is
APPEND-ONLY and trivially arrival-order independent: no counts to
merge, no verdicts to flip. The per-batch merge is a
``groupBy(doc_id).min(simhash)`` over old-state ∪ new-batch — for
well-formed feeds (each doc_id delivered once) the min is a no-op
identity, and for a doc_id accidentally re-delivered with identical
content it deduplicates deterministically; replays of a whole batch
are excluded by the shared max-applied ledger.

The pair verdict is derived on read (:func:`read_simhash_pairs`), the
shared twin philosophy — here not because the verdict can flip
(signatures never change) but because the CAP makes pair membership
GLOBAL: a bucket that was under the cap can overflow when later
documents land in it, evicting nothing (the cap keeps the
cap-smallest doc_ids, and a LATER arrival can still carry a SMALLER
doc_id on feeds that aren't id-ordered) — so no stored pair list is
maintainable. The derivation is the batch builder's own band/cap/
verify stage (``operators/dedup.banded_capped_pairs`` — the single
shared copy), so stream ≡ batch-q245 is structural, for every arrival
order, once the stream has covered the corpus.

At 100 TB the signature state is 16 bytes per document and the
read-side plan is q245's own: one WindowGroupLimit bounded heap on the
band key, bucket-capped join fan-out, distinct over a bounded
candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_candy_store_spark.operators.ledger import _hadoop_fs
from etl_pipeline_candy_store_spark.streaming.upsert_sink import (
    TOMBSTONES,
    _fs_recover,
    _fs_swap,
    read_ids_or_empty,
)

_LEDGER = "_applied"


def _batch_signatures(batch: DataFrame) -> DataFrame:
    """Per-doc 32-bit SimHash signatures for one micro-batch."""
    from etl_pipeline_candy_store_spark.operators.dedup import _simhash_df

    return _simhash_df(batch.select("doc_id", "text"), 32)


def stream_simhash_signatures(
    doc_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the signature foreachBatch sink; returns the (unstarted)
    ``DataStreamWriter``. After every applied batch the target parquet
    holds exactly the (doc_id, simhash) relation a from-scratch scan of
    all rows seen so far would produce."""

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
        tombs = None
        if fs.exists(P(target)):
            if batch_id <= applied_max:
                return  # replayed delivery — already merged, skip
            # the min-merge makes redelivery idempotent for LIVE docs,
            # but a PURGED doc's row is gone — without the tombstone
            # filter a redelivery would re-insert the forgotten
            # signature, undoing the purge
            tombs = read_ids_or_empty(spark, target + "/" + TOMBSTONES)
            merged = (
                spark.read.parquet(target)
                .unionByName(
                    _batch_signatures(
                        batch.join(tombs, "doc_id", "left_anti")
                    )
                )
                .groupBy("doc_id")
                .agg(F.min("simhash").cast("long").alias("simhash"))
            )
        else:
            merged = _batch_signatures(batch)
        tmp = target + f"._tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        if tombs is not None:
            # tombstones survive every merge — the swap replaces the
            # whole target directory, so the relation must be carried
            tombs.write.mode("overwrite").parquet(tmp + "/" + TOMBSTONES)
        write_applied_into(spark, tmp, batch_id, _LEDGER)
        _fs_swap(spark, tmp, target)

    return (
        doc_stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


def read_simhash_pairs(spark: SparkSession, target_path: str) -> DataFrame:
    """Derive q245's bounded near-dup pairs from the maintained
    signature state: the batch builder's own band/cap/verify stage
    (single shared copy) over the accumulated (doc_id, simhash)
    relation — hash-equal to ``q245_simhash_neardup_bounded`` once the
    stream has covered the corpus, for every arrival order."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        banded_capped_pairs,
    )

    return banded_capped_pairs(spark.read.parquet(target_path.rstrip("/")))


def purge_docs(
    spark: SparkSession, target_path: str, doc_ids: DataFrame
) -> int:
    """Right-to-be-forgotten for the signature state: physically
    rewrite without the given doc_ids (a SimHash signature is derived
    from a document's content — linkable state, purged not filtered),
    via the sink's own tmp+atomic-swap protocol with the applied-batch
    ledger carried over. Every requested id also lands in the
    ``_purged_docs`` tombstone set the sink consults — otherwise an
    at-least-once redelivery of a purged doc_id would re-insert its
    signature through the min-merge (ADVICE r15). Returns rows
    removed."""
    from etl_pipeline_candy_store_spark.operators.ledger import (
        read_max_applied,
        write_applied_into,
    )

    _fs_recover(spark, target_path)
    jvm, fs = _hadoop_fs(spark, target_path)
    target = target_path.rstrip("/")
    applied_max = read_max_applied(spark, fs, jvm, target, _LEDGER)
    state = spark.read.parquet(target)
    ids = doc_ids.select("doc_id").distinct()
    keep = state.join(ids, "doc_id", "left_anti")
    removed = state.count() - keep.count()
    tombs = read_ids_or_empty(spark, target + "/" + TOMBSTONES).unionByName(
        ids
    ).distinct()
    tmp = target + "._tmp-purge"
    keep.write.mode("overwrite").parquet(tmp)
    tombs.write.mode("overwrite").parquet(tmp + "/" + TOMBSTONES)
    write_applied_into(spark, tmp, applied_max, _LEDGER)
    _fs_swap(spark, tmp, target)
    return removed
