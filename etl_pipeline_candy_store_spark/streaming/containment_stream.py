"""Streaming containment state: a ``foreachBatch`` sink that keeps the
per-document shingle-digest relation current, plus a read-side pair
derivation that reproduces the batch ``q248_containment_pairs_bounded``
pairs against it — extending streaming-twin coverage to the subset/
quote near-dup family (MinHash, winnowing, SimHash, and the composed
funnel already have theirs).

State design: (doc_id, sh) — one row per distinct (document, 3-token
shingle), with the shingle stored as its 16-byte md5 digest (the
neardup_state narrow-state discipline: fixed-width binary keys,
md5-grade equality — the same contract exact dedup rests on; no text
is ever stored). The relation is APPEND-ONLY per document: a document
is an atomic row, so all its shingle rows land in one batch, and the
state is arrival-order independent by construction. Idempotence needs
no separate seen-set — the state itself knows which doc_ids it holds,
so each batch anti-joins its doc_ids against the stored ones and only
first-seen documents append rows (a doc_id redelivered under a fresh
batch_id is skipped; whole-batch replays are skipped by the shared
max-applied ledger). Purged doc_ids are the one exception the state
cannot self-remember — their rows are gone — so they live on in a
``_purged_docs`` tombstone set the new-doc filter also consults,
making right-to-be-forgotten durable under redelivery.

The pair verdict is derived on read (:func:`read_containment_pairs`),
the shared twin philosophy — here because BOTH the df band and the
score are global: a shingle's document frequency rises as batches
arrive, so its banded status [2, cap] can flip in either direction
(df 1 -> 2 starts joining pairs; df cap -> cap+1 drops out as the
shingle turns out to be boilerplate), and a pair's n_common moves with
it. No stored pair list could be maintained monotonically; only the
shingle-instance state is stored, and the read runs the batch
builder's own band/join/score stages (``operators/dedup.py``:
df band + ``_containment_scored`` — the single shared copy), so
stream ≡ batch-q248 is structural, for every arrival order, once the
stream has covered the corpus.

At 100 TB the state is instance-sized — one (long, 16-byte digest) row
per distinct (doc, shingle), about the curate-stream shingles state —
and the read-side plan is q248's own: a shingle-df aggregate, the
[2, cap] band filter, a df-capped self-join whose per-shingle fan-out
is <= cap^2/2, and full-cardinality denominators.
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


def _batch_shingles(batch: DataFrame) -> DataFrame:
    """Per-doc distinct shingle digests for one micro-batch."""
    from etl_pipeline_candy_store_spark.operators.dedup import _shingles
    from etl_pipeline_candy_store_spark.operators.neardup_state import (
        _sh_digest,
    )

    return _shingles(batch.select("doc_id", "text")).select(
        "doc_id", _sh_digest().alias("sh")
    )


def stream_shingle_state(
    doc_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the shingle-state foreachBatch sink; returns the
    (unstarted) ``DataStreamWriter``. After every applied batch the
    target parquet holds exactly the (doc_id, sh) relation a
    from-scratch scan of all first-seen rows would produce."""

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
            state = spark.read.parquet(target)
            # per-doc idempotence from the state itself: only doc_ids
            # no earlier batch contributed may append shingle rows.
            # Purged ids are excluded the same way — an at-least-once
            # redelivery of a forgotten document must not re-ingest it
            # (the purge removed its rows from the state, so the state
            # alone would treat it as first-seen; tombstones close that)
            tombs = read_ids_or_empty(spark, target + "/" + TOMBSTONES)
            new_docs = (
                batch.select("doc_id")
                .distinct()
                .join(state.select("doc_id").distinct(), "doc_id", "left_anti")
                .join(tombs, "doc_id", "left_anti")
                .localCheckpoint(eager=True)
            )
            fresh = batch.join(new_docs, "doc_id", "left_semi")
            merged = state.unionByName(_batch_shingles(fresh))
        else:
            merged = _batch_shingles(batch)
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


def read_containment_pairs(
    spark: SparkSession, target_path: str
) -> DataFrame:
    """Derive q248's bounded containment pairs from the maintained
    shingle state: df-band the accumulated shingle relation to
    [2, cap], run the batch builder's own intersect/score stage
    (single shared copy) with FULL-cardinality denominators — hash-
    equal to ``q248_containment_pairs_bounded`` once the stream has
    covered the corpus, for every arrival order."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        _CONTAINMENT_DF_MAX,
        _CONTAINMENT_MIN_MICROS,
        _containment_scored,
    )

    state = spark.read.parquet(target_path.rstrip("/")).select(
        "doc_id", F.col("sh").alias("shingle")
    )
    card = state.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    dfreq = state.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = state.join(
        dfreq.filter(F.col("df").between(2, _CONTAINMENT_DF_MAX)).select(
            "shingle"
        ),
        "shingle",
        "left_semi",
    )
    return _containment_scored(kept, card, _CONTAINMENT_MIN_MICROS)


def purge_docs(
    spark: SparkSession, target_path: str, doc_ids: DataFrame
) -> int:
    """Right-to-be-forgotten for the shingle state (the q194/
    forget_from_neardup_state obligation extended to the stream twin):
    physically rewrite the state WITHOUT the given doc_ids — shingle
    digests of a person's documents are still linkable derived state
    and are purged, not filtered at read time. The rewrite rides the
    same tmp+atomic-swap protocol as the sink, and the applied-batch
    ledger is carried over so later micro-batches keep their replay
    guard. Every requested id also lands in the ``_purged_docs``
    tombstone set the sink's new-doc filter consults — without it, an
    at-least-once redelivery of a purged doc_id would look first-seen
    (its rows are gone from the state, which doubles as the seen set)
    and the forgotten content would silently re-ingest (ADVICE r15).
    Returns the number of state rows removed. The state is
    doc_id-keyed, so the purge needs only ids — unlike the winnow
    twin, whose aggregated df counts need the purged docs' text to
    subtract (see ``winnow_stream.purge_docs``)."""
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
