"""Streaming winnowing-fingerprint state: a ``foreachBatch`` sink that
keeps the q239 fingerprint document-frequency state current, plus a
read-side pair derivation that reproduces the batch
``q239_winnow_neardup`` pairs against it — the streaming twin the
other round-12 dedup/gate families (boilerplate, quality, drift)
already have.

State design: (wmin fingerprint, doc-frequency count) plus a seen-doc
set. The fingerprint IS the digest key — winnowing's rolling-hash
window minimum is already a 64-bit integer derived from content (no
text is ever stored), so the count rows are two longs. The count is
mergeable by plain addition because a document is an atomic row: ALL
its distinct fingerprints arrive in one micro-batch, and the per-batch
contribution is the distinct-doc count per fingerprint — so per-batch
partials sum to exactly the global document frequency for ANY arrival
order or batch split. Two redelivery shapes are excluded separately
(round 14 — the r13 version handled only the first): a WHOLE-BATCH
replay is skipped by the shared max-applied ledger, and a doc_id
redelivered inside a DIFFERENT batch (at-least-once delivery that is
not a batch replay) is filtered by the ``_seen_docs`` relation — only
first-seen doc_ids contribute fingerprint partials, making the merge
idempotent PER DOC, the same guarantee the simhash twin gets from its
min-merge. First-seen also fixes which content counts when a doc_id is
redelivered with different text; doc_ids are unique keys in the batch
contract, so that case is feed corruption surfaced deterministically
rather than double-counted. The seen set adds one long per document
(stored under ``_seen_docs``, underscore-invisible to parquet readers
of the count state, swapped atomically with it). State written by the
pre-r14 sink has no seen set and cannot be migrated in place (the
aggregated counts can't be attributed back to doc_ids) — resuming onto
it raises a deliberate format error instead of the path-not-found the
r14 sink produced (ADVICE r15). Purged doc_ids live on in a
``_purged_docs`` tombstone set the new-doc filter also consults, so a
purge survives at-least-once redelivery of the forgotten documents.

The pair verdict is derived on read (:func:`read_winnow_pairs`), the
"mergeable state + verdict derived on read" philosophy shared by the
quality-gate/drift/boilerplate twins: a fingerprint's df-band status
[2, 20] can flip in BOTH directions as later batches raise its count
(df 1 -> 2 enters the band, df 20 -> 21 leaves it as the fingerprint
turns out to be boilerplate), so no stored pair list could be
maintained monotonically — only the count state is stored, and the
self-join runs against the docs being read. After the stream has
covered a corpus, ``read_winnow_pairs(spark, state, docs)`` equals the
batch ``q239_winnow_neardup`` exactly, for every arrival order.

At 100 TB the state stays fingerprint-vocabulary-sized (winnowing keeps
~1/(window size) of shingle hashes, deduplicated corpus-wide here), and
the read-side join shuffles only (wmin, doc_id) pairs inside the df
band — q239's own scale contract, unchanged.
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
#: the schema the sink writes its fingerprint-frequency rows with
_COUNTS_SCHEMA = "wmin long, df long"
#: seen-doc set subdir — underscore-prefixed so parquet readers of the
#: count state never see it; swaps atomically with the counts
_SEEN = "_seen_docs"


def _require_seen(fs, P, target: str) -> None:
    """Refuse to merge into (or purge) state written by the pre-r14
    sink: such state has no ``_seen_docs`` relation, and the aggregated
    df counts cannot be retroactively attributed to doc_ids, so there
    is no in-place migration that restores the per-doc idempotence
    guarantee — resuming would either crash on the missing path
    (the r14 behavior this guard replaces, ADVICE r15) or silently
    re-open the double-count hole the seen set exists to close."""
    if not fs.exists(P(target + "/" + _SEEN)):
        raise RuntimeError(
            f"winnow fingerprint state at {target} predates the "
            "_seen_docs per-doc idempotence set (r14 state format "
            "upgrade): the stored df counts cannot be attributed back "
            "to doc_ids, so it cannot be migrated in place. Delete the "
            "target and the stream checkpoint and re-ingest the corpus."
        )


def _batch_fpcounts(batch: DataFrame) -> DataFrame:
    """Per-fingerprint distinct-doc counts for one micro-batch."""
    from etl_pipeline_candy_store_spark.operators.text import (
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(batch.select("doc_id", "text"))
    return fps.groupBy("wmin").agg(
        F.countDistinct("doc_id").cast("long").alias("df")
    )


def stream_fingerprint_counts(
    doc_stream: DataFrame, *, target_path: str, checkpoint_path: str
):
    """Attach the fingerprint-frequency foreachBatch sink; returns the
    (unstarted) ``DataStreamWriter``. After every applied batch the
    target parquet holds exactly the per-fingerprint document
    frequencies a from-scratch scan of all rows seen so far would
    produce."""

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
        has_tombs = False
        if fs.exists(P(target)):
            # format check FIRST, even for replayed batches: resuming
            # onto pre-r14 state must fail fast with the migration
            # story, not silently skip until the first fresh batch
            _require_seen(fs, P, target)
            if batch_id <= applied_max:
                return  # replayed delivery — already merged, skip
            # per-doc idempotence: only doc_ids no earlier batch has
            # contributed may add fingerprint partials — an at-least-
            # once redelivery in a NEW batch_id (not a whole-batch
            # replay, which the ledger guard above already skipped)
            # must not double-count its fingerprints' df. Purged ids
            # are excluded the same way: a redelivery of a forgotten
            # document must not silently re-ingest it (tombstones).
            # The sink's own relations are read with the schema it
            # wrote them with, which skips parquet's footer-inference job.
            seen = spark.read.schema(
                batch.select("doc_id").schema
            ).parquet(target + "/" + _SEEN)
            new_docs = (
                batch.select("doc_id")
                .distinct()
                .join(seen, "doc_id", "left_anti")
            )
            # no tombstone set (no purge so far) is the empty set: no
            # anti-join, and nothing to carry through the swap
            has_tombs = fs.exists(P(target + "/" + TOMBSTONES))
            if has_tombs:
                tombs = spark.read.parquet(target + "/" + TOMBSTONES)
                new_docs = new_docs.join(tombs, "doc_id", "left_anti")
            new_docs = new_docs.localCheckpoint(eager=True)
            fresh = batch.join(new_docs, "doc_id", "left_semi")
            merged = (
                spark.read.schema(_COUNTS_SCHEMA)
                .parquet(target)
                .unionByName(_batch_fpcounts(fresh))
                .groupBy("wmin")
                .agg(F.sum("df").cast("long").alias("df"))
            )
            merged_docs = seen.unionByName(new_docs)
        else:
            merged = _batch_fpcounts(batch)
            merged_docs = batch.select("doc_id").distinct()
        tmp = target + f"._tmp-{batch_id}"
        merged.write.mode("overwrite").parquet(tmp)
        merged_docs.write.mode("overwrite").parquet(tmp + "/" + _SEEN)
        if has_tombs:
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


def read_winnow_pairs(
    spark: SparkSession, target_path: str, docs: DataFrame
) -> DataFrame:
    """Derive q239's near-dup pairs for ``docs`` against the maintained
    fingerprint-frequency state: recompute the docs' fingerprints, keep
    those whose ACCUMULATED document frequency sits in the df band,
    self-join on the fingerprint, and score shared/min(|A|,|B|) in ppm
    — identical semantics to the batch ``q239_winnow_neardup``, with
    the df relation read from state instead of recomputed. When the
    stream has covered exactly ``docs``, the result is hash-equal to
    the batch query for every arrival order."""
    from etl_pipeline_candy_store_spark.operators.dedup import (
        _WINNOW_DF_MAX,
        _WINNOW_DF_MIN,
        _WINNOW_MIN_SHARED,
    )
    from etl_pipeline_candy_store_spark.operators.text import (
        winnow_fingerprints,
    )

    state = spark.read.schema(_COUNTS_SCHEMA).parquet(target_path.rstrip("/"))
    band = state.filter(
        F.col("df").between(_WINNOW_DF_MIN, _WINNOW_DF_MAX)
    ).select("wmin")
    fps = winnow_fingerprints(docs.select("doc_id", "text")).localCheckpoint()
    kept = fps.join(band, "wmin", "left_semi")
    sizes = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "wmin")
    b = kept.select(F.col("doc_id").alias("doc_b"), "wmin")
    pairs = (
        a.join(b, "wmin")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared"))
        .filter(F.col("shared") >= _WINNOW_MIN_SHARED)
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.expr("cast((shared * 1000000) div least(na, nb) as bigint)")
            .alias("overlap_ppm"),
        )
    )


def purge_docs(
    spark: SparkSession, target_path: str, docs: DataFrame
) -> int:
    """Right-to-be-forgotten for the fingerprint-frequency state. The
    df counts are AGGREGATED — the state cannot attribute a count back
    to a doc_id — so the purge needs the documents' TEXT to recompute
    their fingerprint contributions and subtract them exactly (the
    price of the vocabulary-sized state: deletability requires the
    deleted content, where the instance-keyed simhash/containment
    twins purge by id alone). ``docs`` is a (doc_id, text) frame of
    the documents to forget; only ids actually in the seen set
    contribute (already-purged or never-seen ids are no-ops, so the
    purge is idempotent). Fingerprints whose df reaches 0 are dropped;
    the seen set loses the ids; every requested id lands in the
    ``_purged_docs`` tombstone set the sink's new-doc filter consults,
    so an at-least-once redelivery of a purged document cannot
    silently re-ingest the forgotten content (the purge is durable,
    not just point-in-time — ADVICE r15); all three relations swap
    atomically with the ledger carried over. Returns the number of
    doc_ids removed from the seen set. After the purge, the count
    state equals what a from-scratch stream over the remaining corpus
    would have produced — tested."""
    from etl_pipeline_candy_store_spark.operators.ledger import (
        read_max_applied,
        write_applied_into,
    )

    _fs_recover(spark, target_path)
    jvm, fs = _hadoop_fs(spark, target_path)
    P = jvm.org.apache.hadoop.fs.Path
    target = target_path.rstrip("/")
    _require_seen(fs, P, target)
    applied_max = read_max_applied(spark, fs, jvm, target, _LEDGER)
    state = spark.read.schema(_COUNTS_SCHEMA).parquet(target)
    seen = spark.read.parquet(target + "/" + _SEEN)
    victims = docs.select("doc_id", "text").join(
        seen, "doc_id", "left_semi"
    )
    n_purged = victims.select("doc_id").distinct().count()
    sub = _batch_fpcounts(victims).withColumnRenamed("df", "df_sub")
    merged = (
        state.join(sub, "wmin", "left")
        .select(
            "wmin",
            (F.col("df") - F.coalesce("df_sub", F.lit(0)))
            .cast("long")
            .alias("df"),
        )
        .filter(F.col("df") > 0)
    )
    keep_seen = seen.join(
        victims.select("doc_id").distinct(), "doc_id", "left_anti"
    )
    # every REQUESTED id is tombstoned (not just the seen ones): a
    # forget request covers future deliveries of that id too, whether
    # or not the stream had ingested it yet
    tombs = read_ids_or_empty(spark, target + "/" + TOMBSTONES).unionByName(
        docs.select("doc_id").distinct()
    ).distinct()
    tmp = target + "._tmp-purge"
    merged.write.mode("overwrite").parquet(tmp)
    keep_seen.write.mode("overwrite").parquet(tmp + "/" + _SEEN)
    tombs.write.mode("overwrite").parquet(tmp + "/" + TOMBSTONES)
    write_applied_into(spark, tmp, applied_max, _LEDGER)
    _fs_swap(spark, tmp, target)
    return n_purged
